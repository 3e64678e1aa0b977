#!/usr/bin/env python3
"""Benchmark of the graft LSH library: one workload per invocation.

    python3 lshbench/run.py --workload dedup_bulk --seed 1 --seconds 10 --trace 0
    python3 lshbench/run.py --smoke

Run from the repository root. The first run builds the library's sources
together with the harness in lshbench/ (sbt, offline) and reuses the build
while the sources are unchanged. Each run starts one JVM with a Spark
local[N] session (N = usable cores), generates its inputs from --seed,
measures for --seconds, checks the outputs, and prints every metric by name
with its unit. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. The full result (environment, input
digest, check details, spans) is written to lshbench/out/<run>/result.json.

--smoke runs every workload on tiny inputs, untraced and traced, asserts that
every metric of BENCHMARK.json is emitted with its unit, and that a
deliberately corrupted output fails the checks.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["dedup_bulk", "lsh_sql_scan", "admit_days"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lshbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def source_digest():
    """sha256 over the library sources and the harness: the build's identity."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at src/main/scala: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required on PATH")
    digest = source_digest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "graftbench.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes, digest
    env = dict(os.environ, GRAFT_BENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # keep sbt's sockets, native-library copies and JVM perf files inside
    # the checkout
    env["SBT_OPTS"] = (f"{opts} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} "
                       "-Dsbt.boot.lock=false").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    print("lshbench: building (sbt compile)", file=sys.stderr, flush=True)
    t = time.time()
    proc = subprocess.Popen(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out", 3)
    if proc.returncode != 0 or not os.path.isdir(classes):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"lshbench: built in {time.time() - t:.1f} s", file=sys.stderr, flush=True)
    return classes, digest


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    """HEAD of the checkout when it is a git work tree of its own, else None."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return None


def run_jvm(classes, jars, digest, workload, seed, seconds, trace, scale="full", corrupt=0):
    n = cores()
    out = os.path.join(HERE, "out", f"{workload}-s{seed}-t{trace}-{os.getpid()}-{int(time.time())}")
    work = os.path.join(out, "work")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    load_start = os.getloadavg()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(n), "--out", out, "--t0-ms", str(int(time.time() * 1000)),
            "--scale", scale, "--corrupt", str(corrupt)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    print(f"lshbench: jvm exited {proc.returncode}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.isfile(path):
        with open(os.path.join(out, "jvm.log"), "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-6000:])
        fail(f"{workload} run failed (exit {proc.returncode}); log in {out}/jvm.log", 4)
    with open(path) as fh:
        res = json.load(fh)
    env_rec = res["detail"]["env"]
    env_rec.update({
        "nproc": n, "loadavg_start_py": list(load_start), "loadavg_end_py": list(os.getloadavg()),
        "git_commit": git_commit(), "source_sha256": digest, "host": platform.node(),
        "platform": platform.platform(), "python": platform.python_version(),
    })
    with open(path, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    return res, out


def print_result(res, out):
    d = res["detail"]
    print(f"workload={d['workload']} seed={d['seed']} trace={int(d['trace'])} "
          f"ops={d['op_n']} correct={res['correct']} fail_ratio={d['fail_ratio']}")
    for k in sorted(res["metrics"]):
        m = res["metrics"][k]
        print(f"  {k} = {m['value']} {m['unit']}")
    for f in d["failures"]:
        print(f"  FAILED CHECK: {f}")
    print(f"  result file: {os.path.relpath(out, ROOT)}/result.json")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


def smoke(classes, jars, digest):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS, "BENCHMARK.json workloads differ"
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res, _ = run_jvm(classes, jars, digest, w, 7, 3, trace, scale="tiny")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metric names/units differ: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"unit {[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: checks failed: {res['detail']['failures'][:3]}")
            print(f"smoke {w} trace={trace}: {len(got)} metrics, correct={res['correct']}", flush=True)
        res, _ = run_jvm(classes, jars, digest, w, 7, 2, 0, scale="tiny", corrupt=1)
        if res["correct"] or res["failed"] == 0:
            problems.append(f"{w}: a corrupted output passed the checks")
        print(f"smoke {w} corrupted: correct={res['correct']} "
              f"({(res['detail']['failures'] or ['no failure'])[0][:100]})", flush=True)
    if problems:
        print("SMOKE FAILED\n" + "\n".join(problems))
        sys.exit(1)
    print("SMOKE OK")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    jars = spark_jars()
    classes, digest = build(jars)
    if a.smoke:
        smoke(classes, jars, digest)
        return
    res, out = run_jvm(classes, jars, digest, a.workload, a.seed, a.seconds, a.trace)
    print_result(res, out)


if __name__ == "__main__":
    main()
