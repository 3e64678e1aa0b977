package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, run its ops in a closed loop with
  * one caller thread for the given seconds (or the workload's fixed op
  * count), check the outputs, and write every metric to `<out>/result.json`.
  *
  * {{{
  * graftbench.Main --workload dedup_bulk --seed 1 --seconds 10 --trace 0 \
  *   --cores 4 --out DIR [--t0-ms EPOCH_MS] [--scale full|tiny] [--corrupt 0|1]
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics. With
  * `--trace 1` every second op runs with the Spark listeners attached and
  * spans recorded, the layer probes run after the loop, and the result
  * holds the per-layer metrics plus the traced/untraced op-time ratio. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, out: File, t0Ms: Long, tiny: Boolean, corrupt: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad arguments near ${other.mkString(" ")}") }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, new File(get("out")),
      kv.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      kv.get("scale").contains("tiny"), kv.get("corrupt").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.out.mkdirs()
    val result = new Runner(a).run()
    val f = new File(a.out, "result.json")
    Files.write(f.toPath, Json.render(result).getBytes(StandardCharsets.UTF_8))
    // every session is stopped by now; exit without waiting on Spark's
    // non-daemon pools
    System.exit(0)
  }
}

/** A workload: inputs, one op, the output checks and its layer probes. */
trait Workload {
  /** Generate the inputs, write them under `dir` and build any state. */
  def prepare(spark: SparkSession, dir: File): Unit
  /** One untimed op on inputs disjoint from the timed ones. */
  def warmup(): Unit
  /** Warm-up ops in the set-up. */
  def warmupOps: Int = 1
  /** Op `i` of the timed loop; returns the docs or rows it handled. */
  def op(i: Int): Long
  /** Work the loop does between ops (inside the timed region, not in op time). */
  def between(i: Int): Unit = ()
  /** Ops every run makes whatever `--seconds` says, if the workload fixes them. */
  def fixedOps: Option[Int] = None
  /** Input sizes and the digest of the generated inputs. */
  def inputs: Map[String, Any]
  /** Output checks after the loop; `corrupt` damages one output first. */
  def check(ops: Int, corrupt: Boolean): Check
  /** Per-layer metrics only this workload can measure (traced runs). */
  def layerMetrics(windows: Seq[(String, SparkProbe.Window)]): Map[String, Double]
  /** Core/expr probe inputs: texts, text pairs, vectors, and a SQL view with
    * columns (text, text_b, vec). */
  def probeTexts: IndexedSeq[String]
  def probePairs: IndexedSeq[(String, String)]
  def probeVecs: IndexedSeq[Array[Double]]
  def probeView: String
  /** Extra end-to-end detail for the result file (not a metric). */
  def extra: Map[String, Any] = Map.empty
}

/** Outcome of the output checks: failed op count and failure messages. */
final case class Check(failedOps: Int, failures: Seq[String], details: Map[String, Any])

final class Runner(a: Main.Args) {
  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"graftbench: ${(System.nanoTime() - born) / 1e9}%8.2f s  $msg")
  private val work = new File(a.out, "work")
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sql.LshFunctions.register(s)
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  private def loadAvg(): String =
    scala.util.Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim).getOrElse("")

  private def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)

  def run(): Map[String, Any] = {
    val jvmAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    LiveMemory.listen()
    val loadStart = loadAvg()
    val wl: Workload = Workloads(a.workload, a.seed, a.tiny)
    // set-up, timed from the launch of the JVM to the start of the timed region
    val setupStart = a.t0Ms * 1000000L - System.currentTimeMillis() * 1000000L + System.nanoTime()
    rmrf(work)
    work.mkdirs()
    val spark = newSession()
    log("session started")
    wl.prepare(spark, new File(work, "input"))
    log("inputs prepared")
    (0 until wl.warmupOps).foreach(_ => wl.warmup())
    val setupS = (System.nanoTime() - setupStart) / 1e9
    log(s"set-up done in $setupS s")

    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val lat = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Boolean]()
    val windows = ArrayBuffer[(String, SparkProbe.Window)]()
    var docs = 0L
    var thrown = 0
    val errors = ArrayBuffer[String]()

    def window[T](kind: String, on: Boolean)(body: => T): T = {
      if (!on) return body
      val p = probe.get
      p.attach()
      Spans.enabled = true
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        Spans.enabled = false
        p.drain()
        p.detach()
        windows += kind -> p.snapshot(t0, t1)
      }
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def gcCount = gcBeans.map(_.getCollectionCount).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def janino = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (gc0, gcn0, jit0, jan0) = (gcMs, gcCount, jitMs, janino)
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var i = 0
    // a traced run needs at least one untraced and one traced op
    val minOps = if (a.trace) 2 else 1
    def more = wl.fixedOps.fold(System.nanoTime() < deadline || i < minOps)(i < _)
    while (more) {
      val on = a.trace && i % 2 == 1
      Spans.op = i
      var s = System.nanoTime()
      var e = 0L
      try window("op", on) {
        s = System.nanoTime()
        docs += Spans("op") { wl.op(i) }
        e = System.nanoTime()
      } catch { case ex: Throwable => thrown += 1; errors += s"op $i: ${ex.toString.take(500)}" }
      lat += ((if (e > 0) e else System.nanoTime()) - s) / 1e9
      traced += on
      try window("between", on) { wl.between(i) }
      catch { case e: Throwable => errors += s"between $i: ${e.toString.take(500)}" }
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val rss = peakRssMb()
    val liveMb = LiveMemory.peakBytes / 1048576.0
    val retainedPools = LiveMemory.retained()
    val retainedMb = retainedPools.values.sum / 1048576.0
    val (gcS, gcN, jitS, janN) = ((gcMs - gc0) / 1e3, gcCount - gcn0, (jitMs - jit0) / 1e3, janino - jan0)
    val ops = lat.size

    log(s"timed loop done: $ops ops")
    val tCheck = System.nanoTime()
    val chk = try wl.check(ops, a.corrupt)
      catch { case e: Throwable => Check(ops, Seq(s"check threw: ${e.toString.take(500)}"), Map.empty) }
    val checkS = (System.nanoTime() - tCheck) / 1e9
    log(s"checks done in $checkS s")
    val failed = math.min(ops, thrown + chk.failedOps)
    val failures = errors.toSeq ++ chk.failures

    val opDocs = docs.toDouble
    val opTime = lat.zip(traced).filterNot(_._2).map(_._1)
    val e2e = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS / ops, "s"),
      "docs_per_s" -> (opDocs / lat.sum, "1/s"),
      "op_p50_s" -> (Stats.median(opTime.toSeq), "s"),
      "cpu_s" -> (cpuS / ops, "s"),
      "retained_mb" -> (retainedMb, "MB"))

    var probeS = 0.0
    val layer: Map[String, (Double, String)] =
      if (!a.trace) Map.empty
      else {
        val untracedOp = Stats.median(lat.zip(traced).filterNot(_._2).map(_._1).toSeq)
        val tracedOp = Stats.median(lat.zip(traced).filter(_._2).map(_._1).toSeq)
        val opSpan = Spans.summary.get("op")
        val tProbe = System.nanoTime()
        val probes = Probes.all(spark, wl, a.cores, windows.toSeq)
        probeS = (System.nanoTime() - tProbe) / 1e9
        probes ++ Map(
          "trace.overhead_ratio" -> (if (untracedOp > 0) tracedOp / untracedOp else 0.0, "ratio"),
          "trace.spans" -> (Spans.all.size.toDouble, "count"),
          "trace.op_self_s" -> (opSpan.map(m => m("self_s").asInstanceOf[Double] /
            m("count").asInstanceOf[Int]).getOrElse(0.0), "s"))
      }

    if (a.trace) Files.write(new File(a.out, "spans.json").toPath,
      Json.render(Spans.toJson).getBytes(StandardCharsets.UTF_8))
    val extra = wl.extra
    val loadEnd = loadAvg()
    log("stopping")
    stopSession(spark)
    rmrf(work)
    log("stopped")

    val metrics = (if (a.trace) layer else e2e).map { case (k, (v, u)) =>
      k -> Map[String, Any]("value" -> v, "unit" -> u) }
    Map[String, Any](
      "correct" -> (failures.isEmpty && failed == 0),
      "attempted" -> ops,
      "failed" -> failed,
      "metrics" -> metrics,
      "detail" -> Map[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "scale" -> (if (a.tiny) "tiny" else "full"),
        "fail_ratio" -> (if (ops == 0) 1.0 else failed.toDouble / ops),
        "op_n" -> ops, "op_traced_n" -> traced.count(identity),
        "op_latencies_s" -> lat.toSeq,
        "timed_wall_s" -> wallS, "timed_cpu_s" -> cpuS, "check_s" -> checkS, "probe_s" -> probeS,
        "live_peak_mb" -> liveMb, "retained_mb" -> retainedMb, "retained_pools_mb" -> retainedPools.map { case (k, v) => k -> v / 1048576.0 }, "vm_hwm_mb" -> rss,
        "timed_gc_s" -> gcS, "timed_gc_count" -> gcN, "timed_jit_s" -> jitS, "timed_codegen_compiles" -> janN,
        "jvm_uptime_at_main_s" -> jvmAtMain,
        "end_to_end_in_traced_run" -> (if (a.trace) e2e.map { case (k, (v, _)) => k -> v } else Map.empty),
        "inputs" -> wl.inputs,
        "checks" -> chk.details,
        "failures" -> failures.take(50),
        "workload_detail" -> extra,
        "spans" -> (if (a.trace) Spans.summary else Map.empty),
        "env" -> Map[String, Any](
          "cores" -> a.cores,
          "available_processors" -> Runtime.getRuntime.availableProcessors(),
          "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
          "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
          "os" -> s"${sys.props("os.name")} ${sys.props("os.version")} ${sys.props("os.arch")}",
          "spark" -> org.apache.spark.SPARK_VERSION,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576)))
  }
}

/** Memory the program holds, summed over every pool (heap and non-heap),
  * whatever size the collector lets the heap grow to: the peak in use right
  * after any collection once [[listen]] has run, and what is still in use
  * after full collections ([[retained]]). */
object LiveMemory {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  def peakBytes: Long = peak.get

  /** Memory in use per pool after full collections: what the program holds
    * on to. Spark's ContextCleaner frees broadcast and shuffle blocks only
    * after a collection has found their owners unreachable, so collect
    * until the total stops falling. */
  def retained(): Map[String, Long] = {
    def once(): Map[String, Long] = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryPoolMXBeans.asScala.map(p => p.getName -> p.getUsage.getUsed).toMap
    }
    var last = once()
    var next = once()
    var rounds = 2
    while (next.values.sum < last.values.sum && rounds < 6) { last = next; next = once(); rounds += 1 }
    if (next.values.sum < last.values.sum) next else last
  }

  def listen(): Unit = {
    val l: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case s: String => str(s)
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.toSeq.map { case (k, v) => (k.toString, v) }.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb += ','
          str(k); sb += ':'; go(v)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case arr: Array[_] => go(arr.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.result()
  }
}
