package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each layer: name, start, end,
  * parent span and op id, kept in memory and written when the run ends.
  * Only the caller thread opens spans, so a plain stack gives the parent. */
object Spans {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
    def durNs: Long = endNs - startNs
  }
  @volatile var enabled = false
  var op: Int = -1
  private val buf = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      buf += Span(id, name, t0, t1, parent, op)
    }
  }

  def all: Seq[Span] = buf.toSeq

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Per span name: count, total seconds, self seconds. */
  def summary: Map[String, Map[String, Any]] = {
    val kids = buf.groupBy(_.parent)
    buf.groupBy(_.name).map { case (name, ss) =>
      name -> Map[String, Any](
        "count" -> ss.size,
        "total_s" -> ss.map(_.durNs).sum / 1e9,
        "self_s" -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Seq.empty).toSeq)).sum / 1e9)
    }
  }

  def durations(name: String): Seq[Double] = buf.filter(_.name == name).map(_.durNs / 1e9).toSeq

  def toJson: Seq[Map[String, Any]] = buf.toSeq.map(s => Map[String, Any](
    "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "parent" -> s.parent, "op" -> s.op))
}

/** Spark-layer observer registered on the benchmark's own session: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the planning phases of each query. Attached around one traced
  * window at a time; [[drain]] waits until both listener buses have
  * delivered everything the window produced. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private val jobs = new ConcurrentLinkedQueue[(Int, String, Long)]()      // id, description, start ms
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val windowStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private val stages = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phasesMs = new ConcurrentLinkedQueue[Long]()
  @volatile private var sawJobMarker = false
  @volatile private var sawQueryMarker = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).orNull
    if (d == DrainLabel) markerJobs.add(e.jobId)
    else {
      jobs.add((e.jobId, d, e.time))
      e.stageIds.foreach(windowStages.add(_))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) sawJobMarker = true
    else jobEnds.add((e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (windowStages.contains(e.stageInfo.stageId)) stages.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && windowStages.contains(e.stageId)) {
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, delay))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.analyzed.output.exists(_.name == DrainColumn)) sawQueryMarker = true
    else phasesMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phasesMs.add(qe.tracker.phases.values.map(_.durationMs).sum)

  def attach(): Unit = {
    jobs.clear(); jobEnds.clear(); windowStages.clear(); markerJobs.clear()
    stages.clear(); tasks.clear(); phasesMs.clear()
    sawJobMarker = false; sawQueryMarker = false
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Both buses are FIFO: once the marker query's events arrive, every
    * event of the window before it has been delivered too. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(DrainLabel)
    try spark.range(1).selectExpr(s"1 AS $DrainColumn").collect()
    finally sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!(sawJobMarker && sawQueryMarker) && System.nanoTime() < deadline) Thread.sleep(2)
    require(sawJobMarker && sawQueryMarker, "listener buses did not drain within 30 s")
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Everything one window produced; `wallS` is the window's wall time. */
  def snapshot(t0Ms: Long, t1Ms: Long): Window = {
    val js = jobs.asScala.toSeq
    val ends = jobEnds.asScala.toMap
    val intervals = js.map { case (id, _, s) => (math.max(s, t0Ms), math.min(ends.getOrElse(id, t1Ms), t1Ms)) }
    Window(
      wallS = (t1Ms - t0Ms) / 1e3,
      jobs = js.map { case (id, d, s) => (d, (ends.getOrElse(id, t1Ms) - s) / 1e3) },
      jobBusyS = unionMs(intervals) / 1e3,
      stages = stages.asScala.toSet.size,
      tasks = tasks.asScala.toSeq,
      planningS = phasesMs.asScala.sum / 1e3)
  }
}

object SparkProbe {
  val DrainLabel = "graftbench.drain"
  val DrainColumn = "graftbench_drain"

  final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleW: Long, shuffleR: Long, spill: Long, schedDelayMs: Long)

  final case class Window(wallS: Double, jobs: Seq[(String, Double)], jobBusyS: Double,
                          stages: Int, tasks: Seq[TaskRec], planningS: Double) {
    def driverGapS: Double = math.max(0.0, wallS - jobBusyS)
    def taskRunS: Double = tasks.map(_.runMs).sum / 1e3
    /** max ÷ median task time in the stage with the most task time. */
    def taskSkew: Double =
      if (tasks.isEmpty) 1.0
      else {
        val heavy = tasks.groupBy(_.stage).maxBy(_._2.map(_.runMs).sum)._2.map(_.runMs.toDouble)
        heavy.max.max(1.0) / Stats.median(heavy).max(1.0)
      }
  }

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var a = Long.MinValue
    var b = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (x, y) =>
      if (x > b) { if (b > a) total += b - a; a = x; b = y } else b = math.max(b, y)
    }
    if (b > a) total += b - a
    total
  }
}

/** Files and bytes of the warehouse directories of one table prefix. Only
  * data files count (hidden and `_`-prefixed files are bookkeeping). */
object Warehouse {
  final case class FileRec(path: String, bytes: Long)

  def files(warehouse: File, prefix: String): Seq[FileRec] = {
    val dirs = Option(warehouse.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(prefix + "_"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    dirs.flatMap(walk)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => FileRec(f.getPath, f.length()))
  }

  /** Files present after but not before, and their bytes. */
  def written(before: Seq[FileRec], after: Seq[FileRec]): (Int, Long) = {
    val old = before.map(_.path).toSet
    val nw = after.filterNot(f => old(f.path))
    (nw.size, nw.map(_.bytes).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
