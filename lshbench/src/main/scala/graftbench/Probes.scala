package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.BandedLsh
import graft.core.{EuclideanFamily, MinHashFamily, Shingles}
import Gen._

/** Layer probes of the traced run, and the fixed list of per-layer metric
  * names and units. A metric of a layer the workload never calls reads 0. */
object Probes {

  /** Job descriptions the curation layer gives its `Par.run` phases,
    * normalised (`admitBatch(<prefix>): gram index append` becomes
    * `gram_index_append`). */
  val AdmitPhases = Seq("batch_vs_index_near_dup_pairs", "within_batch_near_dup_pairs",
    "prior_nb_generation_sums", "batch_nb_counts", "gram_index_append",
    "signature_index_append", "line_df_append", "nb_counts_append", "raw_hash_append",
    "reasons_audit_append", "span_assembly_rewrite")
  val PhaseLabels = AdmitPhases ++ Seq("compact", "unlabelled", "other")

  val Units: Seq[(String, String)] = Seq(
    "core.shingle_ns_per_doc" -> "ns", "core.minhash_ns_per_doc" -> "ns",
    "core.jaccard_ns_per_pair" -> "ns", "core.euclid_ns_per_vec" -> "ns",
    "expr.lsh_min_rows_per_s" -> "1/s", "expr.lsh_jaccard_rows_per_s" -> "1/s",
    "expr.lsh_euclidean_rows_per_s" -> "1/s", "expr.scan_rows_per_s" -> "1/s",
    "banded.banding_s" -> "s", "banded.band_rows" -> "count", "banded.collisions" -> "count",
    "banded.max_bucket" -> "count", "banded.candidates" -> "count",
    "banded.verified_pairs" -> "count", "banded.verify_yield" -> "ratio",
    "banded.pairs_s" -> "s", "banded.cluster_s" -> "s") ++
    PhaseLabels.map(l => s"curation.phase_s.$l" -> "s") ++ Seq(
    "curation.jobs_per_admit" -> "count", "curation.files_written_per_admit" -> "count",
    "curation.bytes_written_per_admit" -> "bytes", "curation.state_files" -> "count",
    "curation.compact_s" -> "s", "curation.compact_bytes_rewritten" -> "bytes",
    "curation.admit_creep" -> "ratio", "curation.build_s" -> "s",
    "curation.state_bytes_per_doc" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.planning_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count", "trace.op_self_s" -> "s")

  def seededVecs(seed: Long, n: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val r = new SplittableRandom(seed * 31 + 23)
    IndexedSeq.fill(n)(Array.fill(dim)(r.nextDouble() * 10.0 - 5.0))
  }

  def all(spark: SparkSession, wl: Workload, cores: Int,
          windows: Seq[(String, SparkProbe.Window)]): Map[String, (Double, String)] = {
    val zero = Units.map { case (k, _) => k -> 0.0 }.toMap
    val measured = zero ++ core(wl) ++ expr(spark, wl) ++ sparkLayer(windows, cores) ++
      wl.layerMetrics(windows)
    val unit = Units.toMap
    measured.filter { case (k, _) => unit.contains(k) }.map { case (k, v) => k -> (v, unit(k)) }
  }

  // ------------------------------------------------------------------ core

  /** ns per item of `f` over `n` items: one warm pass, then passes until
    * 0.2 s, five times; the median of the five. Single-threaded. */
  private def nsPerItem(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    (0 until n).foreach(i => sink ^= f(i))
    val reps = (0 until 5).map { _ =>
      var items = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) {
        var i = 0
        while (i < n) { sink ^= f(i); i += 1 }
        items += n
      }
      (System.nanoTime() - t0).toDouble / items
    }
    if (sink == 42L) println("") // keeps the results live
    Stats.median(reps)
  }

  def core(wl: Workload): Map[String, Double] = {
    val texts = wl.probeTexts
    val pairs = wl.probePairs
    val vecs = wl.probeVecs
    val fam = MinHashFamily(BandCount, BandSize, LshSeed)
    val sets = texts.map(Shingles.fromText(_, ShingleWidth))
    val efam = EuclideanFamily(0.5, 4, 4, LshSeed, vecs.head.length)
    Map(
      "core.shingle_ns_per_doc" -> nsPerItem(texts.size)(i => Shingles.fromText(texts(i), ShingleWidth).size.toLong),
      "core.minhash_ns_per_doc" -> nsPerItem(sets.size)(i => fam.hash(sets(i))(0)),
      "core.jaccard_ns_per_pair" -> nsPerItem(pairs.size)(i =>
        java.lang.Double.doubleToRawLongBits(Shingles.jaccardText(pairs(i)._1, pairs(i)._2, ShingleWidth))),
      "core.euclid_ns_per_vec" -> nsPerItem(vecs.size)(i => efam.hash(vecs(i))(0)))
  }

  // ------------------------------------------------------------------ expr

  private def medianSeconds(reps: Int)(f: => Unit): Double = {
    f
    Stats.median((0 until reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
  }

  /** Rows per second of one LSH column projected into the noop sink, and of
    * the same scan with no LSH column (the floor). */
  def expr(spark: SparkSession, wl: Workload): Map[String, Double] = {
    val view =
      if (wl.probeView.nonEmpty) wl.probeView
      else {
        val n = 40000
        val t = wl.probeTexts; val p = wl.probePairs; val v = wl.probeVecs
        val rows = (0 until n).map(i => Row(t(i % t.size), p(i % p.size)._2, v(i % v.size).toSeq))
        val schema = StructType(Seq(StructField("text", StringType), StructField("text_b", StringType),
          StructField("vec", ArrayType(DoubleType, containsNull = false))))
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema).cache()
        df.count()
        df.createOrReplaceTempView("probe_input")
        "probe_input"
      }
    val n = spark.table(view).count().toDouble
    def rate(select: String): Double =
      n / medianSeconds(3)(spark.sql(s"SELECT $select FROM $view").write.format("noop").mode("overwrite").save())
    Map(
      "expr.scan_rows_per_s" -> rate("text, text_b, vec"),
      "expr.lsh_min_rows_per_s" -> rate(s"lsh_min(text, $ShingleWidth, $BandCount, $BandSize, $LshSeed)"),
      "expr.lsh_jaccard_rows_per_s" -> rate(s"lsh_jaccard(text, text_b, $ShingleWidth)"),
      "expr.lsh_euclidean_rows_per_s" -> rate(s"lsh_euclidean(vec, 0.5, 4, 4, $LshSeed)"))
  }

  // ---------------------------------------------------------------- banded

  /** Banding time and rows, bucket collisions Σ C(n, 2), the largest
    * bucket, and distinct candidate pairs, over `df(doc_id, text)`. */
  def banded(spark: SparkSession, df: DataFrame): Map[String, Double] = {
    def rows = BandedLsh.bandedRows(df, "doc_id", "text", ShingleWidth, BandCount, BandSize, LshSeed)
    val bandingS = medianSeconds(3)(rows.select("doc_id", "band", "band_hash")
      .write.format("noop").mode("overwrite").save())
    val b = rows.groupBy("band", "band_hash").count()
      .agg(sum(col("count")).as("rows"), sum(col("count") * (col("count") - 1) / 2).as("coll"),
        max(col("count")).as("maxb")).head()
    val candidates = BandedLsh.candidatePairs(df, "doc_id", "text", ShingleWidth, BandCount, BandSize, LshSeed)
      .count()
    Map("banded.banding_s" -> bandingS,
      "banded.band_rows" -> (if (b.isNullAt(0)) 0.0 else b.getLong(0).toDouble),
      "banded.collisions" -> (if (b.isNullAt(1)) 0.0 else b.getDouble(1)),
      "banded.max_bucket" -> (if (b.isNullAt(2)) 0.0 else b.getLong(2).toDouble),
      "banded.candidates" -> candidates.toDouble)
  }

  // ------------------------------------------------------------ curation

  def phaseLabel(desc: String): String =
    if (desc == null) "unlabelled"
    else if (desc.startsWith("compactState(")) "compact"
    else if (desc.startsWith("admitBatch(") && desc.contains("): ")) {
      val l = desc.substring(desc.indexOf("): ") + 3).toLowerCase.replaceAll("[^a-z0-9]+", "_")
        .stripPrefix("_").stripSuffix("_")
      if (AdmitPhases.contains(l)) l else "other"
    } else "other"

  /** Job seconds per admit, grouped by the phase label of each job. */
  def phases(ws: Seq[SparkProbe.Window], admits: Int): Map[String, Double] =
    ws.flatMap(_.jobs).groupBy(j => phaseLabel(j._1)).map { case (l, js) =>
      s"curation.phase_s.$l" -> js.map(_._2).sum / math.max(1, admits)
    }

  // --------------------------------------------------------------- spark

  /** Per-op means over the traced op windows. */
  def sparkLayer(windows: Seq[(String, SparkProbe.Window)], cores: Int): Map[String, Double] = {
    val ws = windows.filter(_._1 == "op").map(_._2)
    if (ws.isEmpty) return Map.empty
    def per(f: SparkProbe.Window => Double) = Stats.mean(ws.map(f))
    Map(
      "spark.jobs" -> per(_.jobs.size),
      "spark.stages" -> per(_.stages),
      "spark.tasks" -> per(_.tasks.size),
      "spark.driver_gap_s" -> per(_.driverGapS),
      "spark.planning_s" -> per(_.planningS),
      "spark.sched_delay_s" -> per(_.tasks.map(_.schedDelayMs).sum / 1e3),
      "spark.task_cpu_s" -> per(_.tasks.map(_.cpuNs).sum / 1e9),
      "spark.gc_s" -> per(_.tasks.map(_.gcMs).sum / 1e3),
      "spark.busy_ratio" -> ws.map(_.taskRunS).sum / (ws.map(_.wallS).sum * cores),
      "spark.shuffle_write_bytes" -> per(_.tasks.map(_.shuffleW).sum.toDouble),
      "spark.shuffle_read_bytes" -> per(_.tasks.map(_.shuffleR).sum.toDouble),
      "spark.spill_bytes" -> per(_.tasks.map(_.spill).sum.toDouble),
      "spark.task_skew" -> Stats.median(ws.map(_.taskSkew)))
  }
}
