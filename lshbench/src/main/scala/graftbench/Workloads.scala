package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{BandedLsh, IncrementalCuration}
import graft.core.{EuclideanFamily, MinHashFamily, Shingles}
import Gen._

object Workloads {
  val Names = Seq("dedup_bulk", "lsh_sql_scan", "admit_days")

  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "dedup_bulk" => new DedupBulk(seed, if (tiny) DedupTiny else DedupFull)
    case "lsh_sql_scan" => new LshSqlScan(seed, if (tiny) ScanTiny else ScanFull)
    case "admit_days" => new AdmitDays(seed, if (tiny) AdmitTiny else AdmitFull)
    case other => sys.error(s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def writeDocs(spark: SparkSession, rows: Seq[(Long, String)], path: File): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }),
      DocSchema).write.mode("overwrite").parquet(path.getPath)
    spark.read.parquet(path.getPath)
  }
}

/** One-shot near-dup mining plus clustering over a corpus with planted
  * near-dup clusters at stated Jaccard levels, exact duplicates, one hot
  * cluster and texts shorter than the shingle width. */
final class DedupBulk(seed: Long, sizes: DedupSizes) extends Workload {
  private var spark: SparkSession = _
  private var corpus: DedupCorpus = _
  private var corpusDf: DataFrame = _
  private var warmDf: DataFrame = _
  // raw (pairs, clusters) per op; sorted and digested after the timed loop
  private val outputs = ArrayBuffer[(Array[(Long, Long, Double)], Map[Long, Long])]()
  private var firstPairs: Array[(Long, Long, Double)] = Array.empty
  private var firstClusters: Map[Long, Long] = Map.empty
  private var digest = ""

  def prepare(s: SparkSession, dir: File): Unit = {
    spark = s
    corpus = dedupCorpus(seed, sizes, firstId = 1L)
    val warm = dedupCorpus(seed + 1000003L, sizes, firstId = 100000000L)
    val d = new Digest
    corpus.docs.foreach { case (i, t) => d.add(i, t) }
    digest = d.hex
    corpusDf = Workloads.writeDocs(s, corpus.docs, new File(dir, "corpus"))
    warmDf = Workloads.writeDocs(s, warm.docs, new File(dir, "warm"))
  }

  private def runOnce(df: DataFrame): (Array[(Long, Long, Double)], Map[Long, Long]) = {
    val pairs = Spans("banded.nearDupPairs") {
      BandedLsh.nearDupPairs(df, "doc_id", "text", ShingleWidth, BandCount, BandSize, LshSeed, Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    val clusters = Spans("banded.dupClusters") {
      val edges = spark.createDataFrame(spark.sparkContext.parallelize(
        pairs.toSeq.map { case (x, y, _) => Row(x, y) }, 1),
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      BandedLsh.dupClusters(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    (pairs, clusters)
  }

  def warmup(): Unit = runOnce(warmDf)
  // a full-size corpus, so adaptive execution picks the timed ops' plans;
  // op latency settles after about three ops of a fresh JVM
  override def warmupOps: Int = 3

  def op(i: Int): Long = {
    outputs += runOnce(corpusDf)
    corpus.docs.size.toLong
  }

  private def outputDigest(pairs: Array[(Long, Long, Double)], clusters: Map[Long, Long]): String = {
    val d = new Digest
    pairs.foreach(p => d.add(p._1, p._2, p._3))
    clusters.toSeq.sorted.foreach(c => d.add(c._1, c._2))
    d.hex
  }

  def inputs: Map[String, Any] = Map(
    "docs" -> corpus.docs.size, "texts_distinct" -> corpus.docs.map(_._2).distinct.size,
    "planted_pairs" -> corpus.planted.size,
    "planted_pairs_above_threshold" -> corpus.planted.count(_.jaccard > Threshold),
    "groups_by_kind_docs" -> corpus.levels, "digest_sha256" -> digest)

  def check(ops: Int, corrupt: Boolean): Check = {
    val failures = ArrayBuffer[String]()
    if (outputs.isEmpty) return Check(ops, Seq("no op completed"), Map.empty)
    val sortedOutputs = outputs.map { case (p, c) => (p.sortBy(x => (x._1, x._2)), c) }
    firstPairs = sortedOutputs.head._1
    firstClusters = sortedOutputs.head._2
    val digests = sortedOutputs.map { case (p, c) => outputDigest(p, c) }
    val text = corpus.docs.toMap
    val pairs = if (corrupt) firstPairs :+ ((1L, 2L, 0.99)) else firstPairs
    val seen = scala.collection.mutable.HashSet[(Long, Long)]()
    pairs.foreach { case (x, y, sim) =>
      if (!(x < y)) failures += s"pair ($x, $y) is not ordered id_a < id_b"
      if (!seen.add((x, y))) failures += s"pair ($x, $y) returned twice"
      val j = Shingles.jaccardText(text(x), text(y), ShingleWidth)
      if (!(j > Threshold)) failures += s"pair ($x, $y) re-verifies at $j, not above $Threshold"
      if (j != sim) failures += s"pair ($x, $y) reports sim $sim, driver re-verify gives $j"
      if (firstClusters.get(x) != firstClusters.get(y) || firstClusters.get(x).isEmpty)
        failures += s"pair ($x, $y) ends in different clusters"
    }
    firstClusters.foreach { case (id, c) =>
      if (c > id || firstClusters.getOrElse(c, c) != c) failures += s"cluster label $c of $id is not its component minimum"
    }
    // recall of planted pairs above the threshold against the S-curve
    val truth = corpus.planted.filter(_.jaccard > Threshold)
    val found = truth.count(p => seen((p.a, p.b)))
    val probs = truth.map(p => BandedLsh.candidateProbability(p.jaccard, BandCount, BandSize))
    val expected = probs.sum
    val sd = math.sqrt(probs.map(p => p * (1 - p)).sum)
    val floor = (expected - 4 * sd) / truth.size
    val recall = found.toDouble / truth.size
    if (recall < floor) failures += f"planted-pair recall $recall%.4f below the S-curve floor $floor%.4f"
    val distinct = digests.distinct
    val differing = digests.count(_ != digests.head)
    if (distinct.size > 1) failures += s"$differing ops returned a different pair/cluster set than op 0"
    val failedOps = if (failures.isEmpty) 0 else if (differing > 0 && failures.size == 1) differing else ops
    Check(failedOps, failures.take(20).toSeq, Map(
      "pairs" -> pairs.length, "clusters" -> firstClusters.values.toSet.size,
      "planted_found" -> found, "planted_truth" -> truth.size,
      "recall" -> recall, "recall_floor" -> floor, "recall_expected" -> expected / truth.size,
      "ops_identical" -> (distinct.size == 1)))
  }

  def layerMetrics(windows: Seq[(String, SparkProbe.Window)]): Map[String, Double] = {
    val b = Probes.banded(spark, corpusDf)
    b ++ Map(
      "banded.verified_pairs" -> firstPairs.length.toDouble,
      "banded.verify_yield" -> (if (b("banded.candidates") > 0) firstPairs.length / b("banded.candidates") else 0.0),
      "banded.pairs_s" -> Stats.median(Spans.durations("banded.nearDupPairs")),
      "banded.cluster_s" -> Stats.median(Spans.durations("banded.dupClusters")))
  }

  def probeTexts: IndexedSeq[String] = corpus.docs.map(_._2).filter(_ != null).take(4000)
  def probePairs: IndexedSeq[(String, String)] = {
    val text = corpus.docs.toMap
    val planted = corpus.planted.take(2000).map(p => (text(p.a), text(p.b)))
    planted ++ probeTexts.zip(probeTexts.drop(1)).take(4000 - planted.size)
  }
  def probeVecs: IndexedSeq[Array[Double]] = Probes.seededVecs(seed, 4000, 32)
  def probeView: String = ""
  override def extra: Map[String, Any] = Map("pair_counts_per_op" -> outputs.map(_._1.length).toSeq)
}

/** The reference's own surface: one SQL statement projecting every LSH
  * scalar over a table of texts, unrelated text pairs and dense vectors,
  * into the noop sink. */
final class LshSqlScan(seed: Long, sizes: ScanSizes) extends Workload {
  private var spark: SparkSession = _
  private var rows: IndexedSeq[ScanRow] = _
  private var digest = ""
  private val EuclidW = 0.5
  private val EuclidBands = 4
  private val EuclidRows = 4

  def statement(view: String): String =
    s"""SELECT id,
       |  lsh_min(text, $ShingleWidth, $BandCount, $BandSize, $LshSeed) AS m,
       |  lsh_min32(text, $ShingleWidth, $BandCount, $BandSize, $LshSeed) AS m32,
       |  lsh_jaccard(text, text_b, $ShingleWidth) AS j,
       |  lsh_euclidean(vec, $EuclidW, $EuclidBands, $EuclidRows, $LshSeed) AS e,
       |  lsh_euclidean32(vec, $EuclidW, $EuclidBands, $EuclidRows, $LshSeed) AS e32
       |FROM $view""".stripMargin

  private val Schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType), StructField("text_b", StringType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  private def write(rs: Seq[ScanRow], path: File, view: String): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(
        rs.map(r => Row(r.id, r.text, r.textB, if (r.vec == null) null else r.vec.toSeq))), Schema)
      .write.mode("overwrite").parquet(path.getPath)
    spark.read.parquet(path.getPath).createOrReplaceTempView(view)
  }

  def prepare(s: SparkSession, dir: File): Unit = {
    spark = s
    rows = scanRows(seed, sizes.rows, sizes.dim, firstId = 1L)
    val d = new Digest
    rows.foreach(r => d.add(r.id, r.text, r.textB, r.vec))
    digest = d.hex
    write(rows, new File(dir, "scan"), "scan_input")
    write(scanRows(seed + 1000003L, sizes.rows, sizes.dim, firstId = 100000000L),
      new File(dir, "warm"), "scan_warm")
  }

  private def runScan(view: String): Unit = Spans("expr.sql_scan") {
    spark.sql(statement(view)).write.format("noop").mode("overwrite").save()
  }

  def warmup(): Unit = runScan("scan_warm")
  // a full-size table, so the first timed op is not the first over
  // partitions of that size
  override def warmupOps: Int = 3
  def op(i: Int): Long = { runScan("scan_input"); rows.size.toLong }

  def inputs: Map[String, Any] = Map(
    "rows" -> rows.size, "dim" -> sizes.dim,
    "null_text" -> rows.count(_.text == null),
    "short_text" -> rows.count(r => r.text != null && r.text.codePointCount(0, r.text.length) < ShingleWidth),
    "null_text_b" -> rows.count(_.textB == null), "null_vec" -> rows.count(_.vec == null),
    "digest_sha256" -> digest)

  private def u64(s: String): Long = java.lang.Long.parseUnsignedLong(s)

  def check(ops: Int, corrupt: Boolean): Check = {
    val failures = ArrayBuffer[String]()
    // FIXTURES.md §5 golden cases and NULL propagation, through SQL
    def one(q: String): Row = spark.sql(s"SELECT $q").head()
    def longs(r: Row): Seq[Long] = r.getSeq[Long](0)
    val goldens = Seq[(String, Row => Boolean)](
      "lsh_min('', 2, 3, 2, 123)" -> (r => longs(r) == Seq.fill(3)(u64("15973479568771280466"))),
      "lsh_min('x', 2, 3, 2, 123)" -> (r => longs(r) == Seq.fill(3)(u64("15973479568771280466"))),
      "lsh_min('Princeton University', 2, 3, 2, 123)" -> (r => longs(r) ==
        Seq("6891191098855684803", "6484452798683863108", "14488917645112899542").map(u64)),
      "lsh_min32('Princeton University', 2, 3, 2, 123)" -> (r =>
        r.getSeq[Int](0).map(_.toLong & 0xffffffffL) == Seq(379615939L, 3696678980L, 685242326L)),
      "lsh_min(CAST(NULL AS STRING), 2, 3, 2, 123)" -> (_.isNullAt(0)),
      "lsh_jaccard('Princeton University', 'Harvard University', 2)" -> (_.getDouble(0) == 0.4),
      "lsh_jaccard('Emily Davis', 'Laura Bennett', 2)" -> (_.getDouble(0) == 0.0),
      "lsh_jaccard('a', '', 2)" -> (_.getDouble(0) == 0.0),
      "lsh_jaccard(CAST(NULL AS STRING), 'x', 2)" -> (_.isNullAt(0)),
      "lsh_euclidean(array(1.1D, 2.2D, 3.3D, 5.8D, 3.9D), 0.5, 2, 3, 123)" -> (r => longs(r) ==
        Seq("4153593470791884295", "13333357882440433242").map(u64)),
      "lsh_euclidean32(array(1.1D, 2.2D, 3.3D, 5.8D, 3.9D), 0.5, 2, 3, 123)" -> (r =>
        r.getSeq[Int](0).map(_.toLong & 0xffffffffL) == Seq(1206820359L, 3590602330L)),
      "lsh_euclidean(CAST(NULL AS ARRAY<DOUBLE>), 0.5, 2, 3, 123)" -> (_.isNullAt(0)))
    goldens.foreach { case (q, ok) =>
      if (!scala.util.Try(ok(one(q))).getOrElse(false)) failures += s"golden case failed: $q"
    }
    // SQL output equals direct core calls on sampled rows (NULL and short
    // rows always included)
    val r = new SplittableRandom(seed ^ 0x5a5a5a5aL)
    val special = rows.filter(x => x.text == null || x.textB == null || x.vec == null ||
      x.text.length < ShingleWidth).take(100)
    val sample = (special ++ IndexedSeq.fill(300)(rows(r.nextInt(rows.size)))).map(_.id).distinct
    val byId = rows.map(x => x.id -> x).toMap
    val got = spark.sql(statement("scan_input") + s"\nWHERE id IN (${sample.mkString(",")})").collect()
    if (got.length != sample.size) failures += s"sampled ${sample.size} ids, SQL returned ${got.length} rows"
    val fam = MinHashFamily(BandCount, BandSize, LshSeed)
    val efam = EuclideanFamily(EuclidW, EuclidBands, EuclidRows, LshSeed, sizes.dim)
    got.zipWithIndex.foreach { case (row, k) =>
      val x = byId(row.getLong(0))
      val m = if (x.text == null) null else fam.hash(Shingles.fromText(x.text, ShingleWidth)).toSeq
      val gotM = if (row.isNullAt(1)) null else row.getSeq[Long](1).map(v => if (corrupt && k == 0) v ^ 1L else v)
      if (gotM != m) failures += s"id ${x.id}: lsh_min differs from MinHashFamily.hash"
      val m32 = if (m == null) null else m.map(v => (v & 0xffffffffL).toInt)
      if ((if (row.isNullAt(2)) null else row.getSeq[Int](2)) != m32) failures += s"id ${x.id}: lsh_min32 differs"
      val j = if (x.text == null || x.textB == null) None else Some(Shingles.jaccardText(x.text, x.textB, ShingleWidth))
      if ((if (row.isNullAt(3)) None else Some(row.getDouble(3))) != j) failures += s"id ${x.id}: lsh_jaccard differs"
      val e = if (x.vec == null) null else efam.hash(x.vec).toSeq
      if ((if (row.isNullAt(4)) null else row.getSeq[Long](4)) != e) failures += s"id ${x.id}: lsh_euclidean differs"
      val e32 = if (e == null) null else e.map(v => (v & 0xffffffffL).toInt)
      if ((if (row.isNullAt(5)) null else row.getSeq[Int](5)) != e32) failures += s"id ${x.id}: lsh_euclidean32 differs"
    }
    Check(if (failures.isEmpty) 0 else ops, failures.take(20).toSeq,
      Map("golden_cases" -> goldens.size, "sampled_rows" -> got.length))
  }

  def layerMetrics(windows: Seq[(String, SparkProbe.Window)]): Map[String, Double] = Map.empty

  def probeTexts: IndexedSeq[String] = rows.map(_.text).filter(_ != null).take(4000)
  def probePairs: IndexedSeq[(String, String)] =
    rows.filter(x => x.text != null && x.textB != null).take(4000).map(x => (x.text, x.textB))
  def probeVecs: IndexedSeq[Array[Double]] = rows.map(_.vec).filter(_ != null).take(4000)
  def probeView: String = "scan_input"
}

/** The write path: a day-1 `buildState`, then small day-N `admitBatch`
  * calls with planted exact dups, near dups (against earlier days and
  * within the batch) and contaminated docs, compacting every few days. */
final class AdmitDays(seed: Long, sizes: AdmitSizes) extends Workload {
  private val Prefix = "bench_admit"
  private val Label = col("lang") === "en"
  private var spark: SparkSession = _
  private var in: AdmitInputs = _
  private var day1Df: DataFrame = _
  private var batchesDf: DataFrame = _
  private var benchDf: DataFrame = _
  private var lookupDf: DataFrame = _
  private var warehouse: File = _
  private var digest = ""
  private var buildS = 0.0
  private val outputs = scala.collection.mutable.Map[Int, Array[(Long, Long, Long, Double)]]()
  private val compactS = ArrayBuffer[Double]()
  private val compactBytes = ArrayBuffer[Double]()
  private val admitFiles = ArrayBuffer[Double]()
  private val admitBytes = ArrayBuffer[Double]()
  private val admitLat = ArrayBuffer[Double]()
  private var lastDay = 0

  private val BatchSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType), StructField("day", IntegerType)))

  def prepare(s: SparkSession, dir: File): Unit = {
    spark = s
    warehouse = new File(s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    in = admitInputs(seed, sizes)
    val d = new Digest
    (in.day1 ++ in.batches.flatten).foreach(x => d.add(x.id, x.text, x.lang, x.day))
    in.bench.foreach(b => d.add(b._1, b._2))
    digest = d.hex
    def docs(xs: Seq[AdmitDoc], p: File): DataFrame = {
      s.createDataFrame(s.sparkContext.parallelize(xs.map(x => Row(x.id, x.text, x.lang, x.day)), 1),
        BatchSchema).write.mode("overwrite").parquet(p.getPath)
      s.read.parquet(p.getPath)
    }
    day1Df = docs(in.day1, new File(dir, "day1")).drop("day")
    batchesDf = docs(in.batches.flatten, new File(dir, "batches"))
    benchDf = Workloads.writeDocs(s, in.bench, new File(dir, "bench"))
    // id -> text lookup spanning every id below the high-water mark
    lookupDf = day1Df.unionByName(batchesDf.drop("day"))
    IncrementalCuration.reset(s, Prefix)
    val t0 = System.nanoTime()
    IncrementalCuration.buildState(day1Df, Prefix, "doc_id", "text", Label)
    buildS = (System.nanoTime() - t0) / 1e9
  }

  private def batch(day: Int): DataFrame = batchesDf.filter(col("day") === day).drop("day")

  private def admit(day: Int): Array[(Long, Long, Long, Double)] = {
    val out = Spans("curation.admitBatch") {
      IncrementalCuration.admitBatch(batch(day), benchDf, lookupDf, Prefix, "doc_id", "text", Label)
    }
    Spans("curation.collectOutput") {
      out.select("doc_id", "n_chars_inc", "n_tok_inc", "nb_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    }
  }

  def warmup(): Unit = outputs(0) = admit(0)

  // every admit grows the state the next one reads, so every run admits
  // the same days whatever --seconds says
  override def fixedOps: Option[Int] = Some(sizes.days)

  def op(i: Int): Long = {
    val day = i + 1
    val before = if (Spans.enabled) Warehouse.files(warehouse, Prefix) else Nil
    val t0 = System.nanoTime()
    outputs(day) = admit(day)
    admitLat += (System.nanoTime() - t0) / 1e9
    if (Spans.enabled) {
      val (n, b) = Warehouse.written(before, Warehouse.files(warehouse, Prefix))
      admitFiles += n; admitBytes += b
    }
    lastDay = day
    in.batches(day).size.toLong
  }

  override def between(i: Int): Unit = {
    val day = i + 1
    if (day % sizes.compactEvery == 0) {
      val before = if (Spans.enabled) Warehouse.files(warehouse, Prefix) else Nil
      val t0 = System.nanoTime()
      Spans("curation.compactState") { IncrementalCuration.compactState(spark, Prefix).collect() }
      compactS += (System.nanoTime() - t0) / 1e9
      if (Spans.enabled) compactBytes += Warehouse.written(before, Warehouse.files(warehouse, Prefix))._2
    }
  }

  def inputs: Map[String, Any] = Map(
    "day1_docs" -> in.day1.size, "batch_docs" -> sizes.batchDocs, "days" -> sizes.days,
    "compact_every" -> sizes.compactEvery, "bench_docs" -> in.bench.size,
    "plants_per_kind" -> in.plants.groupBy(_.kind).map { case (k, v) => k -> v.size },
    "lang_xx_share_day1" -> in.day1.count(_.lang == "xx").toDouble / in.day1.size,
    "digest_sha256" -> digest)

  private def indexedDocs: Long = in.day1.size + (0 to lastDay).map(in.batches(_).size).sum

  def stateBytesPerDoc: Double = Warehouse.files(warehouse, Prefix).map(_.bytes).sum.toDouble / indexedDocs

  def check(ops: Int, corrupt: Boolean): Check = {
    val failures = ArrayBuffer[String]()
    val failedDays = scala.collection.mutable.Set[Int]()
    // every planted dup carries its planted reason in the audit table
    val reasons = spark.table(s"${Prefix}_admit_reasons").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dayOf = in.batches.zipWithIndex.flatMap { case (b, d) => b.map(_.id -> d) }.toMap
    val plants = in.plants.filter(p => dayOf(p.id) <= lastDay)
    plants.filter(_.kind != "contaminated").foreach { p =>
      val got = reasons.get(p.id)
      if (!got.contains(p.kind)) {
        failures += s"doc ${p.id} (day ${dayOf(p.id)}) planted ${p.kind} of ${p.source}: reason ${got.getOrElse("none")}"
        failedDays += dayOf(p.id)
      }
      if (outputs.get(dayOf(p.id)).exists(_.exists(_._1 == p.id))) {
        failures += s"planted ${p.kind} doc ${p.id} was admitted"
        failedDays += dayOf(p.id)
      }
    }
    // the last day's admitted set equals the batch slice of admitReference
    val day = lastDay
    val maxId = in.batches(day).map(_.id).max
    val minId = in.batches(day).map(_.id).min
    val ranks = {
      val merges = spark.table(s"${Prefix}_vocab").orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
      org.apache.spark.sql.graft.BpeRanks.fromByteTokens(merges)
    }
    val all = lookupDf.filter(col("doc_id") <= maxId)
    val ref = IncrementalCuration.admitReference(all, benchDf, "doc_id", "text", Label, minId - 1, ranks)
      .select("doc_id", "n_chars_inc", "n_tok_inc", "nb_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    val got = outputs.getOrElse(day, Array.empty).toSeq
    val gotC = if (corrupt) got.drop(1) else got
    if (gotC != ref) {
      failures += s"day $day admitted ${gotC.size} docs, admitReference slice has ${ref.size}; " +
        s"first difference at ${gotC.zipAll(ref, null, null).find(x => x._1 != x._2)}"
      failedDays += day
    }
    val contaminated = plants.filter(_.kind == "contaminated").map(_.id).toSet
    val cut = outputs.values.flatten.count { case (id, chars, _, _) =>
      contaminated(id) && chars < in.batches(dayOf(id)).find(_.id == id).get.text.length }
    Check(failedDays.count(_ >= 1), failures.take(20).toSeq, Map(
      "checked_day" -> day, "admitted_last_day" -> got.size, "reference_rows" -> ref.size,
      "planted_checked" -> plants.count(_.kind != "contaminated"),
      "contaminated_admitted_with_cut" -> cut, "reasons_rows" -> reasons.size))
  }

  def layerMetrics(windows: Seq[(String, SparkProbe.Window)]): Map[String, Double] = {
    val opWins = windows.filter(_._1 == "op").map(_._2)
    val q = math.max(1, admitLat.size / 4)
    val files = Warehouse.files(warehouse, Prefix)
    val b = Probes.banded(spark, batch(lastDay))
    val pairsT = ArrayBuffer[Double]()
    val clusterT = ArrayBuffer[Double]()
    var verified = 0L
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      val p = BandedLsh.nearDupPairs(batch(lastDay), "doc_id", "text", ShingleWidth, BandCount, BandSize,
        LshSeed, Threshold).localCheckpoint(true)
      verified = p.count()
      val t1 = System.nanoTime()
      BandedLsh.dupClusters(p).collect()
      pairsT += (t1 - t0) / 1e9; clusterT += (System.nanoTime() - t1) / 1e9
    }
    val phases = Probes.phases(opWins ++ windows.filter(_._1 == "between").map(_._2), opWins.size)
    b ++ phases ++ Map(
      "banded.verified_pairs" -> verified.toDouble,
      "banded.verify_yield" -> (if (b("banded.candidates") > 0) verified / b("banded.candidates") else 0.0),
      "banded.pairs_s" -> Stats.median(pairsT.toSeq),
      "banded.cluster_s" -> Stats.median(clusterT.toSeq),
      "curation.jobs_per_admit" -> Stats.mean(opWins.map(_.jobs.size.toDouble)),
      "curation.files_written_per_admit" -> Stats.median(admitFiles.toSeq),
      "curation.bytes_written_per_admit" -> Stats.median(admitBytes.toSeq),
      "curation.state_files" -> files.size.toDouble,
      "curation.compact_s" -> Stats.median(compactS.toSeq),
      "curation.compact_bytes_rewritten" -> Stats.median(compactBytes.toSeq),
      "curation.admit_creep" -> Stats.median(admitLat.takeRight(q).toSeq) / Stats.median(admitLat.take(q).toSeq),
      "curation.build_s" -> buildS,
      "curation.state_bytes_per_doc" -> stateBytesPerDoc)
  }

  def probeTexts: IndexedSeq[String] = in.day1.map(_.text).take(4000)
  def probePairs: IndexedSeq[(String, String)] = {
    val t = probeTexts
    t.zip(t.drop(1))
  }
  def probeVecs: IndexedSeq[Array[Double]] = Probes.seededVecs(seed, 4000, 32)
  def probeView: String = ""

  override def extra: Map[String, Any] = Map(
    "build_s" -> buildS,
    "days_admitted" -> lastDay, "state_bytes_per_doc" -> stateBytesPerDoc,
    "state_files" -> Warehouse.files(warehouse, Prefix).size,
    "compactions" -> compactS.size, "compact_s" -> compactS.toSeq,
    "admit_latencies_s" -> admitLat.toSeq)
}
