package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.core.Shingles

/** Seeded input generation with recorded ground truth. Every generator is a
  * pure function of (seed, sizes): the same seed yields byte-identical
  * inputs, and [[Digest]] fingerprints them so two result files can prove
  * they measured the same data. */
object Gen {

  /** Near-dup parameters the workloads run at (IncrementalCuration defaults). */
  val ShingleWidth = 4
  val BandCount = 8
  val BandSize = 3
  val LshSeed = 123L
  val Threshold = 0.5

  final class Words(seed: Long, vocab: Int, alphabet: String) {
    private val rng = new SplittableRandom(seed)
    val words: Array[String] = Array.fill(vocab) {
      val n = 3 + rng.nextInt(7)
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb += alphabet.charAt(rng.nextInt(alphabet.length)); i += 1 }
      sb.result()
    }
    def pick(r: SplittableRandom): String = words(r.nextInt(words.length))
  }

  private val Latin = "abcdefghijklmnopqrstuvwxyz"

  def doc(r: SplittableRandom, w: Words, minWords: Int, maxWords: Int): Array[String] =
    Array.fill(minWords + r.nextInt(maxWords - minWords + 1))(w.pick(r))

  /** Replace `m` distinct word positions with fresh vocabulary words. */
  def mutate(r: SplittableRandom, w: Words, words: Array[String], m: Int): Array[String] = {
    val out = words.clone()
    val pos = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(out.indices.toVector).take(m)
    pos.foreach { p =>
      var nw = w.pick(r)
      while (nw == out(p)) nw = w.pick(r)
      out(p) = nw
    }
    out
  }

  def shuffled[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---------------------------------------------------------------- dedup_bulk

  final case class DedupSizes(baseDocs: Int, clusters: Int, exactSets: Int,
                              hotDocs: Int, shortDocs: Int)
  val DedupFull = DedupSizes(baseDocs = 9000, clusters = 600, exactSets = 300,
    hotDocs = 100, shortDocs = 40)
  val DedupTiny = DedupSizes(baseDocs = 200, clusters = 15, exactSets = 8,
    hotDocs = 12, shortDocs = 4)

  /** A planted pair: ids (a < b) and its exact Jaccard. */
  final case class Planted(a: Long, b: Long, jaccard: Double)

  final case class DedupCorpus(docs: IndexedSeq[(Long, String)],
                               planted: IndexedSeq[Planted],
                               clusterOf: Map[Long, Int],
                               levels: Map[String, Int])

  /** Mutation fractions giving the stated Jaccard levels (measured per pair,
    * the fraction only steers them): ~0.9, ~0.75, ~0.6 and sub-threshold. */
  private val LevelFractions = Seq("j090" -> 0.02, "j075" -> 0.06, "j060" -> 0.10,
    "j040" -> 0.22)

  def dedupCorpus(seed: Long, s: DedupSizes, firstId: Long): DedupCorpus = {
    val r = new SplittableRandom(seed)
    val w = new Words(seed * 31 + 7, 30000, Latin)
    // each group is a list of texts planted together; kind labels the group
    val groups = ArrayBuffer[(String, IndexedSeq[String])]()
    (0 until s.baseDocs).foreach(_ => groups += ("single" -> IndexedSeq(doc(r, w, 40, 70).mkString(" "))))
    (0 until s.clusters).foreach { i =>
      val (label, f) = LevelFractions(i % LevelFractions.size)
      val base = doc(r, w, 40, 70)
      val k = 2 + r.nextInt(3)
      val variants = base.mkString(" ") +:
        (1 until k).map(_ => mutate(r, w, base, math.max(1, math.round(base.length * f).toInt)).mkString(" "))
      groups += (label -> variants)
    }
    (0 until s.exactSets).foreach { _ =>
      val t = doc(r, w, 40, 70).mkString(" ")
      groups += ("exact" -> IndexedSeq.fill(2 + r.nextInt(2))(t))
    }
    // one hot cluster: many light mutations of one base, so its band
    // buckets are the skewed ones
    val hotBase = doc(r, w, 40, 70)
    groups += ("hot" -> IndexedSeq.fill(s.hotDocs)(mutate(r, w, hotBase, 1 + r.nextInt(2)).mkString(" ")))
    // shorter than the shingle width: banding drops them, they pair with nothing
    (0 until s.shortDocs).foreach(i => groups += ("short" -> IndexedSeq(w.pick(r).take(i % ShingleWidth))))

    // flatten, shuffle positions, assign ids
    val flat = groups.zipWithIndex.flatMap { case ((kind, texts), g) => texts.map(t => (kind, g, t)) }
    val order = shuffled(r, flat.toIndexedSeq)
    val docs = order.zipWithIndex.map { case ((_, _, t), i) => (firstId + i, t) }
    val byGroup = order.zipWithIndex.groupBy(_._1._2)
    val planted = ArrayBuffer[Planted]()
    val clusterOf = scala.collection.mutable.Map[Long, Int]()
    byGroup.foreach { case (g, members) =>
      val kind = members.head._1._1
      if (kind != "single" && kind != "short") {
        val ids = members.map { case ((_, _, t), i) => (firstId + i, t) }.sortBy(_._1)
        ids.foreach { case (id, _) => clusterOf(id) = g }
        for (x <- ids.indices; y <- x + 1 until ids.size) {
          val j = Shingles.jaccardText(ids(x)._2, ids(y)._2, ShingleWidth)
          planted += Planted(ids(x)._1, ids(y)._1, j)
        }
      }
    }
    DedupCorpus(docs, planted.sortBy(p => (p.a, p.b)).toIndexedSeq, clusterOf.toMap,
      groups.groupBy(_._1).map { case (k, v) => k -> v.map(_._2.size).sum })
  }

  // -------------------------------------------------------------- lsh_sql_scan

  final case class ScanSizes(rows: Int, dim: Int)
  val ScanFull = ScanSizes(rows = 30000, dim = 32)
  val ScanTiny = ScanSizes(rows = 400, dim = 8)

  /** (id, text, text_b, vec): text and text_b are unrelated docs (the pair
    * column has no locality), a share of texts are shorter than the shingle
    * width, and each column carries NULLs. */
  final case class ScanRow(id: Long, text: String, textB: String, vec: Array[Double])

  def scanRows(seed: Long, n: Int, dim: Int, firstId: Long): IndexedSeq[ScanRow] = {
    val r = new SplittableRandom(seed)
    val w = new Words(seed * 31 + 11, 30000, Latin)
    (0 until n).map { i =>
      val text = r.nextInt(100) match {
        case 0 => null
        case 1 => ""
        case 2 => w.pick(r).take(1 + r.nextInt(ShingleWidth - 1))
        case _ => doc(r, w, 20, 60).mkString(" ")
      }
      val textB = if (r.nextInt(100) == 0) null else doc(r, w, 20, 60).mkString(" ")
      val vec = if (r.nextInt(100) == 0) null else Array.fill(dim)(r.nextDouble() * 10.0 - 5.0)
      ScanRow(firstId + i, text, textB, vec)
    }
  }

  // ---------------------------------------------------------------- admit_days

  final case class AdmitSizes(day1Docs: Int, batchDocs: Int, days: Int,
                              compactEvery: Int, boilerplateShare: Double)
  val AdmitFull = AdmitSizes(day1Docs = 600, batchDocs = 40, days = 3,
    compactEvery = 2, boilerplateShare = 0.35)
  val AdmitTiny = AdmitSizes(day1Docs = 120, batchDocs = 20, days = 3,
    compactEvery = 2, boilerplateShare = 0.5)

  final case class AdmitDoc(id: Long, text: String, lang: String, day: Int)

  /** Planted fate of a batch doc: "exact_dup" or "near_dup" (the reason the
    * admit must record), or "contaminated" (admitted with a cut span). */
  final case class AdmitPlant(id: Long, kind: String, source: Long)

  final case class AdmitInputs(day1: IndexedSeq[AdmitDoc],
                               batches: IndexedSeq[IndexedSeq[AdmitDoc]], // day 0 = warm-up
                               plants: IndexedSeq[AdmitPlant],
                               bench: IndexedSeq[(Long, String)])

  private val Boilerplate = IndexedSeq(
    "share this article with your friends",
    "all rights reserved by the publisher",
    "subscribe to our newsletter for updates")

  def admitInputs(seed: Long, s: AdmitSizes): AdmitInputs = {
    val r = new SplittableRandom(seed)
    val en = new Words(seed * 31 + 13, 20000, Latin)
    val xx = new Words(seed * 31 + 17, 400, "qxzjkvw")
    val benchW = new Words(seed * 31 + 19, 5000, Latin)
    val bench = (0 until 6).map { i =>
      (900000000L + i, (0 until 3).map(_ => doc(r, benchW, 14, 14).mkString(" ")).mkString(" "))
    }
    def fresh(): (String, String) =
      if (r.nextInt(100) < 15) (doc(r, xx, 30, 60).mkString(" "), "xx")
      else {
        val body = doc(r, en, 40, 70).mkString(" ")
        if (r.nextDouble() < s.boilerplateShare)
          (body + "\n" + Boilerplate(r.nextInt(Boilerplate.size)), "en")
        else (body, "en")
      }
    var nextId = 1L
    val day1 = (0 until s.day1Docs).map { _ =>
      val (t, l) = fresh(); val d = AdmitDoc(nextId, t, l, -1); nextId += 1; d
    }
    val seen = ArrayBuffer[AdmitDoc]() ++ day1
    val plants = ArrayBuffer[AdmitPlant]()
    val batches = (0 to s.days).map { day =>
      // a few of each planted kind per batch; tiny batches get one each
      val per = math.max(1, s.batchDocs / 20)
      val nFresh = s.batchDocs - 4 * per
      val originals = (0 until nFresh).map { i =>
        val (t, l) = fresh()
        if (i < per) {
          // contaminated: a bench passage spliced into a fresh doc
          val b = bench(r.nextInt(bench.size))._2.split(" ")
          val start = r.nextInt(b.length - 12)
          ("contaminated", t + " " + b.slice(start, start + 12).mkString(" "), l, -1L)
        } else ("fresh", t, l, -1L)
      }
      val firstId = nextId
      val placed = shuffled(r, originals).map { case (k, t, l, _) =>
        val d = AdmitDoc(nextId, t, l, day); nextId += 1
        if (k == "contaminated") plants += AdmitPlant(d.id, k, -1L)
        d
      }
      // duplicates come after every original, so their ids are larger
      val srcIn = Some(placed.filter(_.text.length >= 300)).filter(_.nonEmpty).getOrElse(placed)
      val dups = ArrayBuffer[(String, AdmitDoc)]()
      (0 until per).foreach { _ =>
        val o = seen(r.nextInt(seen.size)); dups += ("exact_dup" -> o)
      }
      val longSeen = seen.filter(_.text.length >= 300)
      (0 until per).foreach { _ =>
        val o = longSeen(r.nextInt(longSeen.size)); dups += ("near_dup" -> o)
      }
      (0 until per).foreach { _ =>
        val o = srcIn(r.nextInt(srcIn.size)); dups += ("exact_dup" -> o)
      }
      (0 until per).foreach { _ =>
        val o = srcIn(r.nextInt(srcIn.size)); dups += ("near_dup" -> o)
      }
      val dupDocs = shuffled(r, dups.toIndexedSeq).map { case (kind, o) =>
        val t = if (kind == "exact_dup") o.text else nearCopy(r, en, o.text)
        val d = AdmitDoc(nextId, t, o.lang, day); nextId += 1
        plants += AdmitPlant(d.id, kind, o.id)
        d
      }
      val batch = placed ++ dupDocs
      require(batch.head.id == firstId)
      seen ++= batch
      batch
    }
    AdmitInputs(day1, batches, plants.toIndexedSeq, bench)
  }

  /** A near copy at Jaccard >= 0.9 (so banding misses it with probability
    * below 1e-4 at 8 bands x 3 rows): one word of the first line replaced. */
  private def nearCopy(r: SplittableRandom, w: Words, text: String): String = {
    val lines = text.split("\n", -1)
    val words = lines(0).split(" ")
    Iterator.continually((mutate(r, w, words, 1).mkString(" ") +: lines.tail).mkString("\n"))
      .take(100).find(t => Shingles.jaccardText(text, t, ShingleWidth) >= 0.9)
      .getOrElse(sys.error(s"no near copy at Jaccard >= 0.9 of a ${text.length}-char text"))
  }

  // -------------------------------------------------------------------- digest

  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(xs: Any*): this.type = {
      xs.foreach { x =>
        val s = x match {
          case null => "\u0000"
          case a: Array[Double] => a.map(java.lang.Double.doubleToRawLongBits).mkString(",")
          case other => other.toString
        }
        md.update(s.getBytes("UTF-8")); md.update(0x1f.toByte)
      }
      md.update('\n'.toByte)
      this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
