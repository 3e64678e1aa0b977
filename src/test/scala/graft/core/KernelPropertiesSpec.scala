package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests from SURVEY.md §5.3.3: invariants the kernels must hold for
  * arbitrary inputs, complementing the fixed golden vectors. Uses ScalaCheck
  * generators with a fixed seed walk (no scalatestplus bridge in the offline
  * cache), so failures are reproducible.
  */
class KernelPropertiesSpec extends AnyFunSuite {

  private def forSamples[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private val text: Gen[String] = Gen.chooseNum(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', 'é', '語'))).map(_.mkString))

  private val textPair: Gen[(String, String)] = Gen.zip(text, text)

  test("jaccard ∈ [0,1], symmetric, self-similarity") {
    forSamples(textPair) { case (a, b) =>
      val j = Shingles.jaccardText(a, b, 2)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == Shingles.jaccardText(b, a, 2))
      val self = Shingles.jaccardText(a, a, 2)
      if (Shingles.codePoints(a).length >= 2) assert(self == 1.0) else assert(self == 0.0)
    }
  }

  test("lsh_min: band count, determinism") {
    forSamples(Gen.zip(text, Gen.chooseNum(1, 5), Gen.chooseNum(1, 4), Gen.long), 150) {
      case (s, bands, size, seed) =>
        val h1 = MinHashFamily(bands, size, seed).hash(Shingles.fromText(s, 2))
        val h2 = MinHashFamily(bands, size, seed).hash(Shingles.fromText(s, 2))
        assert(h1.length == bands)
        assert(h1.toSeq == h2.toSeq)
    }
  }

  test("UTF-8 shingling path equals String code-point path") {
    forSamples(Gen.zip(text, Gen.chooseNum(1, 4))) { case (s, w) =>
      val bytes = s.getBytes("UTF-8")
      assert(Shingles.fromTextUtf8(bytes, 0, bytes.length, w).toArray.sorted.toSeq ==
        Shingles.fromText(s, w).toArray.sorted.toSeq)
    }
  }

  test("sorted-array jaccard equals hash-set jaccard") {
    forSamples(textPair) { case (a, b) =>
      val ab = a.getBytes("UTF-8")
      val bb = b.getBytes("UTF-8")
      val sorted = Shingles.jaccardSorted(
        Shingles.sortedShinglesUtf8(ab, 0, ab.length, 2),
        Shingles.sortedShinglesUtf8(bb, 0, bb.length, 2))
      assert(sorted == Shingles.jaccardText(a, b, 2))
    }
  }

  test("euclidean: band count, determinism, translation sensitivity") {
    val vecGen = Gen.chooseNum(1, 8).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-100.0, 100.0)).map(_.toArray))
    forSamples(Gen.zip(vecGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 3), Gen.long), 100) {
      case (v, bands, size, seed) =>
        val fam = EuclideanFamily(0.5, bands, size, seed, v.length)
        val h = fam.hash(v)
        assert(h.length == bands)
        assert(h.toSeq == fam.hash(v.clone()).toSeq)
        // NOTE: no universal translation-sensitivity property exists — the
        // saturating f64→u64 cast (SURVEY §2.4.8) clamps all-negative bucket
        // coordinates to 0, so shifts deeper into that regime may not change
        // the hash. Sensitivity is asserted on a fixed case below.
    }
    val fam = EuclideanFamily(0.5, 2, 3, 123, 5)
    val base = Array(1.1, 2.2, 3.3, 5.8, 3.9)
    assert(fam.hash(base.map(_ + 10.0)).toSeq != fam.hash(base).toSeq)
  }

  test("simhash: hamming(a,a)=0; winnow sorted unsigned unique") {
    forSamples(text) { s =>
      val h = SimHash.simhash64(s)
      assert(SimHash.hamming(h, h) == 0)
      val w = SimHash.winnow(s, 3, 4)
      val sorted = w.sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
      assert(w.toSeq == sorted.toSeq && w.distinct.length == w.length)
    }
  }

  test("shingle salt hook: None is identity; salts partition the hash space") {
    // No reference goldens exist (its SQL surface always passes None,
    // minhash.rs:71,136) — these pin the structural contract: default/None
    // must be byte-identical to the unsalted path (all golden vectors keep
    // passing), salted sets are deterministic, and distinct salts disagree.
    forSamples(text) { s =>
      val plain = Shingles.fromText(s, 2).toArray.toSet
      assert(Shingles.fromText(s, 2, None).toArray.toSet == plain)
      val salted = Shingles.fromText(s, 2, Some("pepper")).toArray.toSet
      assert(Shingles.fromText(s, 2, Some("pepper")).toArray.toSet == salted)
      if (s.length >= 3) {
        assert(salted != plain)
        assert(Shingles.fromText(s, 2, Some("other")).toArray.toSet != salted)
      }
      // same cardinality: salting re-keys windows, it must not merge them
      // (collisions aside — none observed over the sample corpus)
      assert(salted.size == plain.size)
    }
    // FxHasher::write chunking boundaries: salts of length 1,2,3,4,7,8,9
    // exercise every remainder branch (8/4/2/1-byte words)
    val base = Shingles.fromText("boundary case text", 3).toArray.toSet
    val all = Seq("a", "ab", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi")
      .map(sl => Shingles.fromText("boundary case text", 3, Some(sl)).toArray.toSet)
    assert((all :+ base).distinct.size == all.size + 1, "some salt collided a whole set")
  }

  // BMP and astral (surrogate-pair) text, texts shorter than the widest
  // width, and heavily repeated windows, with widths 1-8, salted or not.
  private val shingleCase: Gen[(String, Int, Option[String])] = {
    val cp = Gen.frequency(6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "é", "語", "ß"), 2 -> Gen.oneOf("😀", "🌀", "𝕏"))
    val mixed = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, cp).map(_.mkString))
    val short = Gen.chooseNum(0, 7).flatMap(n => Gen.listOfN(n, cp).map(_.mkString))
    val repeated = Gen.zip(Gen.chooseNum(1, 3).flatMap(k => Gen.listOfN(k, cp)), Gen.chooseNum(0, 80))
      .map { case (unit, r) => unit.mkString * r }
    Gen.zip(Gen.frequency(3 -> mixed, 1 -> short, 2 -> repeated), Gen.chooseNum(1, 8),
      Gen.option(Gen.oneOf("pepper", "ab", "😀x")))
  }

  /** The distinct per-window hashes, ascending by unsigned value. */
  private def windowHashes(s: String, w: Int, salt: Option[String]): Seq[Int] = {
    val cps = Shingles.codePoints(s)
    val st = FxHash.saltState(salt)
    (0 to cps.length - w).map(i => FxHash.hashCodePointsSalted(st, cps.slice(i, i + w), w))
      .distinct.sortWith(Integer.compareUnsigned(_, _) < 0)
  }

  /** Per-seed minima by unsigned compare, then FxHash over each band's minima. */
  private def minhashOracle(fam: MinHashFamily, shingles: Seq[Int]): Seq[Long] =
    (0 until fam.bandCount).map { b =>
      (0 until fam.bandSize).foldLeft(0L) { (h, j) =>
        var m = -1L
        shingles.foreach { x =>
          val v = FxHash.hash2(fam.seeds(b * fam.bandSize + j), x.toLong & 0xffffffffL)
          if (java.lang.Long.compareUnsigned(v, m) < 0) m = v
        }
        FxHash.add(h, m)
      }
    }

  test("shingle set = distinct per-window hashes sorted unsigned, String and UTF-8 paths") {
    forSamples(shingleCase) { case (s, w, salt) =>
      val want = windowHashes(s, w, salt)
      val set = Shingles.fromText(s, w, salt)
      assert(set.toArray.toSeq == want)
      assert(set.size == want.size)
      assert(set.sorted.toSeq == want.map(_ ^ Int.MinValue))
      val bytes = s.getBytes("UTF-8")
      assert(Shingles.fromTextUtf8(bytes, 0, bytes.length, w, salt).sorted.toSeq == set.sorted.toSeq)
      val parts = s.split(" ", -1).toSeq
      val st = FxHash.saltState(salt)
      assert(Shingles.fromShingles(parts.iterator, salt).toArray.toSeq == parts.map { p =>
        val cps = Shingles.codePoints(p)
        FxHash.hashCodePointsSalted(st, cps, cps.length)
      }.distinct.sortWith(Integer.compareUnsigned(_, _) < 0))
    }
  }

  test("fromHashes: radix sort + dedup over arbitrary ints") {
    val ints = Gen.frequency(
      3 -> Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)),
      1 -> Gen.listOf(Gen.chooseNum(0, 300)), // upper bytes all equal: skipped passes
      1 -> Gen.listOf(Gen.oneOf(7, -7, 0x7f000000, Int.MinValue))) // heavy duplicates
    forSamples(ints) { xs =>
      val got = Shingles.fromHashes(xs.toArray)
      assert(got.toArray.toSeq == xs.distinct.sortWith(Integer.compareUnsigned(_, _) < 0))
    }
  }

  test("MinHashFamily.hash equals the per-seed compareUnsigned loop") {
    forSamples(Gen.zip(shingleCase, Gen.chooseNum(1, 9), Gen.chooseNum(1, 5), Gen.long)) {
      case ((s, w, salt), bands, size, seed) =>
        val fam = MinHashFamily(bands, size, seed)
        assert(fam.hash(Shingles.fromText(s, w, salt)).toSeq == minhashOracle(fam, windowHashes(s, w, salt)))
    }
  }

  test("shingle_hashes output is the sign-flipped ascending window-hash array") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    forSamples(shingleCase) { case (s, w, _) =>
      val got = org.apache.spark.sql.graft.ShingleHashes(Literal(s), Literal(w.toLong)).eval()
        .asInstanceOf[ArrayData].toIntArray()
      assert(got.toSeq == windowHashes(s, w, None).map(_ ^ Int.MinValue))
    }
  }

  test("tokenHashUtf8 == code-point token hash for arbitrary unicode") {
    val uni: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "語", "中", "ß"),
      1 -> Gen.oneOf("😀", "🌀", "𝕏"))).map(_.mkString) // incl. surrogate pairs
    forSamples(uni) { s =>
      val cps = Shingles.codePoints(s)
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(SimHash.tokenHashUtf8(bytes, 0, bytes.length) ==
        SimHash.tokenHash(cps, cps.length))
    }
  }

  test("sketch algebra law: sketch(A) ⊕ sketch(B) == sketch(A ++ B), all kinds") {
    def h(s: String) = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      SimHash.tokenHashUtf8(b, 0, b.length)
    }
    val values: Gen[(List[String], List[String])] =
      Gen.zip(Gen.listOf(text), Gen.listOf(text))
    forSamples(values, n = 100) { case (as, bs) =>
      // HLL: register max
      def hll(vs: Seq[String]) = {
        val r = new Array[Byte](1 << 6)
        vs.foreach(v => HyperLogLog.add(r, h(v), 6))
        Sketches.hllToBytes(r, 6)
      }
      val mergedH = hll(as)
      Sketches.mergeBytes(mergedH, hll(bs))
      assert(java.util.Arrays.equals(mergedH, hll(as ++ bs)))
      // Bloom: bit OR
      def bloom(vs: Seq[String]) = {
        val w = Sketches.bloomEmpty(8, 3)
        vs.foreach(v => Sketches.bloomAdd(w, h(v), 3, 8))
        Sketches.toBytes(w)
      }
      val mergedB = bloom(as)
      Sketches.mergeBytes(mergedB, bloom(bs))
      assert(java.util.Arrays.equals(mergedB, bloom(as ++ bs)))
      // CMS: counter add
      def cms(vs: Seq[String]) = {
        val c = Sketches.cmsEmpty(2, 6)
        vs.foreach(v => Sketches.cmsAdd(c, h(v), 2, 6))
        Sketches.toBytes(c)
      }
      val mergedC = cms(as)
      Sketches.mergeBytes(mergedC, cms(bs))
      assert(java.util.Arrays.equals(mergedC, cms(as ++ bs)))
    }
  }

  test("CosineSim.computeBoxed is bit-equal to the sequential HOF fold it replaced") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val vec: Gen[Array[Double]] = Gen.chooseNum(1, 48).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3)).map(_.toArray))
    forSamples(Gen.zip(vec, vec), n = 300) { case (a0, b0) =>
      // equal lengths: truncate to the shorter (mismatch -> null, tested in SQL spec)
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      // reference fold, exactly as aggregate(zip_with(a,b,_*_),0.0,_+_) evaluated:
      // per element multiply-then-add in array order, separate norm passes
      var dot = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); i += 1 }
      var na = 0.0; i = 0
      while (i < n) { na += a(i) * a(i); i += 1 }
      var nb = 0.0; i = 0
      while (i < n) { nb += b(i) * b(i); i += 1 }
      val want = dot / (math.sqrt(na) * math.sqrt(nb))
      val got = org.apache.spark.sql.graft.CosineSim.computeBoxed(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      assert(java.lang.Double.doubleToRawLongBits(got.doubleValue()) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"cosine bits differ: got $got want $want")
    }
  }
}
