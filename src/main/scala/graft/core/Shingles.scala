package graft.core

/** A shingle set in the one form every consumer reads: the distinct u32
  * window hashes, sorted by unsigned value, each stored with its sign bit
  * flipped so that signed order is unsigned order. Intersection is a linear
  * merge ([[Shingles.jaccardSorted]]) and MinHash minima are signed compares
  * ([[MinHashFamily.hash]]); 4 bytes per shingle. Same role as the
  * reference's `IntSet<u32>` (shingleset.rs:7-9): only membership matters to
  * the reference, so the order is ours to choose. */
final class ShingleSet(val sorted: Array[Int]) extends AnyVal {
  def size: Int = sorted.length

  /** The members as raw u32 bit patterns (sign bit restored), ascending
    * by unsigned value. */
  def toArray: Array[Int] = {
    val out = new Array[Int](sorted.length)
    var i = 0
    while (i < out.length) { out(i) = sorted(i) ^ Int.MinValue; i += 1 }
    out
  }
}

/** Character-n-gram shingling, bit-exact to the reference's `ShingleSet`
  * (/root/reference/src/minhash/shingleset.rs).
  *
  * The reference iterates Rust `char`s = Unicode scalar values
  * (shingleset.rs:27-31); JVM Strings are UTF-16, so we expand to code points
  * first (surrogate pair = one shingle element), SURVEY.md §7.5.2.
  * Each window of `ngramWidth` code points is FxHash64-hashed with Rust
  * slice framing and truncated to u32 (shingleset.rs:37-47). The reference's
  * salt hook (shingleset.rs:12-47, always None from its SQL surface) is
  * mirrored as an `Option[String]` default-None parameter: a salted hasher
  * state is derived once per set via [[FxHash.saltState]] and every window
  * hash resumes from it.
  * Strings shorter than `ngramWidth` produce an empty set (windows() yields
  * nothing) — all-bands-collide footgun documented in SURVEY.md §2.2.4.
  */
object Shingles {

  /** Expand a String to Unicode code points. */
  def codePoints(s: String): Array[Int] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var ci = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(ci)
      out(i) = cp
      ci += Character.charCount(cp)
      i += 1
    }
    out
  }

  /** Decode UTF-8 bytes straight to code points — the hot path used by the
    * Catalyst expressions, avoiding a UTF-16 String round trip. Spark
    * guarantees valid UTF-8 in `UTF8String`, and Rust `chars()` over a
    * `&str` yields exactly these scalar values (shingleset.rs:27). */
  def codePointsUtf8(bytes: Array[Byte], offset: Int, len: Int): Array[Int] = {
    val out = new Array[Int](len) // upper bound; trimmed by caller via count
    var i = offset
    val end = offset + len
    var n = 0
    while (i < end) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { out(n) = b0; i += 1 }
      else if (b0 < 0xe0) { out(n) = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2 }
      else if (b0 < 0xf0) {
        out(n) = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
        i += 3
      } else {
        out(n) = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        i += 4
      }
      n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  private val Empty = new ShingleSet(new Array[Int](0))

  /** The set of every `ngramWidth`-code-point window of `cps`
    * (shingleset.rs:24-47): each window hash is [[FxHash.hashCodePointsSalted]]
    * with the salt state and the slice's length prefix hoisted out of the
    * window loop, read in place from `cps`. */
  private def windows(cps: Array[Int], ngramWidth: Int, salt: Option[String]): ShingleSet = {
    require(ngramWidth >= 0, s"ngram width must not be negative: $ngramWidth")
    val n = cps.length - ngramWidth + 1
    if (n <= 0) return Empty
    val prefix = FxHash.add(FxHash.saltState(salt), ngramWidth.toLong)
    val hs = new Array[Int](n)
    var i = 0
    while (i < n) {
      var h = prefix
      var j = i
      val end = i + ngramWidth
      while (j < end) { h = FxHash.add(h, cps(j).toLong & 0xffffffffL); j += 1 }
      hs(i) = h.toInt
      i += 1
    }
    fromHashes(hs)
  }

  /** The set of the raw u32 hashes `hs`: a 4-pass LSD radix sort by unsigned
    * value (8 bits a pass, the last pass flipping sign bits), then
    * duplicates dropped in place. Consumes `hs`. */
  def fromHashes(hs: Array[Int]): ShingleSet = {
    val n = hs.length
    if (n == 0) return Empty
    val c0 = new Array[Int](256)
    val c1 = new Array[Int](256)
    val c2 = new Array[Int](256)
    val c3 = new Array[Int](256)
    var i = 0
    while (i < n) {
      val v = hs(i)
      c0(v & 0xff) += 1
      c1((v >>> 8) & 0xff) += 1
      c2((v >>> 16) & 0xff) += 1
      c3(v >>> 24) += 1
      i += 1
    }
    var s0, s1, s2, s3 = 0 // exclusive prefix sums: bucket start offsets
    var b = 0
    while (b < 256) {
      val a0 = c0(b); c0(b) = s0; s0 += a0
      val a1 = c1(b); c1(b) = s1; s1 += a1
      val a2 = c2(b); c2(b) = s2; s2 += a2
      val a3 = c3(b); c3(b) = s3; s3 += a3
      b += 1
    }
    val tmp = new Array[Int](n)
    scatter(hs, tmp, c0, 0, 0)
    scatter(tmp, hs, c1, 8, 0)
    scatter(hs, tmp, c2, 16, 0)
    scatter(tmp, hs, c3, 24, Int.MinValue)
    var k = 1
    i = 1
    while (i < n) {
      if (hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    new ShingleSet(if (k == n) hs else java.util.Arrays.copyOf(hs, k))
  }

  /** One counting-sort pass on the byte at `shift`, xor-ing `flip` in. */
  private def scatter(src: Array[Int], dst: Array[Int], offsets: Array[Int], shift: Int,
                      flip: Int): Unit = {
    var i = 0
    while (i < src.length) {
      val v = src(i)
      val d = (v >>> shift) & 0xff
      dst(offsets(d)) = v ^ flip
      offsets(d) += 1
      i += 1
    }
  }

  /** Shingle set over UTF-8 bytes (hot path; same semantics as fromText). */
  def fromTextUtf8(bytes: Array[Byte], offset: Int, len: Int, ngramWidth: Int,
                   salt: Option[String] = None): ShingleSet =
    windows(codePointsUtf8(bytes, offset, len), ngramWidth, salt)

  /** Shingle set of all `ngramWidth`-code-point windows (shingleset.rs:24-35). */
  def fromText(s: String, ngramWidth: Int, salt: Option[String] = None): ShingleSet =
    windows(codePoints(s), ngramWidth, salt)

  /** Shingle set from caller-provided shingle strings: each string hashed
    * whole as its code-point sequence (shingleset.rs:12-22). */
  def fromShingles(shingles: Iterator[String], salt: Option[String] = None): ShingleSet = {
    val st = FxHash.saltState(salt)
    val hs = Array.newBuilder[Int]
    shingles.foreach { s =>
      val cps = codePoints(s)
      hs += FxHash.hashCodePointsSalted(st, cps, cps.length)
    }
    fromHashes(hs.result())
  }

  /** The sorted array of [[fromTextUtf8]]'s set, the form `lsh_jaccard`'s
    * memo, `shingle_hashes` and the fused self-join hold. */
  def sortedShinglesUtf8(bytes: Array[Byte], offset: Int, len: Int, ngramWidth: Int): Array[Int] =
    fromTextUtf8(bytes, offset, len, ngramWidth).sorted

  /** Exact Jaccard |A∩B|/|A∪B| over two sorted shingle arrays (merge-count);
    * either side empty → 0.0 (shingleset.rs:49-57). */
  def jaccardSorted(a: Array[Int], b: Array[Int]): Double = {
    if (a.length == 0 || b.length == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) { // branch-free: which side advances is unpredictable
      val x = a(i)
      val y = b(j)
      inter += (if (x == y) 1 else 0)
      i += (if (x <= y) 1 else 0)
      j += (if (y <= x) 1 else 0)
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }

  /** Fused text-to-text Jaccard (lsh_jaccard semantics, minhash.rs:236-296). */
  def jaccardText(a: String, b: String, ngramWidth: Int): Double =
    jaccardSorted(fromText(a, ngramWidth).sorted, fromText(b, ngramWidth).sorted)
}
