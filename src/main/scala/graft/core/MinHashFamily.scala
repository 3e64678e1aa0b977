package graft.core

import java.util.concurrent.ConcurrentHashMap

/** The seeded MinHash family for `lsh_min`/`lsh_min32`.
  *
  * Semantics (bit-exact to /root/reference/src/minhash.rs:72-75 +
  * minhash/minhasher.rs): the reference re-creates
  * `StdRng::seed_from_u64(seed)` for EVERY row and, per band, draws
  * `bandSize` seeds ~ Uniform[0, 20_000_000) u64 — so every row sees the same
  * hash family (SURVEY.md §2.2.3). We exploit that purity and derive the
  * seeds ONCE per (bandCount, bandSize, seed), cached process-wide
  * (SURVEY.md §4.4) — identical output, O(rows·RNG) less work.
  *
  * Per band: band value = FxHash64 over the `bandSize` per-seed minima, where
  * each minimum is min over shingles of FxHash64(seed:u64, shingle:u32);
  * empty shingle set leaves every minimum at u64::MAX (minhasher.rs:22-45).
  */
final class MinHashFamily(val bandCount: Int, val bandSize: Int, val seed: Long)
    extends Serializable {
  /** Flat [bandCount * bandSize] seed array, band-major — band i uses draws
    * [i*bandSize, (i+1)*bandSize) of the stream (minhash.rs:73-75). */
  val seeds: Array[Long] = {
    val rng = new StdRng(seed)
    val out = new Array[Long](bandCount * bandSize)
    var i = 0
    while (i < out.length) {
      out(i) = rng.uniformU64(20000000L)
      i += 1
    }
    out
  }

  /** rotl(FxHash(seed), 5) per seed, so FxHash(seed, x) = (r ^ x) * K. */
  private val rotated: Array[Long] = seeds.map(s => java.lang.Long.rotateLeft(FxHash.hash1(s), 5))

  /** Band hashes (u64 bit patterns) for one shingle set. Each pass over
    * the shingles keeps three of a band's per-seed minima in registers, so a
    * band of up to three seeds is one pass (a narrower band repeats its last
    * seed and folds only its own minima). Minima are kept sign-flipped: a
    * signed compare orders them as u64. */
  def hash(set: ShingleSet): Array[Long] = {
    val shingles = set.sorted
    val out = new Array[Long](bandCount)
    var b = 0
    while (b < bandCount) {
      val last = (b + 1) * bandSize - 1
      var h = 0L // band accumulator: FxHash over the minima, no length prefix
      var j = b * bandSize
      while (j <= last) {
        val r0 = rotated(j)
        val r1 = rotated(math.min(j + 1, last))
        val r2 = rotated(math.min(j + 2, last))
        var m0 = Long.MaxValue // u64::MAX, sign-flipped
        var m1 = Long.MaxValue
        var m2 = Long.MaxValue
        var k = 0
        while (k < shingles.length) {
          val x = (shingles(k) ^ Int.MinValue).toLong & 0xffffffffL
          val v0 = ((r0 ^ x) * FxHash.K) ^ Long.MinValue
          val v1 = ((r1 ^ x) * FxHash.K) ^ Long.MinValue
          val v2 = ((r2 ^ x) * FxHash.K) ^ Long.MinValue
          if (v0 < m0) m0 = v0
          if (v1 < m1) m1 = v1
          if (v2 < m2) m2 = v2
          k += 1
        }
        h = FxHash.add(h, m0 ^ Long.MinValue)
        if (j + 1 <= last) h = FxHash.add(h, m1 ^ Long.MinValue)
        if (j + 2 <= last) h = FxHash.add(h, m2 ^ Long.MinValue)
        j += 3
      }
      out(b) = h
      b += 1
    }
    out
  }
}

object MinHashFamily {
  private val cache = new ConcurrentHashMap[(Int, Int, Long), MinHashFamily]()

  def apply(bandCount: Int, bandSize: Int, seed: Long): MinHashFamily =
    cache.computeIfAbsent((bandCount, bandSize, seed),
      k => new MinHashFamily(k._1, k._2, k._3))
}
