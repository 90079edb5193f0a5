package graft.analytics

import scala.util.hashing.MurmurHash3

/** Deterministic text/vector sketches for dedup + ANN at scale:
  * MinHash (banded LSH), SimHash, and sign-random-projection signatures.
  *
  * All hashing is seed-pinned MurmurHash3 over content — stable across
  * JVMs and executors, no RNG state — so sketch-based queries are exactly
  * reproducible (required for the driver's rows/hash checks and for
  * re-running incremental dedup over new partitions at 100 TB).
  *
  * Scale design: every consumer joins on (band, bucket) equality — an
  * equi-join Catalyst hash-partitions — never on an all-pairs cross join
  * (VERDICT.md round-1 mandate; SURVEY.md §4 "Delegated ANN index" row).
  */
object Sketches {

  private val P = 2147483647L // 2^31 − 1

  /** Distinct token n-gram shingles (the unit of Jaccard similarity). */
  def shingles(text: String, n: Int = 3): Array[String] = {
    val toks = if (text == null) Array.empty[String] else text.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) Array.empty
    else if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  def jaccard(a: String, b: String, n: Int = 3): Double = {
    val sa = shingles(a, n).toSet
    val sb = shingles(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      val union = sa.size + sb.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
  }

  // universal-hash coefficients depend only on the permutation index —
  // memoized so per-row UDF calls don't recompute numPerm string hashes
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coeffs(numPerm: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numPerm, n => (
      Array.tabulate(n)(i => ((MurmurHash3.stringHash("a" + i, 7) & 0x7fffffff) | 1).toLong),
      Array.tabulate(n)(i => (MurmurHash3.stringHash("b" + i, 11) & 0x7fffffff).toLong)))

  /** MinHash signature: numPerm universal-hash permutations
    * h_i(x) = (a_i·x + b_i) mod p over shingle Murmur hashes. */
  def minhash(text: String, numPerm: Int): Array[Long] =
    minhashOf(shingles(text), numPerm)

  /** Signature from an ALREADY-COMPUTED shingle set — consumers that carry
    * a shingle column (e.g. for exact-Jaccard verify) hash it once instead
    * of re-shingling the text. Empty shingles ("" entries) are ignored so
    * the result is byte-identical to `minhash(text, _)`. */
  def minhashOf(shinglesIn: Seq[String], numPerm: Int): Array[Long] = {
    val sh = shinglesIn.filter(_.nonEmpty)
    val (as, bs) = coeffs(numPerm)
    val sig = Array.fill(numPerm)(Long.MaxValue)
    val it = sh.iterator
    while (it.hasNext) {
      val h = (MurmurHash3.stringHash(it.next(), 5) & 0x7fffffffL)
      var i = 0
      while (i < numPerm) {
        val v = (as(i) * h + bs(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    if (sh.isEmpty) Array.fill(numPerm)(0L) else sig
  }

  /** LSH band keys: mix `rowsPerBand` consecutive signature slots into one
    * bucket hash per band. Docs sharing ANY band bucket become candidate
    * pairs (prob ≈ 1 − (1 − j^r)^b for Jaccard j). */
  def minhashBands(text: String, bands: Int = 16, rowsPerBand: Int = 4): Array[Long] =
    minhashBandsOf(shingles(text), bands, rowsPerBand)

  /** Band keys from an already-computed shingle set (see [[minhashOf]]). */
  def minhashBandsOf(sh: Seq[String], bands: Int = 16, rowsPerBand: Int = 4): Array[Long] = {
    val sig = minhashOf(sh, bands * rowsPerBand)
    Array.tabulate(bands) { b =>
      var acc = 1125899906842597L
      var r = 0
      while (r < rowsPerBand) { acc = acc * 31 + sig(b * rowsPerBand + r); r += 1 }
      acc
    }
  }

  /** 64-bit SimHash over tokens (two seeded 32-bit Murmur halves).
    * Counter update iterates only the SET bits of each token hash
    * (`h &= h−1` popcount walk, +2 per set bit): with sign-sum
    * 2·set(b) − n > 0 ⟺ acc(b) > n, this halves the inner-loop work vs
    * the branchy all-64-bits form while producing identical fingerprints
    * (golden values pinned in SketchesSpec). */
  def simhash64(text: String): Long = {
    val toks = if (text == null) Array.empty[String] else text.split(" ").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    var n = 0
    for (t <- toks) {
      val h1 = MurmurHash3.stringHash(t, 17)
      val h2 = MurmurHash3.stringHash(t, 23)
      var h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      while (h != 0L) {
        acc(java.lang.Long.numberOfTrailingZeros(h)) += 2
        h &= h - 1
      }
      n += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > n) out |= (1L << bit); bit += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Difference-hash perceptual fingerprint over a sample stream (the
    * image-dedup classic: dHash): the stream is split into 64 equal-width
    * buckets (boundaries ⌊b·n/64⌋ — floor arithmetic so any engine
    * reproduces them exactly), and bit j (0..62) is set when bucket j+1's
    * MEAN exceeds bucket j's. The comparison is the integer cross-multiply
    * `sum[j+1]·cnt[j] > sum[j]·cnt[j+1]` — no division, no floats — so
    * the fingerprint is bit-exact across engines (the DuckDB oracle
    * recomputes it from ord() codes). 63 bits keeps the value positive in
    * signed-64 engines. Requires n ≥ 64 so every bucket is non-empty. */
  def dhash63(samples: Array[Int]): Long = {
    val n = samples.length
    require(n >= 64, s"dhash63 needs >= 64 samples, got $n")
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var b = 0
    while (b < 64) {
      // Long arithmetic: b * n wraps Int past ~34M samples (a 40 MP image)
      val lo = (b.toLong * n / 64).toInt
      val hi = ((b + 1).toLong * n / 64).toInt
      var s = 0L
      var i = lo
      while (i < hi) { s += samples(i); i += 1 }
      sums(b) = s
      cnts(b) = hi - lo
      b += 1
    }
    var out = 0L
    var j = 0
    while (j < 63) {
      if (sums(j + 1) * cnts(j) > sums(j) * cnts(j + 1)) out |= (1L << j)
      j += 1
    }
    out
  }

  /** SimHash band keys (4 × 16-bit bands) from an already-computed
    * fingerprint: near-identical docs (hamming ≤ a few bits) collide on
    * at least one band with high probability. */
  def simhashBandsOf(h: Long): Array[Long] =
    Array.tabulate(4)(b => ((b.toLong << 32) | ((h >>> (16 * b)) & 0xffffL)))

  /** Sign-random-projection signature (`bits` hyperplanes with ±1 entries
    * derived from Murmur of (plane, dim)); cosine-similar vectors agree on
    * most bits. */
  // hyperplane signs depend only on (plane, dim) — memoized per (bits, dim)
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private def planes(bits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, dim), { case (b, n) =>
      Array.tabulate(b)(j => Array.tabulate(n)(d =>
        if (MurmurHash3.stringHash(j + ":" + d, 13) >= 0) 1.0 else -1.0))
    })

  def srpSignature(vec: Array[Double], bits: Int = 8): Int = {
    val r = planes(bits, vec.length)
    var sig = 0
    var j = 0
    while (j < bits) {
      var acc = 0.0
      var d = 0
      while (d < vec.length) { acc += r(j)(d) * vec(d); d += 1 }
      if (acc >= 0) sig |= (1 << j)
      j += 1
    }
    sig
  }

  /** Two 4-bit bands of the 8-bit SRP signature — identical vectors always
    * share both bands (self-match guaranteed); near vectors usually one. */
  def srpBands(vec: Array[Double]): Array[Long] = {
    val s = srpSignature(vec, 8)
    Array((0L << 32) | (s & 0xf).toLong, (1L << 32) | ((s >> 4) & 0xf).toLong)
  }
}
