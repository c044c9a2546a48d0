package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Production hash family for the dedup pipeline: one pass over the text
  * per row computes every shingle hash, the full k-permutation MinHash
  * signature and the SimHash — plain JVM arithmetic (splitmix64 mixing),
  * ~1000x the throughput of the interpreted higher-order md5 construction
  * used by the portable/oracle queries (same pipeline shape, different
  * hash family; LSH recall math is hash-family-agnostic).
  *
  * Everything is deterministic: seeds derive from the permutation index,
  * so the "shingle/signature config" (n, k, seed) pins results across
  * runs and cluster sizes.
  */
object FastHash {

  /** splitmix64 finalizer — the standard 64-bit avalanche mix. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rolling hashes of all n-shingles of `s` (over chars). Returns at
    * least one hash (hash of the whole string when |s| < n), mirroring
    * the padded semantics of [[TextFns.charShingles]].
    */
  def shingleHashes(s: String, n: Int): Array[Long] = {
    val len = s.length
    if (len <= n) return Array(mix64(polyHash(s, 0, len)))
    val out = new Array[Long](len - n + 1)
    var i = 0
    while (i + n <= len) {
      out(i) = mix64(polyHash(s, i, n))
      i += 1
    }
    out
  }

  @inline private def polyHash(s: String, from: Int, n: Int): Long = {
    var h = 1125899906842597L
    var j = from
    val end = from + n
    while (j < end) { h = h * 31L + s.charAt(j); j += 1 }
    h
  }

  /** MinHash signature: k permutations h_i(x) = mix64(x ^ seed_i), min
    * over the row's shingle hashes. One pass: O(k·|shingles|) long ops.
    */
  def minhash(hashes: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var p = 0
      while (p < k) {
        val v = mix64(h ^ (p * 0xc2b2ae3d27d4eb4fL))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** One-permutation MinHash (Li, Owen & Zhang, NIPS 2012) with rotation
    * densification (Shrivastava & Li, ICML 2014): the input hashes are
    * scattered into k bins by their top bits in ONE pass — O(|hashes|+k)
    * vs the k-permutation loop's O(k·|hashes|) — keeping the min per
    * bin; empty bins borrow cyclically from the next occupied bin at a
    * distance-salted offset. Same unbiased Jaccard collision statistics
    * and the same signature shape as [[minhash]], ~k/5 times cheaper for
    * typical shingle counts, so the sketch stage stops being
    * permutation-bound. Deterministic pure function of the hash SET
    * (order-independent: bin assignment and min are commutative).
    */
  def minhashOPH(hashes: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      // unbiased bin from the top 32 bits ((x*k)>>>32 maps uniformly)
      val bin = (((h >>> 32) * k) >>> 32).toInt
      val v = mix64(h ^ 0x6a09e667f3bcc909L) // decorrelate value from bin
      if (v < sig(bin)) sig(bin) = v
      i += 1
    }
    // rotation densification: empty bin j takes the next ORIGINALLY
    // occupied bin's value (cyclic scan over the pre-densification
    // state, so the result is order-independent), salted by the borrow
    // distance so bins borrowing from the same source at different
    // distances stay distinct
    val occupied = sig.clone()
    var j = 0
    while (j < k) {
      if (occupied(j) == Long.MaxValue) {
        var t = 1
        while (t < k && occupied((j + t) % k) == Long.MaxValue) t += 1
        if (t < k)
          sig(j) =
            mix64(occupied((j + t) % k) ^ (t.toLong * 0xff51afd7ed558ccdL))
      }
      j += 1
    }
    sig
  }

  /** SimHash-64 over shingle hashes (sign of per-bit votes), SWAR
    * formulation: 16 accumulator longs, each packing four 16-bit lane
    * counters for bit positions {j, j+16, j+32, j+48} — 16 shift+mask+add
    * ops per hash instead of a 64-iteration bit loop (~4x). Lanes are
    * drained every 65535 hashes so they can't overflow. Bit b of the
    * result is set iff ones(b) > n/2, exactly the sign of the ±1 vote
    * sum (votes = 2·ones − n), so the output is bit-identical to the
    * scalar vote loop (pinned by FastHashSpec).
    */
  def simhash(hashes: Array[Long]): Long = {
    val n = hashes.length
    val ones = new Array[Int](64)
    val acc = new Array[Long](16)
    var base = 0
    while (base < n) {
      val end = math.min(n, base + 65535)
      java.util.Arrays.fill(acc, 0L)
      var i = base
      while (i < end) {
        val h = hashes(i)
        var j = 0
        while (j < 16) {
          acc(j) += (h >>> j) & 0x0001000100010001L
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < 16) {
        val a = acc(j)
        ones(j) += (a & 0xffffL).toInt
        ones(j + 16) += ((a >>> 16) & 0xffffL).toInt
        ones(j + 32) += ((a >>> 32) & 0xffffL).toInt
        ones(j + 48) += ((a >>> 48) & 0xffffL).toInt
        j += 1
      }
      base = end
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (2 * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }

  /** Deterministic integer hyperplanes for sign-LSH: `n` planes of
    * `dims` weights in [-500, 500] from a fixed LCG of `seed`. Integer
    * planes over an integer-quantized vector make every sign decision
    * exact, so the same planes interpolated into SQL as literals give
    * the same bits on any engine.
    */
  def intPlanes(n: Int, dims: Int, seed: Long): Array[Array[Long]] = {
    var state = seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % 1001L - 500L
    }
    Array.fill(n)(Array.fill(dims)(next()))
  }

  /** Sign-LSH signatures of a quantized vector: one Long of
    * `bitsPerBand` bits per band, bit j of band b set iff
    * q . planes(b·bitsPerBand + j) > 0. Pure integer math.
    */
  def signBands(q: Array[Long], planes: Array[Array[Long]], bands: Int,
      bitsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val p = planes(b * bitsPerBand + j)
        var dot = 0L
        var i = 0
        while (i < q.length) { dot += q(i) * p(i); i += 1 }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    out
  }

  /** LSH band keys from a MinHash signature, numerically (band index
    * mixed with the band's rows — no string building): one Long per band.
    */
  def bandKeys(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong * 0x9e3779b97f4a7c15L)
      var r = 0
      while (r < rowsPerBand) { h = mix64(h ^ sig(b * rowsPerBand + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Hash of the sorted character bag of `s` — the anagram-equality
    * candidate key (two strings collide iff same multiset of chars).
    */
  def anagramKey(s: String): Long = {
    val cs = s.toCharArray
    java.util.Arrays.sort(cs)
    mix64(polyHash(new String(cs), 0, cs.length))
  }

  /** Column: the pipeline's full per-row sketch in ONE text pass:
    * struct<sim, bands, anakey>. Computing the 42 band keys
    * numerically here instead of as per-band Catalyst string expressions
    * removes ~42 string concat+hash ops per row from the explode stage.
    * Band keys derive from a [[minhashOPH]] signature (one-permutation +
    * densification): same LSH statistics as the k-permutation loop at
    * ~1/k the hash work — the production sketch stage was
    * permutation-bound (round-4 phase profile: 137 s of the 404 s 1-core
    * wall). The raw 128-long signature itself stays INSIDE the UDF: no
    * downstream stage consumes it, and returning it serialized ~1 KB per
    * distinct norm into the sketch checkpoint for nothing.
    */
  def sketchFull(c: Column, n: Int, k: Int, bands: Int,
      rowsPerBand: Int): Column = {
    val f = udf { (s: String) =>
      Option(s).map { x =>
        val hs = shingleHashes(x, n)
        val sig = minhashOPH(hs, k)
        (simhash(hs), bandKeys(sig, bands, rowsPerBand), anagramKey(x))
      }
    }
    f(c)
  }

  /** Column: minimum shingle hash — the containment-pass anchor key (if
    * A ⊆ B, A's min shingle hash is one of B's shingle hashes).
    */
  def minShingleHash(c: Column, n: Int): Column = {
    val f = udf { (s: String) => Option(s).map(x => shingleHashes(x, n).min) }
    f(c)
  }

  /** Column: distinct shingle hashes (array<long>) — the containment-pass
    * host index; fanout bounded by the string length.
    */
  def shingleHashSet(c: Column, n: Int): Column = {
    val f = udf { (s: String) =>
      Option(s).map(x => shingleHashes(x, n).distinct)
    }
    f(c)
  }
}
