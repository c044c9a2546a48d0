package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ColumnFactory.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pure-builtin (whole-stage-codegen'd) column functions for the dedup /
  * text-analysis pipeline. No UDFs here: everything composes
  * `org.apache.spark.sql.functions` higher-order and string expressions,
  * so Catalyst folds constants, pushes filters, prunes columns and keeps
  * the hot path inside WholeStageCodegen.
  *
  * Two hash families are provided for MinHash:
  *  - md5-based ("portable"): bit-identical SQL exists for DuckDB/any
  *    ANSI engine — used by the correctness oracle;
  *  - xxhash64-based ("fast"): Spark-native codegen'd hashing — used by
  *    the production/bench path. Same pipeline shape, same recall math.
  */
object TextFns {

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Keep only [a-z] after lowercasing — the canonical text key the
    * oracle-checked dedup queries operate on (the real pipeline uses the
    * alphabet-normalized form from [[Kernels.normStr]], which is
    * equivalent on [a-z ] text).
    */
  def cleanText(c: Column): Column =
    regexp_replace(lower(c), "[^a-z]", "")

  /** All character n-grams of `c` (assumed non-empty after cleaning);
    * strings shorter than n yield the string itself (padded semantics:
    * one shingle).
    */
  def charShingles(c: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => c.substr(i, lit(n))
    )

  /** Portable 60-bit hash of a string: first 15 hex digits of md5, as a
    * non-negative long. Exists verbatim in DuckDB:
    * ('0x' || substr(md5(x),1,15))::BIGINT.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Portable seeded hash family: h_i(s) = md5Hash60(i || ':' || s). */
  def md5Hash60Seeded(seed: Int, c: Column): Column =
    md5Hash60(concat_ws(":", lit(seed), c))

  /** Portable MinHash signature (array of k minima over the shingle set).
    * O(k·|shingles|) md5 calls — the correctness-gate variant.
    */
  def minhashPortable(shingles: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingles, s => md5Hash60Seeded(i, s)))): _*)

  /** Fast MinHash signature: one xxhash64 pass per (seed, shingle);
    * xxhash64 is a native codegen'd Catalyst expression.
    */
  def minhashFast(shingles: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingles, s => xxhash64(lit(i), s)))): _*)

  /** Bit-identical JVM implementation of
    * `minhashPortable(charShingles(c, n), k)`: same md5("<seed>:<shingle>")
    * → first-15-hex-digits-as-long → per-seed min math, computed in one
    * MessageDigest pass per (seed, shingle) instead of an interpreted
    * conv(substring(md5(concat_ws(...)))) expression tree per call.
    * Spark's higher-order functions run interpreted (no codegen), which
    * made the HOF form 54% of round-1 bench wall time; this UDF produces
    * the exact same longs (oracle unchanged) at JVM hash speed.
    */
  def minhashPortableJvm(c: Column, n: Int, k: Int): Column = {
    val f = udf { (s: String) =>
      Option(s).map { x =>
        val md = TextFns.md5Local.get()
        val nSh = math.max(x.length - (n - 1), 1)
        val sig = Array.fill(k)(Long.MaxValue)
        var i = 0
        while (i < nSh) {
          val sh = x.substring(i, math.min(i + n, x.length))
          var seed = 0
          while (seed < k) {
            md.reset()
            val h = md.digest((seed.toString + ":" + sh)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 15 hex digits = top 60 bits of the first 8 bytes
            var v = 0L
            var b = 0
            while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
            v = v >>> 4
            if (v < sig(seed)) sig(seed) = v
            seed += 1
          }
          i += 1
        }
        sig
      }
    }
    f(c)
  }

  /** LSH band keys: split a k-long signature into `bands` rows of
    * `rowsPerBand`, hash each band slice; returns
    * array<struct<band:int, key:long>> ready to explode. Candidate pairs
    * = equal (band, key). Pairs joined on this key need no further
    * shuffle by construction.
    */
  private def bandSliceStr(sig: Column, b: Int, rowsPerBand: Int): Column =
    concat_ws("_",
      transform(slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string")))

  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(lit(b), bandSliceStr(sig, b, rowsPerBand)).as("key")
      )
    }: _*)

  /** Portable band key (md5-based) for oracle-checked LSH queries. */
  def lshBandsPortable(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5Hash60(concat_ws("_", lit(b), bandSliceStr(sig, b, rowsPerBand)))
          .as("key")
      )
    }: _*)

  /** SimHash from an array of (already-computed) 60-bit shingle hashes:
    * bit j of the result is the sign of Σ (bit j of hash ? 1 : -1).
    * Statically unrolled over bit positions so only builtin expressions
    * are used (shiftright needs a literal shift); `bits` ≤ 60 keeps it in
    * the md5Hash60 range. Pass nBits=16..32 for cheap near-exact dup keys.
    */
  def simhashFromHashes(hashes: Column, nBits: Int): Column =
    (0 until nBits).map { j =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Bit-identical JVM implementation of
    * `simhashFromHashes(transform(charShingles(c, n), md5Hash60), nBits)`:
    * unseeded md5-60-bit hash per shingle occurrence, then per-bit sign
    * votes over the low `nBits` bits. Same longs as the interpreted-HOF
    * form (oracle-portable: DuckDB computes the identical md5/shift/vote
    * math over lists), at JVM hash speed — one MessageDigest pass per
    * shingle instead of nBits interpreted aggregate() lambdas per row.
    */
  def simhashPortableJvm(c: Column, n: Int, nBits: Int): Column = {
    val f = udf { (s: String) =>
      Option(s).map { x =>
        val md = TextFns.md5Local.get()
        val nSh = math.max(x.length - (n - 1), 1)
        val votes = new Array[Int](nBits)
        var i = 0
        while (i < nSh) {
          val sh = x.substring(i, math.min(i + n, x.length))
          md.reset()
          val h = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 15 hex digits of md5 = top 60 bits of the first 8 bytes
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
          v = v >>> 4
          b = 0
          while (b < nBits) {
            if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
          i += 1
        }
        var out = 0L
        var b = 0
        while (b < nBits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }
    f(c)
  }

  /** Hamming distance between two packed-64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Whitespace token array / count. */
  def tokens(c: Column): Column = split(trim(c), " +")
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(tokens(c)))

  /** BPE-ish subword count: tokens split further at 4-char boundaries —
    * the deterministic stand-in for a real tokenizer's piece count.
    */
  def subwordCount(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast(LongType))

  /** English stopword-hit ratio over whitespace tokens — the language-ID
    * heuristic feature.
    */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that",
      "for", "on", "was", "with", "as", "at", "by", "be", "this")

  def stopwordRatio(c: Column): Column = {
    val hits = size(filter(tokens(c), t => t.isin(enStopwords: _*)))
    when(tokenCount(c) === 0, 0.0)
      .otherwise(hits.cast("double") / tokenCount(c).cast("double"))
  }

  /** Quality score in [0,1]: blends alpha ratio, mean token length
    * sweet-spot and stopword presence. Deterministic closed form — the
    * exact formula is the contract (oracle replicates it).
    */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast("double")
    val alphaRatio =
      when(len === 0, 0.0)
        .otherwise(length(regexp_replace(lower(c), "[^a-z]", "")).cast("double") / len)
    val meanTok =
      when(tokenCount(c) === 0, lit(0.0))
        .otherwise(length(regexp_replace(c, " ", "")).cast("double") /
          tokenCount(c).cast("double"))
    val tokScore = when(meanTok >= 3.0 && meanTok <= 8.0, 1.0)
      .when(meanTok > 8.0, lit(8.0) / meanTok)
      .otherwise(meanTok / 3.0)
    round((alphaRatio + tokScore + least(stopwordRatio(c) * 4.0, lit(1.0))) / 3.0, 6)
  }

  /** Polynomial rolling-hash fingerprint over the cleaned text,
    * mod 2^31-1 — portable to any engine with a fold.
    */
  def fingerprint(c: Column): Column =
    aggregate(
      transform(filter(split(cleanText(c), ""), ch => length(ch) > 0),
        ch => ascii(ch).cast(LongType)),
      lit(0L),
      (acc, x) => (acc * 31L + x) % 2147483647L
    )

  /** Cosine similarity of two `array<double>` columns as the native
    * codegen [[CosineSim]] expression, in any session.
    */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** |A ∩ B| of two SORTED, duplicate-free, null-free `array<int>`
    * columns as the native allocation-free merge scan
    * [[SortedIntersectCount]] (equal to `size(array_intersect(a, b))` on
    * such arrays), in any session.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
