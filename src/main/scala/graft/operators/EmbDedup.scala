package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.Checkpoints
import graft.spark.Checkpoints.{countedOrZero, observeCount}

/** Configuration of the embedding near-duplicate pipeline (the embedding
  * twin of [[DedupConfig]] — same role as the text pipeline's
  * shingle/signature config, same hot-bucket discipline).
  *
  * Scale-aware sizing (the constants must grow with N — a fixed narrow
  * key space self-joined is the textbook quadratic scale-killer):
  *  - `bitsPerBand` ~ log2(N / targetBucketRows): each band partitions
  *    the corpus into ~2^bits buckets; 16 bits is right for ~10^6 rows
  *    at ~16 rows/bucket, 10^9 rows want ~24 bits. Use
  *    [[EmbDedupConfig.forScale]] rather than guessing.
  *  - `bands` buys recall: a pair at cosine c shares one band w.p.
  *    (1 - acos(c)/pi)^bits; bands are independent draws. At cos 0.95
  *    and 16-bit bands that is ~0.18/band — 8 bands give ~0.80 recall,
  *    16 give ~0.96. The bucket cap bounds the worst case regardless.
  *
  * @param dims         embedding dimensionality
  * @param bands        number of LSH bands (independent recall draws)
  * @param bitsPerBand  sign bits (hyperplanes) per band — the bucket key
  *                     entropy; see scale note above
  * @param seed         LCG seed for the deterministic integer hyperplanes
  * @param bucketCap    hot-bucket cap: band buckets larger than this are
  *                     dropped from pairing (counted in metrics — the
  *                     same documented recall accounting as the text
  *                     pipeline's bucketCap)
  * @param cosThreshold verification: minimum exact cosine for an edge
  * @param quantScale   fixed-point scale for the integer plane dots
  *                     (round(x*quantScale)): keeps bucket membership
  *                     exact integer math — reproducible across engines,
  *                     partitionings and hardware, no FP sign flips
  */
final case class EmbDedupConfig(
    dims: Int = 64,
    bands: Int = 8,
    bitsPerBand: Int = 16,
    seed: Long = 0x5DEECE66DL,
    bucketCap: Int = 64,
    cosThreshold: Double = 0.9,
    quantScale: Int = 1000
) {
  require(bitsPerBand >= 1 && bitsPerBand <= 63, "bitsPerBand in [1,63]")
}

object EmbDedupConfig {

  /** Derive the band width from the expected corpus size: bits ~
    * log2(N / targetBucketRows), clamped to [8, 24]. The cap still
    * bounds the worst bucket; this keeps the TYPICAL bucket small so
    * the cap rarely bites (dropped buckets are lost recall).
    */
  def forScale(expectedRows: Long, targetBucketRows: Int = 16,
      dims: Int = 64, bands: Int = 8): EmbDedupConfig = {
    val bits = math.min(24, math.max(8,
      math.ceil(math.log(math.max(1L, expectedRows / targetBucketRows)
        .toDouble) / math.log(2.0)).toInt))
    EmbDedupConfig(dims = dims, bands = bands, bitsPerBand = bits)
  }
}

/** Per-stage counters (same accounting as [[DedupMetrics]]). */
final case class EmbDedupMetrics(
    nRows: Long,
    nCandidatePairs: Long,
    nDroppedBuckets: Long,
    nVerifiedEdges: Long,
    nClusters: Long
)

/** Production embedding near-duplicate detection: banded sign-LSH
  * candidate generation with capped buckets, exact-cosine verification
  * on candidate pairs only, connected-components clustering.
  *
  * Stage layout and shuffle budget (at N input rows):
  *   1. quantize + band signatures: narrow map (one kernel call per
  *      row), materialized once with the vectors (lineage cut) so the
  *      candidate and verify stages never re-run the kernel
  *   2. candidates: 1 shuffle (count-agg on the band key) + broadcast
  *      hot-key filter + capped in-row pair expansion — never a
  *      self-join on the key column, never a collect_list over the full
  *      key volume (singleton keys die in the codegen'd count agg)
  *   3. verify: 1 shuffle (join pair ids back to vectors, SHUFFLE_HASH),
  *      exact cosine, threshold — runs on candidate pairs only
  *   4. connected components over verified edges
  *
  * Bucket membership is decided by INTEGER math end-to-end: vectors are
  * fixed-point quantized (round(x*quantScale)) and the hyperplanes are
  * integer-valued, so the sign of a plane dot is exact — the same pair
  * lands in the same bucket on any engine, partitioning or hardware.
  * The LSH candidate contract plays the same pruning role as the
  * reference's anagram-index candidate generation
  * (/root/reference/src/lib.rs:1143-1308): cheap keys bound the set of
  * pairs the expensive exact verify ever sees.
  */
object EmbDedup {

  /** Deterministic integer hyperplanes: `bands*bitsPerBand` planes of
    * `dims` weights in [-500, 500], from a fixed LCG of the config seed.
    */
  def planes(cfg: EmbDedupConfig): Array[Array[Long]] = {
    var state = cfg.seed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % 1001L - 500L
    }
    Array.fill(cfg.bands * cfg.bitsPerBand)(Array.fill(cfg.dims)(next()))
  }

  /** Fixed-point quantization of a float/double embedding column to the
    * integer grid the plane dots run on. round() half-away-from-zero —
    * the portable rounding DuckDB/ANSI also use.
    */
  def quantize(emb: Column, cfg: EmbDedupConfig): Column =
    transform(emb, x => round(x.cast("double") * cfg.quantScale).cast("long"))

  /** JVM kernel: per-band sign signatures of a quantized vector — one
    * Long of `bitsPerBand` sign bits per band, bit j = (q . plane_j) > 0.
    * Pure integer math: bit-identical to the SQL/HOF formulation of the
    * same dots (the oracle-facing query states exactly that form).
    */
  def bandBitsUdf(cfg: EmbDedupConfig)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val ps = planes(cfg)
    val bands = cfg.bands
    val bits = cfg.bitsPerBand
    val dims = cfg.dims
    udf { (q: Seq[Long]) =>
      val qa = q.toArray
      // a dims mismatch means the config doesn't match the data — a
      // silently truncated dot product would produce WRONG signatures
      // (bucket misses = quietly lost recall), so fail loudly; null
      // embeddings are filtered upstream in signed
      require(qa.length == dims,
        s"embedding length ${qa.length} != configured dims $dims")
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var sig = 0L
        var j = 0
        while (j < bits) {
          val p = ps(b * bits + j)
          var dot = 0L
          var i = 0
          while (i < dims) { dot += qa(i) * p(i); i += 1 }
          if (dot > 0) sig |= (1L << j)
          j += 1
        }
        out(b) = sig
        b += 1
      }
      out
    }
  }

  /** Signed rows (id, emb: array<double>, sig: per-band signatures) of
    * the non-null embeddings: the one pass of the signature kernel.
    */
  def signed(df: DataFrame, idCol: String, embCol: String,
      cfg: EmbDedupConfig): DataFrame =
    // null embeddings can't be signed — they drop out of candidate
    // generation (an unembedded row has no near-dup evidence to offer);
    // a wrong-LENGTH embedding still fails loudly inside the kernel
    df.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"),
        transform(col(embCol), _.cast("double")).as("emb"),
        bandBitsUdf(cfg)(quantize(col(embCol), cfg)).as("sig"))

  /** (id, k) band-key rows of [[signed]] rows: one row per (vector,
    * band), k a mixed 64-bit key (band index salted in, so equal
    * signatures in different bands never collide into one bucket).
    */
  def bandKeys(signedRows: DataFrame): DataFrame =
    signedRows.select(col("id"),
        posexplode(col("sig")).as(Seq("band", "bits")))
      .select(col("id"), xxhash64(col("band"), col("bits")).as("k"))

  /** Upper bound on vector rows per verify-join hash build (~150-200 MB
    * of (id, array<double> dims) rows at dims=64): a ShuffledHashJoin
    * build is non-spillable, so this — not the core count — must size
    * the verify partitioning ([[CappedPairs.verifyParts]]).
    * Memory-derived; NOT a parallelism tunable.
    */
  val verifyBuildRows: Long = 250000L

  /** Verified near-dup pairs: banded candidates -> exact cosine >=
    * threshold. Returns the lineage-cut pairs(a, b, cos), which the
    * caller releases once consumed, and the metrics, each observed on
    * the pass's own jobs; `nClusters` is left -1 ([[run]] clusters).
    */
  def nearDupPairs(spark: SparkSession, df: DataFrame, idCol: String,
      embCol: String, cfg: EmbDedupConfig = EmbDedupConfig())
      : (Checkpoints.Cut, EmbDedupMetrics) = {
    val rowsObs = Observation()
    // one signature pass per row, read by the bucket count agg, the
    // bucket pass and both verify joins; nRows counts every input row,
    // null embeddings included (observed below their filter)
    val signedCut = Checkpoints.cut(signed(observeCount(
      df.select(col(idCol), col(embCol)), Some(rowsObs)), idCol, embCol, cfg))
    val nRows = countedOrZero(rowsObs)
    val vecs = signedCut.df
    val (vCut, nCand, nDropped, nVerified) = CappedPairs.verified(spark,
      bandKeys(vecs), vecs.select(col("id"), col("emb").as("p")), nRows,
      verifyBuildRows, cfg.bucketCap, "cos",
      graft.functions.TextFns.cosineSim, _ >= cfg.cosThreshold)
    signedCut.release()
    (vCut, EmbDedupMetrics(nRows, nCand, nDropped, nVerified, -1L))
  }

  /** Full clustering: verified near-dup edges -> connected components.
    * Returns (assignments(id, cluster), metrics); cluster = min id of
    * the component, isolated vectors map to themselves. Ids must be
    * unique: `nClusters` counts the assignment rows whose cluster is
    * their own id, so a duplicated id would count once per copy.
    *
    * Every metric is observed on the pass's own jobs; `collectMetrics`
    * is accepted and ignored, kept only because [[graft.Bench]] passes
    * it by name.
    */
  def run(spark: SparkSession, df: DataFrame, idCol: String,
      embCol: String, cfg: EmbDedupConfig = EmbDedupConfig(),
      collectMetrics: Boolean = true): (DataFrame, EmbDedupMetrics) = {
    val (vCut, m) = nearDupPairs(spark, df, idCol, embCol, cfg)
    val (assignments, nClusters) = ConnectedComponents.assignClusters(
      spark, df.select(col(idCol).as("id")), vCut, "a", "b")
    (assignments, m.copy(nClusters = nClusters))
  }
}
