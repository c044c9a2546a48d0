package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *   1. quantize + band keys: narrow map (one kernel call per row)
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
      // embeddings are filtered upstream in bandKeys
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

  /** (id, k) band-key rows: one row per (vector, band), k a mixed
    * 64-bit key (band index salted in, so equal signatures in different
    * bands never collide into one bucket).
    */
  def bandKeys(df: DataFrame, idCol: String, embCol: String,
      cfg: EmbDedupConfig): DataFrame = {
    val bb = bandBitsUdf(cfg)
    // null embeddings can't be signed — they drop out of candidate
    // generation (an unembedded row has no near-dup evidence to offer);
    // a wrong-LENGTH embedding still fails loudly inside the kernel
    df.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(bb(quantize(col(embCol), cfg))).as(Seq("band", "bits")))
      .select(col("id"), xxhash64(col("band"), col("bits")).as("k"))
  }

  /** Upper bound on vector rows per verify-join hash build (~150-200 MB
    * of (id, array<double> dims) rows at dims=64): a ShuffledHashJoin
    * build is non-spillable, so this — not the core count — must size
    * the verify partitioning (same discipline as
    * [[DedupPipeline.verifyBuildRows]]). Memory-derived; NOT a
    * parallelism tunable.
    */
  val verifyBuildRows: Long = 250000L

  /** Bucket -> pair expansion — the shared capped shape
    * ([[CappedPairs.fromKeys]]; the text pipeline's variant adds an
    * edit-distance length prefilter, which embeddings don't have).
    */
  def pairsFromKeys(keyed: DataFrame, cfg: EmbDedupConfig,
      numParts: Option[Int] = None): DataFrame =
    CappedPairs.fromKeys(keyed, cfg.bucketCap, numParts)

  /** Verified near-dup pairs: banded candidates -> exact cosine >=
    * threshold. Returns (pairs(a, b, cos), metrics).
    *
    * With collectMetrics=true the metric counts are extra actions, so
    * the intermediate frames (band keys, candidate pairs, the verified
    * result) are persisted around them — without that, each count
    * recomputed the signature UDF over all rows and the candidate DAG
    * 4-5x, a hidden multiplier at 10^9-row scale. keyed/cand are
    * unpersisted here; the RETURNED verified frame stays persisted so
    * the caller's first action reuses it instead of re-verifying —
    * [[run]] releases it once the clustering is materialized, other
    * callers own that unpersist. collectMetrics=false (the oracle/bench
    * path) persists nothing and runs exactly one job.
    */
  def nearDupPairs(spark: SparkSession, df: DataFrame, idCol: String,
      embCol: String, cfg: EmbDedupConfig = EmbDedupConfig(),
      collectMetrics: Boolean = true): (DataFrame, EmbDedupMetrics) = {
    def metric(f: => Long): Long = if (collectMetrics) f else -1L
    val rows = df.select(col(idCol).as("id"),
      transform(col(embCol), _.cast("double")).as("emb"))
    val nRows = metric(rows.count())
    // memory-derived verify partitioning (see [[verifyBuildRows]] and
    // DedupPipeline.run): each verify-join task must hold at most
    // ~verifyBuildRows vector rows in its non-spillable hash build;
    // rounded UP to a multiple of defaultParallelism for even waves.
    // Derivable only when the row count was taken (the metrics path —
    // checkpointed production runs); the metric-free oracle/bench path
    // keeps the session partitioning rather than pay a counting job.
    val vParts: Option[Int] = if (collectMetrics) {
      val dp = spark.sparkContext.defaultParallelism
      Some((dp * math.max(1L,
        (nRows + verifyBuildRows * dp - 1) / (verifyBuildRows * dp))).toInt)
    } else None
    val keyed0 = bandKeys(df, idCol, embCol, cfg)
    val keyed = if (collectMetrics) keyed0.persist() else keyed0
    val nDropped = metric(keyed.groupBy("k").agg(count(lit(1)).as("n"))
      .filter(col("n") > cfg.bucketCap).count())
    val cand0 = pairsFromKeys(keyed, cfg, vParts)
    val cand = if (collectMetrics) cand0.persist() else cand0
    val nCand = metric(cand.count())
    // vectors arrive by shuffle-hash join: no sort of the candidate
    // stream, no driver-side broadcast build of an N-row vector table.
    // Join 1 builds the CAPPED PAIR side (16-byte rows) and streams the
    // vectors; only join 2 builds a vector relation, on the derived
    // partitioning — the same build-side discipline as
    // DedupPipeline.verifyPairs (a vector build on BOTH joins is the
    // non-spillable low-parallelism exposure change 16 fixed for text).
    // Inner equi-joins: the build side is a physical choice only.
    val embs = rows
    val j1 = cand.hint("SHUFFLE_HASH")
      .join(embs.select(col("id").as("a"), col("emb").as("aemb")), Seq("a"))
    val j1p = vParts.fold(j1)(p => j1.repartition(p, col("b")))
    val verified0 = j1p
      .join(embs.select(col("id").as("b"), col("emb").as("bemb"))
        .hint("SHUFFLE_HASH"), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.TextFns.cosineSim(col("aemb"), col("bemb")).as("cos"))
      .filter(col("cos") >= cfg.cosThreshold)
    val verified = if (collectMetrics) verified0.persist() else verified0
    val nVerified = metric(verified.count())
    if (collectMetrics) { keyed.unpersist(); cand.unpersist() }
    (verified,
      EmbDedupMetrics(nRows, nCand, nDropped, nVerified, -1L))
  }

  /** Full clustering: verified near-dup edges -> connected components.
    * Returns (assignments(id, cluster), metrics); cluster = min id of
    * the component, isolated vectors map to themselves.
    */
  def run(spark: SparkSession, df: DataFrame, idCol: String,
      embCol: String, cfg: EmbDedupConfig = EmbDedupConfig(),
      collectMetrics: Boolean = true): (DataFrame, EmbDedupMetrics) = {
    val (pairs, m) =
      nearDupPairs(spark, df, idCol, embCol, cfg, collectMetrics)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
    // metrics path: `pairs` is persisted + counted above (materialized);
    // the metric-free path hands a raw plan — let CC cut it once instead
    // of re-running the signature+verify DAG for the election count
    val cc = ConnectedComponents.runCut(spark, edges, withAllNodes = false,
      edgesMaterialized = collectMetrics)
    val assignments = graft.spark.Checkpoints.cut(
      df.select(col(idCol).as("id")) // SHUFFLE_HASH: sort-free (see DedupPipeline)
        .join(cc.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("cluster"))).df
    cc.release()
    // the clustering is materialized (eager cut) — release the verified
    // cache nearDupPairs left for us on the metrics path
    if (collectMetrics) pairs.unpersist()
    val nClusters =
      if (collectMetrics) assignments.select("cluster").distinct().count()
      else -1L
    (assignments, m.copy(nClusters = nClusters))
  }
}
