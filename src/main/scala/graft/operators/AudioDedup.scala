package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.{Fingerprint, Wav}
import graft.functions.FastHash
import graft.spark.Checkpoints
import graft.spark.Checkpoints.{countedOrZero, observeCount}

/** Configuration of the acoustic near-duplicate pipeline — the AUDIO
  * twin of [[DedupConfig]] (transcripts) and [[EmbDedupConfig]]
  * (embeddings): same candidate/verify split, same hot-bucket
  * discipline, a fingerprint instead of a text/vector sketch.
  *
  * Fingerprint geometry (see [[graft.audio.Fingerprint]]): 33 log-spaced
  * bands over 300 Hz..min(6 kHz, 0.45·sr), ~64 ms frames at hop
  * frameLen/4 → one 32-bit word per ~16 ms of audio; a 30 s clip's
  * print is ~7.5 kB vs ~1 MB of 16 kHz PCM, so everything after the
  * single decode+FFT pass moves 2 orders of magnitude less data.
  *
  * Candidate generation unions TWO key families over the one sketch
  * pass (the same multi-path shape as the text pipeline's LSH + simhash
  * + anagram keys):
  *  - word-minhash: minhash over the clip's DISTINCT fingerprint words
  *    (a shift by whole hops permutes word ORDER but barely changes the
  *    word SET), LSH-banded — at word-set Jaccard 0.5 the default
  *    16 bands × 2 rows fire with p ≈ 0.99. Strong for audio with
  *    temporal structure, where the delta bits are signal-driven.
  *  - profile sign-LSH: integer sign-LSH (EmbDedup's construction) over
  *    the centered mean-log-band-energy profile. Time-averaging makes it
  *    shift-invariant and noise-robust, so it also covers STATIONARY
  *    audio, whose delta bits are noise-driven and word sets diverge
  *    under low-level perturbation.
  * Verification is exact: bit error rate between the two word sequences,
  * minimized over ±maxShiftFrames frame offsets. Haitsma & Kalker accept
  * below 0.35 (their threshold for 3 s granules — the default here);
  * unrelated audio sits at BER ≈ 0.5 with σ ~ 1/√(32·frames), many σ
  * from the threshold for clips over a second.
  *
  * @param frameMs        analysis frame length in ms (rounded up to a
  *                       power-of-two sample count per clip's rate)
  * @param hopDiv         hop = frameLen/hopDiv
  * @param nBands         band energies per frame (nBands−1 sign bits)
  * @param fMinHz         low edge of the banded spectrum
  * @param fMaxHz         high edge (clamped to 0.45·sr)
  * @param minhashK       minhash permutations over distinct words
  * @param bands          LSH bands over the word-minhash signature
  * @param rowsPerBand    signature rows per band
  * @param profileBands   sign-LSH bands over the spectral profile
  * @param profileBits    hyperplanes (sign bits) per profile band
  * @param quantScale     fixed-point scale for the profile quantization
  *                       (integer-exact bucket membership, the
  *                       [[EmbDedupConfig.quantScale]] discipline)
  * @param planeSeed      LCG seed of the deterministic integer planes
  * @param bucketCap      hot-bucket cap (dropped buckets are counted —
  *                       the same documented-lost-recall accounting as
  *                       the text/embedding pipelines)
  * @param maxBer         verification: max bit error rate for an edge
  * @param maxShiftFrames verification: frame-offset search radius
  */
final case class AudioDedupConfig(
    frameMs: Int = 64,
    hopDiv: Int = 4,
    nBands: Int = 33,
    fMinHz: Double = 300.0,
    fMaxHz: Double = 6000.0,
    minhashK: Int = 32,
    bands: Int = 16,
    rowsPerBand: Int = 2,
    profileBands: Int = 8,
    profileBits: Int = 12,
    quantScale: Int = 1000,
    planeSeed: Long = 0x417D10C41B5EEDL,
    bucketCap: Int = 64,
    maxBer: Double = 0.35,
    maxShiftFrames: Int = 8
) {
  require(bands * rowsPerBand <= minhashK,
    "bands * rowsPerBand must not exceed minhashK")
  require(profileBits >= 1 && profileBits <= 63, "profileBits in [1,63]")
}

/** Per-stage counters (same accounting as [[DedupMetrics]] /
  * [[EmbDedupMetrics]]). `nRows` counts the rows with non-null bytes.
  */
final case class AudioDedupMetrics(
    nRows: Long,
    nUndecodable: Long,
    nCandidatePairs: Long,
    nDroppedBuckets: Long,
    nVerifiedEdges: Long,
    nClusters: Long
)

/** Acoustic near-duplicate detection over the input_hint clip table:
  * finds clips whose AUDIO matches even when their transcripts differ
  * (re-transcribed, mis-transcribed or empty rows — the case the
  * transcript pipeline is structurally blind to), the complement of
  * [[DedupPipeline]]'s text path over the same (clip_id, bytes,
  * transcript) rows.
  *
  * Stage layout and shuffle budget (N input rows):
  *   1. fingerprint: narrow map — ONE decode+FFT pass per row produces
  *      both the word sequence (verification) and the LSH band keys
  *      (candidates); materialized once (lineage cut) so no later stage
  *      re-decodes audio.
  *   2. candidates: 1 shuffle (count-agg on the band key) + broadcast
  *      hot-key filter + capped in-row expansion ([[CappedPairs]]) —
  *      never a self-join on the key column.
  *   3. verify: 1 shuffle (SHUFFLE_HASH join of word sequences to pair
  *      ids), bounded BER kernel on candidate pairs only.
  *   4. connected components over verified edges (shared CC kernel).
  *
  * Undecodable or byte-less rows can't produce acoustic evidence: they
  * drop out of candidate generation (counted in metrics) and cluster as
  * singletons in [[run]].
  */
object AudioDedup {

  /** Upper bound on fingerprint rows per verify-join hash build
    * (~150-200 MB of (id, fp: array<int> of ~100-300 frame words)
    * rows): a ShuffledHashJoin build is non-spillable, so this — not
    * the core count — must size the verify partitioning
    * ([[CappedPairs.verifyParts]]). Memory-derived; NOT a parallelism
    * tunable.
    */
  val verifyBuildRows: Long = 125000L

  /** Deterministic integer hyperplanes for the profile sign-LSH —
    * `profileBands·profileBits` planes of `nBands` weights in
    * [-500, 500] from a fixed LCG (the [[EmbDedup.planes]]
    * construction, seeded independently).
    */
  def profilePlanes(cfg: AudioDedupConfig): Array[Array[Long]] = {
    var state = cfg.planeSeed
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % 1001L - 500L
    }
    Array.fill(cfg.profileBands * cfg.profileBits)(
      Array.fill(cfg.nBands)(next()))
  }

  /** Profile sign-LSH band keys: quantize the centered profile to the
    * integer grid (round(x·quantScale) — exact sign decisions on any
    * engine or partitioning), one key per band of `profileBits` plane
    * signs; keys are salted into a namespace distinct from the
    * word-minhash family's.
    */
  private def profileKeys(profile: Array[Double], planes: Array[Array[Long]],
      cfg: AudioDedupConfig): Array[Long] = {
    val q = new Array[Long](cfg.nBands)
    var i = 0
    while (i < cfg.nBands) {
      q(i) = math.round(profile(i) * cfg.quantScale)
      i += 1
    }
    val out = new Array[Long](cfg.profileBands)
    var b = 0
    while (b < cfg.profileBands) {
      var sig = 0L
      var j = 0
      while (j < cfg.profileBits) {
        val p = planes(b * cfg.profileBits + j)
        var dot = 0L
        var d = 0
        while (d < cfg.nBands) { dot += q(d) * p(d); d += 1 }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      out(b) = FastHash.mix64(FastHash.mix64(0x5052_4f46L + b) ^ sig)
      b += 1
    }
    out
  }

  /** bytes → struct(fp words, LSH band keys — both families), ONE
    * decode+FFT pass. Returns null for undecodable bytes (counted
    * upstream, not thrown: at web scale a corrupt row is data, not a
    * bug in the job).
    */
  def sketchUdf(cfg: AudioDedupConfig)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val planes = profilePlanes(cfg)
    udf { (bytes: Array[Byte]) =>
      try {
        val (pcm, sr) = Wav.decode(bytes)
        val sk = Fingerprint.sketch(pcm, sr, cfg.frameMs, cfg.hopDiv,
          cfg.nBands, cfg.fMinHz, cfg.fMaxHz)
        // minhash over the DISTINCT word set; words are structured sign
        // patterns, so avalanche them into uniform 64-bit hashes first
        val hs = sk.words.map(x => FastHash.mix64(x.toLong & 0xffffffffL))
          .distinct
        val sig = FastHash.minhash(hs, cfg.minhashK)
        val keys = FastHash.bandKeys(sig, cfg.bands, cfg.rowsPerBand) ++
          profileKeys(sk.profile, planes, cfg)
        Some((sk.words, keys))
      } catch { case _: Exception => None }
    }
  }

  /** Per-clip fingerprints (id, fp: array<int>, keys: array<long>).
    * Rows with null bytes are dropped here (no acoustic evidence);
    * undecodable rows survive with fp = null so they can be counted.
    */
  def fingerprints(df: DataFrame, idCol: String, bytesCol: String,
      cfg: AudioDedupConfig): DataFrame = {
    val su = sketchUdf(cfg)
    df.filter(col(bytesCol).isNotNull)
      .select(col(idCol).as("id"), su(col(bytesCol)).as("s"))
      .select(col("id"), col("s._1").as("fp"), col("s._2").as("keys"))
  }

  /** Verified acoustic near-dup pairs: banded candidates → BER ≤ maxBer.
    * Returns the lineage-cut pairs(a, b, ber), which the caller releases
    * once consumed, and the metrics, each observed on the pass's own
    * jobs; `nClusters` is left -1 ([[run]] clusters).
    */
  def nearDupPairs(spark: SparkSession, df: DataFrame, idCol: String,
      bytesCol: String, cfg: AudioDedupConfig = AudioDedupConfig())
      : (Checkpoints.Cut, AudioDedupMetrics) = {
    val Seq(rowsObs, undecodableObs) = Seq.fill(2)(Observation())
    // ONE decode+FFT pass, materialized so no later stage re-decodes
    val fpsCut = Checkpoints.cut(observeCount(observeCount(
      fingerprints(df, idCol, bytesCol, cfg), Some(rowsObs)),
      Some(undecodableObs), col("fp").isNull))
    val nRows = countedOrZero(rowsObs)
    val good = fpsCut.df.filter(col("fp").isNotNull)
    val berU = udf { (a: Seq[Int], b: Seq[Int]) =>
      Fingerprint.ber(a.toArray, b.toArray, cfg.maxShiftFrames)
    }
    val (vCut, nCand, nDropped, nVerified) = CappedPairs.verified(spark,
      good.select(col("id"), explode(col("keys")).as("k")),
      good.select(col("id"), col("fp").as("p")), nRows, verifyBuildRows,
      cfg.bucketCap, "ber", berU(_, _), _ <= cfg.maxBer)
    // the verified edges are materialized — the decode+FFT blocks can go
    fpsCut.release()
    (vCut, AudioDedupMetrics(nRows, countedOrZero(undecodableObs), nCand,
      nDropped, nVerified, -1L))
  }

  /** Full acoustic clustering: verified edges → connected components.
    * Returns (assignments(id, cluster), metrics); cluster = min id of
    * the component; rows without acoustic evidence (null/undecodable
    * bytes) and isolated clips map to themselves. Ids must be unique:
    * `nClusters` counts the assignment rows whose cluster is their own
    * id, so a duplicated id would count once per copy.
    *
    * Every metric is observed on the pass's own jobs; `collectMetrics`
    * is accepted and ignored, kept only because [[graft.Bench]] passes
    * it by name.
    */
  def run(spark: SparkSession, df: DataFrame, idCol: String,
      bytesCol: String, cfg: AudioDedupConfig = AudioDedupConfig(),
      collectMetrics: Boolean = true): (DataFrame, AudioDedupMetrics) = {
    val (vCut, m) = nearDupPairs(spark, df, idCol, bytesCol, cfg)
    val (assignments, nClusters) = ConnectedComponents.assignClusters(
      spark, df.select(col(idCol).as("id")), vCut, "a", "b")
    (assignments, m.copy(nClusters = nClusters))
  }
}
