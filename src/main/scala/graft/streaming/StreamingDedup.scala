package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{FastHash, Kernels}
import graft.kernel.Alphabet
import graft.operators.DedupConfig

/** Structured Streaming near-duplicate detection — the streaming face of
  * the batch DedupPipeline, for "dedupe clips as they arrive against
  * everything already admitted" (ingest-time filtering of a training-data
  * firehose).
  *
  * Plan shape (same candidate semantics as the batch pipeline, expressed
  * with streaming primitives):
  *
  *   readStream(clip_id, event_time, transcript)
  *     -> watermark(event_time)                       [late-data bound]
  *     -> dropDuplicates(norm-hash)                   [exact dups: Spark's
  *        built-in streaming dedup state, watermark-expired]
  *     -> sketch (same normalize + MinHash bands as batch — narrow map)
  *     -> explode band keys -> groupByKey(band key)
  *     -> flatMapGroupsWithState                      [near dups: per-bucket
  *        bounded member state, kernel-verified matches emitted]
  *
  * State discipline at 10^12-row scale: state lives per LSH band bucket,
  * capped at `cfg.bucketCap` members (the same hot-bucket cap as batch —
  * a degenerate band key cannot accumulate unbounded state), each member
  * holding only (id, norm, case) — no audio bytes. ProcessingTimeTimeout
  * expires idle buckets, so total state ~ O(active buckets × cap).
  *
  * Emitted rows are (band-local) candidate matches, kernel-verified with
  * the exact batch scoring (pair_score_max semantics); a clip colliding
  * with the same prior clip in several bands emits duplicates — the
  * downstream sink dedupes on (id, match_id) like the batch path's
  * `distinct()` (kept outside this operator: streaming aggregation would
  * force a second stateful stage and an update-mode sink for no gain).
  */
object StreamingDedup {

  /** One admitted member of a band bucket. */
  final case class Member(id: Long, norm: String, lc: Byte)

  /** A verified near-dup hit: `id` matches earlier `matchId`. */
  final case class NearDup(id: Long, matchId: Long, score: Double)

  private final case class Keyed(k: Long, id: Long, norm: String, lc: Byte)

  /** Sketch a (possibly streaming) DataFrame into exploded band-key rows.
    * Columns in: `idCol` (long), `textCol` (string). Out: (k, id, norm, lc).
    */
  def bandKeyed(clips: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig, alphabet: Alphabet): DataFrame = {
    val K = new Kernels(alphabet)
    // reuse a precomputed `norm` column when the caller already paid for
    // it ([[run]] needs norm for the exact-dedup hash too — without the
    // reuse the normalization UDF ran twice per row)
    val normed =
      if (clips.columns.contains("norm")) clips
      else clips.withColumn("norm", K.normKey(col(textCol)))
    normed
      .withColumn("lc", K.caseClass(col(textCol)).cast("byte"))
      .withColumn("sk", FastHash.sketchFull(col("norm"), cfg.shingleN,
        cfg.minhashK, cfg.bands, cfg.rowsPerBand))
      .select(explode(col("sk._2")).as("k"), col(idCol).cast("long").as("id"),
        col("norm"), col("lc"))
  }

  /** The stateful core: per band bucket, verify each arriving clip
    * against the bucket's (capped) member history, emit matches, admit
    * the clip. Deterministic per bucket: arrivals within a micro-batch
    * are processed in id order.
    */
  def nearDups(
      keyed: Dataset[(Long, Long, String, Byte)], // (k, id, norm, lc)
      cfg: DedupConfig
  ): Dataset[NearDup] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val scoreThreshold = cfg.scoreThreshold
    val maxEdit = cfg.maxEditDistance
    val weights = cfg.weights
    val cap = cfg.bucketCap

    // NoTimeout: per-bucket state is already bounded by `cap`, so total
    // state grows only with the number of DISTINCT band keys; a
    // production deployment that must expire cold buckets uses
    // EventTimeTimeout against the stream's watermark instead —
    // ProcessingTimeTimeout is deliberately avoided because checking it
    // forces the engine into continuous empty micro-batches (measured:
    // 800+ epochs/4min busy-spin on an idle stream).
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, String, Byte)],
         state: GroupState[List[Member]]) =>
          {
            var members = state.getOption.getOrElse(Nil)
            val out = Vector.newBuilder[NearDup]
            // id order => deterministic across micro-batch partitionings
            for ((_, id, norm, lc) <- rows.toSeq.sortBy(_._2)) {
              var best: Option[NearDup] = None
              for (m <- members if m.id != id) {
                val ld = graft.kernel.Distances.dlChars(m.norm, norm, maxEdit)
                if (ld >= 0) {
                  val d = graft.kernel.Distance(
                    ld = ld,
                    lcs = if (weights.lcs > 0.0)
                      graft.kernel.Distances.lcsChars(m.norm, norm) else 0,
                    prefixLen = if (weights.prefix > 0.0)
                      graft.kernel.Distances.prefixChars(m.norm, norm) else 0,
                    suffixLen = if (weights.suffix > 0.0)
                      graft.kernel.Distances.suffixChars(m.norm, norm) else 0,
                    sameCase = if (weights.caseW > 0.0 && m.lc != 2 && lc != 2)
                      m.lc == lc else true)
                  val s = math.max(
                    graft.kernel.Scoring.score(d, m.norm.length, weights),
                    graft.kernel.Scoring.score(d, norm.length, weights))
                  if (s >= scoreThreshold &&
                      best.forall(b => s > b.score ||
                        (s == b.score && m.id < b.matchId)))
                    best = Some(NearDup(id, m.id, s))
                }
              }
              best.foreach(out += _)
              // admit (bounded): hot buckets stop admitting at the cap,
              // exactly the batch pipeline's hot-bucket discipline
              if (members.size < cap && norm.nonEmpty)
                members = Member(id, norm, lc) :: members
            }
            state.update(members)
            out.result().iterator
          }
      }
  }

  /** End-to-end streaming plan: watermark -> exact-dup drop -> sketch ->
    * band-bucket stateful near-dup detection. `clips` must be a streaming
    * DataFrame with (idCol long-castable, tsCol timestamp, textCol string).
    */
  def run(
      clips: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      cfg: DedupConfig = DedupConfig(),
      alphabet: Alphabet = Alphabet.test,
      watermark: String = "10 minutes"
  ): Dataset[NearDup] = {
    val spark = clips.sparkSession
    import spark.implicits._
    val K = new Kernels(alphabet)
    val deduped = clips
      .withWatermark(tsCol, watermark)
      .withColumn("norm", K.normKey(col(textCol))) // once; bandKeyed reuses
      .withColumn("nh", xxhash64(col("norm")))
      .dropDuplicates("nh") // built-in streaming exact-dedup state
    val keyed = bandKeyed(deduped, idCol, textCol, cfg, alphabet)
      .as[(Long, Long, String, Byte)]
    nearDups(keyed, cfg)
  }
}
