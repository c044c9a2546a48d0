package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.Checkpoints
import graft.spark.Checkpoints.{counted, countedOrZero, observeCount}

/** Shared capped bucket→pair expansion — the candidate-generation shape
  * every LSH family in this engine funnels through (embedding sign-LSH,
  * audio fingerprint minhash; the text pipeline's variant adds an
  * edit-distance length prefilter, [[DedupPipeline.pairsFromKeys]]) —
  * and the sizing rule of the verify joins those pairs feed.
  *
  * Scale shape (the reasons are measured, see DedupPipeline):
  *  1. count-agg first — almost every key is a singleton, and a codegen'd
  *     count with map-side partials kills them without a collect_list
  *     over the full key volume;
  *  2. the surviving hot-key set (2..cap members) is small — broadcast it
  *     and filter map-side, so the count agg is the only full shuffle;
  *  3. pairs expand in-row from the capped bucket's sorted member list —
  *     never a self-join on the key column. Buckets above `cap` are
  *     dropped entirely (hot keys are degenerate evidence — silence,
  *     boilerplate, zero vectors); callers count them as documented lost
  *     recall.
  */
object CappedPairs {

  /** keyed(id, k) → distinct candidate pairs (a, b) with a < b.
    *
    * @param numParts partition count for the trailing a-keyed dedup
    *                 exchange (which the caller's verify join on a
    *                 reuses): [[verifyParts]]; None keeps the session
    *                 partitioning.
    * @param dropped  observation that counts the buckets over the cap;
    *                 read it with [[droppedBuckets]]
    */
  def fromKeys(keyed: DataFrame, cap: Int, numParts: Option[Int] = None,
      dropped: Option[Observation] = None): DataFrame =
    keyed.join(broadcast(hotKeys(keyed, cap, dropped)), Seq("k"))
      .groupBy("k")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      // dedup keyed by a ONLY: hashpartitioning(a) satisfies the (a, b)
      // clustering AND the consumer's verify join on a (every caller
      // fetches the a-side payload first), so the dedup exchange and
      // that join's exchange collapse into one — see
      // DedupPipeline.run's candidates for the measured trade.
      .transform(d => numParts.fold(d.repartition(col("a")))(p =>
        d.repartition(p, col("a"))))
      .dropDuplicates("a", "b")

  /** The keys of keyed(k, ...) with 2..cap rows, from one count
    * aggregation; `dropped` (when given) counts the keys over the cap
    * while it runs.
    */
  def hotKeys(keyed: DataFrame, cap: Int,
      dropped: Option[Observation]): DataFrame =
    observeCount(keyed.groupBy("k").agg(count(lit(1)).as("n")),
        dropped, col("n") > cap)
      .filter(col("n").between(2, cap))
      .select(col("k"))

  /** The buckets over the cap, as the [[hotKeys]] observation `dropped`
    * counted them. Adaptive execution skips the hot-key broadcast, and
    * the observation with it, when no bucket has 2..cap members (the
    * bucket join is then provably empty); only in that case is the
    * overflow counted by a job of its own. Call it while `keyed` is still
    * readable.
    */
  def droppedBuckets(dropped: Observation, keyed: DataFrame,
      cap: Int): Long =
    counted(dropped).getOrElse(
      keyed.groupBy("k").count().filter(col("count") > cap).count())

  /** The candidate → verify pass of the embedding and audio operators:
    * the capped pairs of keyed(id, k) ([[fromKeys]]), each kept when
    * `accept(score(p_a, p_b))` holds over the two payload(id, p) values.
    * Returns the lineage-cut (a, b, `scoreName`) edges with the counts of
    * candidate pairs, dropped buckets and edges, each observed on the
    * pass's own jobs. The verify joins run on [[verifyParts]] of the
    * `rows`-row payload table; `keyed` and `payload` must stay readable
    * until this returns.
    */
  def verified(spark: SparkSession, keyed: DataFrame, payload: DataFrame,
      rows: Long, buildRows: Long, cap: Int, scoreName: String,
      score: (Column, Column) => Column,
      accept: Column => Column): (Checkpoints.Cut, Long, Long, Long) = {
    val Seq(droppedObs, candObs, edgesObs) = Seq.fill(3)(Observation())
    val parts = verifyParts(spark, rows, buildRows)
    // counted in flight, not cut: a checkpoint here would split the
    // fused dedup + verify-join exchange
    val cand = observeCount(fromKeys(keyed, cap, Some(parts),
      Some(droppedObs)), Some(candObs))
    // payloads arrive by shuffle-hash join: no sort of the pair stream,
    // no driver-side broadcast of an N-row payload table. Join 1 builds
    // the capped PAIR side and streams the payloads; only join 2 builds
    // a payload relation, on the derived partitioning (the
    // DedupPipeline.verifyPairs build-side discipline). Inner
    // equi-joins: the build side is a physical choice only. One
    // partition already satisfies join 2's distribution, and an explicit
    // exchange there would reshuffle join 1's payload-wide output.
    val edges = cand.hint("SHUFFLE_HASH")
      .join(payload.select(col("id").as("a"), col("p").as("pa")), Seq("a"))
      .transform(j1 => if (parts > 1) j1.repartition(parts, col("b")) else j1)
      .join(payload.select(col("id").as("b"), col("p").as("pb"))
        .hint("SHUFFLE_HASH"), Seq("b"))
      .select(col("a"), col("b"), score(col("pa"), col("pb")).as(scoreName))
      .filter(accept(col(scoreName)))
    val cut = Checkpoints.cut(observeCount(edges, Some(edgesObs)))
    (cut, countedOrZero(candObs), droppedBuckets(droppedObs, keyed, cap),
      countedOrZero(edgesObs))
  }

  /** Partition count of a verify join whose hash builds hold the payload
    * rows (texts, vectors, fingerprints) of a `rows`-row table: a
    * ShuffledHashJoin build is non-spillable, so each task holds at most
    * ~`buildRows` of them whatever the core count (the session default
    * once put every text row of a 3M-clip 1-core run in one build, which
    * died in LongToUnsafeRowMap.grow). Rounded UP to a multiple of
    * defaultParallelism so every level runs even waves.
    *
    * Join 1 builds the candidate-PAIR side and is sized by the same
    * count, so its bound is implicit: 16-byte pair rows (two long ids)
    * against ~300 B per text row, ~700 B per 64-dim vector and ~1.4 kB
    * per fingerprint, with at most keys·(cap−1) partners per id (a bucket
    * holds at most `cap` members). A pair build outgrows its payload
    * build only past ~20 (text), ~45 (vector) or ~90 (fingerprint)
    * candidates per row: text runs ~7, a 60k-row 16-band EmbDedup input
    * ~160.
    */
  def verifyParts(spark: SparkSession, rows: Long, buildRows: Long): Int = {
    val dp = spark.sparkContext.defaultParallelism
    (dp * math.max(1L, (rows + buildRows * dp - 1) / (buildRows * dp))).toInt
  }
}
