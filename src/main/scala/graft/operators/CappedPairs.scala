package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.Checkpoints.{counted, countedOrZero, observeCount}

/** The candidate → verify pass of every dedup operator in this engine
  * (text, embedding, audio fingerprint): capped bucket→pair expansion
  * ([[expand]]), the a-keyed pair dedup ([[fromKeys]]), the two-join
  * verify ([[verify]]) and the sizing rule of its joins ([[verifyParts]]).
  *
  * Scale shape of the expansion (measured on the text pipeline):
  *  1. count-agg first — almost every key is a singleton, and a codegen'd
  *     count with map-side partials kills them without a collect_list
  *     over the full key volume (ObjectHashAggregate falls back to
  *     SORT-based aggregation at 128 distinct keys per partition, so a
  *     collect_list over 60M keys degenerates to a full sort of the key
  *     rows);
  *  2. the surviving hot-key set (2..cap members) is small — broadcast it
  *     and filter map-side, so the count agg is the only full shuffle;
  *  3. pairs expand in-row from the capped bucket's sorted member list —
  *     never a self-join on the key column. Buckets above `cap` are
  *     dropped entirely (hot keys are degenerate evidence — silence,
  *     boilerplate, zero vectors); callers count them as documented lost
  *     recall.
  */
object CappedPairs {

  /** A pair filter that keeps every pair. */
  private val anyPair: (Column, Column) => Column = (_, _) => lit(true)

  /** keyed(id, k, ...) → candidate pairs (a, b) with a < b, one row per
    * bucket the pair shares (not deduplicated; see [[fromKeys]]).
    *
    * @param dropped observation that counts the buckets over the cap
    * @param keep    cheap pair filter applied inside the expansion, before
    *                any pair is shuffled (the text path's length
    *                prefilter). It sees the two bucket members: the id
    *                when keyed has no column besides id and k, else a
    *                struct of keyed's non-key columns.
    */
  def expand(keyed: DataFrame, cap: Int, dropped: Option[Observation] = None,
      keep: (Column, Column) => Column = anyPair): DataFrame = {
    val fields = keyed.columns.filter(_ != "k")
    val bare = fields.sameElements(Seq("id"))
    def id(m: Column): Column = if (bare) m else m.getField("id")
    // the keys with 2..cap rows, from one count aggregation that also
    // counts the keys over the cap
    val hot = observeCount(keyed.groupBy("k").agg(count(lit(1)).as("n")),
      dropped, col("n") > cap).filter(col("n").between(2, cap)).select("k")
    keyed.join(broadcast(hot), Seq("k"))
      .groupBy("k")
      .agg(sort_array(collect_list(
        if (bare) col("id") else struct(fields.map(col): _*))).as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(id(col("a")) < id(col("b")) && keep(col("a"), col("b")))
      .select(id(col("a")).as("a"), id(col("b")).as("b"))
  }

  /** keyed(id, k, ...) → distinct candidate pairs (a, b) with a < b
    * ([[expand]] with its `dropped` and `keep`).
    *
    * The dedup is keyed by a ONLY: hashpartitioning(a) satisfies the
    * (a, b) clustering AND the verify join on a ([[verify]] fetches the
    * a-side payload first), so the dedup exchange and that join's
    * exchange collapse into one (text verify plan: 8 -> 7 Exchanges).
    * The raw stream it shuffles is only ~1.2x the distinct volume (6.21M
    * vs 5.09M at the 3M-clip bench: the length prefilter and capped
    * buckets keep multiplicity low, and a map-side partial distinct could
    * not collapse cross-bucket copies anyway, they live in different
    * partitions). Measured min-of-reps: -8% on the distinct+verify
    * segment at both 1 and 32 cores (OPTIMIZATION_r06.md, exp 3).
    *
    * @param numParts partition count of that exchange: [[verifyParts]];
    *                 None keeps the session partitioning.
    */
  def fromKeys(keyed: DataFrame, cap: Int, numParts: Option[Int] = None,
      dropped: Option[Observation] = None,
      keep: (Column, Column) => Column = anyPair): DataFrame = {
    val pairs = expand(keyed, cap, dropped, keep)
    numParts.fold(pairs.repartition(col("a")))(p =>
      pairs.repartition(p, col("a"))).dropDuplicates("a", "b")
  }

  /** Verification of pairs(a, b): each pair's two payload(id, ...) rows
    * arrive by SHUFFLE-HASH joins (hinted), and the pair is kept, as
    * (a, b, `scoreName`), where `accept(score(a, b))` holds; `a(c)` and
    * `b(c)` read payload column c of the pair's a- and b-side row.
    *
    * No sort of the pair stream (sort-merge measured 2-3x slower on the
    * text path) and no single-threaded driver broadcast build (at 1.5M
    * text reps a broadcast serialized the whole stage). The FIRST join
    * builds the PAIR side (16-byte pair rows, ~300 MB at the 3M-clip
    * bench) and streams the payloads; only the second builds a payload
    * relation. Building payloads on BOTH joins OOM'd the 1-core 8 GiB
    * bench child once the a-keyed dedup ([[fromKeys]]) fused the dedup
    * hash-agg and join 1 into one stage: two non-spillable ~1-2 GiB text
    * hash relations plus the agg map co-resided in a single task ("Can't
    * acquire 1073741824 bytes to build hash relation"). With the pair
    * side built, the two large structures live in different stages, the
    * per-task non-spillable peak drops severalfold, and join 1 probes 3M
    * text rows against a small hash instead of 5M pairs against a large
    * one. Inner equi-joins: the build side is a physical choice only.
    *
    * @param numParts partition count of join 2 ([[verifyParts]]): the
    *        session default is core-count-sized and puts the whole
    *        payload build in one task at low parallelism; None leaves it
    *        to the planner. The explicit repartition IS join 2's left-side
    *        exchange, not an extra one; at one partition it is skipped,
    *        because one partition already satisfies join 2's distribution
    *        and the exchange would reshuffle join 1's payload-wide output
    *        (~8 s of a 38 s EmbDedup.run at local[1]).
    */
  def verify(pairs: DataFrame, payload: DataFrame, numParts: Option[Int],
      scoreName: String, score: (String => Column, String => Column) => Column,
      accept: Column => Column): DataFrame = {
    val fields = payload.columns.filter(_ != "id")
    def side(s: String): DataFrame = payload.select(col("id").as(s) +:
      fields.map(c => col(c).as(s"${c}_$s")): _*)
    def of(s: String): String => Column = c => col(s"${c}_$s")
    pairs.hint("SHUFFLE_HASH").join(side("a"), Seq("a"))
      .transform(j1 => numParts.filter(_ > 1)
        .fold(j1)(p => j1.repartition(p, col("b"))))
      .join(side("b").hint("SHUFFLE_HASH"), Seq("b"))
      .select(col("a"), col("b"), score(of("a"), of("b")).as(scoreName))
      .filter(accept(col(scoreName)))
  }

  /** The verified `edges` of one candidate → verify pass, not yet run,
    * and the pass's counters, each observed on the job that runs
    * `edges`: read them once that job has finished and while `keyed` is
    * still readable.
    */
  final class Verified(val edges: DataFrame, candObs: Observation,
      droppedObs: Observation, keyed: DataFrame, cap: Int) {
    def candidatePairs: Long = countedOrZero(candObs)

    /** The buckets over the cap, as the expansion's count aggregation
      * counted them. Adaptive execution skips the hot-key broadcast, and
      * the observation with it, when no bucket has 2..cap members (the
      * bucket join is then provably empty); only in that case is the
      * overflow counted by a job of its own.
      */
    def droppedBuckets: Long = counted(droppedObs).getOrElse(
      keyed.groupBy("k").count().filter(col("count") > cap).count())
  }

  /** The candidate → verify pass: the capped pairs of keyed(id, k, ...)
    * ([[fromKeys]], filtered by `keep`) verified against
    * payload(id, ...) ([[verify]]) on [[verifyParts]] of the `rows`-row
    * payload table. The edges are left uncut so the caller can union
    * more edges into the one observed cut it takes.
    */
  def verified(spark: SparkSession, keyed: DataFrame, payload: DataFrame,
      rows: Long, buildRows: Long, cap: Int, scoreName: String,
      score: (String => Column, String => Column) => Column,
      accept: Column => Column,
      keep: (Column, Column) => Column = anyPair): Verified = {
    val Seq(droppedObs, candObs) = Seq.fill(2)(Observation())
    val parts = verifyParts(spark, rows, buildRows)
    // counted in flight, not cut: a checkpoint here would split the
    // fused dedup + verify-join exchange
    val cand = observeCount(fromKeys(keyed, cap, Some(parts),
      Some(droppedObs), keep), Some(candObs))
    new Verified(verify(cand, payload, Some(parts), scoreName, score, accept),
      candObs, droppedObs, keyed, cap)
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
