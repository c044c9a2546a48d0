package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFns => T}

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the scale path past brute-force cosine: vectors are
  * coarse-quantized to their nearest trained centroid, and a query only
  * scans its top-`nprobe` cells instead of the whole table.
  *
  * All plans are broadcast-centroid shaped: the centroid set (k cells,
  * k ≤ ~10^5) broadcasts; assignment is a broadcast crossJoin + map-side
  * combinable max_by aggregation — never a window over all vectors, and
  * the only shuffles are the per-cell/per-query aggregations.
  *
  * Training is deterministic Lloyd's k-means, each iteration one Spark
  * job over the (sampled) vectors:
  *  - init: the k vectors with the smallest xxhash64(vec_id, seed) — a
  *    seeded pseudo-random sample with no Math.random anywhere;
  *  - assign: nearest centroid by cosine (broadcast, max_by);
  *  - update: element-wise mean per cell via posexplode + avg (two
  *    narrow-keyed aggregations, no collect_list of vectors);
  *  - empty cells keep their previous centroid.
  * The pinned-oracle `emb_ann_ivf` query keeps its deterministic modulo
  * centroid set (DuckDB-checkable semantics); this operator is the
  * production path whose recall is quantified by AnnIvfSpec against
  * brute-force top-k.
  */
object AnnIvf {

  /** Scale-aware cell count: k ~ sqrt(N) (see [[trainCentroids]]),
    * clamped to [16, 10^5] — the upper bound keeps the centroid set
    * comfortably broadcastable (10^5 x 1k-dim doubles ~ 800 MB is the
    * ceiling; past that, shard queries by a coarse first-level quantizer
    * instead of growing one broadcast).
    */
  def kForScale(expectedRows: Long): Int =
    math.min(100000L,
      math.max(16L, math.round(math.sqrt(expectedRows.toDouble)))).toInt

  /** Nearest-centroid assignment: one row per vector with its cell id.
    * `vectors` must have (id, emb: array<double>); `centroids`
    * (c_id, c_emb). Ties break to the lowest c_id, matching the pinned
    * oracle query's ordering.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cellCos = vectors.crossJoin(broadcast(centroids))
      .select(col("id"), col("emb"), col("c_id"),
        T.cosineSim(col("emb"), col("c_emb")).as("ccos"))
    cellCos.groupBy(col("id"))
      .agg(
        max_by(col("c_id"), struct(col("ccos"), col("c_id") * -1)).as("c_id"),
        first(col("emb")).as("emb"))
  }

  /** k-means training over (id, emb) vectors. Returns the centroid
    * DataFrame (c_id: 0..k-1, c_emb). `sampleN`: train on the sampleN
    * vectors with the smallest seeded hash instead of the full table
    * (training cost is O(sample·k·iters); assignment of the full table
    * happens once, at query build; requires sampleN >= k).
    *
    * SCALE the cell count with the corpus: per-query scan cost is
    * O(nprobe·N/k) rows and assignment cost O(N·k) cosines, so k ~ sqrt(N)
    * balances them (k=1000 at 10^6 rows, k~10^5 at 10^10 — still a
    * broadcastable centroid set). Use [[kForScale]] rather than a fixed
    * constant: a frozen k makes query cost LINEAR in N.
    *
    * Deterministic up to floating-point summation order: init and
    * assignment are exact (seeded hashes, cosine comparisons on fixed
    * inputs), but the centroid update averages doubles with avg(), whose
    * partial-aggregate merge order Spark does not pin across shuffle
    * fetches — same seed means same centroids only to ~1 ulp
    * reassociation noise, not necessarily bit-identity (AnnIvfSpec
    * compares with tolerance).
    */
  def trainCentroids(
      vectors: DataFrame,
      k: Int,
      iterations: Int = 3,
      seed: Long = 42L,
      sampleN: Int = 0
  ): DataFrame = {
    require(sampleN == 0 || sampleN >= k,
      s"sampleN ($sampleN) must be 0 (train on all) or >= k ($k)")
    val hashed = vectors
      .withColumn("h", xxhash64(col("id"), lit(seed)))
    // the seeded hash rides along so centroid init reads the (persisted)
    // sample, never a second full-table TakeOrdered pass
    val train0 =
      if (sampleN > 0) hashed.orderBy(col("h")).limit(sampleN)
      else hashed
    val train = train0.persist()
    try {
      // init: k smallest seeded hashes, renumbered 0..k-1 in hash order
      // (two-phase rank — no no-partition window even on the k-row set);
      // for sampleN >= k these are exactly the k smallest of the full
      // table, so sampling never changes the init
      var cents = graft.spark.Ranks
        .globalSortId(train.orderBy(col("h")).limit(k), col("h"), "c_id")
        .select(col("c_id"), col("emb").as("c_emb"))
        .persist()
      cents.count() // materialize before the loop re-plans
      for (_ <- 1 to iterations) {
        val asgn = assign(train, cents)
        // element-wise mean per cell: (c_id, pos) keyed avg, then one
        // bounded per-cell gather (dim entries) back into an array
        val means = asgn
          .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "v")))
          .groupBy(col("c_id"), col("pos"))
          .agg(avg(col("v")).as("v"))
          .groupBy(col("c_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("v")))),
            e => e.getField("v")).as("c_emb"))
        // empty cells keep their previous centroid
        val next = cents.select(col("c_id"), col("c_emb").as("prev_emb"))
          .join(means, Seq("c_id"), "left")
          .select(col("c_id"), coalesce(col("c_emb"), col("prev_emb")).as("c_emb"))
          .persist()
        next.count()
        cents.unpersist()
        cents = next
      }
      cents
    } finally train.unpersist()
  }

  /** Integer-exact Lloyd training on the fixed-point grid: `vectors` is
    * (id, q: array<long>) — embeddings quantized round(x*scale) — and
    * `init` provides the starting centroids (c_id, c_emb: array<long>).
    * Each iteration assigns by round(cosine, 6) (ties to the lowest
    * c_id) and re-quantizes the per-cell mean back to the grid via
    * round(sum/count); the sums are exact integer arithmetic (longs of
    * magnitude ~scale, partial double sums stay below 2^53, hence exact
    * in ANY accumulation order), so the trained centroids are
    * BIT-IDENTICAL across engines, partitionings and hardware — unlike
    * [[trainCentroids]], whose float avg() is deterministic only to ~1
    * ulp. This is what lets the `emb_ann_ivf_trained` query carry a
    * full DuckDB oracle (the oracle unrolls the same iterations in SQL).
    * Empty cells keep their previous centroid, as in [[trainCentroids]].
    *
    * Same scale shape as the float path: broadcast centroids, max_by
    * assignment, two keyed aggregations per iteration — the grid only
    * changes the element type, not the plan.
    */
  def trainCentroidsQuant(
      vectors: DataFrame,
      init: DataFrame,
      iterations: Int = 3
  ): DataFrame = {
    var cents = init.persist()
    val dims = cents.select(size(col("c_emb"))).head().getInt(0)
    // double views hoisted OUT of the crossJoin: computed once per vector
    // row / once per broadcast centroid, not once per (vector, centroid)
    // — transform() is an interpreted higher-order expression, and inside
    // the post-join select it ran k times per vector
    val vd = vectors.withColumn("qd", transform(col("q"), _.cast("double")))
    // intermediates stay persisted-but-lazy until ONE action at the end
    // cascades through every iteration (each level's broadcast build
    // populates its cache); per-iteration count() actions were pure
    // driver job latency. Unpersist only after the final materialization
    // — dropping a level before its successor is materialized would
    // cascade recomputes instead.
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iterations) {
      val cd = broadcast(cents.select(col("c_id"),
        transform(col("c_emb"), _.cast("double")).as("cd")))
      val cellCos = vd.crossJoin(cd)
        .select(col("id"), col("q"), col("c_id"),
          round(T.cosineSim(col("qd"), col("cd")), 6).as("ccos"))
      val asgn = cellCos.groupBy(col("id"))
        .agg(
          max_by(col("c_id"), struct(col("ccos"), col("c_id") * -1)).as("c_id"),
          first(col("q")).as("q"))
      // per-cell per-dim mean in ONE keyed aggregation: `dims` exact long
      // sums + a count per cell, then round(sum/n) re-quantizes to the
      // grid. Bit-identical to the former posexplode + avg two-shuffle
      // shape: avg over longs accumulates integer-valued doubles < 2^53
      // (exact in any order), so round(avg) == round(exactSum/n).
      val means = asgn.groupBy(col("c_id"))
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(i => sum(col("q").getItem(i))): _*).as("s"))
        .select(col("c_id"),
          transform(col("s"),
            s => round(s.cast("double") / col("n")).cast("long")).as("c_emb"))
      // broadcast the k-row means side: stat-less after the aggregation,
      // it otherwise planned as a SortMergeJoin (k <= 10^5 by design —
      // the centroid set is broadcastable, see the class doc)
      val next = cents.select(col("c_id"), col("c_emb").as("prev_emb"))
        .join(broadcast(means), Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("c_emb"), col("prev_emb")).as("c_emb"))
        .persist()
      retired += cents
      cents = next
    }
    cents.count()
    retired.foreach(_.unpersist())
    cents
  }

  /** ANN top-k: for each query vector, the k nearest non-self vectors by
    * cosine among the query's top-`nprobe` cells. `vectors` and `queries`
    * both (id, emb); output (q_id, n_id, cos, rank).
    */
  def queryTopK(
      vectors: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      topK: Int = 3,
      nprobe: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asgn = assign(vectors, centroids)
    val qCells = queries.crossJoin(broadcast(centroids))
      .select(col("id").as("q_id"), col("emb").as("q_emb"), col("c_id"),
        T.cosineSim(col("emb"), col("c_emb")).as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_id"))
    val scored = qCells.join(asgn, Seq("c_id"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        T.cosineSim(col("q_emb"), col("emb")).as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rank") <= topK)
  }

  /** Brute-force cosine top-k over the same (id, emb) shape — the recall
    * baseline (intentionally quadratic; for specs and small query sets).
    */
  def bruteTopK(
      vectors: DataFrame,
      queries: DataFrame,
      topK: Int = 3
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    queries.select(col("id").as("q_id"), col("emb").as("q_emb"))
      .crossJoin(vectors.select(col("id").as("n_id"), col("emb")))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        T.cosineSim(col("q_emb"), col("emb")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rank") <= topK)
  }
}
