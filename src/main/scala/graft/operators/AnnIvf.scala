package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns => T}

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the scale path past brute-force cosine: vectors are
  * coarse-quantized to their nearest centroid, and a query only scans
  * its top-`nprobe` cells instead of the whole table.
  *
  * One path, integer-exact end to end:
  *  - quantize: the caller puts the embeddings on the fixed-point grid
  *    round(x*1000) (array<long>);
  *  - init: [[seededInit]], the k vectors with the smallest
  *    xxhash64(id, seed) — a seeded pseudo-random sample with no
  *    Math.random anywhere (or any init the caller builds, e.g. the
  *    oracle queries' modulo set);
  *  - train: [[trainCentroidsQuant]], Lloyd's k-means on the grid, each
  *    iteration a broadcast crossJoin + map-side combinable max_by
  *    assignment and one keyed per-cell aggregation; bit-identical
  *    centroids on any engine or partitioning;
  *  - search: [[search]], one ranked pass over the broadcast-centroid
  *    cosines (per-vector partitions, never a single-partition window)
  *    serving both the cell assignment and the query probes.
  * Cosine is scale-invariant, so the grid centroids search float
  * vectors unchanged. The `emb_ann_ivf` and `emb_ann_ivf_trained` oracle
  * queries run exactly this search (the latter after this trainer), and
  * AnnIvfSpec quantifies its recall against brute-force top-k.
  */
object AnnIvf {

  /** Scale-aware cell count: k ~ sqrt(N), clamped to [16, 10^5] — the
    * upper bound keeps the centroid set comfortably broadcastable
    * (10^5 x 1k-dim doubles ~ 800 MB is the ceiling; past that, shard
    * queries by a coarse first-level quantizer instead of growing one
    * broadcast).
    *
    * Per-query scan cost is O(nprobe·N/k) rows and assignment cost
    * O(N·k) cosines, so k ~ sqrt(N) balances them (k=1000 at 10^6 rows,
    * k~10^5 at 10^10). Use this rather than a fixed constant: a frozen k
    * makes query cost LINEAR in N.
    */
  def kForScale(expectedRows: Long): Int =
    math.min(100000L,
      math.max(16L, math.round(math.sqrt(expectedRows.toDouble)))).toInt

  /** Seeded init for [[trainCentroidsQuant]] over (id, q) vectors:
    * returns (train, init). `init` is the k vectors with the smallest
    * xxhash64(id, seed), renumbered c_id 0..k-1 in hash order, as
    * (c_id, c_emb). `train` is `vectors`, or with `sampleN` > 0 the
    * sampleN vectors with the smallest seeded hash, persisted so that
    * each Lloyd iteration reads the sample, not a full-table top-sampleN
    * pass (training cost is O(sample·k·iters)); unpersist it after
    * training. Requires sampleN >= k, so the sample holds the same k
    * init vectors and sampling never changes the init.
    */
  def seededInit(
      vectors: DataFrame,
      k: Int,
      seed: Long = 42L,
      sampleN: Int = 0
  ): (DataFrame, DataFrame) = {
    require(sampleN == 0 || sampleN >= k,
      s"sampleN ($sampleN) must be 0 (train on all) or >= k ($k)")
    def smallest(df: DataFrame, n: Int) =
      df.withColumn("h", xxhash64(col("id"), lit(seed))).orderBy(col("h")).limit(n)
    val train =
      if (sampleN > 0) smallest(vectors, sampleN).drop("h").persist() else vectors
    // init reads the sample; two-phase rank: no no-partition window even
    // on the k-row set
    val init = graft.spark.Ranks.globalSortId(smallest(train, k), col("h"), "c_id")
      .select(col("c_id"), col("q").as("c_emb"))
    (train, init)
  }

  /** Integer-exact Lloyd training on the fixed-point grid: `vectors` is
    * (id, q: array<long>) — embeddings quantized round(x*scale) — and
    * `init` provides the starting centroids (c_id, c_emb: array<long>),
    * e.g. from [[seededInit]]. Each iteration assigns by round(cosine, 6)
    * (ties to the lowest c_id) and re-quantizes the per-cell mean back
    * to the grid via round(sum/count); the sums are exact integer
    * arithmetic (longs of magnitude ~scale, partial double sums stay
    * below 2^53, hence exact in ANY accumulation order), so the trained
    * centroids are BIT-IDENTICAL across engines, partitionings and
    * hardware. This is what lets the `emb_ann_ivf_trained` query carry a
    * full DuckDB oracle (the oracle unrolls the same iterations in SQL).
    * Empty cells keep their previous centroid.
    *
    * Assignment is max_by, not a window: training needs only the
    * nearest cell, and the map-side combinable aggregation pays no sort.
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

  /** IVF probe search: for each query vector, the `topK` nearest
    * non-self vectors among its top-`nprobe` cells. `vectors` is
    * (id, emb: array<double>), `centroids` (c_id, c_emb: array<double>);
    * `isQuery` (over `id`) selects the query vectors. Output
    * (q_id, n_id, cos, rank); both the cell and the result order are by
    * round(cosine, 6) descending, ties to the lowest id.
    *
    * ONE ranked pass per vector over the broadcast-centroid cosines
    * serves both consumers: rn = 1 is the nearest-cell assignment (the
    * same cell as [[trainCentroidsQuant]]'s max_by), and the query
    * vectors' rn <= nprobe rows are their probe cells. Sharing the
    * window's exchange computes the crossJoin + cosine subtree once, not
    * once per branch.
    */
  def search(
      vectors: DataFrame,
      centroids: DataFrame,
      isQuery: Column,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    val cellCos = vectors.crossJoin(broadcast(centroids))
      .select(col("id"), col("emb"), col("c_id"),
        round(T.cosineSim(col("emb"), col("c_emb")), 6).as("ccos"))
    val ranked = cellCos.withColumn("rn", row_number().over(
      Window.partitionBy(col("id")).orderBy(col("ccos").desc, col("c_id"))))
    val asgn = ranked.filter(col("rn") === 1)
      .select(col("id"), col("c_id"), col("emb"))
    val probes = ranked.filter(isQuery && col("rn") <= nprobe)
      .select(col("id").as("q_id"), col("emb").as("q_emb"), col("c_id"))
    probes.hint("SHUFFLE_HASH").join(asgn, Seq("c_id"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        round(T.cosineSim(col("q_emb"), col("emb")), 6).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
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
