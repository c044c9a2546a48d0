package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Trained-IVF recall quantification on the production path (grid
  * quantization, seeded init, integer Lloyd, [[AnnIvf.search]]): on
  * clustered synthetic embeddings, trained centroids + top-2-cell
  * probing must recover ≥0.9 of the brute-force cosine top-3 neighbor
  * sets.
  */
class AnnIvfSpec extends SparkSpecBase {

  /** Deterministic clustered embeddings: `nClusters` unit-ish centers in
    * `dim` dims from a seeded LCG, `perCluster` points each = center +
    * small perturbation. No Math.random — reruns are bit-identical.
    */
  private def clusteredVectors(nClusters: Int, perCluster: Int, dim: Int) = {
    var state = 0x9e3779b97f4a7c15L
    def nextDouble(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val centers = Array.fill(nClusters)(Array.fill(dim)(nextDouble()))
    (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      val emb = c.map(v => v + 0.08 * nextDouble())
      (i.toLong, emb.toSeq)
    }
  }

  /** The production path over float (id, emb) vectors: quantize to the
    * round(x*1000) grid, seeded init, integer Lloyd. Returns the trained
    * grid centroids (c_id, c_emb: array<long>), still persisted.
    */
  private def train(vectors: DataFrame, k: Int, iterations: Int,
      seed: Long, sampleN: Int = 0): DataFrame = {
    val q = vectors.select(col("id"),
      transform(col("emb"), x => round(x * 1000).cast("long")).as("q"))
    val (sample, init) = AnnIvf.seededInit(q, k, seed, sampleN)
    try AnnIvf.trainCentroidsQuant(sample, init, iterations)
    finally sample.unpersist()
  }

  /** recall@3 of the IVF search (grid centroids over the float vectors)
    * against brute-force cosine top-3, for the queries `isQuery` selects.
    */
  private def recall(vectors: DataFrame, cents: DataFrame, isQuery: Column,
      nprobe: Int): Double = {
    import spark.implicits._
    val cd = cents.select(col("c_id"),
      transform(col("c_emb"), _.cast("double")).as("c_emb"))
    val ivf = AnnIvf.search(vectors, cd, isQuery, nprobe, topK = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = AnnIvf.bruteTopK(vectors, vectors.filter(isQuery), topK = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    ivf.intersect(brute).size.toDouble / brute.size
  }

  test("trained IVF recall@3 >= 0.9 vs brute force on clustered embeddings") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 10, perCluster = 60, dim = 16)
    val vectors = data.toDF("id", "emb")
    val cents = train(vectors, k = 10, iterations = 3, seed = 42L)
    assert(cents.count() == 10)
    val r = recall(vectors, cents, col("id") % 7 === 0, nprobe = 2) // ~86 queries
    info(f"recall@3 = $r%.3f")
    assert(r >= 0.9, f"recall@3 $r%.3f below 0.9")
    cents.unpersist()
  }

  test("training is reproducible: same seed, same centroids") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 4, perCluster = 20, dim = 8)
    val vectors = data.toDF("id", "emb")
    def centroidRows() = {
      val c = train(vectors, k = 4, iterations = 2, seed = 7L)
      val rows = c.orderBy("c_id").as[(Long, Seq[Long])].collect().toSeq
      c.unpersist()
      rows
    }
    // seeded init and integer Lloyd: exact, not up to float reassociation
    assert(centroidRows() == centroidRows())
  }

  test("non-default k via kForScale: more cells, recall holds at higher nprobe share") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 10, perCluster = 60, dim = 16)
    val vectors = data.toDF("id", "emb")
    val k = AnnIvf.kForScale(data.size) // 600 rows -> 24 cells (not the default 10/12)
    assert(k == 24)
    val cents = train(vectors, k = k, iterations = 2, seed = 42L)
    assert(cents.count() == k)
    // finer cells need proportionally more probes for the same recall:
    // nprobe scales with k (here 5/24 ~ the 2/10 cell share of the
    // default test)
    val r = recall(vectors, cents, col("id") % 13 === 0, nprobe = 5)
    info(f"k=$k recall@3 = $r%.3f")
    assert(r >= 0.85, f"recall@3 $r%.3f below 0.85 at k=$k")
    cents.unpersist()
    assert(AnnIvf.kForScale(1000000L) == 1000)
    assert(AnnIvf.kForScale(100L) == 16)
    assert(AnnIvf.kForScale(100000000000L) == 100000)
  }

  test("quantized training is BIT-identical across partitionings (the oracle contract)") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 4, perCluster = 30, dim = 8)
    val vectors = data.toDF("id", "emb")
      .select(col("id"),
        transform(col("emb"), x => round(x * 1000).cast("long")).as("q"))
    val init = vectors.filter(col("id") % 30 === 0)
      .select(col("id").as("c_id"), col("q").as("c_emb"))
    def centroidRows(parts: Int) = {
      val c = AnnIvf.trainCentroidsQuant(
        vectors.repartition(parts), init, iterations = 3)
      val rows = c.orderBy("c_id").as[(Long, Seq[Long])].collect().toSeq
      c.unpersist()
      rows
    }
    // integer grid + exact integer sums: ANY partitioning must give the
    // same longs — this is the property the emb_ann_ivf_trained DuckDB
    // oracle relies on
    val (a, b) = (centroidRows(1), centroidRows(7))
    assert(a == b, "quantized centroids differ across partitionings")
    // and the centroids moved off the init (training actually trains)
    val initRows = init.orderBy("c_id").as[(Long, Seq[Long])].collect().toSeq
    assert(a.map(_._2) != initRows.map(_._2), "Lloyd iterations were a no-op")
  }

  test("sampled training still clusters (sampleN < n)") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 5, perCluster = 40, dim = 8)
    val vectors = data.toDF("id", "emb")
    val cents = train(vectors, k = 5, iterations = 2, seed = 42L, sampleN = 100)
    val r = recall(vectors, cents, col("id") % 11 === 0, nprobe = 2)
    info(f"sampled recall@3 = $r%.3f")
    assert(r >= 0.8, f"sampled recall@3 $r%.3f below 0.8")
    cents.unpersist()
  }
}
