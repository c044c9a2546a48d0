package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Trained-IVF recall quantification (the one number the embedding path
  * was missing): on clustered synthetic embeddings, k-means-trained
  * centroids + top-2-cell probing must recover ≥0.9 of the brute-force
  * cosine top-3 neighbor sets.
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

  test("trained IVF recall@3 >= 0.9 vs brute force on clustered embeddings") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 10, perCluster = 60, dim = 16)
    val vectors = data.toDF("id", "emb")
    val queries = vectors.filter(col("id") % 7 === 0) // ~86 queries
    val cents = AnnIvf.trainCentroids(vectors, k = 10,
      iterations = 3, seed = 42L)
    assert(cents.count() == 10)
    val ivf = AnnIvf.queryTopK(vectors, queries, cents,
      topK = 3, nprobe = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = AnnIvf.bruteTopK(vectors, queries, topK = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"recall@3 = $recall%.3f (${ivf.intersect(brute).size}/${brute.size})")
    assert(recall >= 0.9, f"recall@3 $recall%.3f below 0.9")
    cents.unpersist()
  }

  test("training is reproducible: same seed, same centroids (to fp tolerance)") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 4, perCluster = 20, dim = 8)
    val vectors = data.toDF("id", "emb")
    def centroidRows() = {
      val c = AnnIvf.trainCentroids(vectors, k = 4, iterations = 2,
        seed = 7L)
      val rows = c.orderBy("c_id").as[(Long, Seq[Double])].collect().toSeq
      c.unpersist()
      rows
    }
    // avg() partial-merge order is not pinned across shuffle fetches, so
    // same-seed runs agree only up to float reassociation (~1 ulp); the
    // operator scaladoc states exactly this bound
    val (a, b) = (centroidRows(), centroidRows())
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, ea), (_, eb)) =>
      ea.zip(eb).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)),
          s"centroid drift beyond fp tolerance: $x vs $y")
      }
    }
  }

  test("non-default k via kForScale: more cells, recall holds at higher nprobe share") {
    import spark.implicits._
    val data = clusteredVectors(nClusters = 10, perCluster = 60, dim = 16)
    val vectors = data.toDF("id", "emb")
    val queries = vectors.filter(col("id") % 13 === 0)
    val k = AnnIvf.kForScale(data.size) // 600 rows -> 24 cells (not the default 10/12)
    assert(k == 24)
    val cents = AnnIvf.trainCentroids(vectors, k = k,
      iterations = 2, seed = 42L)
    assert(cents.count() == k)
    // finer cells need proportionally more probes for the same recall:
    // nprobe scales with k (here 4/24 ~ the 2/10 cell share of the
    // default test)
    val ivf = AnnIvf.queryTopK(vectors, queries, cents,
      topK = 3, nprobe = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = AnnIvf.bruteTopK(vectors, queries, topK = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"k=$k recall@3 = $recall%.3f")
    assert(recall >= 0.85, f"recall@3 $recall%.3f below 0.85 at k=$k")
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
    // integer grid + exact integer sums: unlike the float path's ~1 ulp
    // tolerance, ANY partitioning must give the same longs — this is the
    // property the emb_ann_ivf_trained DuckDB oracle relies on
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
    val queries = vectors.filter(col("id") % 11 === 0)
    val cents = AnnIvf.trainCentroids(vectors, k = 5,
      iterations = 2, seed = 42L, sampleN = 100)
    val ivf = AnnIvf.queryTopK(vectors, queries, cents,
      topK = 3, nprobe = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = AnnIvf.bruteTopK(vectors, queries, topK = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"sampled recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"sampled recall@3 $recall%.3f below 0.8")
    cents.unpersist()
  }
}
