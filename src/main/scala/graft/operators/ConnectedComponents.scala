package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.Checkpoints

/** Connected components over an undirected edge DataFrame — the
  * clustering stage of the dedup pipeline (SURVEY.md §7.2 step 8).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), expressed
  * purely as DataFrame joins/aggregations — no RDDs, no driver-side
  * graph. Converges in O(log n) rounds on real graphs; each round is two
  * self-aggregations shuffling on node id.
  *
  *  - large-star: for each node u, connect every strictly-larger neighbor
  *    to min(neighborhood ∪ {u});
  *  - small-star: for each node u, connect every not-larger neighbor
  *    (and u) to the minimum of those.
  *
  * Scale notes: per-iteration checkpoint cuts the lineage (otherwise the
  * plan doubles each round — the classic iterative join blowup), and each
  * round's blocks are RELEASED as soon as the next round materializes
  * (see [[Checkpoints]]: unpersist() alone never frees localCheckpoint
  * storage). Convergence test is an aggregate on the edge delta, not a
  * collect. Per-round shuffle right-sizing is left to AQE partition
  * coalescing (small edge deltas collapse to a handful of reduce
  * partitions at runtime) instead of mutating the session's
  * shuffle-partitions conf, which raced concurrent queries on a shared
  * session. At 10^12 rows the same loop runs in reliable-checkpoint mode
  * (`spark.graft.checkpointDir`; Iceberg snapshots in production) so an
  * executor loss resumes instead of recomputing the round lattice.
  */
object ConnectedComponents {

  /** Binary node key for the local union-find kernel: value equality +
    * hashing over the bytes, unsigned lexicographic ordering — identical
    * to Spark's BinaryType comparison semantics, so both physical
    * strategies elect the same min roots.
    */
  final class BinKey(val bytes: Array[Byte])
      extends Comparable[BinKey] with Serializable {
    override def hashCode: Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: BinKey => java.util.Arrays.equals(bytes, k.bytes)
      case _         => false
    }
    def compareTo(o: BinKey): Int =
      java.util.Arrays.compareUnsigned(bytes, o.bytes)
  }

  /** Open-addressing long->dense-index union-find for the single-task
    * kernel: primitive arrays end-to-end (no per-node boxing — the
    * java.util.HashMap[Long,Long] predecessor spent most of its 2.4 s
    * at 1.5M edges on Long boxing and node re-hashing during path
    * halving). Roots are elected by MIN ORIGINAL ID, matching the
    * distributed star-loop's min-root contract, so the two physical
    * strategies stay interchangeable. Capacity doubles at 50% load.
    */
  private final class LongUnionFind(initialNodes: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(64, initialNodes * 4) - 1) << 1
    private var keys = new Array[Long](cap)
    private var slot = new Array[Int](cap) // 0 = empty, else denseIdx+1
    private var ids = new Array[Long](math.max(32, initialNodes))
    private var parent = new Array[Int](math.max(32, initialNodes))
    private var n = 0

    private def indexOf(k: Long): Int = {
      var h = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
      while (true) {
        val s = slot(h)
        if (s == 0) {
          if (n == ids.length) {
            ids = java.util.Arrays.copyOf(ids, n * 2)
            parent = java.util.Arrays.copyOf(parent, n * 2)
          }
          ids(n) = k; parent(n) = n; n += 1
          keys(h) = k; slot(h) = n
          if (n * 2 >= cap) grow()
          return n - 1
        }
        if (keys(h) == k) return s - 1
        h = (h + 1) & (cap - 1)
      }
      -1 // unreachable
    }

    private def grow(): Unit = {
      val oldKeys = keys; val oldSlot = slot
      cap <<= 1
      keys = new Array[Long](cap)
      slot = new Array[Int](cap)
      var i = 0
      while (i < oldSlot.length) {
        val s = oldSlot(i)
        if (s != 0) {
          val k = oldKeys(i)
          var h = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
          while (slot(h) != 0) h = (h + 1) & (cap - 1)
          keys(h) = k; slot(h) = s
        }
        i += 1
      }
    }

    private def root(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { // path halving
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }

    def union(a: Long, b: Long): Unit = {
      val ra = root(indexOf(a))
      val rb = root(indexOf(b))
      if (ra != rb) {
        // min original id becomes the root
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    /** (node, component-root) per distinct node, roots included. */
    def assignments: Iterator[(Long, Long)] = {
      val total = n
      var i = 0
      new Iterator[(Long, Long)] {
        def hasNext: Boolean = i < total
        def next(): (Long, Long) = {
          val r = (ids(i), ids(root(i))); i += 1; r
        }
      }
    }
  }

  /** Edge count at or below which the single-task union-find kernel is
    * chosen over the distributed loop (the CC analogue of Spark electing
    * a broadcast join from size stats): millions of (node, root) longs
    * fit one task's memory comfortably, and the distributed loop's ~12
    * shuffle stages per round are pure scheduling latency at that size —
    * measured as a flat ~7s floor at EVERY core count, the single biggest
    * scaling-efficiency killer in the dedup job. The verified-edge set is
    * ~O(duplicate pairs), orders of magnitude smaller than the input
    * table, so even multi-billion-row inputs often stay under this; past
    * it, the loop runs with per-round checkpoints.
    *
    * 8M (long keys): sized to the PRIMITIVE open-addressing kernel —
    * worst-case arrays at 16M distinct nodes are ~1 GiB, a fraction of
    * the 8 GiB/core executor heap this engine assumes, and the kernel
    * unions >10M edges/s. The original 2M bound was calibrated against
    * the boxed java.util.HashMap kernel this one replaced (which spent
    * ~2.4 s boxing at 1.5M edges); left at 2M it pushed the 6M-clip
    * probe's ~3.1M edges onto the distributed loop for a measured
    * 65-72 s of star rounds at 1 core vs single-digit seconds in one
    * task. Wide (128-bit binary) keys still use the boxed-map variant,
    * so their election stays at the 2M bound below.
    */
  val defaultLocalKernelMaxEdges = 8000000L

  /** Single-task election bound for the wide (128-bit binary) key
    * variant, whose kernel is a boxed java.util.HashMap: boxing costs
    * ~10x the primitive table per edge, so its break-even vs the
    * distributed loop sits where the original measurement put it.
    */
  val defaultLocalKernelMaxEdgesWide = 2000000L

  /** As [[run]], returning a [[Checkpoints.Cut]] the caller must
    * `release()` once its consumer is materialized.
    *
    * @param withAllNodes when false, the result covers only nodes that
    *        appear in an edge. Callers that left-join the assignment onto
    *        their full row universe (like [[assignClusters]]) don't need the
    *        extra edges-union-distinct + join that materializing isolated
    *        nodes would cost — at iterative-loop scale that is two whole
    *        shuffle stages of the input edge volume.
    * @param localKernelMaxEdges single-task union-find election bound.
    *        NOTE: for wide (128-bit binary) keys the effective bound is
    *        `min(localKernelMaxEdges, defaultLocalKernelMaxEdgesWide)` —
    *        the boxed-map kernel's break-even is lower, so an explicit
    *        value above 2M cannot opt a wide-key graph into the local
    *        kernel; it still takes the distributed loop.
    * @param edgesMaterialized set true when `edges` is already
    *        checkpointed/persisted (ClipDedup's stage parquet). When false
    *        (default), the input is lineage-cut ONCE here before the
    *        strategy election: the election's edge count is a full
    *        action, and without the cut both it and the elected strategy
    *        re-ran the caller's entire edge-producing DAG (candidate
    *        generation + verify) — measured as ~2x the whole query cost
    *        for the oracle CC queries, which hand raw un-materialized edge
    *        plans in.
    */
  def runCut(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIterations: Int = 50,
      withAllNodes: Boolean = true,
      localKernelMaxEdges: Long = defaultLocalKernelMaxEdges,
      resumeKey: Option[String] = None,
      edgesMaterialized: Boolean = false
  ): Checkpoints.Cut = {
    val inputCut: Option[Checkpoints.Cut] =
      if (edgesMaterialized) None else Some(Checkpoints.cut(edges))
    var transferred = false
    try {
      val input = inputCut.map(_.df).getOrElse(edges)
      val (result, ownsInput) = runCutOnEdges(spark, input, input.count(),
        srcCol, dstCol, maxIterations, withAllNodes, localKernelMaxEdges,
        resumeKey, inputCut)
      transferred = ownsInput
      result
    } finally if (!transferred) inputCut.foreach(_.release())
  }

  /** Cut assignments (id, cluster = component min id, or id itself) of
    * `ids` over the cut `edges`, whose release this takes over so the
    * small-graph kernel runs inside the assignments job. Returned with
    * the cluster count, observed as the rows whose cluster is their own
    * id, so ids must be unique.
    *
    * @param nEdges the edges' row count as the caller observed it on the
    *        cut's job, which elects the strategy without a counting job.
    *        An observed count can only over-count (a re-run task counts
    *        its rows twice), which can only elect the distributed loop
    *        or oversize the union-find: both are safe.
    */
  def assignClusters(spark: SparkSession, ids: DataFrame,
      edges: Checkpoints.Cut, nEdges: Long, srcCol: String,
      dstCol: String): (DataFrame, Long) = {
    // withAllNodes=false: the left join supplies the full id universe
    val (cc, ownsEdges) = runCutOnEdges(spark, edges.df, nEdges, srcCol,
      dstCol, maxIterations = 50, withAllNodes = false,
      defaultLocalKernelMaxEdges, resumeKey = None, inputOwner = Some(edges))
    // SHUFFLE_HASH: both sides are stat-less checkpoints and would plan
    // as a SortMergeJoin — at 3M rows that is two full sorts for a join a
    // hash build does sort-free
    val (assignments, nClusters) = Checkpoints.cutCounted(
      ids.join(cc.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("cluster")),
      col("cluster") === col("id"))
    cc.release()
    if (!ownsEdges) edges.release()
    (assignments.df, nClusters)
  }

  /** [[runCut]] body over edges whose plan is already materialized (every
    * full pass over them is a cheap block read, never a DAG re-run) and
    * whose row count is `edgeCount`. Returns (result, ownsInput):
    * ownsInput=true means the result is a LAZY plan over `inputOwner`'s
    * blocks and has taken over their release — the single-task
    * union-find is cheap enough that running it inside the consumer's
    * one action beats materializing it in an extra eager job, and
    * Cut.release() then frees the edge blocks.
    */
  private def runCutOnEdges(
      spark: SparkSession,
      edges: DataFrame,
      edgeCount: Long,
      srcCol: String,
      dstCol: String,
      maxIterations: Int,
      withAllNodes: Boolean,
      localKernelMaxEdges: Long,
      resumeKey: Option[String],
      inputOwner: Option[Checkpoints.Cut]
  ): (Checkpoints.Cut, Boolean) = {

    def orient(df: DataFrame): DataFrame =
      df.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))

    def canon(df: DataFrame): DataFrame = orient(df).distinct()

    // convergence: edge-set checksum unchanged between consecutive rounds
    // (one aggregate per round — far cheaper than except/except at
    // scale), observed on the round's own cut so it costs no job of its
    // own. bit_xor is safe: round outputs are distinct by construction
    // and xor cannot overflow under ANSI.
    def checksummedCut(df: DataFrame): (Checkpoints.Cut, (Long, Long)) = {
      val o = Observation()
      val c = Checkpoints.cut(df.observe(o, count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(src, dst))").as("x")))
      // an empty round leaves x null, or the whole observation empty
      // when the planner proves the round empty and skips the node
      val m = o.get
      def get(k: String) =
        m.get(k).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
      (c, (get("n"), get("x")))
    }

    // one large-star + small-star round (Kiveris et al. alternation).
    // The intermediate union is only ever consumed by min-aggregations,
    // so it is oriented but NOT distinct'ed — duplicate edges cannot
    // change a min, and the extra shuffle per round was pure overhead.
    def round(cur: DataFrame): DataFrame = {
      val nbrs = cur.select(col("src").as("u"), col("dst").as("v"))
        .union(cur.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
      val afterLarge = orient(large.union(cur))

      val nbrs2 = afterLarge.select(col("dst").as("u"), col("src").as("v"))
      val mins2 = nbrs2.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
      val small = nbrs2.join(mins2, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins2.select(col("u").as("src"), col("m").as("dst")))
      canon(small)
    }

    // node keys are LONG (64-bit hash / dense ids) or BINARY (the
    // 128-bit wide-id contract at 10^12 rows); every star-loop op below
    // (least/greatest/min/groupBy/xxhash64) is orderable-generic, so the
    // key kind only matters at the two cast sites and the local kernel
    val wideKeys = edges.schema(srcCol).dataType ==
      org.apache.spark.sql.types.BinaryType
    def key(c: Column): Column = if (wideKeys) c else c.cast("long")

    // ---- physical strategy election (stats-driven, like broadcast-join
    //      selection): small edge sets run a one-task union-find kernel;
    //      wide keys clamp to the boxed-map kernel's lower break-even ----
    val localMaxEdges =
      if (wideKeys) math.min(localKernelMaxEdges, defaultLocalKernelMaxEdgesWide)
      else localKernelMaxEdges
    if (edgeCount <= localMaxEdges) {
      import spark.implicits._
      val pairs = if (!wideKeys) {
        edges
          .select(col(srcCol).cast("long"), col(dstCol).cast("long"))
          .as[(Long, Long)]
          .coalesce(1)
          .mapPartitions { it =>
            val uf = new LongUnionFind(
              math.min(edgeCount * 2, Int.MaxValue / 4).toInt)
            it.foreach { case (a, b) => uf.union(a, b) }
            uf.assignments
          }
          .toDF("node", "component")
      } else {
        // binary-keyed variant: same union-find, keys wrapped for
        // value-equality hashing and unsigned lexicographic order (the
        // same order Spark's BinaryType comparisons use, so local and
        // distributed strategies elect identical min roots)
        edges
          .select(col(srcCol), col(dstCol))
          .as[(Array[Byte], Array[Byte])]
          .coalesce(1)
          .mapPartitions { it =>
            val parent = new java.util.HashMap[BinKey, BinKey]()
            def find(x0: BinKey): BinKey = {
              var x = x0
              var p = parent.getOrDefault(x, x)
              while (p != x) {
                val gp = parent.getOrDefault(p, p)
                parent.put(x, gp)
                x = gp
                p = parent.getOrDefault(x, x)
              }
              x
            }
            it.foreach { case (ab, bb) =>
              val a = new BinKey(ab)
              val b = new BinKey(bb)
              if (!parent.containsKey(a)) parent.put(a, a)
              if (!parent.containsKey(b)) parent.put(b, b)
              val ra = find(a)
              val rb = find(b)
              val c = ra.compareTo(rb)
              if (c < 0) parent.put(rb, ra)
              else if (c > 0) parent.put(ra, rb)
            }
            val out = Vector.newBuilder[(Array[Byte], Array[Byte])]
            parent.keySet().forEach(n => out += ((n.bytes, find(n).bytes)))
            out.result().iterator
          }
          .toDF("node", "component")
      }
      // covers every edge-touched node incl. roots (root -> itself), which
      // satisfies both withAllNodes contracts. When this call owns the
      // input cut, the kernel result stays LAZY (it runs inside the
      // consumer's action over the materialized edge blocks) and the
      // returned Cut adopts the input blocks' release.
      return inputOwner match {
        case Some(owner) => (Checkpoints.Cut(pairs, owner.rddIds), true)
        case None        => (Checkpoints.cut(pairs), false)
      }
    }

    // Mid-loop resume (reliable mode + resumeKey): each round's edge set
    // lands as parquet under <checkpointDir>/cc-<key>/round-N before the
    // loop advances; a driver restart with the same key seeds the loop
    // from the highest complete round instead of round 1 — a 10^12-row
    // CC that dies in round 7 of 9 replays 2 rounds, not 9. (Executor
    // loss WITHIN a run is already covered by the reliable checkpoint
    // itself; this covers whole-driver restarts.)
    val roundDir: Option[String] = resumeKey.flatMap(key =>
      spark.conf.getOption("spark.graft.checkpointDir")
        .map(d => s"$d/cc-$key"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def roundPath(i: Int) = s"${roundDir.get}/round-$i"
    def roundComplete(i: Int): Boolean = roundDir.isDefined &&
      fs.exists(new org.apache.hadoop.fs.Path(s"${roundPath(i)}/_SUCCESS"))

    // Round 1 consumes the input edges directly (lazily oriented: callers
    // hand a checkpointed edge table, and re-running a narrow orient per
    // read is cheaper than a dedicated distinct+materialize init pass).
    // Duplicate input edges are harmless to the round's min-aggregations;
    // the first checksum lands after round 1.
    var e: Checkpoints.Cut = null
    var prevChecksum: Option[(Long, Long)] = None
    var iteration = 0
    if (roundDir.isDefined) {
      while (roundComplete(iteration + 1)) iteration += 1
      if (iteration > 0) {
        val (resumed, sum) =
          checksummedCut(spark.read.parquet(roundPath(iteration)))
        e = resumed
        prevChecksum = Some(sum)
      }
    }
    var converged = false
    while (!converged && iteration < maxIterations) {
      // one materialized round per convergence check: `round` reads its
      // input several times (nbrs both directions, the large-star union),
      // so composing rounds without a checkpoint re-executes the inner
      // subtree multiple times — measured 5-10x slower than checkpointing
      // every round
      val cur = if (e == null)
        orient(edges.select(key(col(srcCol)).as("src"),
          key(col(dstCol)).as("dst")))
      else e.df
      val (next, nextChecksum) = checksummedCut(round(cur))
      converged = prevChecksum.contains(nextChecksum)
      prevChecksum = Some(nextChecksum)
      if (e != null) e.release()
      e = next
      iteration += 1
      if (roundDir.isDefined && !roundComplete(iteration))
        next.df.write.mode("overwrite").parquet(roundPath(iteration))
    }

    // components: every node points at its root (min of its final star);
    // roots point at themselves
    val assign = e.df.select(col("dst").as("node"), col("src").as("component"))
      .groupBy("node").agg(min("component").as("component"))
    val result =
      if (withAllNodes) {
        val nodes = edges.select(key(col(srcCol)).as("node"))
          .union(edges.select(key(col(dstCol)).as("node"))).distinct()
        nodes.join(assign, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("component"), col("node")).as("component"))
      } else assign
    val out = Checkpoints.cut(result)
    e.release()
    (out, false)
  }

  /** @param edges two long columns (src, dst); self-loops/duplicates ok.
    * @return (node, component) with component = min node id reachable.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIterations: Int = 50
  ): DataFrame =
    runCut(spark, edges, srcCol, dstCol, maxIterations).df
}
