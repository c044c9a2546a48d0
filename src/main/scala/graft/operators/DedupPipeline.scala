package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{FastHash, Kernels}
import graft.kernel.{Alphabet, SearchParameters, Weights}
import graft.spark.Checkpoints.{countedOrZero, observeCount}

/** Configuration of the near-duplicate pipeline — the fixed
  * "shingle/signature config" (BASELINE.json): holding these constant is
  * what makes cluster assignments comparable with the reference-semantics
  * matcher.
  *
  * @param shingleN      char n-gram order over the normalized text
  * @param minhashK      signature length (bands * rowsPerBand)
  * @param bands         LSH bands (more bands = higher recall, more candidates)
  * @param rowsPerBand   rows per band
  * @param bucketCap     hot-band cap: buckets larger than this are dropped
  *                      from pairing (documented recall accounting; count
  *                      surfaces in the metrics table)
  * @param simhashMaxHamming extra near-exact candidate path: pairs whose
  *                      simhash-64 differ in at most this many bits
  * @param scoreThreshold verification: minimum analiticcl similarity score
  * @param maxEditDistance verification: max DL (absolute, per SearchParameters
  *                      semantics the threshold also clamps to len/2)
  */
final case class DedupConfig(
    shingleN: Int = 3,
    minhashK: Int = 128,
    // 42 bands x 3 rows (uses 126 of the 128 signature values): short
    // texts (audio transcripts) have few shingles, so a 1-2 edit dup can
    // sit at Jaccard ~0.5-0.6; 3-row bands catch J=0.5 w.p. 0.996 and
    // J=0.6 w.p. 0.9999 while keeping the false-candidate rate on
    // low-entropy corpora ~5x below 2-row bands. False candidates cost
    // capped verification work; missed candidates cost recall.
    bands: Int = 42,
    rowsPerBand: Int = 3,
    bucketCap: Int = 64,
    simhashBands: Int = 4,
    scoreThreshold: Double = 0.7,
    maxEditDistance: Int = 3,
    weights: Weights = Weights(),
    /** substring-containment pass: docs whose normalized text is a strict
      * substring of another's are dups even when the length gap defeats
      * both LSH (low Jaccard) and the DL verify (distance > max). 0 = off
      * (containment dups are a different dup class than the reference's
      * variant matching, so the parity pipeline keeps this disabled);
      * at >0 only probes with at least this many normalized chars join
      * (ultra-short strings are substrings of everything).
      */
    substringMinLen: Int = 0,
    /** containment pass: max probes collected per host for the grouped
      * verification call — bounds the per-row struct array (executor
      * memory) the same way bucketCap bounds bucket fanout. Deterministic:
      * the lowest-id probes win; drops only occur on pathological hosts
      * and are the same recall-accounting trade as the bucket cap.
      */
    hostProbeCap: Int = 4096
) {
  require(bands * rowsPerBand <= minhashK,
    "bands * rowsPerBand must not exceed minhashK")
  // a containment probe shorter than one shingle gets a whole-string
  // pseudo-shingle (FastHash.shingleHashes) that can never equal any
  // host n-shingle — pairs would be silently missed
  require(substringMinLen == 0 || substringMinLen >= shingleN,
    s"substringMinLen ($substringMinLen) must be 0 (off) or >= shingleN ($shingleN)")
}

/** Per-stage counters of one [[DedupPipeline.run]] pass, each collected by
  * `Dataset.observe` on a job the pass runs anyway. Like any accumulator,
  * a count can include a stage's rows twice if that stage is re-run after
  * a lost executor.
  */
final case class DedupMetrics(
    nRows: Long,
    nExactGroups: Long,
    nCandidatePairs: Long,
    nDroppedBuckets: Long,
    nVerifiedEdges: Long,
    nClusters: Long
)

/** The web-scale near-duplicate detection + clustering pipeline
  * (SURVEY.md §7): MinHash-LSH + SimHash candidate generation over
  * alphabet-normalized text, analiticcl-kernel verification, iterative
  * DataFrame connected components.
  *
  * Stage layout and shuffle budget (at N input rows):
  *   1. sketch: narrow map (one text pass per row; no shuffle)
  *   2. exact-dup fast path: 1 shuffle (groupBy text hash)
  *   3. LSH candidates: 1 shuffle (groupBy band key), capped buckets,
  *      in-row pair expansion — no self-join, no second signature pass
  *   4. simhash candidates: 1 shuffle (groupBy simhash band)
  *   5. verify: 1 shuffle (join pair ids back to text), then narrow
  *      kernel filter — the only non-codegen stage, run on the small
  *      candidate set, never on the N-row table
  *   6. connected components: O(log n) rounds over verified edges only
  *
  * Candidate generation never compares texts; verification never sees
  * more than the candidate pairs. This is the structure that holds at
  * 10^12 rows: every stage is a bounded-fanout shuffle on a synthetic
  * key, and the only quadratic danger (bucket blowup) is capped and
  * accounted.
  */
object DedupPipeline {

  /** Upper bound on text rows per verify-join hash build (~100-200 MB of
    * (id, norm, lc) rows at typical transcript lengths): a ShuffledHashJoin
    * build is non-spillable, so this — not the core count — must size the
    * verify partitioning. Memory-derived; NOT a parallelism tunable.
    */
  val verifyBuildRows: Long = 500000L

  /** Normalized text column used for sketching: the alphabet-normalized
    * form rendered to a compact string (one char per class index) so
    * shingle identity == normalized-class n-gram identity — exactly the
    * reference's alphabet semantics.
    */
  def normColumn(K: Kernels): Column => Column = K.normKey

  /** Run the full pipeline.
    *
    * @param df    input with an id column (long or 128-bit binary) and a
    *              text column. Ids must be unique: `nClusters` counts the
    *              assignment rows whose cluster is their own id, so a
    *              duplicated id would count once per copy.
    * @return (assignments DataFrame(id, cluster), metrics)
    *         cluster = min id of the connected component.
    */
  def run(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      cfg: DedupConfig = DedupConfig(),
      alphabet: Alphabet = Alphabet.test
  ): (DataFrame, DedupMetrics) = {
    val K = new Kernels(alphabet)
    // every metric is a Dataset.observe counter on a plan this pass runs
    // anyway (the eager cuts, the hot-key count agg, the candidate
    // dedup), filled by that plan's own job: no metric costs a job of its
    // own (except nDroppedBuckets on inputs without candidate buckets)
    val Seq(rowsObs, groupsObs, droppedObs, candObs, edgesObs, clustersObs) =
      Seq.fill(6)(Observation())
    // phase wall-times to stderr when SPARK_GRAFT_STAGE_TIMING is set —
    // the strong-scaling diagnosis tool (which phase is the serial floor?)
    val timing = sys.env.contains("SPARK_GRAFT_STAGE_TIMING")
    var tMark = System.nanoTime()
    def mark(phase: String): Unit = if (timing) {
      val now = System.nanoTime()
      System.err.println(f"[dedup-phase] $phase ${(now - tMark) / 1e9}%.2fs")
      tMark = now
    }

    // ---- 1a. normalize (one narrow pass over all rows) ----
    // id keying is type-agnostic downstream (every stage uses generic
    // orderable/groupable column ops): LONG ids for the 64-bit path,
    // BINARY (128-bit) ids pass through untouched for the 10^12-row
    // contract — and then the exact-group key nh widens too (64-bit nh
    // at 10^12 distinct norms expects ~10^4 birthday collisions, each a
    // silent false exact-merge).
    val wide = df.schema(idCol).dataType ==
      org.apache.spark.sql.types.BinaryType
    val idExpr = if (wide) col(idCol) else col(idCol).cast("long")
    val nhExpr: Column => Column =
      if (wide) n => unhex(md5(n)) else n => xxhash64(n)
    // the checkpointed row universe carries (id, norm, nh, lc) — NOT the
    // raw text: norm is what every downstream stage consumes, and lc
    // (first-codepoint case class) is the only other fact the verify
    // kernel needs from the original text, so dropping text here shrinks
    // the materialized universe and the sketch shuffle by the full text
    // payload per row
    val rowsCut = graft.spark.Checkpoints.cut(observeCount(
      df.select(idExpr.as("id"),
        col(textCol).cast("string").as("text"))
        .withColumn("norm", K.normKey(col("text")))
        .withColumn("nh", nhExpr(col("norm")))
        .withColumn("lc", K.caseClass(col("text")))
        .drop("text"), Some(rowsObs)))
    val rows = rowsCut.df // read twice: exact stage + rep election
    // filled by the eager cut above; sizes the verify-join partitioning
    // below (memory-derived, see verifyParts)
    val nRows = countedOrZero(rowsObs)

    // ---- 2. exact duplicates (hash group; no verification needed) ----
    val exactEdges = exactStarEdges(rows)

    // ---- 1b. sketch DISTINCT norms only (see [[sketchBase]]) ----
    val baseCut = graft.spark.Checkpoints.cut(
      sketchBase(rows, cfg, K, exactGroups = Some(groupsObs)))
    val base = baseCut.df // sketches reused by three candidate paths
    mark("sketch")

    // ---- 3+4+4b. candidate generation (shared with ClipDedup — see
    //      [[candidatePairs]]) ----
    val allPairs = candidatePairs(base, cfg, dropped = Some(droppedObs))

    // ---- 4c. substring-containment pass (see [[containmentEdges]]) ----
    val substringEdges: Option[DataFrame] =
      if (cfg.substringMinLen > 0) Some(containmentEdges(base, cfg)) else None

    // the cross-path dedup is keyed by a ONLY: hashpartitioning(a)
    // satisfies both the (a, b) dedup clustering and verifyPairs' first
    // join distribution, so the dedup exchange and the join-on-a
    // exchange collapse into one (plan: 8 -> 7 Exchanges). The raw
    // stream it shuffles is only ~1.2x the distinct volume (6.21M vs
    // 5.09M at the 3M-clip bench — the length prefilter and capped
    // buckets keep multiplicity low, and map-side partial-distinct
    // could not collapse cross-bucket copies anyway, they live in
    // different partitions). Measured min-of-reps: -8% on the
    // distinct+verify segment at both 1 and 32 cores (OPTIMIZATION_r06.md,
    // exp 3).
    //
    // The partition COUNT is memory-derived, not the session default
    // (guide §2.2: size partitions by bytes, and §3.1: a shuffled-hash
    // build must fit per task): see [[CappedPairs.verifyParts]].
    val verifyParts = CappedPairs.verifyParts(spark, nRows, verifyBuildRows)
    // counted in flight, not cut: a checkpoint here would split the
    // fused dedup + verify-join exchange
    val candidates = observeCount(allPairs.repartition(verifyParts, col("a"))
      .dropDuplicates("a", "b"), Some(candObs))

    // ---- 5. verification (see [[verifyPairs]]) ----
    val verifiedEdges = verifyPairs(candidates, base, cfg, K,
      numParts = Some(verifyParts))

    // always checkpoint edges: CC iterates over them
    val allEdgesCut = graft.spark.Checkpoints.cut(observeCount(substringEdges
      .foldLeft(verifiedEdges.union(exactEdges))(_ union _), Some(edgesObs)))
    val allEdges = allEdgesCut.df
    mark("candidates+verify")
    val nDroppedBuckets = CappedPairs.droppedBuckets(droppedObs,
      candidateKeys(base, cfg), cfg.bucketCap)

    // ---- 6. clustering ----
    // withAllNodes=false: the left-join below supplies the full row
    // universe, so CC skips materializing isolated nodes (roots absent
    // from the assignment resolve to themselves via the coalesce)
    val cc = ConnectedComponents.runCut(spark, allEdges,
      withAllNodes = false, edgesMaterialized = true)
    mark("cc")
    // materialize the result, then free EVERY intermediate checkpoint:
    // iterative pipelines that leak block-manager storage degrade the
    // session they run in (unpersist() alone never frees localCheckpoint
    // blocks — see Checkpoints)
    // SHUFFLE_HASH: both sides are stat-less checkpoints and planned
    // as a SortMergeJoin — at 3M rows that is two full sorts for a join
    // a hash build does sort-free.
    // nClusters: cluster is the component's min id, so exactly one row
    // per cluster has cluster = id (given unique ids)
    val assignments = graft.spark.Checkpoints.cut(observeCount(
      rows.select(col("id"))
        .join(cc.df.withColumnRenamed("node", "id").hint("SHUFFLE_HASH"),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("cluster")),
      Some(clustersObs), col("cluster") === col("id"))).df
    rowsCut.release()
    baseCut.release()
    allEdgesCut.release()
    cc.release()
    mark("finalize")

    // every other observed node runs unless its input is empty (the
    // candidate dedup sits in a join skipped only when no pairs exist)
    (assignments,
      DedupMetrics(nRows, countedOrZero(groupsObs), countedOrZero(candObs),
        nDroppedBuckets, countedOrZero(edgesObs),
        countedOrZero(clustersObs)))
  }

  // ------------------------------------------------------------------
  // Shared stage builders (used by both run() and the checkpointed
  // ClipDedup job — one implementation, one plan shape).
  // ------------------------------------------------------------------

  /** Normalize + sketch DISTINCT norms only. Web-scale corpora are
    * dominated by exact duplicates; collapsing them before candidate
    * generation (representative = min id = the exact-group root, so the
    * edge sets compose) keeps every LSH bucket bounded by the number of
    * DISTINCT texts sharing a band — identical texts can never pile into
    * one bucket — and runs the sketch UDF once per distinct text instead
    * of once per row. Input: (id, norm, nh, lc) rows — the case class is
    * computed per ROW before this group-by so the shuffle carries a
    * 1-byte lc instead of the full text payload (caseClass reads only
    * the first codepoint; the min-id representative's lc is the same
    * either way because the struct min short-circuits at the unique id).
    * Output base: (id, norm, lc, len, sim, bands, anakey).
    *
    * @param exactGroups observation that counts the exact-duplicate
    *        groups (norm hashes shared by more than one row) while the
    *        group-by runs
    */
  def sketchBase(rows: DataFrame, cfg: DedupConfig, K: Kernels,
      exactGroups: Option[Observation] = None): DataFrame =
    observeCount(rows
      .groupBy("nh")
      .agg(min(struct(col("id"), col("norm"), col("lc"))).as("r"),
        count(lit(1)).as("m")), exactGroups, col("m") > 1)
      .select(col("r.id").as("id"), col("r.norm").as("norm"),
        col("r.lc").as("lc"))
      .withColumn("sk", FastHash.sketchFull(col("norm"), cfg.shingleN,
        cfg.minhashK, cfg.bands, cfg.rowsPerBand))
      .select(col("id"), col("norm"), col("lc"),
        length(col("norm")).as("len"),
        col("sk._1").as("sim"), col("sk._2").as("bands"),
        col("sk._3").as("anakey"))

  /** Exact duplicates: window-min star edges, not collect_list — a
    * pathological million-copy text must not materialize a
    * million-element array in one row. Input needs (id, nh).
    */
  def exactStarEdges(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wh = Window.partitionBy("nh")
    rows
      .select(col("id"), col("nh"))
      .withColumn("root", min("id").over(wh))
      .filter(col("id") =!= col("root"))
      .select(col("root").as("src"), col("id").as("dst"))
  }

  /** ONE keyed union drives all three candidate paths — MinHash-LSH
    * bands, SimHash pigeonhole chunks (Hamming <= simhashBands-1 pairs
    * share >= 1 exact chunk), and the anagram-equality key (same
    * character bag: the reference's exact-anagram probe,
    * lib.rs:1158-1174, catching pure transpositions shingle LSH can
    * miss). All keys are mixed 64-bit values (cross-path collisions ~
    * n^2/2^64 and only ever ADD a to-be-verified candidate), so one
    * count agg + one hot-key broadcast + one bucket pass replace three
    * of each — a third of the per-stage driver latency, same pairs.
    *
    * The three families are emitted by ONE fused explode over the
    * concatenated key arrays, not a 3-branch union: the union scanned
    * the sketched base three times (3x the task count, three passes
    * over the checkpoint blocks) per consumer — and this plan is
    * consumed twice (hot-key count-agg, bucket pass). Same (id, len, k)
    * multiset, measured 10-18% off the two candidate passes
    * (OPTIMIZATION_r06.md, same-JVM A/B, 1.2M-cluster base: 1 core
    * 62.8 -> 51.6s, 32 cores 3.6 -> 3.3s, pair count bit-identical at
    * 5,089,778).
    */
  def candidateKeys(base: DataFrame, cfg: DedupConfig): DataFrame = {
    val chunkBits = 64 / cfg.simhashBands
    base.select(col("id"), col("len"),
      explode(concat(
        col("bands"),
        array((0 until cfg.simhashBands).map { b =>
          xxhash64(lit(b), shiftright(col("sim"), b * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)))
        }: _*),
        array(col("anakey")))).as("k"))
  }

  /** Bucket -> pair expansion. Three scale facts shape this:
    *  1. almost every bucket key is a SINGLETON (one row), so the first
    *     pass is a pure `count` aggregation — whole-stage-codegen'd,
    *     map-side partial — never a collect_list over the full volume
    *     (ObjectHashAggregate falls back to SORT-based aggregation at
    *     128 distinct keys per partition, i.e. collect_list over 60M
    *     keys degenerates to a full sort of the band rows);
    *  2. the surviving hot-key set (2..cap rows) is small — broadcast
    *     it and filter the band rows MAP-SIDE, so the only full-volume
    *     shuffle is the count agg;
    *  3. pairs are LENGTH-PREFILTERED (a DL <= maxEditDistance verify
    *     needs |lenA-lenB| <= maxEditDistance — measured 170x
    *     over-generation without it) before the cross-path distinct, so
    *     the kernel scores each surviving pair exactly once no matter
    *     how many bands it collided in.
    *
    * @param dropped observation that counts the buckets over the cap
    *        (the documented recall loss) on the count aggregation
    */
  def pairsFromKeys(keyed: DataFrame, cfg: DedupConfig,
      dropped: Option[Observation] = None): DataFrame = {
    val hot = CappedPairs.hotKeys(keyed, cfg.bucketCap, dropped)
    keyed.join(broadcast(hot), Seq("k"))
      .groupBy("k")
      .agg(sort_array(collect_list(struct(col("id"), col("len")))).as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id") &&
        abs(col("a.len") - col("b.len")) <= cfg.maxEditDistance)
      .select(col("a.id").as("a"), col("b.id").as("b"))
  }

  /** Candidate pairs from a sketched base — all three paths, one pass. */
  def candidatePairs(base: DataFrame, cfg: DedupConfig,
      dropped: Option[Observation] = None): DataFrame =
    pairsFromKeys(candidateKeys(base, cfg), cfg, dropped)

  /** Per-host containment verification: one pass decides ALL of a host's
    * candidate probes. When the anchor join has funneled enough probes
    * onto a long host, build the host's suffix array once and binary-
    * search each probe (O(build + Σ|probe|·log|host|)); below the
    * crossover a direct scan per probe is cheaper. Returns the matched
    * probe ids.
    */
  private val verifyProbesInHost =
    udf { (host: String, norms: Seq[String]) =>
      // returns the 0-based POSITIONS of the matched probes, so the id
      // column's type (long or 128-bit binary) never enters the kernel.
      // SuffixArrays.build requires length < 2^20 (int-packed rank
      // pairs); a single pathological host must fall back to the direct
      // scan, not crash the stage
      if (norms.length >= 4 && host.length >= 64 &&
          host.length < graft.kernel.SuffixArrays.MaxLength) {
        val sa = graft.kernel.SuffixArrays.build(host)
        norms.zipWithIndex.collect {
          case (n, i) if graft.kernel.SuffixArrays.containsSub(host, sa, n) => i
        }
      } else norms.zipWithIndex.collect {
        case (n, i) if host.contains(n) => i
      }
    }

  /** Substring-containment pass (the suffix-array pass, anchored
    * Spark-native): if norm(A) ⊆ norm(B) then every shingle of A is a
    * shingle of B, so anchoring A on its MINIMUM shingle hash and
    * exploding B by ALL its distinct shingle hashes meets every
    * containment pair on an equi-join key — no cross join; host fanout
    * is bounded by the normalized length (short transcripts).
    * Verification is exact and grouped per host: each host verifies all
    * its probes in one kernel call ([[verifyProbesInHost]] — suffix
    * array past the cost crossover, direct scan below it), so these
    * become edges directly, bypassing the DL kernel which would reject
    * large length gaps. The per-host group is bounded twice: a host meets
    * at most bucketCap probes per distinct shingle at the join, and the
    * collected verification list is capped at hostProbeCap rows (a host
    * whose shingles anchor pathologically many probes must not
    * materialize an unbounded struct array in one row at 10^12-row
    * scale; the cap keeps the deterministic lowest-id probes and is the
    * same documented recall-accounting trade as the bucket cap).
    */
  def containmentEdges(base: DataFrame, cfg: DedupConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = base
      .filter(length(col("norm")) >= cfg.substringMinLen)
      .select(col("id").as("a"), col("norm").as("anorm"),
        length(col("norm")).as("alen"),
        FastHash.minShingleHash(col("norm"), cfg.shingleN).as("akey"))
    val whost = Window.partitionBy("akey")
    val hosts = base
      .select(col("id").as("b"), col("norm").as("bnorm"),
        length(col("norm")).as("blen"),
        explode(FastHash.shingleHashSet(col("norm"), cfg.shingleN)).as("akey"))
      .withColumn("bucket_n", count(lit(1)).over(whost))
      .filter(col("bucket_n") <= cfg.bucketCap)
      .drop("bucket_n")
    val wprobe = Window.partitionBy("b").orderBy(col("a"))
    probes.join(hosts, Seq("akey"))
      .filter(col("alen") < col("blen"))
      // the cap counts DISTINCT probes by construction: each probe row
      // carries exactly ONE akey (its min shingle) and the host side
      // explodes a DISTINCT shingle set, so a given (a, b) pair can meet
      // on at most one join row — no dedup needed before the cap
      .withColumn("pn", row_number().over(wprobe))
      .filter(col("pn") <= cfg.hostProbeCap)
      .groupBy(col("b"), col("bnorm"))
      .agg(collect_list(struct(col("a"), col("anorm"))).as("ps"))
      .select(col("b"), col("ps"),
        explode(verifyProbesInHost(col("bnorm"),
          transform(col("ps"), _.getField("anorm")))).as("i"))
      .select(col("b"),
        element_at(col("ps"), col("i") + 1).getField("a").as("a"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .distinct()
  }

  /** Verification: analiticcl kernel, each distinct pair DECIDED once on
    * PRECOMPUTED norms (features once per pair, both direction
    * normalizations, max, compared to the threshold). The filter is
    * [[Kernels.pairAccept]], the native codegen PairAccept expression in
    * any session: the verify decision runs inside the stage's generated
    * method (no per-pair UDF converter boundary on the pipeline's largest
    * 1-core phase) AND skips the exact-LCS DP whenever the prefix/suffix
    * lower bound or the minLen upper bound already decides the score
    * against the threshold (most pairs — see
    * [[graft.functions.KernelExprs.pairAccept]]). Norms arrive by
    * SHUFFLE-HASH joins (hinted): no sort of the candidate stream
    * (sort-merge measured 2-3x slower) and no single-threaded driver
    * broadcast build (at 1.5M reps a broadcast serialized the whole
    * stage). The FIRST join builds the CANDIDATES side (16-byte pair
    * rows, ~300 MB at the 3M-clip bench) and streams the texts; only
    * the second builds a texts relation. Building texts on BOTH joins
    * OOM'd the 1-core 8 GiB bench child once the a-keyed dedup (change
    * 13) fused the dedup hash-agg and join 1 into one stage: two
    * non-spillable ~1-2 GiB text hash relations plus the agg map
    * co-resided in a single task ("Can't acquire 1073741824 bytes to
    * build hash relation"). With the pair side built, the two large
    * structures live in different stages, the per-task non-spillable
    * peak drops severalfold, and join 1 probes 3M text rows against a
    * small hash instead of 5M pairs against a large one. Results are
    * identical: inner equi-joins — the build side is a physical choice.
    */
  def verifyPairs(candidates: DataFrame, base: DataFrame,
      cfg: DedupConfig, K: Kernels,
      numParts: Option[Int] = None): DataFrame = {
    val texts0 = base.select(col("id"), col("norm"), col("lc"))
    val textsA = texts0.select(col("id").as("a"), col("norm").as("na"),
      col("lc").as("lca"))
    val textsB = texts0.select(col("id").as("b"), col("norm").as("nb"),
      col("lc").as("lcb"))
    val j1 = candidates.hint("SHUFFLE_HASH").join(textsA, Seq("a"))
    // align join 2's exchange to the same memory-derived partition count
    // (the session default is core-count-sized and puts the whole textsB
    // build in one task at low parallelism); the repartition IS join 2's
    // left-side exchange, not an extra one
    val j1p = numParts.fold(j1)(p => j1.repartition(p, col("b")))
    j1p.join(textsB.hint("SHUFFLE_HASH"), Seq("b"))
      .filter(K.pairAccept(col("na"), col("nb"), col("lca"), col("lcb"),
        cfg.maxEditDistance, cfg.scoreThreshold, cfg.weights))
      .select(col("a").as("src"), col("b").as("dst"))
  }
}
