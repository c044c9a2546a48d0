package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{FastHash, Kernels}
import graft.kernel.{Alphabet, SearchParameters, Weights}
import graft.spark.Checkpoints
import graft.spark.Checkpoints.countedOrZero

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
  * (SURVEY.md §7): MinHash-LSH + SimHash + anagram candidate generation
  * over alphabet-normalized text, analiticcl-kernel verification,
  * connected components — the candidate → verify → cluster pass every
  * dedup operator shares ([[CappedPairs.verified]],
  * [[ConnectedComponents.assignClusters]]).
  *
  * The jobs of one pass, in order (12 at local[4] on the dedup_near
  * input; the cuts are eager, and adaptive execution runs the map side
  * of each exchange as a job of its own):
  *   1. front cut, map side: normalize each row (one text pass) to
  *      (id, norm, nh, lc), exchanged on nh
  *   2. front cut ([[rooted]]): a window on nh roots each row at its
  *      exact group's min id and the roots are sketched; materializes
  *      the rows, the sketch base and the exact-star edges in one cut,
  *      observes nRows and nExactGroups
  *   3. candidate keys: ONE fused explode of the band, simhash-chunk and
  *      anagram keys ([[candidateKeys]]), exchanged on the key for the
  *      count agg
  *   4. hot-key broadcast: the keys with 2..cap rows, observes
  *      nDroppedBuckets
  *   5. bucket collect: the keys joined to the hot keys, exchanged on the
  *      key
  *   6. verify join 1's text side: the base's (id, norm, lc), exchanged
  *      on a (join 2's text side reuses this exchange)
  *   7. candidate pairs, expanded in-row from each capped bucket (no
  *      self-join) and length-prefiltered, exchanged on a: the pair
  *      dedup's exchange doubles as join 1's
  *   8. the dedup and join 1, exchanged on b for join 2; observes
  *      nCandidatePairs
  *   9. edge cut: join 2 and the native pair_accept filter (the kernel
  *      only ever sees candidate pairs, never the N-row table), unioned
  *      with the exact-star edges read off the front cut and the
  *      containment edges when that pass is on; observes nVerifiedEdges
  *   10-12. clustering ([[ConnectedComponents.assignClusters]]): the row
  *      ids and the union-find's (node, component) rows, each exchanged
  *      on id, then the left-join cut; observes nClusters
  * At one partition the exchanges of jobs 1 and 8 and one of 10-11 are
  * already satisfied and skipped: 9 jobs. The containment pass, when
  * on, adds the jobs of its own exchanges.
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
    val frontObs = Observation()

    // ---- 1. normalize, root and sketch: the one front cut ----
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
    // rows carry (id, norm, nh, lc) — NOT the raw text: norm is what
    // every downstream stage consumes, and lc (first-codepoint case
    // class) is the only other fact the verify kernel needs from the
    // original text, so dropping text here keeps the full text payload
    // out of the nh exchange. nRows sizes the verify joins (verifyParts).
    val frontCut = Checkpoints.cut(rooted(
      df.select(idExpr.as("id"), col(textCol).cast("string").as("text"))
        .withColumn("norm", K.normKey(col("text")))
        .withColumn("nh", nhExpr(col("norm")))
        .withColumn("lc", K.caseClass(col("text")))
        .drop("text"), cfg, frontObs))
    val nRows = countedOrZero(frontObs)
    val front = frontCut.df
    // the sketch base: read by candidates, verify and containment
    val base = front.filter(isRoot).drop("root")

    // ---- 2+3+4. capped candidates -> a-keyed dedup -> verify ----
    val v = CappedPairs.verified(spark, candidateKeys(base, cfg),
      texts(base), nRows, verifyBuildRows, cfg.bucketCap, "accepted",
      accepted(cfg, K), identity, keep = lengthFilter(cfg))

    // ---- 5. one observed edge cut (CC iterates over it): verified,
    //      exact-star and containment edges ----
    val stars = front.filter(!isRoot)
      .select(col("root").as("src"), col("id").as("dst"))
    val (edgesCut, nEdges) = Checkpoints.cutCounted(
      (Seq(srcDst(v.edges), stars) ++
        Option.when(cfg.substringMinLen > 0)(containmentEdges(base, cfg)))
        .reduce(_ union _))

    // ---- 6. clustering; frees the edge cut ----
    val (assignments, nClusters) = ConnectedComponents.assignClusters(
      spark, front.select(col("id")), edgesCut, nEdges, "src", "dst")
    val m = DedupMetrics(nRows, countedOrZero(frontObs, "groups"),
      v.candidatePairs, v.droppedBuckets, nEdges, nClusters)
    // free every intermediate checkpoint: iterative pipelines that leak
    // block-manager storage degrade the session they run in
    // (unpersist() alone never frees localCheckpoint blocks — see
    // Checkpoints)
    frontCut.release()
    (assignments, m)
  }

  /** A front-cut row that is its exact group's root. */
  private val isRoot: Column = col("id") === col("root")

  /** The pass's front cut: (id, norm, nh, lc) rows windowed on their norm
    * hash, each with `root`, the min id of its exact-duplicate group. A
    * root row carries the sketch base's columns (id, norm, lc, len, sim,
    * bands, anakey), the same as [[sketchBase]] elects by its struct min
    * (ids are unique, so the min struct is the min-id row). A non-root
    * row keeps only (id, root): its payload is null, so the cut holds no
    * duplicate norm and the sketch UDF runs once per group. One nh
    * exchange thus serves the sketch base (`id === root`), the
    * exact-star edges (`root -> id` elsewhere, the same edges as
    * [[exactStarEdges]]) and the row universe. `counts` observes the rows
    * ("n") and the exact-duplicate groups ("groups") on the cut's job.
    */
  private def rooted(rows: DataFrame, cfg: DedupConfig,
      counts: Observation): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("nh")
    sketched(rows
      .select(col("*"), min("id").over(w).as("root"),
        count(lit(1)).over(w).as("m"))
      .observe(counts, count(lit(1)).as("n"),
        count(when(isRoot && col("m") > 1, 1)).as("groups"))
      .select(col("id"), col("root"), when(isRoot, col("norm")).as("norm"),
        when(isRoot, col("lc")).as("lc")), cfg)
  }

  // ------------------------------------------------------------------
  // Public stage builders, shared with the checkpointed ClipDedup job
  // (sketchBase and exactStarEdges are the split form of run()'s front
  // cut).
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
    * run() builds the same base from its front cut ([[rooted]]), which
    * also serves the exact-star edges. This split form stays for
    * ClipDedup's sketches stage, whose stage-byte pins depend on its
    * plan, and for perfbench's traced decomposition of the pass; it goes
    * with them (ROADMAP D2, D3).
    */
  def sketchBase(rows: DataFrame, cfg: DedupConfig, K: Kernels): DataFrame =
    rows
      .groupBy("nh")
      .agg(min(struct(col("id"), col("norm"), col("lc"))).as("r"))
      .select(col("r.id").as("id"), col("r.norm").as("norm"),
        col("r.lc").as("lc"))
      .transform(sketched(_, cfg))

  /** `df` plus the sketch of its `norm` column: (len, sim, bands,
    * anakey), all null where norm is.
    */
  private def sketched(df: DataFrame, cfg: DedupConfig): DataFrame =
    df.withColumn("sk", FastHash.sketchFull(col("norm"), cfg.shingleN,
        cfg.minhashK, cfg.bands, cfg.rowsPerBand))
      .select(df.columns.map(col) ++ Seq(length(col("norm")).as("len"),
        col("sk._1").as("sim"), col("sk._2").as("bands"),
        col("sk._3").as("anakey")): _*)

  /** Exact duplicates: window-min star edges, not collect_list — a
    * pathological million-copy text must not materialize a
    * million-element array in one row. Input needs (id, nh).
    *
    * run() reads these edges off its front cut ([[rooted]]); this form
    * stays for ClipDedup's edges stage and perfbench's traced
    * decomposition, like [[sketchBase]].
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

  /** Candidate pairs from a sketched base — all three key families, one
    * capped expansion ([[CappedPairs.expand]]), LENGTH-PREFILTERED and
    * not deduplicated.
    *
    * @param dropped observation that counts the buckets over the cap
    *        (the documented recall loss) on the count aggregation
    */
  def candidatePairs(base: DataFrame, cfg: DedupConfig,
      dropped: Option[Observation] = None): DataFrame =
    CappedPairs.expand(candidateKeys(base, cfg), cfg.bucketCap, dropped,
      lengthFilter(cfg))

  /** The text pair filter inside the candidate expansion: a DL <=
    * maxEditDistance verify needs |lenA-lenB| <= maxEditDistance
    * (measured 170x over-generation without it), so such pairs never
    * reach the cross-path dedup and the kernel scores each surviving
    * pair exactly once no matter how many buckets it collided in.
    */
  private def lengthFilter(cfg: DedupConfig): (Column, Column) => Column =
    (a, b) => abs(a.getField("len") - b.getField("len")) <= cfg.maxEditDistance

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
    * normalizations, max, compared to the threshold) by the shared
    * two-join verify ([[CappedPairs.verify]]). The keep predicate is
    * [[Kernels.pairAccept]], the native codegen PairAccept expression in
    * any session: the verify decision runs inside the stage's generated
    * method (no per-pair UDF converter boundary on the pipeline's largest
    * 1-core phase) AND skips the exact-LCS DP whenever the prefix/suffix
    * lower bound or the minLen upper bound already decides the score
    * against the threshold (most pairs — see
    * [[graft.functions.KernelExprs.pairAccept]]).
    */
  def verifyPairs(candidates: DataFrame, base: DataFrame,
      cfg: DedupConfig, K: Kernels,
      numParts: Option[Int] = None): DataFrame =
    srcDst(CappedPairs.verify(candidates, texts(base), numParts, "accepted",
      accepted(cfg, K), identity))

  /** The verify payload of a sketched base: (id, norm, lc). */
  private def texts(base: DataFrame): DataFrame =
    base.select(col("id"), col("norm"), col("lc"))

  private def accepted(cfg: DedupConfig, K: Kernels)
      : (String => Column, String => Column) => Column = (a, b) =>
    K.pairAccept(a("norm"), b("norm"), a("lc"), b("lc"),
      cfg.maxEditDistance, cfg.scoreThreshold, cfg.weights)

  private def srcDst(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
}
