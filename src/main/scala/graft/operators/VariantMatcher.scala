package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kernels
import graft.kernel._

/** Result row of the variant matcher (one per (query, match)). */
final case class VariantMatch(
    query: String,
    rank: Int,
    matchText: String,
    score: Double,
    distScore: Double,
    freqScore: Double
)

/** The reference's flagship operator — `query` mode: for each input
  * string, the ranked lexicon variants within anagram+edit distance
  * (reference: src/lib.rs:972-1027 via bin/analiticcl.rs:369-482) —
  * recast for Spark with two physical strategies:
  *
  *  1. [[matchBroadcast]] — the lexicon index is built once on the driver
  *     and broadcast; each task runs the full find_variants kernel on its
  *     partition. Zero shuffle, embarrassingly parallel: the Spark
  *     analogue of the reference's rayon batch loop, and the strategy of
  *     choice at reference scale (lexicons ≤ a few 100k entries; the
  *     serialized model, the broadcast payload, measures 1,277,008
  *     bytes in `MatcherBench 20000` and 7,784,429 in
  *     `MatcherBench 120000`, about 65 B per entry, written as flat
  *     columns by `LocalVariantModel.Wire`). This is what keeps verify-stage scaling
  *     efficiency near 1.0 — there is no shuffle to contend on.
  *
  *  2. [[matchJoin]] — fully declarative plan for lexicons too large to
  *     broadcast: each query is exploded to its target charcounts and
  *     joined to the lexicon rows of each, keeping the rows that miss at
  *     most the charcount's budget of its letters (the broadcast scan's
  *     rule, [[AnaHash.missBudget]]); the survivors are DL-verified and
  *     ranked with window functions. Equivalent results (tested);
  *     shuffles on the charcount join + query windows.
  *
  * Both preserve the reference's deterministic tie order: ascending
  * anagram value, then vocab insertion id (see SURVEY.md §2.5 R3/R4).
  */
object VariantMatcher {

  /** Build the local model (driver-side) from (text, freq) pairs. */
  def buildModel(
      alphabet: Alphabet,
      lexicon: Seq[(String, Option[Long])],
      weights: Weights = Weights()
  ): LocalVariantModel = {
    val m = new LocalVariantModel(alphabet, weights)
    lexicon.foreach { case (t, f) => m.add(t, f) }
    m.build()
  }

  /** Strategy 1 handle: the model is broadcast ONCE at construction;
    * every subsequent query batch reuses it — the steady-state shape (at
    * production scale one broadcast serves billions of queries).
    */
  final class BroadcastMatcher(
      bc: org.apache.spark.broadcast.Broadcast[LocalVariantModel]
  ) extends Serializable {
    def apply(
        queries: DataFrame,
        params: SearchParameters,
        queryCol: String = "query"
    ): Dataset[VariantMatch] = {
      val spark = queries.sparkSession
      import spark.implicits._
      queries
        .select(col(queryCol).cast("string"))
        .as[String]
        .mapPartitions { it =>
          val m = bc.value
          it.flatMap { q =>
            m.findVariants(q, params).iterator.zipWithIndex.map {
              case (r, i) =>
                VariantMatch(q, i + 1, m.text(r.vocabId),
                  r.score(params.freqWeight), r.distScore, r.freqScore)
            }
          }
        }
    }
  }

  def broadcastMatcher(
      spark: SparkSession,
      model: LocalVariantModel
  ): BroadcastMatcher =
    new BroadcastMatcher(spark.sparkContext.broadcast(model))

  /** Strategy 1: broadcast index + mapPartitions kernel (one-shot form). */
  def matchBroadcast(
      spark: SparkSession,
      model: LocalVariantModel,
      queries: DataFrame, // one string column
      params: SearchParameters,
      queryCol: String = "query"
  ): Dataset[VariantMatch] =
    broadcastMatcher(spark, model)(queries, params, queryCol)

  /** Export a built local model as the (lexicon, variant-edge) DataFrames
    * [[matchJoin]] consumes — the migration path when a lexicon outgrows
    * broadcast: the same model definition drives either strategy.
    * Lexicon rows are the INDEXED entries (id, text, freq, transparent);
    * edges carry the per-variant insertion order (`edge_seq`) the
    * reference's stable ranking depends on (variantOf lists are stored in
    * file order, ref lib.rs:478-514).
    */
  def modelFrames(
      spark: SparkSession,
      model: LocalVariantModel
  ): (DataFrame, DataFrame) = {
    import spark.implicits._
    val lex = model.vocab.iterator
      .filter(e => e.indexed && e.norm.nonEmpty)
      .map(e => (e.id, e.text, e.frequency, e.transparent))
      .toSeq
      .toDF("id", "text", "freq", "transparent")
    val edges = model.vocab.iterator
      .flatMap(e => e.variantOf.iterator.zipWithIndex.map {
        case ((refId, score), seq) => (e.id, refId, score, seq.toLong)
      })
      .toSeq
      .toDF("variant_id", "ref_id", "edge_score", "edge_seq")
    (lex, edges)
  }

  /** Strategy 2: declarative join plan. Same logical result as
    * [[matchBroadcast]]; used when the lexicon cannot be broadcast.
    *
    * Plan sketch (SURVEY.md §2.4):
    *   lexicon -> index(anavalue BINARY, cc INT, id, text, norm, freq)
    *   queries -> explode(target charcounts (c, D(c)), |c - |f|| <= maxD)
    *           -> join index on cc == c
    *           -> misses(qnorm, norm) <= D(c)          (J1/J2)
    *           -> [StopAtExactMatch: the zero-miss rows at c = |f| alone]
    *   -> DL verify (J4) -> score (R1)
    *   -> (early confusables R5) -> variant expansion (J5) -> freq-norm (R2)
    *   -> rank windows (R3) + consecutive-dup drop -> top-k (R4, tie-aware)
    *   -> late confusables R5 + re-rank -> cutoff (R6)
    *
    * @param variantEdges optional VariantOf edge table
    *        (variant_id, ref_id, edge_score, edge_seq) — J5 expansion
    *        (ref lib.rs:1677-1727). `edge_seq` = per-variant insertion
    *        order (stable-sort tie order). [[modelFrames]] exports both
    *        inputs from a built [[LocalVariantModel]].
    * @param confusables R5 rescoring patterns (ref lib.rs:1591-1595);
    *        applied late (after truncation) unless
    *        `confusablesBeforePruning` (lib.rs:1505-1508).
    */
  def matchJoin(
      spark: SparkSession,
      alphabet: Alphabet,
      lexicon: DataFrame, // columns: text, freq (nullable), transparent (optional)
      queries: DataFrame, // one string column
      params: SearchParameters,
      queryCol: String = "query",
      variantEdges: Option[DataFrame] = None,
      confusables: Seq[Confusable] = Seq.empty,
      confusablesBeforePruning: Boolean = false
  ): DataFrame = {
    import spark.implicits._
    val weights = params.weights

    // --- index build (A1-A3): id = insertion order = file order; norm is
    // the normalized form's key, so its length is the charcount ---
    val K = new Kernels(alphabet)
    val anaUdf = udf((norm: String) => AnaHash.toBytes(AnaHash.valueOf(norm, alphabet.size)))
    // insertion id: the reference's vocab id (file order) — pass an
    // explicit `id` column for exact tie parity; monotonically_increasing_id
    // preserves per-partition file order otherwise (adequate for dedup use)
    val lexWithId =
      if (lexicon.columns.contains("id")) lexicon
      else lexicon.withColumn("id", monotonically_increasing_id())
    val lex = lexWithId
      .withColumn("norm", K.normKey(col("text")))
      .withColumn("anavalue", anaUdf(col("norm")))
      .withColumn("cc", length(col("norm")))
      .withColumn("freq",
        if (lexicon.columns.contains("freq")) coalesce(col("freq"), lit(1L))
        else lit(1L))
      .withColumn("transparent",
        if (lexicon.columns.contains("transparent"))
          coalesce(col("transparent"), lit(false))
        else lit(false))

    // --- candidates (J1/J2): each query joins the lexicon rows of its
    // target charcounts c, keeping those that miss at most D(c) of its
    // letters (AnaHash.missBudget, the rule the broadcast scan uses) ---
    val budgetsUdf = udf { (qnorm: String) =>
      val f = qnorm.length
      val maxD = math.max(0, params.maxAnagramDistance
        .resolve(f, DistanceThreshold.MaxAnagramDistance))
      (f - maxD to f + maxD).map(c => (c, AnaHash.missBudget(c, f, maxD))).filter(_._2 >= 0)
    }
    val missesUdf = udf((qnorm: String, norm: String) => AnaHash.misses(qnorm, norm, alphabet.size))
    val q0 = queries.select(col(queryCol).cast("string").as("query")).distinct()
      .withColumn("qnorm", K.normKey(col("query")))
      .filter(length(col("qnorm")) > 0)
    val joined = q0
      .select(col("query"), col("qnorm"), explode(budgetsUdf(col("qnorm"))).as("b"))
      .select(col("query"), col("qnorm"), col("b._1").as("cc"), col("b._2").as("budget"))
      .join(lex, Seq("cc"))
      .withColumn("misses", missesUdf(col("qnorm"), col("norm")))
      .filter(col("misses") <= col("budget"))
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy("query")
    // StopAtExactMatch: a query with an anagram in the lexicon (zero
    // misses at its own charcount) keeps that anagram group alone
    val cands = params.stopCriterion match {
      case StopCriterion.StopAtExactMatch =>
        val exact = col("misses") === 0 && col("cc") === length(col("qnorm"))
        joined.withColumn("has_exact", max(exact.cast("int")).over(wq))
          .filter(col("has_exact") === 0 || exact)
      case StopCriterion.Exhaustive => joined
    }

    // --- verify + score (J4/R1) ---
    val scoreUdf = udf {
      (qnorm: String, q: String, cnorm: String, ctext: String) =>
        val maxEdit = params.maxEditDistance
          .resolve(qnorm.length, DistanceThreshold.MaxEditDistance)
        val sameCase = Scoring.sameCase(Scoring.caseClass(q), Scoring.caseClass(ctext), weights)
        Scoring
          .distanceFeatures(qnorm, cnorm, sameCase, maxEdit, weights)
          .map(dist => Scoring.score(dist, qnorm.length, weights))
    }
    // verified = the kernel's `instances` set (DL within bound, BEFORE the
    // score threshold): the freq-normalization denominator and the
    // has-expandable flag are both computed over THIS set, not the
    // thresholded survivors (ref lib.rs:1454-1475 — the maxFreq loop runs
    // over all gathered instances). freq was coalesced to 1 in the index
    // build, so an all-null (or absent) freq column yields
    // freq_score = 1/max(1) = 1 for every row.
    val verified0 = cands
      .withColumn("dist_score",
        scoreUdf(col("qnorm"), col("query"), col("norm"), col("text")))
      .filter(col("dist_score").isNotNull)
      .withColumn("freq_raw", col("freq").cast("double"))
    val verified = variantEdges match {
      case Some(edges) =>
        // per-query expandability (ref lib.rs:1464: any INSTANCE with
        // outgoing VariantOf edges turns expansion on for that query)
        val hasEdges = edges.select(col("variant_id").as("id")).distinct()
          .withColumn("has_edges", lit(1))
        verified0.join(hasEdges, Seq("id"), "left")
          .withColumn("has_exp",
            max(coalesce(col("has_edges"), lit(0))).over(wq))
          .drop("has_edges")
      case None => verified0.withColumn("has_exp", lit(0))
    }
    val thresholded0 = verified
      .withColumn("maxf", max("freq_raw").over(wq))
      .filter(col("dist_score") >= params.scoreThreshold)

    // --- R5 early confusable rescoring (ref lib.rs:1505-1508) ---
    val confList = confusables.toIndexedSeq
    lazy val cweightUdf = udf { (q: String, c: String) =>
      graft.kernel.Confusable.weightFor(confList, q, c)
    }
    val thresholded =
      if (confusables.nonEmpty && confusablesBeforePruning)
        thresholded0.withColumn("dist_score",
          col("dist_score") * cweightUdf(col("query"), col("text")))
      else thresholded0

    // --- J5 variant expansion (ref lib.rs:1677-1727). Stable-order keys:
    // a result's position in the kernel's vector is (gather order of its
    // parent instance: ascending anavalue then insertion id) x (edge
    // insertion order, with the non-transparent parent AFTER its edges =
    // Long.MaxValue). The rank sort below uses these as its stability
    // suffix, reproducing Rust's stable sort exactly. ---
    val withStable = thresholded
      .withColumn("g_len", length(col("anavalue")))
      .withColumn("g_ana", col("anavalue"))
      .withColumn("g_id", col("id"))
      .withColumn("g_seq", lit(Long.MaxValue))
    val outCols = Seq("query", "id", "text", "dist_score", "freq_raw",
      "maxf", "g_len", "g_ana", "g_id", "g_seq").map(col)
    val expanded = variantEdges match {
      case Some(edges) =>
        val refs = lex.select(col("id").as("ref_id"),
          col("text").as("ref_text"), col("freq").as("ref_freq"))
        val exp = withStable.filter(col("has_exp") === 1)
          .join(edges, col("id") === edges("variant_id"))
          .join(refs, Seq("ref_id"))
          .select(col("query"), col("ref_id").as("id"),
            col("ref_text").as("text"),
            (col("dist_score") * col("edge_score")).as("dist_score"),
            least(col("ref_freq").cast("double"), col("freq_raw"))
              .as("freq_raw"),
            col("maxf"), col("g_len"), col("g_ana"), col("g_id"),
            col("edge_seq").cast("long").as("g_seq"))
        // transparent originals dropped — but ONLY for queries where
        // expansion ran (ref lib.rs:1714-1717)
        val kept = withStable
          .filter(col("has_exp") === 0 || !col("transparent"))
          .select(outCols: _*)
        kept.unionByName(exp)
      case None => withStable.select(outCols: _*)
    }

    // --- R2 freq normalization (denominator fixed pre-expansion; an
    // expanded row's freq = min(target, parent) can never exceed it) ---
    val normed = expanded.withColumn("freq_score",
      when(col("maxf") > 0, col("freq_raw") / col("maxf"))
        .otherwise(col("freq_raw")))

    // --- R3 ranking (ref types.rs:335-365): blended score when
    // freqWeight > 0, else dist desc + freq tie-break; stability suffix =
    // the gather/edge keys above ---
    val fw = params.freqWeight.toDouble
    def blendOf(dist: Column, freqSc: Column): Column =
      if (fw == 0.0) dist else (dist + lit(fw) * freqSc) / lit(1.0 + fw)
    def orderKeys(dist: Column, freqSc: Column): Seq[Column] =
      (if (fw == 0.0) Seq(dist.desc, freqSc.desc)
       else Seq(blendOf(dist, freqSc).desc)) ++
        Seq(col("g_len"), col("g_ana"), col("g_id"), col("g_seq"))
    val ord1 = orderKeys(col("dist_score"), col("freq_score"))
    val wOrd1 = Window.partitionBy("query").orderBy(ord1: _*)
    // consecutive-duplicate drop after the rank sort, keeping the first
    // (ref Vec::dedup_by_key, lib.rs:1530-1533) — only expansion can
    // produce duplicates (upstream candidates are already distinct on
    // (query, id)), so the extra window pass is skipped entirely when no
    // edge table is supplied
    val deduped =
      if (variantEdges.isEmpty) normed
      else normed
        .withColumn("prev_id", lag(col("id"), 1).over(wOrd1))
        .filter(col("prev_id").isNull || col("prev_id") =!= col("id"))
        .drop("prev_id")
    val ranked = deduped.withColumn("rank", row_number().over(wOrd1))

    // --- R4 tie-aware top-k (ref lib.rs:1536-1589): last/cropped compare
    // BLENDED scores; the early/late scan compares dist_score against the
    // cropped blended value — faithful to the reference, odd as it looks.
    val blend1 = blendOf(col("dist_score"), col("freq_score"))
    val maxM = params.maxMatches
    val cropped = if (maxM > 0) {
      val lastScore = max(when(col("rank") === maxM, blend1)).over(wq)
      val croppedScore = max(when(col("rank") === maxM + 1, blend1)).over(wq)
      val withB = ranked
        .withColumn("last_s", lastScore)
        .withColumn("crop_s", croppedScore)
      val earlyCut = min(when(col("dist_score") === col("crop_s"),
        col("rank"))).over(wq)
      val lateCut = min(when(col("dist_score") < col("crop_s"),
        col("rank"))).over(wq)
      withB
        .withColumn("early", earlyCut)
        .withColumn("late", lateCut)
        .filter(
          col("crop_s").isNull || // <= maxM results: keep all
            (when(col("crop_s") < col("last_s"), col("rank") <= maxM)
              .otherwise( // boundary splits a tie group
                when(col("early") > 1, col("rank") <= col("early"))
                  .otherwise(when(col("late") > 1, col("rank") <= col("late"))
                    .otherwise(lit(true))))))
        .drop("last_s", "crop_s", "early", "late")
    } else ranked

    // --- R5 late confusable rescoring + re-rank (ref lib.rs:1591-1595);
    // stability of the re-rank = the pre-rescore rank ---
    val rescored =
      if (confusables.nonEmpty && !confusablesBeforePruning) {
        val r2 = cropped.withColumn("dist_score",
          col("dist_score") * cweightUdf(col("query"), col("text")))
        val ord2 =
          (if (fw == 0.0) Seq(col("dist_score").desc, col("freq_score").desc)
           else Seq(blendOf(col("dist_score"), col("freq_score")).desc)) :+
            col("rank").asc
        r2.withColumn("rank",
          row_number().over(Window.partitionBy("query").orderBy(ord2: _*)))
      } else cropped

    // --- R6 relative cutoff (ref lib.rs:1597-1622, blended scores) ---
    val blendF = blendOf(col("dist_score"), col("freq_score"))
    val withBest = rescored.withColumn("best_s",
      max(when(col("rank") === 1, blendF)).over(wq))
    val cut =
      if (params.cutoffThreshold >= 1.0) {
        val cutRank = min(when(col("rank") > 1 &&
          blendF <= col("best_s") / params.cutoffThreshold,
          col("rank"))).over(wq)
        withBest.withColumn("cut_rank", cutRank)
          .filter(col("cut_rank").isNull || col("rank") < col("cut_rank"))
          .drop("cut_rank")
      } else withBest

    cut.select(col("query"), col("rank").cast("int").as("rank"),
      col("text").as("match_text"),
      col("dist_score").as("dist_score"),
      col("freq_score").as("freq_score"))
      .orderBy(col("query"), col("rank"))
  }
}
