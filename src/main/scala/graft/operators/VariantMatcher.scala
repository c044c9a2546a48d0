package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
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
  *  2. [[matchJoin]] — join plan for lexicons too large to broadcast:
  *     each query is exploded to its target charcounts and joined to the
  *     lexicon rows of each, keeping the rows that miss at most the
  *     charcount's budget of its letters (the broadcast scan's rule,
  *     [[AnaHash.missBudget]]); the survivors are DL-verified, grouped
  *     per query and ranked by [[LocalVariantModel.scoreAndRank]], the
  *     routine findVariants runs. Equivalent results (tested); shuffles
  *     on the charcount join + one exchange on the query.
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
    *   -> DL verify (J4), keeping StopAtExactMatch's zero-miss rows at
    *      c = |f| even beyond the edit bound
    *   -> left join each variant's edge array (edges ⋈ lexicon on ref_id,
    *      by edge_seq)
    *   -> group by query, rows sorted by (|anavalue|, anavalue, id)
    *   -> LocalVariantModel.scoreAndRank per query: [StopAtExactMatch:
    *      the zero-miss rows alone] -> score (R1) -> (early confusables
    *      R5) -> expansion (J5) -> freq-norm (R2) -> rank (R3) + dedup ->
    *      tie-aware top-k (R4) -> late confusables R5 -> cutoff (R6)
    *   -> posexplode into (query, rank, match_text, dist_score, freq_score)
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
    // StopAtExactMatch: a query with an anagram in the lexicon (zero
    // misses at its own charcount) keeps that anagram group alone; the
    // flag rides to the per-query ranking, so an anagram beyond the edit
    // bound still marks its query
    val exact = params.stopCriterion match {
      case StopCriterion.StopAtExactMatch =>
        col("misses") === 0 && col("cc") === length(col("qnorm"))
      case StopCriterion.Exhaustive => lit(false)
    }

    // --- verify (J4): the distance features within the edit bound ---
    val distUdf = udf {
      (qnorm: String, q: String, cnorm: String, ctext: String) =>
        val maxEdit = params.maxEditDistance
          .resolve(qnorm.length, DistanceThreshold.MaxEditDistance)
        val sameCase = Scoring.sameCase(Scoring.caseClass(q), Scoring.caseClass(ctext), weights)
        Scoring.distanceFeatures(qnorm, cnorm, sameCase, maxEdit, weights)
    }
    val verified = joined
      .withColumn("exact", exact)
      .withColumn("dist", distUdf(col("qnorm"), col("query"), col("norm"), col("text")))
      .filter(col("dist").isNotNull || col("exact"))

    // --- each verified variant's outgoing edges (J5), in insertion order
    // (`edge_seq`), with the target's text and frequency ---
    val edgesType = "array<struct<seq:bigint,id:bigint,text:string,freq:double,score:double>>"
    val withEdges = variantEdges match {
      case Some(edges) =>
        val refs = lex.select(col("id").as("ref_id"), col("text").as("ref_text"),
          col("freq").as("ref_freq"))
        val perVariant = edges.join(refs, Seq("ref_id"))
          .groupBy(col("variant_id").as("id"))
          .agg(sort_array(collect_list(struct(
            col("edge_seq").cast("long").as("seq"), col("ref_id").cast("long").as("id"),
            col("ref_text").as("text"), col("ref_freq").cast("double").as("freq"),
            col("edge_score").cast("double").as("score")))).as("edges"))
        verified.join(perVariant, Seq("id"), "left")
      case None => verified.withColumn("edges", lit(null).cast(edgesType))
    }

    // --- score, expansion, freq-norm, rank, dedup, tie-aware top-k,
    // confusables and cutoff (R1-R6, J5): each query's verified rows, in
    // gather order (ascending anagram value, then insertion id), go
    // through the ranking findVariants runs ---
    val confList = confusables.toIndexedSeq
    val rankUdf = udf { (query: String, rows: Seq[Row]) =>
      val stopped =
        if (rows.exists(_.getAs[Boolean]("exact"))) rows.filter(_.getAs[Boolean]("exact"))
        else rows
      val candidates = stopped.filter(r => r.getAs[Row]("dist") != null).map { r =>
        val d = r.getAs[Row]("dist")
        val edges = Option(r.getAs[Seq[Row]]("edges")).getOrElse(Nil).map(e =>
          LocalVariantModel.Edge(e.getLong(1), e.getString(2), e.getDouble(3), e.getDouble(4)))
        LocalVariantModel.Candidate(r.getAs[Long]("id"), r.getAs[String]("text"),
          Distance(d.getInt(0), d.getInt(1), d.getInt(2), d.getInt(3), d.getBoolean(4)),
          r.getAs[Double]("freq"), r.getAs[Boolean]("transparent"), edges)
      }
      val textOf = LocalVariantModel.texts(candidates)
      LocalVariantModel.scoreAndRank(candidates, alphabet.normKey(query).length, query, params,
        weights, confList, confusablesBeforePruning)
        .map(r => (textOf(r.vocabId), r.distScore, r.freqScore))
    }
    withEdges
      .groupBy("query")
      .agg(sort_array(collect_list(struct(
        length(col("anavalue")).as("ana_len"), col("anavalue"), col("id").cast("long").as("id"),
        col("text"), col("dist"), col("freq").cast("double").as("freq"), col("transparent"),
        col("exact"), col("edges")))).as("rows"))
      .select(col("query"), posexplode(rankUdf(col("query"), col("rows"))))
      .select(col("query"), (col("pos") + 1).as("rank"), col("col._1").as("match_text"),
        col("col._2").as("dist_score"), col("col._3").as("freq_score"))
      .orderBy(col("query"), col("rank"))
  }
}
