package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

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
  *  2. [[matchJoin]] — shuffled plan for lexicons too large to
  *     broadcast: the lexicon is cut into one slice per charcount, and
  *     each slice meets, in one task, the queries that have a miss budget
  *     at its charcount ([[AnaHash.missBudget]]). The task builds the
  *     slice's model once and runs findVariants' own nearest search and
  *     gather on each query; the verified rows are grouped per query and
  *     ranked by [[LocalVariantModel.scoreAndRank]], the routine
  *     findVariants runs. Equivalent results (tested); shuffles the
  *     lexicon and the query targets on the charcount, plus one exchange
  *     on the query.
  *
  * Both preserve the reference's deterministic tie order: ascending
  * anagram value, then vocab insertion id (see SURVEY.md §2.5 R3/R4).
  */
object VariantMatcher {

  /** One verified (query, lexicon row) pair of [[matchJoin]], or a row
    * with no lexicon row (`id`, `text`, `anavalue` and `dist` null) that
    * marks a StopAtExactMatch query whose anagram group fails the edit
    * bound.
    */
  final case class Verified(query: String, id: Option[Long], text: String,
      anavalue: Array[Byte], dist: Distance, freq: Double, transparent: Boolean,
      exact: Boolean)

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

  /** Strategy 2: shuffled plan. Same logical result as
    * [[matchBroadcast]]; used when the lexicon cannot be broadcast.
    *
    * Plan sketch (SURVEY.md §2.4):
    *   lexicon -> (id, text, freq, transparent), grouped by charcount c
    *   queries -> distinct -> (c, query) for each c with a miss budget
    *              D(c) >= 0, |c - |f|| <= maxD, grouped by c
    *   -> cogroup on c: per slice, LocalVariantModel.ofTexts builds its
    *      anagram index once, and per query nearInstances runs the
    *      miss-count scan (J1/J2) and the DL verify (J4) -> (query, id,
    *      text, anavalue, dist, freq, transparent, exact), where exact
    *      marks StopAtExactMatch's anagram group at c = |f|, on a row of
    *      its own when the group fails the edit bound
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
    import spark.implicits._

    // --- lexicon (A1-A3): insertion id = the reference's vocab id (file
    // order) — pass an explicit `id` column for exact tie parity;
    // monotonically_increasing_id preserves per-partition file order
    // otherwise (adequate for dedup use) ---
    val lexWithId =
      if (lexicon.columns.contains("id")) lexicon
      else lexicon.withColumn("id", monotonically_increasing_id())
    val lex = lexWithId.select(col("id").cast("long").as("id"), col("text"),
      (if (lexicon.columns.contains("freq")) coalesce(col("freq"), lit(1L))
       else lit(1L)).cast("double").as("freq"),
      (if (lexicon.columns.contains("transparent")) coalesce(col("transparent"), lit(false))
       else lit(false)).as("transparent"))

    // --- candidates and verify (J1/J2, J4): the lexicon rows of one
    // charcount c are one slice, and the queries with a miss budget at c
    // (AnaHash.missBudget) meet it in one task, which builds the slice's
    // model once and runs findVariants' own nearest search and gather
    // (LocalVariantModel.nearInstances) for each of them ---
    val slices = lex.filter(col("text").isNotNull)
      .as[(Long, String, Double, Boolean)]
      .map { case (id, text, freq, transparent) =>
        (alphabet.normKey(text).length, id, text, freq, transparent)
      }
      .groupBy("_1").as[Int, (Int, Long, String, Double, Boolean)]
    // the distinct (c, query) pairs, deduplicated within the partitioning
    // on c that the cogroup reads, so the queries shuffle once
    val targets = queries.select(col(queryCol).cast("string").as("query"))
      .filter(col("query").isNotNull).as[String]
      .flatMap { q =>
        val f = alphabet.normKey(q).length
        val maxD = math.max(0, params.maxAnagramDistance
          .resolve(f, DistanceThreshold.MaxAnagramDistance))
        if (f == 0) Nil
        else (f - maxD to f + maxD).filter(AnaHash.missBudget(_, f, maxD) >= 0).map(c => (c, q))
      }
      .repartition(col("_1")).distinct()
      .groupBy("_1").as[Int, (Int, String)]
    val stop = params.stopCriterion == StopCriterion.StopAtExactMatch
    val verified = slices.cogroup(targets) { (c, rowIt, qs) =>
      if (!qs.hasNext) Iterator.empty
      else {
        val rows = rowIt.toArray
        val slice = LocalVariantModel.ofTexts(alphabet, params.weights, rows.map(_._3))
        qs.flatMap { case (_, q) =>
          val key = alphabet.normKey(q)
          // StopAtExactMatch: a query with an anagram in the lexicon (in
          // the slice at c = |f|) keeps that anagram group alone; the flag
          // rides to the per-query ranking, on a row of its own when the
          // whole group fails the edit bound
          val exact = stop && c == key.length && slice.anagramInstances(q).nonEmpty
          val found = slice.nearInstances(key, q, params).map { case (id, d) =>
            val (_, lexId, text, freq, transparent) = rows(id.toInt)
            val anavalue = AnaHash.toBytes(AnaHash.valueOf(slice.entry(id).norm, alphabet.size))
            Verified(q, Some(lexId), text, anavalue, d, freq, transparent, exact)
          }
          if (exact && found.isEmpty) Iterator(Verified(q, None, null, null, null, 0.0,
            transparent = false, exact = true))
          else found.iterator
        }
      }
    }.toDF()

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
        params.weights, confList, confusablesBeforePruning)
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
