package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.kernel.{Alphabet, LocalVariantModel, SearchParameters}
import graft.operators.VariantMatcher
import graft.sources.SyntheticText

/** `matcher`: VariantMatcher.buildModel over a seeded lexicon, then the
  * broadcast matcher over lexicon words corrupted by 1-2 edits. The
  * analiticcl kernel (LocalVariantModel: anagram index plus DL scoring)
  * does all the work; there is no shuffle.
  */
object Matcher {
  val LexiconSize = 20000
  val Queries = 20000
  val SampleSize = 300

  final case class Inputs(lexicon: Seq[(String, Option[Long])], queries: Seq[String],
      truth: Seq[String])

  /** Lexicon of distinct random words (4-12 letters) with frequencies, and
    * queries made by corrupting a random lexicon word with 1 or 2 edits.
    */
  def inputs(seed: Long): Inputs = {
    val rng = new scala.util.Random(seed)
    val lex = Iterator.continually {
      val len = 4 + rng.nextInt(9)
      String.valueOf(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }.distinct.take(LexiconSize).map(w => (w, Some(1L + rng.nextInt(10000)): Option[Long])).toVector
    val src = Vector.fill(Queries)(lex(rng.nextInt(lex.length))._1)
    val qs = src.zipWithIndex.map { case (w, i) => SyntheticText.corrupt(rng, w, 1 + i % 2) }
    Inputs(lex, qs, src)
  }

  final case class Prepared(model: LocalVariantModel, matcher: VariantMatcher.BroadcastMatcher,
      buildS: Double)

  def prepare(spark: SparkSession, in: Inputs): Prepared = {
    val (model, s) = Util.timed(VariantMatcher.buildModel(Alphabet.simpleLatin, in.lexicon))
    Prepared(model, VariantMatcher.broadcastMatcher(spark, model), s)
  }

  def queryFrame(spark: SparkSession, qs: Seq[String], cores: Int): DataFrame = {
    import spark.implicits._
    val df = qs.toDF("query").repartition(math.max(cores * 4, 4)).cache()
    df.count()
    df
  }

  def pass(p: Prepared, qdf: DataFrame): Double = {
    val params = SearchParameters()
    Util.timed(p.matcher(qdf, params).write.format("noop").mode("overwrite").save())._2
  }

  /** Spark rows for a seeded sample must equal direct findVariants output.
    * Returns (matches per query, share of queries whose source word is
    * among the matches).
    */
  def checkSample(spark: SparkSession, p: Prepared, in: Inputs, seed: Long,
      out: Outcome): (Double, Double) = {
    import spark.implicits._
    val params = SearchParameters()
    val idx = new scala.util.Random(seed ^ 0x5a5aL).shuffle(in.queries.indices.toVector)
      .take(SampleSize)
    val sample = idx.map(in.queries)
    val got = p.matcher(sample.toDF("query"), params).collect()
      .map(m => (m.query, m.rank, m.matchText, m.score)).toSet
    val want = sample.distinct.flatMap { q =>
      p.model.findVariants(q, params).zipWithIndex.map { case (r, i) =>
        (q, i + 1, p.model.text(r.vocabId), r.score(params.freqWeight))
      }
    }.toSet
    out.gate("matcher.spark_equals_direct", got == want,
      s"${got.size} spark rows vs ${want.size} direct rows over $SampleSize queries")
    val found = idx.count { i =>
      got.exists(m => m._1 == in.queries(i) && m._3 == in.truth(i))
    }
    (want.size.toDouble / sample.distinct.size, found.toDouble / idx.size)
  }

  def untraced(env: Env, out: Outcome): Unit = {
    val in = inputs(env.seed)
    val (spark, p) = Setup.rounds(out) {
      val spark = Util.session(env.cores)
      (spark, prepare(spark, in))
    }
    val qdf = queryFrame(spark, in.queries, env.cores)
    pass(p, qdf) // warm-up
    checkSample(spark, p, in, env.seed, out)
    val times = Util.repeatFor(env.seconds, 5, 50) { _ =>
      val s = pass(p, qdf)
      out.op(true)
      s
    }
    out.metric("items_per_s", in.queries.length / Util.median(times), "1/s")
    System.err.println(s"[perfbench] matcher passes=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }

  def traced(spark: SparkSession, env: Env, tr: Tracer, out: Outcome): Unit = {
    val in = inputs(env.seed)
    val builds = (0 until 3).map(_ => tr.span("index.build")(prepare(spark, in)))
    val p = builds.last
    val qdf = queryFrame(spark, in.queries, env.cores)
    pass(p, qdf) // warm-up
    tr.span("matcher.pass")(pass(p, qdf))
    tr.drain()
    val (perQuery, found) = checkSample(spark, p, in, env.seed, out)
    val direct = in.queries.take(2000)
    val params = SearchParameters()
    direct.foreach(q => p.model.findVariants(q, params))
    val (_, ds) = Util.timed(direct.foreach(q => p.model.findVariants(q, params)))
    val t = tr.totals("matcher.pass")
    out.metric("index.build_s", Util.median(builds.map(_.buildS)), "s")
    out.metric("index.entries", p.model.vocab.length, "count")
    out.metric("kernel.us_per_query", ds * 1e6 / direct.length, "us")
    out.metric("matcher.s", tr.seconds("matcher.pass"), "s")
    out.metric("matcher.matches_per_query", perQuery, "count")
    out.metric("matcher.recall", found, "ratio")
    out.metric("matcher.busy_s", t.runMs / 1e3, "s")
    out.metric("matcher.task_max_over_median", Util.maxOverMedian(t.taskMs.toSeq), "ratio")
  }
}
