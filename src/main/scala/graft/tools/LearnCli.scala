package graft.tools

import graft.kernel._

/** Local learn-mode CLI mirroring `analiticcl learn` (reference:
  * process_learn bin/analiticcl.rs:484-557): iteratively match a corpus
  * against the lexicon, fold each (input -> matched reference) back into
  * the model as a transparent weighted variant, and finally emit the
  * learned weighted-variant list (K3 sink,
  * output_weighted_variants_as_tsv bin/analiticcl.rs:226-288).
  *
  * Usage: runMain graft.tools.LearnCli <lexicon.tsv> <corpus.txt>
  *          [--iterations N] [--strict|--text]
  * `--strict` (default) treats each corpus line as one item; `--text`
  * runs search-mode matching over running text and learns the selected
  * solutions. Halts early when an iteration learns nothing
  * (reference: bin/analiticcl.rs:512-516).
  */
object LearnCli {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: LearnCli <lexicon.tsv> <corpus.txt> [--iterations N] [--strict|--text]")
      sys.exit(2)
    }
    val model = new LocalVariantModel(Alphabet.simpleLatin)
    val lexIndex = model.addLexiconName(args(0))
    val src = scala.io.Source.fromFile(args(0), "UTF-8")
    try src.getLines().foreach { line =>
      val cols = line.split('\t')
      if (cols.nonEmpty && cols(0).nonEmpty)
        model.add(cols(0), cols.lift(1).flatMap(_.toLongOption),
          lexIndex = lexIndex)
    } finally src.close()
    model.build()

    var iterations = 1
    var strict = true
    var distributed = false
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--iterations"  => iterations = args(i + 1).toInt; i += 2
        case "--strict"      => strict = true; i += 1
        case "--text"        => strict = false; i += 1
        case "--distributed" => distributed = true; i += 1
        case other =>
          System.err.println(s"unknown option $other"); sys.exit(2)
      }
    }

    val corpusSrc = scala.io.Source.fromFile(args(1), "UTF-8")
    val corpus = try corpusSrc.getLines().filter(_.nonEmpty).toVector
    finally corpusSrc.close()

    val params = SearchParameters()
    if (distributed) {
      // same model, same convergence loop — iterations are Spark jobs
      // (graft.operators.DistributedLearn); line numbers carry corpus
      // order through the shuffle
      val spark = graft.spark.Sessions.local(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-learn")
      import spark.implicits._
      val corpusDs = corpus.zipWithIndex
        .map { case (t, n) => (n.toLong, t) }
        .toDS()
        .repartition(spark.sparkContext.defaultParallelism)
      val counts = graft.operators.DistributedLearn
        .learn(spark, model, corpusDs, params, iterations, strict = strict)
      counts.zipWithIndex.foreach { case (c, it) =>
        System.err.println(s"(iteration ${it + 1}: learned $c variants)")
      }
      spark.stop()
    } else {
      var it = 0
      var continue = true
      while (it < iterations && continue) {
        val learned = model.learnVariants(corpus, params, strict = strict)
        System.err.println(s"(iteration ${it + 1}: learned $learned variants)")
        if (learned == 0) continue = false
        it += 1
      }
    }

    model.weightedVariantsTsv.foreach(println)
  }
}
