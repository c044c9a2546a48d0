package graft.tools

import graft.kernel._

/** Single-threaded kernel microbenchmark: variant-query throughput
  * against a large synthetic lexicon — compare with the reference's
  * published single-thread items/sec (BASELINE.md: 538-687 items/s on
  * 120-220k lexicons, i7-4770K). The `[build]` line also reports the
  * Java-serialized model size, the payload a broadcast ships, and the
  * milliseconds of one cold serialize and deserialize of it. A `[phase]`
  * line then splits the query time into findVariants' three stages:
  * nearest-anahash search, gather + DL verify, and score + rank, each as
  * the median and quartiles of 5 timed passes over the queries.
  *
  * Usage: runMain graft.tools.MatcherBench [lexSize] [nQueries] [threads]
  *   [anagramDistance]
  *
  * `threads` > 0 adds a multi-thread pass; `anagramDistance` replaces the
  * default Absolute(3) anagram distance (distances above 3 run the
  * nearest-anahash scan's array miss counter).
  */
object MatcherBench {
  /** The lexicon (`lexSize` random words of 4-12 letters, distinct) and
    * `nQueries` lexicon words with one or two corruptions, from seed 7.
    */
  def inputs(lexSize: Int, nQueries: Int): (IndexedSeq[String], IndexedSeq[String]) = {
    val rng = new scala.util.Random(7L)
    val lexicon = (0 until lexSize).map { _ =>
      val len = 4 + rng.nextInt(9)
      String.valueOf(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }.distinct
    val queries = (0 until nQueries).map { i =>
      graft.sources.SyntheticText.corrupt(rng,
        lexicon(rng.nextInt(lexicon.size)), 1 + (i % 2))
    }
    (lexicon, queries)
  }

  def main(args: Array[String]): Unit = {
    val lexSize = if (args.length > 0) args(0).toInt else 120000
    val nQueries = if (args.length > 1) args(1).toInt else 2000
    val (lexicon, queries) = inputs(lexSize, nQueries)
    val model = new LocalVariantModel(Alphabet.simpleLatin)
    lexicon.foreach(model.add(_))
    var t0 = System.nanoTime()
    model.build()
    val buildS = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val bytes = org.apache.commons.lang3.SerializationUtils.serialize(model)
    val serMs = (System.nanoTime() - t0) / 1e6
    t0 = System.nanoTime()
    org.apache.commons.lang3.SerializationUtils.deserialize[LocalVariantModel](bytes)
    val deserMs = (System.nanoTime() - t0) / 1e6
    println(f"[build] ${lexicon.size} entries in $buildS%.2fs, serialized model " +
      f"${bytes.length} bytes (serialize $serMs%.1f ms, deserialize $deserMs%.1f ms)")

    val params = args.lift(3).map(_.toInt).fold(SearchParameters())(d =>
      SearchParameters(maxAnagramDistance = DistanceThreshold.Absolute(d)))
    // warmup
    queries.take(2000).foreach(model.findVariants(_, params))
    t0 = System.nanoTime()
    var results = 0L
    queries.foreach(q => results += model.findVariants(q, params).length)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[query] $nQueries queries in $sec%.2fs = ${nQueries / sec}%.1f items/s (1 thread), $results results")

    // per-phase split: findVariants' three public stages, each run over
    // every query before the next starts (the query's key built untimed)
    val prepared = queries.map(q => (q, model.alphabet.normKey(q))).filter(_._2.nonEmpty)
    val passes = 5
    def usPerQuery[T](f: => T): (T, String) = {
      val runs = Seq.fill(passes) {
        val t = System.nanoTime()
        val out = f
        (out, (System.nanoTime() - t) / 1e3 / nQueries)
      }
      val us = runs.map(_._2).sorted
      (runs.last._1, f"${us(passes / 2)}%.1f [${us(passes / 4)}%.1f-${us(3 * passes / 4)}%.1f]")
    }
    val (nearest, usNearest) = usPerQuery(prepared.map { case (_, norm) =>
      model.findNearestAnahashes(norm, params.maxAnagramDistance
        .resolve(norm.length, DistanceThreshold.MaxAnagramDistance), params.stopCriterion)
    })
    val (instances, usGather) = usPerQuery(prepared.zip(nearest).map {
      case ((q, norm), near) =>
        model.gatherInstances(near, norm, q, params.maxEditDistance
          .resolve(norm.length, DistanceThreshold.MaxEditDistance))
    })
    val (ranked, usRank) = usPerQuery(prepared.zip(instances).map {
      case ((q, norm), inst) => model.scoreAndRank(inst, norm.length, params, q).length.toLong
    })
    println(s"[phase] us/query, median [quartiles] of $passes passes: nearest $usNearest, " +
      s"gather+dl $usGather, score+rank $usRank (${ranked.sum} results)")

    // optional multi-thread sweep (pure JVM, no Spark): the achievable
    // kernel scaling ceiling on this host
    for (threads <- args.lift(2).map(_.toInt) if threads > 0) {
      val chunks = queries.grouped(math.max(1, queries.size / threads)).toVector
      val t1 = System.nanoTime()
      val ts = chunks.map { chunk =>
        val t = new Thread(() => chunk.foreach(model.findVariants(_, params)))
        t.start(); t
      }
      ts.foreach(_.join())
      val psec = (System.nanoTime() - t1) / 1e9
      println(f"[query] $nQueries queries in $psec%.2fs = " +
        f"${nQueries / psec}%.1f items/s ($threads threads), " +
        f"speedup ${sec / psec}%.2fx")
    }
  }
}
