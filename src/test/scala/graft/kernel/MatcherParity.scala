package graft.kernel

import java.security.MessageDigest

import graft.operators.VariantMatcher
import graft.sources.SyntheticText

/** Output fingerprint of the local matcher, for checking that a change
  * to the kernel leaves its results unchanged: run it on both builds and
  * compare the two md5s it prints.
  *
  * Inputs: for each of the perfbench `matcher` workload's seeds 1-3, the
  * workload's lexicon (20,000 words with frequencies) and its 20,000
  * corrupted queries, plus 3,000 lexicon words and 13 edge strings
  * (short, empty, long and out-of-alphabet). The first md5 hashes one line
  * per query and anagram distance 0-5: the anagram values
  * `findNearestAnahashes` returns. The second hashes one line per query
  * and parameter set (defaults, StopAtExactMatch, a `Ratio(0.5)` anagram
  * distance): every `findVariants` result with its scores.
  *
  * Usage: sbt "Test/runMain graft.kernel.MatcherParity"
  */
object MatcherParity {
  /** perfbench's `Matcher.inputs(seed)`: (lexicon, queries) */
  def inputs(seed: Long): (Vector[(String, Option[Long])], Vector[String]) = {
    val rng = new scala.util.Random(seed)
    val lex = Iterator.continually {
      val len = 4 + rng.nextInt(9)
      String.valueOf(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }.distinct.take(20000).map(w => (w, Some(1L + rng.nextInt(10000)): Option[Long])).toVector
    val src = Vector.fill(20000)(lex(rng.nextInt(lex.length))._1)
    (lex, src.zipWithIndex.map { case (w, i) => SyntheticText.corrupt(rng, w, 1 + i % 2) })
  }

  val edgeStrings: Seq[String] = Seq("a", "ab", "abc", "zzzz", "",
    "abcdefghijklmn", "uncharacteristic", "characteristically", "internationalization",
    "!", "ab!", "ßß", "一a")

  def main(args: Array[String]): Unit = {
    val nearestMd5 = MessageDigest.getInstance("MD5")
    val variantsMd5 = MessageDigest.getInstance("MD5")
    var nearestLines = 0
    var variantLines = 0
    def line(md: MessageDigest, s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    val paramSets = Seq(SearchParameters(),
      SearchParameters(stopCriterion = StopCriterion.StopAtExactMatch),
      SearchParameters(maxAnagramDistance = DistanceThreshold.Ratio(0.5f)))
    for (seed <- 1L to 3L) {
      val (lex, queries) = inputs(seed)
      val model = VariantMatcher.buildModel(Alphabet.simpleLatin, lex)
      for (q <- queries ++ lex.take(3000).map(_._1) ++ edgeStrings) {
        val focus = model.alphabet.normKey(q)
        for (d <- 0 to 5) {
          val values = model.findNearestAnahashes(focus, d).map(model.anagramValue)
          line(nearestMd5, s"$seed\t$q\t$d\t${values.mkString(",")}")
          nearestLines += 1
        }
        for ((p, k) <- paramSets.zipWithIndex) {
          val rs = model.findVariants(q, p).map(r =>
            s"${r.vocabId}:${r.distScore}:${r.freqScore}:${r.via.getOrElse(-1L)}")
          line(variantsMd5, s"$seed\t$q\t$k\t${rs.mkString(" ")}")
          variantLines += 1
        }
      }
    }
    def hex(md: MessageDigest) = md.digest().map(b => f"${b & 0xff}%02x").mkString
    println(s"findNearestAnahashes d=0-5: $nearestLines lines, md5 ${hex(nearestMd5)}")
    println(s"findVariants 3 parameter sets: $variantLines lines, md5 ${hex(variantsMd5)}")
  }
}
