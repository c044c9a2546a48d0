package graft.kernel

import java.math.BigInteger
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.scalatest.funsuite.AnyFunSuite

/** A model restored from its Java-serialized form (what a broadcast
  * ships, and what every executor of a cluster reads) must equal the
  * model it was written from, in its vocab, its index and every other
  * piece of state the matcher, the search engine and learn mode read.
  * Local-mode broadcasts hand tasks the original object, so only this
  * spec exercises the restore path.
  */
class LocalVariantModelWireSpec extends AnyFunSuite {
  private val serializer = new JavaSerializer(new SparkConf()).newInstance()

  /** (restored copy, stream bytes) */
  private def roundTrip(m: LocalVariantModel): (LocalVariantModel, Array[Byte]) = {
    val buf = serializer.serialize(m)
    val bytes = new Array[Byte](buf.remaining)
    buf.duplicate().get(bytes)
    (serializer.deserialize[LocalVariantModel](buf), bytes)
  }

  private def vocab(m: LocalVariantModel) = m.vocab.map(e => (e.id, e.text,
    e.norm, e.frequency, e.transparent, e.variantOf, e.indexed, e.lm,
    e.lexindex, e.referenceFor)).toVector

  private val params = SearchParameters(
    maxAnagramDistance = DistanceThreshold.Absolute(2),
    maxEditDistance = DistanceThreshold.Absolute(2),
    maxMatches = 5, scoreThreshold = 0.3, cutoffThreshold = 0.0)

  private val paramSets = Seq(SearchParameters(), params,
    SearchParameters(stopCriterion = StopCriterion.StopAtExactMatch),
    SearchParameters(maxAnagramDistance = DistanceThreshold.Ratio(0.5f)))

  // 80 one-letter classes: KernelSpec's wide alphabet
  private val wide = Alphabet((0 until 80).map(i => IndexedSeq((0x3b1 + i).toChar.toString)))
  // characters outside every alphabet here
  private val oov = Seq("!", "ß")

  private def letters(a: Alphabet): IndexedSeq[String] =
    (if (a == Alphabet.simpleLatin) ('a' to 'z').map(_.toString) else a.classes.map(_.head)) ++ oov

  /** A model that holds every kind of state: frequencies, two lexicons,
    * a non-indexed entry, LM n-grams, a variant list and an error list
    * (transparent variants), confusables, context rules with tags, and
    * the transparent entries and edges of one learn round.
    */
  private def model(a: Alphabet, beforePruning: Boolean, rng: scala.util.Random)
      : (LocalVariantModel, Vector[String], Vector[String]) = {
    val ls = letters(a)
    def word(maxLen: Int) =
      Iterator.fill(1 + rng.nextInt(maxLen))(ls(rng.nextInt(ls.length))).mkString
    val words = Vector.fill(400)(word(14)).distinct
    val m = new LocalVariantModel(a, Weights(ld = 0.6, caseW = 0.0),
      frequencyHandling = "sum", confusablesBeforePruning = beforePruning)
    val main = m.addLexiconName("main")
    words.zipWithIndex.foreach { case (w, i) => m.add(w, Some(1L + i % 7), lexIndex = main) }
    val extra = m.addLexiconName("extra")
    words.take(40).foreach(m.add(_, lexIndex = extra))
    m.add(words(1) + words(2), indexed = false)
    // more n-grams than a Map of up to four entries holds
    for (i <- 0 until 5) m.addLm(s"${words(i)} ${words(i + 1)}", 5L + i)
    m.addLm(s"<bos> ${words(0)}", 3)
    m.addLm(words(0), 9)
    m.readVariantsLines(Seq(s"${words(3)}\t${words(4)}\t0.9\t${words(5)}\t0.8"))
    m.readVariantsLines(Seq(s"${words(6)}\t${words(6)}${ls(0)}\t0.7"),
      transparent = true, sourceName = "errors")
    m.addConfusable(s"-[${ls(1)}]+[${ls(2)}]", 1.2)
    m.addConfusable(s"-[${ls(3)}]", 0.8)
    assert(m.addContextRule(s"${words(0)}; @main", 1.2f, Seq("pair"), Seq("0:2")).isRight)
    assert(m.addContextRule("?; ^", 0.9f, Seq("any", "pair"), Seq("0:1", "1:1")).isRight)
    m.build()
    // lexicon words with one edit first: those are the ones learn mode links
    val queries = words.take(60).map(w => w.drop(1) + ls(rng.nextInt(ls.length))) ++
      Vector.fill(120)(word(14)) ++ Vector.fill(60)(word(3)) ++ Seq("", "!", "a!")
    assert(m.learnVariants(queries.take(30), params) > 0)
    (m, words, queries)
  }

  for ((name, a) <- Seq("simpleLatin" -> Alphabet.simpleLatin, "80-class" -> wide);
      beforePruning <- Seq(false, true))
    test(s"a restored model equals the original: $name alphabet, " +
        s"confusablesBeforePruning=$beforePruning") {
      val rng = new scala.util.Random(17L)
      val (m, words, queries) = model(a, beforePruning, rng)
      val (c, bytes) = roundTrip(m)

      // the stream carries columns, not the object graph
      val stream = new String(bytes, ISO_8859_1)
      val named = Seq("LocalVariantModel$Wire", "VocabEntry", "HashMap").filter(stream.contains)
      assert(named == Seq("LocalVariantModel$Wire"), "class names in the stream")

      assert(vocab(c) == vocab(m))
      assert(c.alphabet == m.alphabet && c.weights == m.weights)
      assert(c.confusablesBeforePruning == beforePruning)
      assert(c.confusables == m.confusables && c.confusables.length == 2)
      assert(c.lexicons == m.lexicons && c.lexicons.length == 4)
      assert(c.tags == m.tags && c.tags == Seq("pair", "any"))
      assert(c.contextRules == m.contextRules && c.contextRules.length == 2)
      assert(c.haveFreq && c.haveLm)
      assert(c.indexDump == m.indexDump)
      assert(c.weightedVariantsTsv.toVector == m.weightedVariantsTsv.toVector)
      for (t <- words ++ queries ++ Seq("<bos>", "<unk>", s"${words(1)}${words(2)}")) {
        assert(c.encode(t) == m.encode(t), s"encode '$t'")
        assert(c.get(t).map(_.id) == m.get(t).map(_.id), s"get '$t'")
      }
      val ids = Vector(m.encode(words(0)), m.encode(words(1)), None)
      assert(c.lmScoreTokens(ids) == m.lmScoreTokens(ids))
      val seq = Vector((m.encode(words(0)).get, 1L), (m.encode(words(7)).get, 1L), (0L, 0L))
      assert(c.testContextRules(seq) == m.testContextRules(seq))
      for (q <- queries; p <- paramSets)
        assert(c.findVariants(q, p) == m.findVariants(q, p), s"query '$q'")
      val sentence = s"${words(0)} ${words(1)} ${queries(0)}"
      assert(SearchEngine.findAllMatches(c, sentence, params) ==
        SearchEngine.findAllMatches(m, sentence, params))

      // the copy goes on learning (and merging frequencies) like the original
      val more = queries.drop(30)
      assert(c.learnVariants(more, params) == m.learnVariants(more, params))
      c.add(words(8), Some(4L)); m.add(words(8), Some(4L))
      c.build(); m.build()
      assert(vocab(c) == vocab(m))
      assert(c.indexDump == m.indexDump)

      // the cases the columns must get right are present
      assert(m.vocab.exists(e => e.variantOf.nonEmpty && e.transparent))
      assert(m.vocab.exists(e => !e.indexed && !e.lm && e.id > LocalVariantModel.UNK))
      assert(m.vocab.exists(e => java.lang.Long.bitCount(e.lexindex) > 1))
      assert(words.exists(m.alphabet.anahash(_).bitLength > 62))
      assert(words.exists(w => m.alphabet.normalize(w).contains(m.alphabet.unkNormIndex)))
    }

  test("normalized forms whose class indices need two bytes restore intact") {
    // 300 classes: more than the anagram hash has primes, so the model
    // cannot be built, but its vocab still round-trips
    val cjk = Alphabet((0 until 300).map(i => IndexedSeq((0x4e00 + i).toChar.toString)))
    val m = new LocalVariantModel(cjk)
    val words = Seq("\u4e00\u4eff\u4f2b", "\u4f2b!", "\u4e10")
    words.foreach(m.add(_))
    val (c, _) = roundTrip(m)
    assert(vocab(c) == vocab(m))
    assert(m.vocab.exists(_.norm.exists(_ - 33 > 255)))
    assert(words.forall(w => c.encode(w) == m.encode(w)))
    for (fail <- Seq(() => m.build(), () => cjk.anahash(words(0)))) {
      val e = intercept[IllegalArgumentException](fail())
      assert(e.getMessage.contains("300 classes") && e.getMessage.contains("167"), e.getMessage)
    }
  }

  test("an alphabet of 167 classes, the anagram hash's limit, builds and matches") {
    val a = Alphabet((0 until 167).map(i => IndexedSeq((0x4e00 + i).toChar.toString)))
    val rng = new scala.util.Random(5L)
    val ls = a.classes.map(_.head) ++ oov
    val words = Vector.fill(300)(Iterator.fill(1 + rng.nextInt(8))(ls(rng.nextInt(ls.length))).mkString)
    val m = new LocalVariantModel(a)
    words.foreach(m.add(_))
    m.build()
    // the last class and UNK take the table's last two primes
    assert(a.anahash("\u4ea6!") == BigInteger.valueOf(991L * 997L))
    assert(m.vocab.forall(_.norm.forall(_ <= 255)))
    // a word with an out-of-alphabet character may tie with another UNK spelling
    for (w <- words.filterNot(w => oov.exists(w.contains)).take(50))
      assert(m.findVariants(w, SearchParameters()).headOption.map(r => m.text(r.vocabId)) ==
        Some(w), s"query '$w'")
    val (c, _) = roundTrip(m)
    assert(vocab(c) == vocab(m) && c.indexDump == m.indexDump)
  }
}
