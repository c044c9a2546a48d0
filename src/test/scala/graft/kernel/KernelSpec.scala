package graft.kernel

import java.math.BigInteger
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's own unit tests — these expected values ARE the
  * semantics we must preserve (reference: tests/main.rs, sections
  * 01xx anagram algebra, 02xx iterators, 03xx normalization+distances,
  * 04xx model build/score, 08xx transparent variant expansion).
  */
class KernelSpec extends AnyFunSuite {
  val alphabet = Alphabet.test
  def ana(s: String): BigInteger = alphabet.anahash(s)
  def norm(s: String): Array[Int] = alphabet.normalize(s)
  def key(s: String): String = alphabet.normKey(s)
  def big(n: Long): BigInteger = BigInteger.valueOf(n)

  // --- 01xx: anagram hash algebra (tests/main.rs:29-153) ---

  test("0103 hash basic") {
    assert(ana("a") == big(2))
    assert(ana("b") == big(3))
    assert(ana("c") == big(5))
    assert(ana("ab") == big(6))
    assert(ana("ab") == ana("ba"))
    assert(ana("abc") == big(30))
    assert(ana("abcabcabc") == big(30L * 30 * 30))
  }

  test("0103 alphabet equivalence classes") {
    assert(ana("abc") == ana("ABC"))
    assert(ana("abc") == ana("bAc"))
    assert(ana("a.b") == ana("a,b"))
  }

  test("0104 hash beyond 64 bits") {
    val v = ana("xyz" * 24)
    assert(v.compareTo(AnaHash.empty) > 0)
    assert(v.bitLength > 64)
  }

  test("0105 anagram equality") {
    assert(ana("stressed") == ana("desserts"))
    assert(ana("dormitory") == ana("dirtyroom"))
    assert(ana("presents") == ana("serpents"))
  }

  test("0106 insertion") {
    assert(insert(ana("ab"), ana("c")) == ana("abc"))
    assert(insert(ana("c"), ana("ab")) == ana("abc"))
  }

  test("0107 containment") {
    assert(contains(ana("abc"), ana("c")))
    assert(contains(ana("abc"), ana("ab")))
    assert(contains(ana("abc"), ana("abc")))
    assert(!contains(ana("c"), ana("abc")))
    assert(!contains(ana("ab"), ana("c")))
    assert(!contains(ana("ab"), ana("abc")))
  }

  test("0108 deletion") {
    assert(delete(ana("abc"), ana("c")).contains(ana("ab")))
    assert(delete(ana("abc"), ana("b")).contains(ana("ac")))
    assert(delete(ana("c"), ana("abc")).isEmpty)
    assert(delete(ana("abc"), ana("x")).isEmpty)
  }

  test("0108 alphabet upper bound") {
    assert(alphabetUpperBound(ana("abc"), 27) == ((2, 3)))
    assert(alphabetUpperBound(ana("ab"), 27) == ((1, 2)))
    assert(alphabetUpperBound(ana("x"), 27) == ((23, 1)))
  }

  test("char count matches normalized length") {
    for (s <- Seq("a", "house", "stressed", "abcabcabc", "h.u,ys"))
      assert(charCount(ana(s), alphabet.size + 1) == norm(s).length)
  }

  test("UNK characters hash to the reserved prime") {
    // '!' is not in the test alphabet -> hash path uses index 27
    assert(ana("!") == big(AnaHash.PRIMES(27).toLong))
    // normalize path uses index 28 (the reference's off-by-one asymmetry,
    // src/anahash.rs:42-44 vs 74-77)
    assert(norm("!").toSeq == Seq(28))
  }

  // --- 02xx: deletion BFS (tests/main.rs:396-455, unique BFS order) ---

  test("0203 BFS unique deletions of abcd") {
    val got = visitedSetBfs(ana("abcd"), 27, 10)
    val expected = Vector(
      ("abc", 1), ("abd", 1), ("acd", 1), ("bcd", 1),
      ("ab", 2), ("ac", 2), ("bc", 2), ("ad", 2), ("bd", 2), ("cd", 2),
      ("a", 3), ("b", 3), ("c", 3), ("d", 3)
    ).map { case (s, d) => (ana(s), d) }
    assert(got == expected)
  }

  test("BFS respects max distance and excludes empty") {
    val got = visitedSetBfs(ana("ab"), 27, 5)
    assert(got == Vector((ana("a"), 1), (ana("b"), 1)))
    val d1 = visitedSetBfs(ana("abcd"), 27, 1)
    assert(d1.map(_._2).forall(_ == 1) && d1.size == 4)
  }

  /** The reference's breadth-first unique deletion walk, the deletion
    * oracle of [[bruteNearest]] (the 0203 vectors above pin its order):
    * each frontier node deletes one letter of each class present, highest
    * class first, and the first visit of a value wins
    * (src/iterators.rs:95-236).
    */
  def visitedSetBfs(focus: BigInteger, nClasses: Int, maxDistance: Int): Vector[(BigInteger, Int)] = {
    val visited = scala.collection.mutable.HashSet(focus)
    val out = Vector.newBuilder[(BigInteger, Int)]
    var frontier = Vector(focus)
    for (depth <- 1 to maxDistance) {
      val next = Vector.newBuilder[BigInteger]
      for (v <- frontier; i <- nClasses - 1 to 0 by -1) {
        val p = AnaHash.primeFor(i)
        if (v.mod(p).signum == 0) {
          val parent = v.divide(p)
          if (visited.add(parent)) {
            next += parent
            if (!isEmpty(parent)) out += ((parent, depth))
          }
        }
      }
      frontier = next.result()
    }
    out.result()
  }

  // The reference's anagram algebra (src/anahash.rs:107-171) on the
  // values: the oracle helpers of visitedSetBfs and bruteNearest, pinned
  // by the 01xx vectors above.

  def isEmpty(v: BigInteger): Boolean =
    v.signum == 0 || v.equals(BigInteger.ONE)

  def insert(v: BigInteger, ch: BigInteger): BigInteger =
    if (v.signum == 0) ch else v.multiply(ch)

  /** Does `v` contain the character bag `value`? (divisibility) */
  def contains(v: BigInteger, value: BigInteger): Boolean =
    value.compareTo(v) <= 0 && v.mod(value).signum == 0

  /** Delete the characters of `value` from `v` if present. */
  def delete(v: BigInteger, value: BigInteger): Option[BigInteger] =
    if (contains(v, value)) Some(v.divide(value)) else None

  /** (highest class index present, number of characters), counting
    * prime factors with multiplicity over the first `nClasses` primes.
    */
  def alphabetUpperBound(v: BigInteger, nClasses: Int): (Int, Int) = {
    var maxIdx = 0
    var count = 0
    var cur = v
    var i = 0
    while (i < nClasses && cur.compareTo(BigInteger.ONE) > 0) {
      val p = AnaHash.primeFor(i)
      var qr = cur.divideAndRemainder(p)
      if (qr(1).signum == 0) maxIdx = i
      while (qr(1).signum == 0) {
        count += 1
        cur = qr(0)
        qr = cur.divideAndRemainder(p)
      }
      i += 1
    }
    (maxIdx, count)
  }

  def charCount(v: BigInteger, nClasses: Int): Int = alphabetUpperBound(v, nClasses)._2

  def fromBytes(b: Array[Byte]): BigInteger = new BigInteger(1, b)

  test("misses counts the focus letters a value lacks, unknowns as one class") {
    val a = Alphabet.simpleLatin
    def key(s: String) = a.normKey(s)
    assert(AnaHash.misses(key("tires"), key("rite"), a.size) == 1)
    assert(AnaHash.misses(key("tires"), key("rites"), a.size) == 0)
    assert(AnaHash.misses(key("aab"), key("abcc"), a.size) == 1)
    assert(AnaHash.misses(key("a!?"), key("aß"), a.size) == 1)
    val rng = new scala.util.Random(5L)
    for (_ <- 1 to 500) {
      val f = Vector.fill(rng.nextInt(10))(rng.nextInt(30))
      val v = Vector.fill(rng.nextInt(10))(rng.nextInt(30))
      val asKey = (cs: Vector[Int]) => cs.map(c => (c + 33).toChar).mkString
      // the multiset difference, classes above 26 counted as 26
      val unk = (cs: Vector[Int]) => cs.map(math.min(_, 26))
      assert(AnaHash.misses(asKey(f), asKey(v), 26) == unk(f).diff(unk(v)).size, s"$f $v")
    }
  }

  // --- 03xx: normalization + distances (tests/main.rs:558-807) ---

  test("0301 normalize") {
    assert(norm("a").toSeq == Seq(0))
    assert(norm("b").toSeq == Seq(1))
    assert(norm("aA.,").toSeq == Seq(0, 0, 26, 26))
  }

  test("0302 levenshtein") {
    def lev(a: String, b: String) = FullDpOracle.levenshtein(norm(a), norm(b), 99)
    assert(lev("a", "a") == 0)
    assert(lev("a", "b") == 1)
    assert(lev("ab", "ac") == 1)
    assert(lev("a", "ab") == 1)
    assert(lev("ab", "a") == 1)
    assert(lev("ab", "ba") == 2)
    assert(lev("abc", "xyz") == 3)
  }

  test("0303 damerau levenshtein") {
    def dl(a: String, b: String) = Distances.dlChars(key(a), key(b), 99)
    assert(dl("a", "a") == 0)
    assert(dl("a", "b") == 1)
    assert(dl("ab", "ac") == 1)
    assert(dl("a", "ab") == 1)
    assert(dl("ab", "a") == 1)
    assert(dl("ab", "ba") == 1) // transposition: the DL/lev difference
    assert(dl("abc", "xyz") == 3)
    assert(dl("hipotesis", "hypothesis") == 2)
  }

  test("distance max cutoffs return -1") {
    assert(Distances.dlChars(key("abcdef"), key("a"), 3) == -1)
    assert(Distances.dlChars(key("abc"), key("xyz"), 2) == -1)
    assert(FullDpOracle.levenshtein(norm("abc"), norm("xyz"), 2) == -1)
  }

  test("0304 lcs / prefix / suffix") {
    def lcs(a: String, b: String) = Distances.lcsChars(key(a), key(b))
    def pre(a: String, b: String) = Distances.prefixChars(key(a), key(b))
    def suf(a: String, b: String) = Distances.suffixChars(key(a), key(b))
    assert(lcs("test", "testable") == 4)
    assert(lcs("fasttest", "testable") == 4)
    assert(lcs("abcdefhij", "def") == 3)
    assert(lcs("def", "abcdefhij") == 3)
    assert(pre("test", "testable") == 4)
    assert(pre("testable", "test") == 4)
    assert(pre("fasttest", "testable") == 0)
    assert(suf("test", "testable") == 0)
    assert(suf("fasttest", "test") == 4)
  }

  // --- 04xx: model build + scoring (tests/main.rs:809-911) ---

  def testParams: SearchParameters = SearchParameters(
    maxAnagramDistance = DistanceThreshold.Absolute(2),
    maxEditDistance = DistanceThreshold.Absolute(2),
    maxMatches = 10,
    scoreThreshold = 0.0,
    cutoffThreshold = 0.0,
    maxNgram = 2
  )

  def modelWith(lexicon: Seq[String]): LocalVariantModel = {
    val m = new LocalVariantModel(Alphabet.test)
    lexicon.foreach(m.add(_))
    m.build()
  }

  test("0401/0402 model build and anagram buckets") {
    val m = modelWith(Seq("rites", "tiers", "tires", "tries", "tyres",
      "rides", "brides", "dire"))
    assert(m.get("rites").isDefined)
    assert(m.get("unknown").isEmpty)
    val bucket = m.anagramInstances("rites").map(m.text)
    assert(bucket == Vector("rites", "tiers", "tires", "tries"))
  }

  test("0403 find variants runs") {
    val m = modelWith(Seq("rites", "tiers", "tires", "tries", "tyres",
      "rides", "brides", "dire"))
    m.findVariants("rite", testParams) // must not throw
  }

  test("0404 huys -> huis before huls, tied scores") {
    val m = modelWith(Seq("huis", "huls"))
    val results = m.findVariants("huys", testParams)
    assert(results.length == 2)
    assert(m.text(results(0).vocabId) == "huis")
    assert(m.text(results(1).vocabId) == "huls")
    assert(results(0).vocabId != results(1).vocabId)
    assert(results(0).distScore == results(1).distScore)
    assert(results(0).freqScore == results(1).freqScore)
    // hand-check of the score formula (lib.rs:1443-1452):
    // len 4, DL 1, lcs 2 ("hu"), prefix 2, suffix 1, samecase
    assert(math.abs(results(0).distScore - 0.65625) < 1e-12)
  }

  // --- 08xx: transparent variant expansion (tests/main.rs:1483-1510) ---

  test("0801 transparent variant bridges larger edit distance") {
    val m = new LocalVariantModel(Alphabet.test)
    m.add("afgescheid")
    m.addVariantEdge("afghescheydt", "afgescheid", 1.0, transparentVariant = true)
    m.build()
    val results = m.findVariants("afgheschaydt", testParams)
    assert(results.length == 1)
    assert(m.text(results(0).vocabId) == "afgescheid")
  }

  // --- frequency handling (reference: src/lib.rs:900-967) ---

  test("frequency merge sum + freq tie-break in ranking") {
    // reference default handling is Max (vocab.rs VocabParams::default)
    val mx = new LocalVariantModel(Alphabet.test)
    mx.add("word", Some(5))
    mx.add("word", Some(7))
    assert(mx.get("word").get.frequency == 7)
    val m = new LocalVariantModel(Alphabet.test, frequencyHandling = "sum")
    m.add("word", Some(5))
    m.add("word", Some(7))
    assert(m.get("word").get.frequency == 12)

    val m2 = new LocalVariantModel(Alphabet.test)
    m2.add("huis", Some(100))
    m2.add("huls", Some(10))
    m2.build()
    val rs = m2.findVariants("huys", testParams)
    // tied dist score -> higher frequency first
    assert(m2.text(rs(0).vocabId) == "huis")
    assert(rs(0).freqScore == 1.0 && rs(1).freqScore == 0.1)
  }

  test("tie-aware truncation keeps whole boundary semantics") {
    // 5 results, scores: 1.0, .9, .9, .9, .5 with maxMatches=2:
    // cropped (idx 2) score .9 == last kept -> early cutoff at first .9
    def vr(id: Long, s: Double) = VariantResult(id, s, 1.0)
    val ranked = Vector(vr(1, 1.0), vr(2, 0.9), vr(3, 0.9), vr(4, 0.9), vr(5, 0.5))
    val out = Scoring.truncateTieAware(ranked, 2, 0.0f)
    // reference semantics (lib.rs:1556-1588): early_cutoff = 1 -> keep 2
    assert(out.map(_.vocabId) == Vector(1L, 2L))
    // plain case: boundary not splitting a tie
    val out2 = Scoring.truncateTieAware(Vector(vr(1, 1.0), vr(2, 0.9),
      vr(3, 0.8)), 2, 0.0f)
    assert(out2.map(_.vocabId) == Vector(1L, 2L))
  }

  test("relative cutoff threshold") {
    def vr(id: Long, s: Double) = VariantResult(id, s, 1.0)
    val ranked = Vector(vr(1, 0.9), vr(2, 0.8), vr(3, 0.4), vr(4, 0.3))
    val out = Scoring.applyCutoff(ranked, 2.0, 0.0f)
    assert(out.map(_.vocabId) == Vector(1L, 2L))
    assert(Scoring.applyCutoff(ranked, 0.0, 0.0f) == ranked) // disabled
  }

  test("anahash byte codec round-trips and orders correctly") {
    val vals = Seq("a", "z", "house", "xyz" * 24, "!").map(ana)
    for (v <- vals)
      assert(fromBytes(AnaHash.toBytes(v)) == v)
    // (length, lexicographic) on canonical bytes == numeric order
    val sortedNum = vals.sortBy(identity)(AnaHash.bigIntegerOrdering)
    val sortedBytes = vals.sortBy { v =>
      val b = AnaHash.toBytes(v)
      (b.length, b.map(x => f"${x & 0xff}%02x").mkString)
    }
    assert(sortedNum == sortedBytes)
  }

  // --- nearest-anagram search (reference: src/lib.rs:1143-1308) ---

  /** findNearestAnahashes with no index narrowing: every (probe, target
    * charcount) lookup tests every indexed value of that charcount with
    * plain divisibility, as the reference's scan does (lib.rs:1266-1281).
    */
  def bruteNearest(m: LocalVariantModel): (BigInteger, Int) => Vector[BigInteger] = {
    val indexed = m.vocab.filter(_.indexed)
      .map(e => (m.alphabet.anahash(e.text), e.norm.length))
    val keys = indexed.map(_._1).toSet
    val buckets = indexed.groupBy(_._2).map { case (cc, vs) => cc -> vs.map(_._1).distinct }
    (focus, maxDistance) => {
      val (upper, cc) = alphabetUpperBound(focus, m.alphabetSizeWithUnk)
      val dels = visitedSetBfs(focus, upper + 2, maxDistance)
      val lookups = (1 to maxDistance).map(d => (focus, cc + d)) ++
        dels.flatMap { case (v, dist) =>
          (1 to maxDistance - dist).map(sd => (v, cc - dist + sd))
        }
      val hits = lookups.flatMap { case (probe, c) =>
        buckets.getOrElse(c, Vector.empty).filter(contains(_, probe))
      }
      ((focus +: dels.map(_._1)).filter(keys) ++ hits).distinct
        .sortBy(identity)(AnaHash.bigIntegerOrdering).toVector
    }
  }

  test("nearest-anahash scan equals a brute-force containment oracle") {
    val rng = new scala.util.Random(11L)
    def word(letters: IndexedSeq[String], maxLen: Int): String =
      Iterator.fill(1 + rng.nextInt(maxLen))(letters(rng.nextInt(letters.length))).mkString
    // 80 one-letter classes: more classes than a long has bits
    val wide = Alphabet((0 until 80).map(i => IndexedSeq((0x3b1 + i).toChar.toString)))
    val latin = ('a' to 'z').map(_.toString)
    // characters outside both alphabets: the normalized form puts them at
    // class size + 1, the anagram value at class size
    val oov = Seq("!", "?", "ß")
    for ((alphabet, letters, maxLen) <- Seq(
        (Alphabet.simpleLatin, latin ++ oov, 14),
        (wide, wide.classes.map(_.head) ++ oov.take(2), 9))) {
      val m = new LocalVariantModel(alphabet)
      val words = Vector.fill(1500)(word(letters, maxLen))
      // reversed words: anagram values with several instances
      (words ++ words.take(100).map(_.reverse) ++ Seq("", "!")).foreach(m.add(_))
      m.build()
      val oracle = bruteNearest(m)
      val lexicon = m.vocab.filter(_.indexed).map(_.text)
      // vocab ids per anagram value, in insertion order
      val instances = m.vocab.filter(_.indexed)
        .groupBy(e => alphabet.anahash(e.text)).map { case (v, es) => v -> es.map(_.id) }
      val queries = Vector.fill(150)(word(letters, maxLen)) ++
        Vector.fill(150)(word(letters, 3)) ++
        Vector.fill(150)(lexicon(rng.nextInt(lexicon.length))) ++ Seq("", "!", "a!")
      // distances 4..5 (the scan's array path) on a sample: the oracle's
      // probe count grows fast with the distance
      val cases = for (q <- queries; d <- 0 to 5 if d <= 3 || q.hashCode % 5 == 0) yield (q, d)
      for ((q, d) <- cases) {
        val norm = alphabet.normKey(q)
        val focus = alphabet.anahash(q)
        val exhaustive = oracle(focus, d)
        val nearest = m.findNearestAnahashes(norm, d)
        assert(nearest.map(m.anagramValue).toVector == exhaustive,
          s"query '$q' at distance $d")
        val exact = if (instances.contains(focus)) Vector(focus) else exhaustive
        assert(m.findNearestAnahashes(norm, d, StopCriterion.StopAtExactMatch)
          .map(m.anagramValue).toVector == exact, s"query '$q' at distance $d, exact stop")
        // with an edit bound no pair reaches, the gather keeps every
        // instance: ascending value, then insertion order
        assert(m.gatherInstances(nearest, norm, q, 1000).map(_._1) ==
          exhaustive.flatMap(instances), s"query '$q' at distance $d, gather")
      }
      // the cases the scan must get right are all present
      val sizes = lexicon.groupBy(alphabet.normalize(_).length).values
        .map(_.map(alphabet.anahash).distinct.size)
      assert(sizes.exists(n => n > 64 && n % 64 != 0))
      assert(lexicon.exists(alphabet.anahash(_).bitLength > 62))
      assert(instances.values.exists(_.size > 1))
      assert(queries.exists(q => instances.contains(alphabet.anahash(q))))
      assert(Seq(alphabet.anahash(""), alphabet.anahash("!")).forall(instances.contains))
      for (side <- Seq(lexicon, queries))
        assert(side.exists(alphabet.normalize(_).count(_ == alphabet.unkNormIndex) > 1))
      assert(cases.exists { case (q, d) => d >= 4 && alphabet.normalize(q).length > d })
      assert(cases.exists { case (q, d) => q.nonEmpty && alphabet.normalize(q).length <= d })
      if (alphabet.size >= 70)
        assert(queries.exists(alphabet.normalize(_).exists(_ >= 63)))
    }
  }
}
