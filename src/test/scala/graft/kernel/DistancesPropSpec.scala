package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Pins the zero-allocation char-based kernels (Distances.dlChars etc.,
  * the dedup verify hot path and the matcher's distance features) to the
  * unstripped full-DP oracle over class-index arrays ([[FullDpOracle]]),
  * over seeded random strings, texts normalized through real alphabets
  * and distance caps.
  */
class DistancesPropSpec extends AnyFunSuite {

  private def ints(s: String): Array[Int] = s.toCharArray.map(_.toInt)
  private val rng = new scala.util.Random(12345)
  private def randKey(maxLen: Int): String = {
    val n = rng.nextInt(maxLen + 1)
    String.valueOf(Array.fill(n)((33 + rng.nextInt(58)).toChar))
  }

  test("dlChars == damerauLevenshtein over random strings and caps") {
    for (_ <- 0 until 20000) {
      val a = randKey(24)
      val b = randKey(24)
      val max = rng.nextInt(13)
      assert(Distances.dlChars(a, b, max) ==
        FullDpOracle.damerauLevenshtein(ints(a), ints(b), max),
        s"a=$a b=$b max=$max")
    }
  }

  test("dlChars on near pairs (edit-corrupted) matches exactly") {
    for (_ <- 0 until 5000) {
      val a = graft.sources.SyntheticText.phrase(rng, 1 + rng.nextInt(4))
      val b = graft.sources.SyntheticText.corrupt(rng, a, rng.nextInt(4))
      for (max <- Seq(1, 2, 3, 5)) {
        assert(Distances.dlChars(a, b, max) ==
          FullDpOracle.damerauLevenshtein(ints(a), ints(b), max),
          s"a=$a b=$b max=$max")
      }
    }
  }

  test("dlChars affix-strip + row-min abort: exhaustive parity, len<=5 over 3 chars") {
    // every pair of strings up to length 5 on a 3-char alphabet (364^2
    // pairs x 5 caps): small alphabets maximize transposition / repeated-
    // char interactions — the cases where affix stripping or an early
    // abort could diverge from the full Lowrance-Wagner DP if either
    // were unsound
    val alpha = "abc"
    val strings = scala.collection.mutable.ArrayBuffer("")
    var level = Seq("")
    for (_ <- 1 to 5) {
      level = for (s <- level; c <- alpha) yield s + c
      strings ++= level
    }
    for (a <- strings; b <- strings; max <- Seq(0, 1, 2, 3, 6)) {
      assert(Distances.dlChars(a, b, max) ==
        FullDpOracle.damerauLevenshtein(ints(a), ints(b), max),
        s"a=$a b=$b max=$max")
    }
  }

  test("dlChars parity on transposition-heavy binary strings") {
    // longer random strings over a 2-char alphabet: dense equal-char
    // runs, many last-occurrence references spanning the stripped affixes
    for (_ <- 0 until 20000) {
      val a = String.valueOf(Array.fill(rng.nextInt(13))(('a' + rng.nextInt(2)).toChar))
      val b = String.valueOf(Array.fill(rng.nextInt(13))(('a' + rng.nextInt(2)).toChar))
      val max = rng.nextInt(7)
      assert(Distances.dlChars(a, b, max) ==
        FullDpOracle.damerauLevenshtein(ints(a), ints(b), max),
        s"a=$a b=$b max=$max")
    }
  }

  test("lcs/prefix/suffix char forms match array forms") {
    for (_ <- 0 until 5000) {
      val a = randKey(24)
      val b = randKey(24)
      assert(Distances.lcsChars(a, b) ==
        FullDpOracle.longestCommonSubstring(ints(a), ints(b)))
      assert(Distances.prefixChars(a, b) == FullDpOracle.commonPrefix(ints(a), ints(b)))
      assert(Distances.suffixChars(a, b) == FullDpOracle.commonSuffix(ints(a), ints(b)))
    }
  }

  test("distanceFeatures over normKeys == the full-DP oracle over normalize, real alphabets") {
    // simpleLatin with two digraph classes in front (multi-char surface
    // forms win the greedy scan), and KernelSpec's 80-class alphabet
    val digraphs = Alphabet(IndexedSeq(IndexedSeq("ch", "Ch", "CH"), IndexedSeq("ij", "IJ")) ++
      Alphabet.simpleLatin.classes)
    val wide = Alphabet((0 until 80).map(i => IndexedSeq((0x3b1 + i).toChar.toString)))
    // characters outside every alphabet here: each normalizes to UNK
    val oov = Seq("!", "ß", "\u4e00", "\ud83d\ude00")
    val r = new scala.util.Random(54321)
    val weightSets = Seq(Weights(), Weights(ld = 1.0, lcs = 0.0, prefix = 0.0, suffix = 0.0,
      caseW = 0.0), Weights(ld = 0.6, lcs = 0.2, prefix = 0.0, suffix = 0.1, caseW = 0.1))
    for ((a, letters) <- Seq(
        digraphs -> (Seq("ch", "Ch", "ij", "IJ", "é", "Ö", "ç", "7") ++
          ('a' to 'z').map(_.toString) ++ ('A' to 'F').map(_.toString) ++ oov),
        wide -> (wide.classes.map(_.head) ++ oov))) {
      def word(): String =
        Iterator.fill(r.nextInt(13))(letters(r.nextInt(letters.length))).mkString
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      val lds = scala.collection.mutable.Set.empty[Int]
      for (_ <- 0 until 3000) {
        val x = word()
        val y = if (r.nextBoolean()) word()
          else graft.sources.SyntheticText.corrupt(r, x, 1 + r.nextInt(3))
        val (kx, ky) = (a.normKey(x), a.normKey(y))
        keys += kx
        assert(kx.map(_ - 33) == a.normalize(x).toSeq)
        for (max <- 0 to 5; w <- weightSets) {
          val same = Scoring.sameCase(Scoring.caseClass(x), Scoring.caseClass(y), w)
          val got = Scoring.distanceFeatures(kx, ky, same, max, w)
          assert(got == FullDpOracle.distanceFeatures(a.normalize(x), x, a.normalize(y), y, max, w),
            s"x=$x y=$y max=$max w=$w")
          got.foreach(lds += _.ld)
        }
      }
      // every distance up to the largest cap, UNK, and multi-char forms
      assert(lds == (0 to 5).toSet)
      assert(keys.exists(_.contains((33 + a.unkNormIndex).toChar)))
      if (a == digraphs) assert(keys.exists(_.contains('!')) && keys.exists(_.contains('"')))
    }
  }

  /** The reference's anchor-and-extend LCS (src/distance.rs:181-205),
    * kept verbatim HERE as the independent parity anchor now that both
    * production forms use the rolling-row DP.
    */
  private def naiveLcs(s1: Array[Int], s2: Array[Int]): Int = {
    var lcs = 0
    var i = 0
    while (i < s1.length) {
      var j = 0
      while (j < s2.length) {
        if (s1(i) == s2(j)) {
          var k = 1
          while (i + k < s1.length && j + k < s2.length && s1(i + k) == s2(j + k))
            k += 1
          if (k > lcs) lcs = k
        }
        j += 1
      }
      i += 1
    }
    lcs
  }

  test("DP lcs == reference anchor-and-extend lcs, incl. adversarial runs") {
    // random short keys
    for (_ <- 0 until 5000) {
      val a = randKey(24)
      val b = randKey(24)
      assert(Distances.lcsChars(a, b) == naiveLcs(ints(a), ints(b)),
        s"a=$a b=$b")
    }
    // transcript-shaped near-dups at real pipeline lengths
    for (_ <- 0 until 300) {
      val a = graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(59))
      val b = graft.sources.SyntheticText.corrupt(rng, a, 1 + rng.nextInt(3))
      assert(Distances.lcsChars(a, b) == naiveLcs(ints(a), ints(b)))
      assert(FullDpOracle.longestCommonSubstring(ints(a), ints(b)) ==
        naiveLcs(ints(a), ints(b)))
    }
    // adversarial: periodic strings (long shared runs at many offsets),
    // single-char runs, shared block at a large offset, empties
    val cases = Seq(
      ("abcabcabcabcabcabc", "bcabcabcabcabcabca"),
      ("aaaaaaaaaaaa", "aaaaaaa"),
      ("aaaaaaa", "aaaaaaaaaaaa"),
      ("xyxyxyxyxyzz", "zzxyxyxyxyxy"),
      ("hello world", "world hello"),
      ("abc", ""), ("", "abc"), ("", ""),
      ("a", "a"), ("a", "b"),
      ("abab", "baba"))
    for ((a, b) <- cases) {
      assert(Distances.lcsChars(a, b) == naiveLcs(ints(a), ints(b)),
        s"a=$a b=$b")
      assert(FullDpOracle.longestCommonSubstring(ints(a), ints(b)) ==
        naiveLcs(ints(a), ints(b)), s"a=$a b=$b")
    }
  }

  test("lcsAtLeast == (lcsChars >= target) for every target, incl. adversarial") {
    def check(a: String, b: String): Unit = {
      val exact = Distances.lcsChars(a, b)
      val hi = math.min(a.length, b.length) + 2
      var t = 0
      while (t <= hi) {
        assert(Distances.lcsAtLeast(a, b, t) == (exact >= t),
          s"a=$a b=$b t=$t exact=$exact")
        t += 1
      }
      assert(Distances.lcsAtLeast(a, b, -1)) // degenerate targets
      assert(Distances.lcsAtLeast(a, b, 0))
    }
    for (_ <- 0 until 2000) check(randKey(24), randKey(24))
    // transcript-shaped near-dups: the decision path's production inputs
    for (_ <- 0 until 200) {
      val a = graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(30))
      val b = graft.sources.SyntheticText.corrupt(rng, a, 1 + rng.nextInt(3))
      check(a, b)
    }
    // adversarial: periodic (runs at many offsets), uniform runs, shared
    // block at a large offset (the case a banded scan would miss if the
    // termination bound were wrong), empties
    val cases = Seq(
      ("abcabcabcabcabcabc", "bcabcabcabcabcabca"),
      ("aaaaaaaaaaaa", "aaaaaaa"),
      ("xyxyxyxyxyzz", "zzxyxyxyxyxy"),
      ("hello world", "world hello"),
      ("qqqqABCDEFGH", "ABCDEFGHzzzz"), // long run at offset +/-4 only
      ("abc", ""), ("", "abc"), ("", ""),
      ("a", "a"), ("a", "b"),
      ("abab", "baba"))
    for ((a, b) <- cases) check(a, b)
  }

  test("transposition distinguishes DL from plain Levenshtein (03xx)") {
    // reference tests/main.rs:677-685: ab<->ba is 1 edit in DL, 2 in Lev
    assert(Distances.dlChars("ab", "ba", 2) == 1)
    assert(Distances.levenshtein(ints("ab"), ints("ba"), 2) == 2)
  }
}
