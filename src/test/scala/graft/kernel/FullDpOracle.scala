package graft.kernel

/** The unstripped full-DP distance features over alphabet class-index
  * arrays (reference: src/distance.rs:101-231, src/lib.rs:1343-1378):
  * the oracle the production char kernels of [[Distances]] and
  * [[Scoring.distanceFeatures]] are pinned against. No band, no affix
  * stripping, no early abort, a fresh matrix per call.
  */
object FullDpOracle {

  /** Plain Levenshtein with early length-band abort, as the reference
    * computes it (src/distance.rs:7-82); no production path uses plain
    * Levenshtein, so only KernelSpec's reference vectors call it.
    * Returns -1 if > maxDistance.
    */
  def levenshtein(a: Array[Int], b: Array[Int], maxDistance: Int): Int = {
    if (java.util.Arrays.equals(a, b)) return 0
    val la = a.length
    val lb = b.length
    if (la == 0) return if (lb > maxDistance) -1 else lb
    if (la > lb && la - lb > maxDistance) return -1
    if (lb == 0) return if (la > maxDistance) -1 else la
    if (lb > la && lb - la > maxDistance) return -1

    val cache = new Array[Int](la)
    var i = 0
    while (i < la) { cache(i) = i + 1; i += 1 }
    var result = 0
    var ib = 0
    while (ib < lb) {
      val eb = b(ib)
      result = ib
      var distA = ib
      var ia = 0
      while (ia < la) {
        val distB = if (a(ia) == eb) distA else distA + 1
        distA = cache(ia)
        result =
          if (distA > result) { if (distB > result) result + 1 else distB }
          else if (distB > distA) distA + 1
          else distB
        cache(ia) = result
        ia += 1
      }
      ib += 1
    }
    if (result > maxDistance) -1 else result
  }

  /** Full Damerau-Levenshtein (unrestricted, with the last-occurrence map —
    * not the OSA restriction; reference: src/distance.rs:101-179). Returns
    * -1 if > maxDistance.
    */
  def damerauLevenshtein(s: Array[Int], t: Array[Int], maxDistance: Int): Int = {
    val lenS = s.length
    val lenT = t.length
    if (lenS == 0) return if (lenT > maxDistance) -1 else lenT
    if (lenS > lenT && lenS - lenT > maxDistance) return -1
    if (lenT == 0) return if (lenS > maxDistance) -1 else lenS
    if (lenT > lenS && lenT - lenS > maxDistance) return -1

    val inf = lenS + lenT
    // flat (lenS+2) x (lenT+2) matrix
    val w = lenT + 2
    val mat = new Array[Int]((lenS + 2) * w)
    mat(0) = inf
    var i = 0
    while (i <= lenS) { mat((i + 1) * w) = inf; mat((i + 1) * w + 1) = i; i += 1 }
    i = 0
    while (i <= lenT) { mat(i + 1) = inf; mat(w + i + 1) = i; i += 1 }

    // last row (1-based) of each class in s, indexed by class
    var maxClass = 0
    i = 0
    while (i < lenS) { if (s(i) > maxClass) maxClass = s(i); i += 1 }
    i = 0
    while (i < lenT) { if (t(i) > maxClass) maxClass = t(i); i += 1 }
    val lastRow = new Array[Int](maxClass + 1)
    i = 0
    while (i < lenS) {
      val sChar = s(i)
      var db = 0
      val ii = i + 1
      var j = 0
      while (j < lenT) {
        val jj = j + 1
        val tChar = t(j)
        val last = lastRow(tChar)
        val cost = if (sChar == tChar) 0 else 1
        val del = mat((ii + 1) * w + jj) + 1
        val ins = mat(ii * w + jj + 1) + 1
        val sub = mat(ii * w + jj) + cost
        val trans = mat(last * w + db) + (ii - last - 1) + 1 + (jj - db - 1)
        var m = del
        if (ins < m) m = ins
        if (sub < m) m = sub
        if (trans < m) m = trans
        mat((ii + 1) * w + jj + 1) = m
        if (cost == 0) db = jj
        j += 1
      }
      lastRow(sChar) = ii
      i += 1
    }
    val result = mat((lenS + 1) * w + lenT + 1)
    if (result > maxDistance) -1 else result
  }

  /** Longest common substring length as the rolling-row DP (the
    * reference's anchor-and-extend scan is DistancesPropSpec's naiveLcs).
    */
  def longestCommonSubstring(s1: Array[Int], s2: Array[Int]): Int = {
    var lcs = 0
    val n2 = s2.length
    val row = new Array[Int](n2 + 1)
    var i = 0
    while (i < s1.length) {
      val c = s1(i)
      var diag = 0 // row(j) from the previous i-iteration
      var j = 0
      while (j < n2) {
        val up = row(j + 1)
        if (c == s2(j)) {
          val v = diag + 1
          row(j + 1) = v
          if (v > lcs) lcs = v
        } else row(j + 1) = 0
        diag = up
        j += 1
      }
      i += 1
    }
    lcs
  }

  /** Common prefix length (reference: src/distance.rs:208-218). */
  def commonPrefix(s1: Array[Int], s2: Array[Int]): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1(i) == s2(i)) i += 1
    i
  }

  /** Common suffix length (reference: src/distance.rs:221-231). */
  def commonSuffix(s1: Array[Int], s2: Array[Int]): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1(s1.length - i - 1) == s2(s2.length - i - 1)) i += 1
    i
  }

  /** The distance features over normalized forms and their texts, with
    * the reference's zero-weight skipping and case rule
    * (src/lib.rs:1343-1378). None when DL exceeds maxEditDistance.
    */
  def distanceFeatures(
      queryNorm: Array[Int],
      queryText: String,
      candNorm: Array[Int],
      candText: String,
      maxEditDistance: Int,
      weights: Weights
  ): Option[Distance] = {
    val ld = damerauLevenshtein(queryNorm, candNorm, maxEditDistance)
    if (ld < 0) None
    else
      Some(
        Distance(
          ld = ld,
          lcs = if (weights.lcs > 0.0) longestCommonSubstring(queryNorm, candNorm) else 0,
          prefixLen = if (weights.prefix > 0.0) commonPrefix(queryNorm, candNorm) else 0,
          suffixLen = if (weights.suffix > 0.0) commonSuffix(queryNorm, candNorm) else 0,
          sameCase =
            if (weights.caseW > 0.0 && queryText.nonEmpty && candText.nonEmpty)
              Character.isLowerCase(candText.codePointAt(0)) ==
                Character.isLowerCase(queryText.codePointAt(0))
            else true
        )
      )
  }
}
