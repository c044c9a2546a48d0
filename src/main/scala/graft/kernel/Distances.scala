package graft.kernel

/** String-distance kernels over alphabet-normalized index arrays.
  * Semantics are bit-for-bit with the reference (src/distance.rs):
  * each returns -1 where the reference returns None (max exceeded),
  * keeping the hot path allocation-free.
  */
object Distances {

  /** Plain Levenshtein with early length-band abort
    * (reference: src/distance.rs:7-82). Returns -1 if > maxDistance.
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
    * not the OSA restriction), the dedup pipeline's verification kernel
    * (reference: src/distance.rs:101-179). Returns -1 if > maxDistance.
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

    // last row (1-based) of each class in s, indexed by class: classes are
    // small non-negative ints, so a flat array replaces a boxed map
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

  /** Longest common substring length (reference: src/distance.rs:181-205;
    * same value, computed as the classic rolling-row DP — run(i,j) =
    * run(i-1,j-1)+1 on a match — instead of the reference's re-extension
    * scan from every anchor, which re-walks each shared run once per
    * starting offset, O(run²) per run; near-duplicate inputs are all
    * long shared runs, making the hot path quadratic in exactly the
    * common case. The DP is strictly |s1|·|s2| cell steps.)
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

  // -------------------------------------------------------------------
  // Zero-allocation char-based kernels for the dedup verify hot path.
  // They operate on the compact normKey string (one char per alphabet
  // class, see Kernels.normKey — a bijection, so distances are identical
  // to the Array[Int] versions above, which remain the parity anchors;
  // DistancesPropSpec pins equality). Scratch buffers are thread-local:
  // tens of millions of calls per stage otherwise allocate 100+ GB of
  // matrix+HashMap garbage, and the resulting GC pressure was measured
  // to cap 8->32-core scaling at ~1.7x.
  // -------------------------------------------------------------------

  private final class Scratch {
    var mat: Array[Int] = new Array[Int](0)
    var chA: Array[Char] = new Array[Char](0)
    var chB: Array[Char] = new Array[Char](0)
    // gen-stamp per matrix cell: a cell not written this call reads as
    // "inf" without an O(lenS*lenT) fill per call (the fill was measured
    // to eat most of the banding win on long norm strings)
    var matGen: Array[Int] = new Array[Int](0)
    var cache: Array[Int] = new Array[Int](0)
    // last-occurrence table indexed by char (normKey chars are 33..254,
    // well under 64k); gen-stamped so it never needs clearing
    val last: Array[Int] = new Array[Int](65536)
    val lastGen: Array[Int] = new Array[Int](65536)
    var gen: Int = 0
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Damerau-Levenshtein over normKey strings — identical results to
    * [[damerauLevenshtein]], computed with a band limited to
    * |i-j| <= maxDistance (cells outside can never lie on a path of cost
    * <= maxDistance: every cell value >= |i-j|, and any transposition
    * reference cell of such a path is itself within the band) and with
    * reusable thread-local buffers. Returns -1 if > maxDistance.
    *
    * Two hot-path cuts, both exactness-preserving (DistancesPropSpec
    * pins vs the unstripped full DP, including exhaustively over every
    * string pair up to length 5 on a 3-char alphabet):
    *  - common PREFIX/SUFFIX are stripped before the DP (the unrestricted
    *    DL metric is affix-invariant): verify candidates are near-dups,
    *    so the band usually collapses to the few differing middle chars;
    *  - ROW-MIN EARLY ABORT: row minima of the DL matrix are
    *    non-decreasing (del/ins/sub read the previous or current row
    *    +>=0; a transposition referencing row l adds (i-l-1)+1+... >= i-l,
    *    and rowMin(i-1) <= rowMin(l)+(i-1-l) since deletion bounds
    *    row-to-row growth by 1 — so every term >= rowMin(i-1)), and
    *    in-band banded values are exact whenever <= maxDistance (a path
    *    of cost c never leaves the |i-j| <= c diagonal band), so once a
    *    row's banded min AND its boundary cell (= row index) both exceed
    *    maxDistance the final cell must too — reject without finishing
    *    the matrix. Far pairs (the verify stage's majority) exit after
    *    ~maxDistance+1 diverging rows.
    */
  def dlChars(s: CharSequence, t: CharSequence, maxDistance: Int): Int = {
    val lenS0 = s.length
    val lenT0 = t.length
    // strip the common prefix, then the common suffix of the remainder
    val minLen0 = math.min(lenS0, lenT0)
    var p = 0
    while (p < minLen0 && s.charAt(p) == t.charAt(p)) p += 1
    var e = 0
    val maxE = minLen0 - p
    while (e < maxE && s.charAt(lenS0 - 1 - e) == t.charAt(lenT0 - 1 - e))
      e += 1
    val lenS = lenS0 - p - e
    val lenT = lenT0 - p - e
    if (lenS == 0) return if (lenT > maxDistance) -1 else lenT
    if (lenS > lenT && lenS - lenT > maxDistance) return -1
    if (lenT == 0) return if (lenS > maxDistance) -1 else lenS
    if (lenT > lenS && lenT - lenS > maxDistance) return -1

    val sc = scratch.get()
    val inf = lenS + lenT
    val w = lenT + 2
    val need = (lenS + 2) * w
    if (sc.mat.length < need) {
      sc.mat = new Array[Int](need)
      sc.matGen = new Array[Int](need)
    }
    val mat = sc.mat
    val matGen = sc.matGen
    if (sc.gen == Int.MaxValue) { // stamp wrap guard (~2^31 calls/thread)
      java.util.Arrays.fill(matGen, 0)
      java.util.Arrays.fill(sc.lastGen, 0)
      sc.gen = 0
    }
    sc.gen += 1
    val gen = sc.gen
    // gen-stamped cells: a cell not written THIS call reads as inf — no
    // O(lenS*lenT) fill; total work per call is O((lenS+lenT) frame +
    // lenS*band cells)
    @inline def wr(idx: Int, v: Int): Unit = { mat(idx) = v; matGen(idx) = gen }
    @inline def rd(idx: Int): Int = if (matGen(idx) == gen) mat(idx) else inf

    wr(w + 1, 0)
    var i = 1
    while (i <= lenS) { wr((i + 1) * w + 1, i); i += 1 }
    i = 1
    while (i <= lenT) { wr(w + i + 1, i); i += 1 }

    val band = maxDistance
    i = 0
    while (i < lenS) {
      val sChar = s.charAt(p + i)
      var db = 0
      val ii = i + 1
      // band: only j with |i - j| <= band can be <= maxDistance
      var j = math.max(0, i - band)
      val jEnd = math.min(lenT, i + band + 1)
      var rowMin = Int.MaxValue
      while (j < jEnd) {
        val jj = j + 1
        val tChar = t.charAt(p + j)
        val last = if (sc.lastGen(tChar) == gen) sc.last(tChar) else 0
        val cost = if (sChar == tChar) 0 else 1
        val del = rd((ii + 1) * w + jj) + 1
        val ins = rd(ii * w + jj + 1) + 1
        val sub = rd(ii * w + jj) + cost
        val trans = rd(last * w + db) + (ii - last - 1) + 1 + (jj - db - 1)
        var m = del
        if (ins < m) m = ins
        if (sub < m) m = sub
        if (trans < m) m = trans
        wr((ii + 1) * w + jj + 1, m)
        if (m < rowMin) rowMin = m
        if (cost == 0) db = jj
        j += 1
      }
      // cells outside the band are never written and read as inf via the
      // gen stamps. Row-min early abort (see scaladoc): the boundary
      // cell D(ii, 0) = ii joins the min — for ii <= maxDistance a path
      // may still re-enter through it.
      if (rowMin > maxDistance && ii > maxDistance) return -1
      sc.last(sChar) = ii
      sc.lastGen(sChar) = gen
      i += 1
    }
    val result = rd((lenS + 1) * w + lenT + 1)
    if (result > maxDistance) -1 else result
  }

  /** LCS over char sequences (same algorithm as the Array[Int] form). */
  def lcsChars(s1: CharSequence, s2: CharSequence): Int = {
    // rolling-row DP (see longestCommonSubstring) over thread-local
    // char-array copies: this runs tens of millions of times per verify
    // stage, and the primitive-array inner loop (no CharSequence
    // dispatch) is ~2x the CharSequence form at transcript lengths
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0
    val sc = scratch.get()
    if (sc.chA.length < n1) sc.chA = new Array[Char](math.max(64, n1))
    if (sc.chB.length < n2) sc.chB = new Array[Char](math.max(64, n2))
    val a = sc.chA
    val b = sc.chB
    s1 match {
      case s: String => s.getChars(0, n1, a, 0)
      case _ => var i = 0; while (i < n1) { a(i) = s1.charAt(i); i += 1 }
    }
    s2 match {
      case s: String => s.getChars(0, n2, b, 0)
      case _ => var i = 0; while (i < n2) { b(i) = s2.charAt(i); i += 1 }
    }
    if (sc.cache.length < n2 + 1) sc.cache = new Array[Int](n2 + 1)
    val row = sc.cache
    java.util.Arrays.fill(row, 0, n2 + 1, 0)
    var lcs = 0
    var i = 0
    while (i < n1) {
      val c = a(i)
      var diag = 0
      var j = 0
      while (j < n2) {
        val up = row(j + 1)
        if (c == b(j)) {
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

  /** Scan one diagonal for a match-run of length >= target; bails as
    * soon as the remaining diagonal can't host one.
    */
  private def diagRun(a: Array[Char], aOff: Int, b: Array[Char], bOff: Int,
      len: Int, target: Int): Boolean = {
    var run = 0
    var i = 0
    while (i < len) {
      if (a(aOff + i) == b(bOff + i)) {
        run += 1
        if (run >= target) return true
      } else {
        // best case after a mismatch at i is a run over the len-i-1
        // remaining positions
        if (len - i <= target) return false
        run = 0
      }
      i += 1
    }
    false
  }

  /** Decision form of [[lcsChars]]: does the longest common substring
    * reach `target`? Equal to (lcsChars(s1, s2) >= target) on every
    * input (DistancesPropSpec pins it), computed by scanning diagonals
    * in ascending |offset| order with per-diagonal early exit, stopping
    * when no remaining diagonal is long enough to host a target-length
    * run. The verify stage's callers only reach this after a
    * DL <= maxEditDistance gate, and a <= k-edit alignment places every
    * shared segment on a diagonal with |offset| <= k — so the common
    * case touches a handful of diagonals instead of the full
    * |s1|x|s2| DP.
    */
  def lcsAtLeast(s1: CharSequence, s2: CharSequence, target: Int): Boolean = {
    if (target <= 0) return true
    val n1 = s1.length
    val n2 = s2.length
    if (target > n1 || target > n2) return false
    val sc = scratch.get()
    if (sc.chA.length < n1) sc.chA = new Array[Char](math.max(64, n1))
    if (sc.chB.length < n2) sc.chB = new Array[Char](math.max(64, n2))
    val a = sc.chA
    val b = sc.chB
    s1 match {
      case s: String => s.getChars(0, n1, a, 0)
      case _ => var i = 0; while (i < n1) { a(i) = s1.charAt(i); i += 1 }
    }
    s2 match {
      case s: String => s.getChars(0, n2, b, 0)
      case _ => var i = 0; while (i < n2) { b(i) = s2.charAt(i); i += 1 }
    }
    // diagonal at offset +d pairs a(i) with b(i+d) (length min(n1, n2-d));
    // offset -d pairs a(i+d) with b(i) (length min(n2, n1-d)). Both
    // lengths strictly shrink as d grows, so the first level where
    // neither side can host a target-length run ends the scan.
    var d = 0
    var cont = true
    while (cont) {
      cont = false
      val lenP = math.min(n1, n2 - d)
      if (lenP >= target) {
        cont = true
        if (diagRun(a, 0, b, d, lenP, target)) return true
      }
      if (d > 0) {
        val lenN = math.min(n2, n1 - d)
        if (lenN >= target) {
          cont = true
          if (diagRun(a, d, b, 0, lenN, target)) return true
        }
      }
      d += 1
    }
    false
  }

  def prefixChars(s1: CharSequence, s2: CharSequence): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1.charAt(i) == s2.charAt(i)) i += 1
    i
  }

  def suffixChars(s1: CharSequence, s2: CharSequence): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1.charAt(s1.length - i - 1) == s2.charAt(s2.length - i - 1))
      i += 1
    i
  }
}
