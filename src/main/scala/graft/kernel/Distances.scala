package graft.kernel

/** String-distance kernels over alphabet-normalized forms.
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

  // -------------------------------------------------------------------
  // Zero-allocation char-based kernels: the dedup verify hot path and the
  // matcher's gather (Scoring.distanceFeatures). They operate on the
  // compact normKey string (one char per alphabet class, see
  // Alphabet.normKey — a bijection, so distances are those of the class
  // index arrays; DistancesPropSpec pins them to an unstripped full DP).
  // Scratch buffers are thread-local: tens of millions of calls per stage
  // otherwise allocate 100+ GB of matrix+HashMap garbage, and the
  // resulting GC pressure was measured to cap 8->32-core scaling at ~1.7x.
  // -------------------------------------------------------------------

  /** `n` chars of `cs` from `from` on, in `buf` or, when `buf` is too
    * short, in a new array. The kernels scan thread-local char-array
    * copies: the primitive-array loop (no CharSequence dispatch) is ~2x
    * the CharSequence form at transcript lengths.
    */
  private def copyChars(cs: CharSequence, from: Int, n: Int, buf: Array[Char]): Array[Char] = {
    val out = if (buf.length < n) new Array[Char](math.max(64, n)) else buf
    cs match {
      case str: String => str.getChars(from, from + n, out, 0)
      case _ => var i = 0; while (i < n) { out(i) = cs.charAt(from + i); i += 1 }
    }
    out
  }

  private final class Scratch {
    var mat: Array[Int] = new Array[Int](0)
    var chA: Array[Char] = new Array[Char](0)
    var chB: Array[Char] = new Array[Char](0)
    // last-occurrence table indexed by char (a normKey char is 33 plus a
    // class index, so any char fits); gen-stamped so it never needs clearing
    val last: Array[Int] = new Array[Int](65536)
    val lastGen: Array[Int] = new Array[Int](65536)
    var gen: Int = 0
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Full Damerau-Levenshtein (unrestricted, with the last-occurrence
    * map — not the OSA restriction; reference: src/distance.rs:101-179)
    * over normKey strings, computed with a band limited to
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
    val sa = copyChars(s, p, lenS, sc.chA)
    val ta = copyChars(t, p, lenT, sc.chB)
    sc.chA = sa
    sc.chB = ta
    val inf = lenS + lenT
    // D(r, c) sits at mat((r + 1) * w + c + 1); row and column 0 of mat,
    // the full DP's inf border, are never read (see trans below)
    val w = lenT + 2
    val need = (lenS + 2) * w
    if (sc.mat.length < need) sc.mat = new Array[Int](need)
    val mat = sc.mat
    if (sc.gen == Int.MaxValue) { // stamp wrap guard (~2^31 calls/thread)
      java.util.Arrays.fill(sc.lastGen, 0)
      sc.gen = 0
    }
    sc.gen += 1
    val gen = sc.gen

    // the frame D(r, 0) = r, D(0, c) = c
    var i = 0
    while (i <= lenS) { mat((i + 1) * w + 1) = i; i += 1 }
    i = 1
    while (i <= lenT) { mat(w + i + 1) = i; i += 1 }

    // Only the band and the frame are written, and the matrix is never
    // cleared, so a cell outside both holds a stale value: no read may
    // reach one. The left and diagonal neighbours ride in registers (the
    // left one starts as the frame or as inf left of the band); the cell
    // above is read inside the row above's band, or one cell past its
    // right end, which is set to inf; the transposition cell is tested
    // against the band. Total work per call is O(lenS + lenT + lenS * band).
    val band = maxDistance
    i = 0
    while (i < lenS) {
      val sChar = sa(i)
      var db = 0
      val ii = i + 1
      val row = (ii + 1) * w // D(ii, c) at row + c + 1
      val up = ii * w // D(ii - 1, c) at up + c + 1
      // band: only j with |i - j| <= band can be <= maxDistance
      var j = math.max(0, i - band)
      val jEnd = math.min(lenT, i + band + 1)
      var left = if (j == 0) ii else inf // D(ii, j)
      var diag = mat(up + j + 1) // D(ii - 1, j)
      var rowMin = Int.MaxValue
      while (j < jEnd) {
        val jj = j + 1
        val tChar = ta(j)
        val last = if (sc.lastGen(tChar) == gen) sc.last(tChar) else 0
        val cost = if (sChar == tChar) 0 else 1
        val above = mat(up + jj + 1)
        // D(last - 1, db - 1): inf on the border, else in the frame or band
        val trans =
          if (last == 0 || db == 0 || last > 1 && db > 1 && math.abs(last - db) > band) inf
          else mat(last * w + db) + (ii - last - 1) + 1 + (jj - db - 1)
        val m = math.min(math.min(math.min(left, above) + 1, diag + cost), trans)
        mat(row + jj + 1) = m
        if (m < rowMin) rowMin = m
        if (cost == 0) db = jj
        left = m
        diag = above
        j += 1
      }
      if (jEnd < lenT) mat(row + jEnd + 2) = inf
      // Row-min early abort (see scaladoc): the boundary cell
      // D(ii, 0) = ii joins the min — for ii <= maxDistance a path may
      // still re-enter through it.
      if (rowMin > maxDistance && ii > maxDistance) return -1
      sc.last(sChar) = ii
      sc.lastGen(sChar) = gen
      i += 1
    }
    // |lenS - lenT| <= maxDistance here, so the corner lies in the band
    val result = mat((lenS + 1) * w + lenT + 1)
    if (result > maxDistance) -1 else result
  }

  /** Longest common substring length (reference: src/distance.rs:181-205;
    * same value, computed as the longest run of equal chars on any
    * diagonal instead of the reference's re-extension scan from every
    * anchor, which re-walks each shared run once per starting offset,
    * O(run²) per run). Diagonals are scanned in ascending |offset| order
    * and a diagonal no longer than the best run so far is skipped, so on
    * near-duplicate pairs, whose long shared runs sit on the few central
    * diagonals, the scan stops after those.
    */
  def lcsChars(s1: CharSequence, s2: CharSequence): Int =
    longestRun(s1, s2, 0, Int.MaxValue)

  /** Decision form of [[lcsChars]]: does the longest common substring
    * reach `target`? Equal to (lcsChars(s1, s2) >= target) on every
    * input (DistancesPropSpec pins it): the same diagonal scan, skipping
    * every diagonal shorter than `target` and stopping at the first run
    * of `target`. The verify stage's callers only reach this after a
    * DL <= maxEditDistance gate, and a <= k-edit alignment places every
    * shared segment on a diagonal with |offset| <= k — so the common
    * case touches a handful of diagonals.
    */
  def lcsAtLeast(s1: CharSequence, s2: CharSequence, target: Int): Boolean =
    if (target <= 0) true
    else if (target > s1.length || target > s2.length) false
    else longestRun(s1, s2, target - 1, target) >= target

  /** The longest run of equal chars on any diagonal of s1 x s2 if it is
    * longer than `floor`, else `floor`; stops at the first run of
    * `enough`.
    */
  private def longestRun(s1: CharSequence, s2: CharSequence, floor: Int, enough: Int): Int = {
    val n1 = s1.length
    val n2 = s2.length
    val sc = scratch.get()
    val a = copyChars(s1, 0, n1, sc.chA)
    val b = copyChars(s2, 0, n2, sc.chB)
    sc.chA = a
    sc.chB = b
    // diagonal at offset +d pairs a(i) with b(i+d) (length min(n1, n2-d));
    // offset -d pairs a(i+d) with b(i) (length min(n2, n1-d)). Both
    // lengths strictly shrink as d grows, so the first level where
    // neither is longer than the best run ends the scan.
    var best = floor
    var d = 0
    var cont = true
    while (cont && best < enough) {
      cont = false
      val lenP = math.min(n1, n2 - d)
      if (lenP > best) {
        cont = true
        best = diagRun(a, 0, b, d, lenP, best, enough)
      }
      val lenN = math.min(n2, n1 - d)
      if (d > 0 && lenN > best && best < enough) {
        cont = true
        best = diagRun(a, d, b, 0, lenN, best, enough)
      }
      d += 1
    }
    best
  }

  /** The longest run of equal chars on one diagonal if longer than
    * `best`, else `best`; returns at the first run of `enough`, and once
    * the rest of the diagonal cannot beat `best`.
    */
  private def diagRun(a: Array[Char], aOff: Int, b: Array[Char], bOff: Int,
      len: Int, best0: Int, enough: Int): Int = {
    var best = best0
    var run = 0
    var i = 0
    while (i < len) {
      if (a(aOff + i) == b(bOff + i)) {
        run += 1
        if (run > best) {
          best = run
          if (best >= enough) return best
        }
      } else {
        // a later run has at most the len - i - 1 remaining positions
        if (len - i - 1 <= best) return best
        run = 0
      }
      i += 1
    }
    best
  }

  /** Common prefix length (reference: src/distance.rs:208-218). */
  def prefixChars(s1: CharSequence, s2: CharSequence): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1.charAt(i) == s2.charAt(i)) i += 1
    i
  }

  /** Common suffix length (reference: src/distance.rs:221-231). */
  def suffixChars(s1: CharSequence, s2: CharSequence): Int = {
    val n = math.min(s1.length, s2.length)
    var i = 0
    while (i < n && s1.charAt(s1.length - i - 1) == s2.charAt(s2.length - i - 1))
      i += 1
    i
  }
}
