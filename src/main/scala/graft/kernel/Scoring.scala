package graft.kernel

/** Distance feature bundle for one (query, candidate) pair
  * (reference: src/types.rs:290-305).
  */
final case class Distance(
    ld: Int,
    lcs: Int,
    prefixLen: Int,
    suffixLen: Int,
    sameCase: Boolean
)

/** One ranked variant result (reference: src/types.rs:326-366). */
final case class VariantResult(
    vocabId: Long,
    distScore: Double,
    freqScore: Double,
    via: Option[Long] = None
) {

  /** Blended score used for ranking when frequency reranking is enabled
    * (reference: src/types.rs:335-341).
    */
  def score(freqWeight: Float): Double =
    if (freqWeight == 0.0f) distScore
    else (distScore + freqWeight.toDouble * freqScore) / (1.0 + freqWeight.toDouble)
}

object Scoring {

  /** Compute the distance features the scoring formula needs over two
    * normalized forms given as keys (see [[Alphabet.normKey]]), with the
    * banded char kernels of [[Distances]]; features whose weight is zero
    * are skipped exactly like the reference (src/lib.rs:1343-1378).
    * `sameCase` comes from [[sameCase]]. Returns None when DL exceeds
    * maxEditDistance.
    */
  def distanceFeatures(
      a: String,
      b: String,
      sameCase: Boolean,
      maxEditDistance: Int,
      weights: Weights
  ): Option[Distance] = {
    val ld = Distances.dlChars(a, b, maxEditDistance)
    if (ld < 0) None
    else
      Some(
        Distance(
          ld = ld,
          lcs = if (weights.lcs > 0.0) Distances.lcsChars(a, b) else 0,
          prefixLen = if (weights.prefix > 0.0) Distances.prefixChars(a, b) else 0,
          suffixLen = if (weights.suffix > 0.0) Distances.suffixChars(a, b) else 0,
          sameCase = sameCase
        )
      )
  }

  /** A text's first-char case class: 0 = lowercase, 1 = not lowercase,
    * 2 = empty (or null).
    */
  def caseClass(text: String): Byte =
    if (text == null || text.isEmpty) 2
    else if (Character.isLowerCase(text.codePointAt(0))) 0
    else 1

  /** The case feature of two texts given their [[caseClass]]es: equal
    * first-char lowercasing, and true when the case weight is zero or a
    * text is empty (reference: src/lib.rs:1367-1377).
    */
  def sameCase(a: Byte, b: Byte, weights: Weights): Boolean =
    if (weights.caseW > 0.0 && a != 2 && b != 2) a == b else true

  /** The weighted similarity score in [0,1]; exact match = 1.0.
    * All factors are normalized by the query's normalized length
    * (reference: src/lib.rs:1429-1452).
    */
  def score(d: Distance, inputLength: Int, weights: Weights): Double = {
    require(inputLength > 0, "input length must be > 0")
    val len = inputLength.toDouble
    val distScore = if (d.ld > inputLength) 0.0 else 1.0 - d.ld / len
    (weights.ld * distScore +
      weights.lcs * (d.lcs / len) +
      weights.prefix * (d.prefixLen / len) +
      weights.suffix * (d.suffixLen / len) +
      (if (d.sameCase) weights.caseW else 0.0)) / weights.sum
  }

  /** Ranking order: decreasing blended score when freqWeight > 0, else
    * decreasing distScore with freqScore tie-break
    * (reference: src/types.rs:343-365). The sort must be STABLE — the
    * reference relies on Rust's stable sort to keep gather order
    * (ascending anagram value, then vocab insertion order) among full ties.
    */
  def rankLess(a: VariantResult, b: VariantResult, freqWeight: Float): Boolean =
    if (freqWeight > 0.0f) a.score(freqWeight) > b.score(freqWeight)
    else if (a.distScore != b.distScore) a.distScore > b.distScore
    else a.freqScore > b.freqScore

  def rank(results: Vector[VariantResult], freqWeight: Float): Vector[VariantResult] =
    results.sortWith(rankLess(_, _, freqWeight)) // Vector.sortWith is stable

  /** Tie-aware top-k truncation: crop at maxMatches unless the boundary
    * splits a tie group on distScore, in which case crop before the group
    * (early) or after it (late) (reference: src/lib.rs:1536-1589).
    * `results` must already be ranked.
    */
  def truncateTieAware(
      results: Vector[VariantResult],
      maxMatches: Int,
      freqWeight: Float
  ): Vector[VariantResult] = {
    if (maxMatches <= 0 || results.length <= maxMatches) return results
    val lastScore = results(maxMatches - 1).score(freqWeight)
    val croppedScore = results(maxMatches).score(freqWeight)
    if (croppedScore < lastScore) results.take(maxMatches)
    else {
      var earlyCutoff = 0
      var lateCutoff = 0
      var i = 0
      var break = false
      while (i < results.length && !break) {
        val r = results(i)
        if (r.distScore == croppedScore && earlyCutoff == 0) earlyCutoff = i
        if (r.distScore < croppedScore) { lateCutoff = i; break = true }
        i += 1
      }
      if (earlyCutoff > 0) results.take(earlyCutoff + 1)
      else if (lateCutoff > 0) results.take(lateCutoff + 1)
      else results
    }
  }

  /** Relative cutoff: drop everything from the first result whose score is
    * ≤ best/cutoffThreshold (reference: src/lib.rs:1597-1622). A
    * cutoffThreshold < 1.0 disables the cutoff.
    */
  def applyCutoff(
      results: Vector[VariantResult],
      cutoffThreshold: Double,
      freqWeight: Float
  ): Vector[VariantResult] = {
    if (cutoffThreshold < 1.0 || results.isEmpty) return results
    val best = results.head.score(freqWeight)
    var cutoff = 0
    var i = 1
    while (i < results.length && cutoff == 0) {
      if (results(i).score(freqWeight) <= best / cutoffThreshold) cutoff = i
      i += 1
    }
    if (cutoff > 0) results.take(cutoff) else results
  }
}
