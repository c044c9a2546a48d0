package graft.kernel

import java.math.BigInteger

/** Anagram-value algebra: a bag of characters encoded as a product of
  * per-class primes, so insert = multiply, delete = exact divide,
  * containment = divisibility (reference: src/anahash.rs:139-261,
  * primes table src/types.rs:20-30). Values overflow 64 bits quickly,
  * hence BigInteger; on Spark columns they travel as canonical
  * big-endian BinaryType (see [[toBytes]]).
  */
object AnaHash {

  /** Numeric ordering for anagram values (BigInteger is Comparable but
    * Scala does not derive an Ordering for it automatically).
    */
  implicit val bigIntegerOrdering: Ordering[BigInteger] =
    (a: BigInteger, b: BigInteger) => a.compareTo(b)

  /** First 168 primes (≤ 997) — identical table to the reference
    * (src/types.rs:20-30); index = alphabet class index.
    */
  val PRIMES: Array[Int] = Array(
    2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67,
    71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113, 127, 131, 137, 139, 149,
    151, 157, 163, 167, 173, 179, 181, 191, 193, 197, 199, 211, 223, 227, 229,
    233, 239, 241, 251, 257, 263, 269, 271, 277, 281, 283, 293, 307, 311, 313,
    317, 331, 337, 347, 349, 353, 359, 367, 373, 379, 383, 389, 397, 401, 409,
    419, 421, 431, 433, 439, 443, 449, 457, 461, 463, 467, 479, 487, 491, 499,
    503, 509, 521, 523, 541, 547, 557, 563, 569, 571, 577, 587, 593, 599, 601,
    607, 613, 617, 619, 631, 641, 643, 647, 653, 659, 661, 673, 677, 683, 691,
    701, 709, 719, 727, 733, 739, 743, 751, 757, 761, 769, 773, 787, 797, 809,
    811, 821, 823, 827, 829, 839, 853, 857, 859, 863, 877, 881, 883, 887, 907,
    911, 919, 929, 937, 941, 947, 953, 967, 971, 977, 983, 991, 997
  )

  private val primesBig: Array[BigInteger] =
    PRIMES.map(p => BigInteger.valueOf(p.toLong))

  /** Prime for the n'th alphabet class (reference: src/anahash.rs:141-143). */
  def primeFor(classIndex: Int): BigInteger = primesBig(classIndex)

  val empty: BigInteger = BigInteger.ONE

  private val primesLong: Array[Long] = PRIMES.map(_.toLong)

  /** The anagram value of a normalized form given as its key (see
    * [[Alphabet.normKey]]: class `char - 33` per letter), where a class
    * above `unk` counts as `unk`: so the key's UNK, one above the hash
    * path's (see [[Alphabet.unkNormIndex]]), gives the value
    * [[Alphabet.anahash]] gives its text. `unk` is the alphabet's size,
    * and the prime table holds one prime per class plus one for UNK, so
    * an alphabet of more than `PRIMES.length - 1` classes is rejected
    * here. Multiplies in a long while the product fits.
    */
  def valueOf(key: String, unk: Int): BigInteger = {
    if (unk >= PRIMES.length)
      throw new IllegalArgumentException(s"alphabet of $unk classes: the anagram " +
        s"hash has primes for at most ${PRIMES.length - 1} classes plus unknown")
    var v = 1L
    var big: BigInteger = null
    var i = 0
    while (i < key.length) {
      val p = primesLong(math.min(key.charAt(i) - 33, unk))
      if (big != null) big = big.multiply(BigInteger.valueOf(p))
      else if (v <= Long.MaxValue / p) v *= p
      else big = BigInteger.valueOf(v).multiply(BigInteger.valueOf(p))
      i += 1
    }
    if (big != null) big else BigInteger.valueOf(v)
  }

  /** The nearest-anagram rule of the one matcher kernel
    * (`LocalVariantModel.findNearestAnahashes`, which both matcher
    * strategies run): the miss budget D(c) of target charcount c for a
    * focus (the query's normalized form) of `f` letters at anagram
    * distance `maxDistance`, or -1 when nothing at c is a candidate. A
    * value v at charcount c is a candidate iff it misses at most D(c) of
    * the focus's letters, a miss being a focus letter occurrence v lacks:
    * Σ_class max(0, focus_class - v_class).
    *
    * Why (reference: src/lib.rs:1143-1308): the reference probes the
    * index with each non-empty sub-bag S of the focus that has d <=
    * maxDistance letters deleted: for equality at charcount f - d, and
    * for containment (v divisible by S) at charcounts f - d + sd, sd in
    * 1..maxDistance - d. A value v holds some sub-bag of the focus with
    * d letters deleted iff it misses at most d of its letters; and at
    * |v| = f - d, holding such a sub-bag means equal to it. So v is a
    * candidate iff misses(v) <= d for some d that probes c: 0 <= d <=
    * maxDistance, S non-empty (d = 0 or d < f) and 0 <= c - f + d <=
    * maxDistance - d. Those d form an interval and the test is monotone
    * in d, so v is a candidate iff misses(v) <= D(c), the largest such d.
    * Only c in f - maxDistance .. f + maxDistance can have one.
    */
  def missBudget(c: Int, f: Int, maxDistance: Int): Int = {
    var d = maxDistance
    while (d >= 0 && !((d == 0 || d < f) && c - f + d >= 0 && c - f + 2 * d <= maxDistance))
      d -= 1
    d
  }

  /** Canonical unsigned big-endian bytes (no redundant leading zero) for
    * storing an anagram value in a BinaryType column. Deterministic, so
    * equality joins/groupBys work; numeric order = (length, lexicographic)
    * order of these bytes.
    */
  def toBytes(v: BigInteger): Array[Byte] = {
    val b = v.toByteArray
    if (b.length > 1 && b(0) == 0) java.util.Arrays.copyOfRange(b, 1, b.length)
    else b
  }
}
