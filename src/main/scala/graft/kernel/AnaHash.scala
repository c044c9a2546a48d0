package graft.kernel

import java.math.BigInteger

/** Anagram-value algebra: a bag of characters encoded as a product of
  * per-class primes, so insert = multiply, delete = exact divide,
  * containment = divisibility (reference: src/anahash.rs:139-261,
  * primes table src/types.rs:20-30). Values overflow 64 bits quickly,
  * hence BigInteger; on Spark columns they travel as canonical
  * big-endian BinaryType (see [[toBytes]]/[[fromBytes]]).
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

  def isEmpty(v: BigInteger): Boolean =
    v.signum == 0 || v.equals(BigInteger.ONE)

  def insert(v: BigInteger, ch: BigInteger): BigInteger =
    if (v.signum == 0) ch else v.multiply(ch)

  /** Does `v` contain the character bag `value`? (divisibility;
    * reference: src/anahash.rs:165-171)
    */
  def contains(v: BigInteger, value: BigInteger): Boolean =
    value.compareTo(v) <= 0 && v.mod(value).signum == 0

  /** Delete the characters of `value` from `v` if present
    * (reference: src/anahash.rs:154-162).
    */
  def delete(v: BigInteger, value: BigInteger): Option[BigInteger] =
    if (contains(v, value)) Some(v.divide(value)) else None

  /** Number of characters (prime factors with multiplicity over the
    * alphabet's primes, UNK included). Equals the normalized length for a
    * value produced by [[Alphabet.anahash]] (reference: src/anahash.rs:107-110).
    */
  def charCount(v: BigInteger, alphabetSizeWithUnk: Int): Int = {
    var count = 0
    var cur = v
    var i = 0
    while (i < alphabetSizeWithUnk && cur.compareTo(BigInteger.ONE) > 0) {
      val p = primesBig(i)
      var qr = cur.divideAndRemainder(p)
      while (qr(1).signum == 0) {
        count += 1
        cur = qr(0)
        qr = cur.divideAndRemainder(p)
      }
      i += 1
    }
    count
  }

  /** Highest alphabet class index present plus char count
    * (reference: src/anahash.rs:126-136).
    */
  def alphabetUpperBound(v: BigInteger, alphabetSizeWithUnk: Int): (Int, Int) = {
    var maxIdx = 0
    var count = 0
    var cur = v
    var i = 0
    while (i < alphabetSizeWithUnk && cur.compareTo(BigInteger.ONE) > 0) {
      val p = primesBig(i)
      var divided = false
      var qr = cur.divideAndRemainder(p)
      while (qr(1).signum == 0) {
        count += 1
        divided = true
        cur = qr(0)
        qr = cur.divideAndRemainder(p)
      }
      if (divided) maxIdx = i
      i += 1
    }
    (maxIdx, count)
  }

  /** All distinct single-deletion parents of `v`, i.e. v / p for each
    * distinct prime factor p among classes [0, alphabetSize), yielded in
    * the reference's order: descending class index
    * (reference: src/iterators.rs:21-70).
    */
  def parents(v: BigInteger, alphabetSizeWithUnk: Int): List[BigInteger] = {
    val out = List.newBuilder[BigInteger]
    var i = alphabetSizeWithUnk - 1
    while (i >= 0) {
      val p = primesBig(i)
      if (v.mod(p).signum == 0) out += v.divide(p)
      i -= 1
    }
    out.result()
  }

  /** Breadth-first unique deletion neighborhood: every distinct anagram
    * value reachable from `focus` by 1..maxDistance single-character
    * deletions, excluding the empty value, paired with its depth
    * (reference: RecurseDeletionIterator with breadthfirst=true,
    * unique=true, empty_leaves=false — src/iterators.rs:95-236 as invoked
    * from src/lib.rs:1202-1261). BFS guarantees minimal depth per value.
    */
  def deletionNeighborhood(
      focus: BigInteger,
      alphabetSizeWithUnk: Int,
      maxDistance: Int
  ): Vector[(BigInteger, Int)] = {
    if (maxDistance <= 0) return Vector.empty
    val visited = scala.collection.mutable.HashSet[BigInteger](focus)
    var frontier = List(focus)
    val out = Vector.newBuilder[(BigInteger, Int)]
    var depth = 1
    while (depth <= maxDistance && frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer.empty[BigInteger]
      for (v <- frontier; parent <- parents(v, alphabetSizeWithUnk)) {
        if (!visited.contains(parent)) {
          visited += parent
          next += parent
          if (!isEmpty(parent)) out += ((parent, depth))
        }
      }
      frontier = next.toList
      depth += 1
    }
    out.result()
  }

  /** Presence-mask bit for alphabet class i (classes >= 63 share bit 63,
    * which is then conservative-only). Invariant behind the matcher's
    * per-letter postings: bag(probe) ⊆ bag(candidate) ⟹ every sub-63 bit
    * of probeMask is set in candMask, so intersecting the postings of the
    * probe's bits never drops a true containment, it only skips most
    * guaranteed-false divisibility tests.
    */
  @inline def maskBit(classIndex: Int): Long = 1L << math.min(classIndex, 63)

  /** Presence mask of an anagram value (factorize up to alphabet size). */
  def maskOf(v: BigInteger, alphabetSizeWithUnk: Int): Long = {
    var mask = 0L
    var cur = v
    var i = 0
    while (i < alphabetSizeWithUnk && cur.compareTo(BigInteger.ONE) > 0) {
      val p = primesBig(i)
      if (cur.mod(p).signum == 0) {
        mask |= maskBit(i)
        var qr = cur.divideAndRemainder(p)
        while (qr(1).signum == 0) { cur = qr(0); qr = cur.divideAndRemainder(p) }
      }
      i += 1
    }
    mask
  }

  /** Deletion BFS that also tracks presence masks (cleared only when the
    * last occurrence of a sub-63 class is removed). Yield order matches
    * [[deletionNeighborhood]].
    */
  def deletionNeighborhoodWithMasks(
      focus: BigInteger,
      focusMask: Long,
      alphabetSizeWithUnk: Int,
      maxDistance: Int
  ): Vector[(BigInteger, Long, Int)] = {
    if (maxDistance <= 0) return Vector.empty
    // long fast path: every BFS descendant divides focus, so when focus
    // fits 62 bits the whole lattice walk runs in native long arithmetic
    // (same yield order, same values — divides of the same primes)
    if (focus.bitLength <= 62)
      return deletionNeighborhoodWithMasksLong(focus.longValueExact,
        focusMask, alphabetSizeWithUnk, maxDistance)
    val visited = scala.collection.mutable.HashSet[BigInteger](focus)
    var frontier = List((focus, focusMask))
    val out = Vector.newBuilder[(BigInteger, Long, Int)]
    var depth = 1
    while (depth <= maxDistance && frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer.empty[(BigInteger, Long)]
      for ((v, mask) <- frontier) {
        var i = alphabetSizeWithUnk - 1
        while (i >= 0) {
          val p = primesBig(i)
          if ((mask & maskBit(i)) != 0 && v.mod(p).signum == 0) {
            val parent = v.divide(p)
            if (!visited.contains(parent)) {
              visited += parent
              val pm =
                if (i < 63 && parent.mod(p).signum != 0) mask & ~maskBit(i)
                else mask
              next += ((parent, pm))
              if (!isEmpty(parent)) out += ((parent, pm, depth))
            }
          }
          i -= 1
        }
      }
      frontier = next.toList
      depth += 1
    }
    out.result()
  }

  private val primesLong: Array[Long] = PRIMES.map(_.toLong)

  /** [[deletionNeighborhoodWithMasks]] in native long arithmetic —
    * identical traversal order and yields, one % and one / per edge
    * instead of BigInteger divides, with the visited set and the frontier
    * held in primitive long arrays (profiled on the matcher hot path).
    */
  private def deletionNeighborhoodWithMasksLong(
      focus: Long,
      focusMask: Long,
      alphabetSizeWithUnk: Int,
      maxDistance: Int
  ): Vector[(BigInteger, Long, Int)] = {
    val visited = new LongSet
    visited.add(focus)
    // frontier as parallel (value, mask) arrays, refilled level by level
    var vals = Array(focus)
    var masks = Array(focusMask)
    var n = 1
    val out = Vector.newBuilder[(BigInteger, Long, Int)]
    var depth = 1
    while (depth <= maxDistance && n > 0) {
      var nextVals = new Array[Long](math.max(16, n * 4))
      var nextMasks = new Array[Long](nextVals.length)
      var nn = 0
      var k = 0
      while (k < n) {
        val v = vals(k)
        val mask = masks(k)
        var i = alphabetSizeWithUnk - 1
        while (i >= 0) {
          if ((mask & maskBit(i)) != 0) {
            val p = primesLong(i)
            if (v % p == 0L) {
              val parent = v / p
              if (visited.add(parent)) {
                val pm =
                  if (i < 63 && parent % p != 0L) mask & ~maskBit(i)
                  else mask
                if (nn == nextVals.length) {
                  nextVals = java.util.Arrays.copyOf(nextVals, nn * 2)
                  nextMasks = java.util.Arrays.copyOf(nextMasks, nn * 2)
                }
                nextVals(nn) = parent
                nextMasks(nn) = pm
                nn += 1
                if (parent > 1L)
                  out += ((BigInteger.valueOf(parent), pm, depth))
              }
            }
          }
          i -= 1
        }
        k += 1
      }
      vals = nextVals
      masks = nextMasks
      n = nn
      depth += 1
    }
    out.result()
  }

  /** Open-addressing set of positive longs with Fibonacci hashing (0 marks
    * an empty slot; anagram values are products of primes, never 0).
    */
  private final class LongSet {
    private var slots = new Array[Long](64)
    private var shift = 64 - 6
    private var size = 0

    @inline private def home(v: Long): Int = ((v * 0x9e3779b97f4a7c15L) >>> shift).toInt

    /** Insert `v`; false when it was already present. */
    def add(v: Long): Boolean = {
      val mask = slots.length - 1
      var i = home(v)
      while (slots(i) != 0L) {
        if (slots(i) == v) return false
        i = (i + 1) & mask
      }
      slots(i) = v
      size += 1
      if (2 * size > slots.length) grow()
      true
    }

    private def grow(): Unit = {
      val old = slots
      slots = new Array[Long](old.length * 2)
      shift -= 1
      val mask = slots.length - 1
      for (v <- old if v != 0L) {
        var i = home(v)
        while (slots(i) != 0L) i = (i + 1) & mask
        slots(i) = v
      }
    }
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

  def fromBytes(b: Array[Byte]): BigInteger = new BigInteger(1, b)
}
