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

  /** Breadth-first unique deletion neighborhood: every distinct anagram
    * value reachable from `focus` by 1..maxDistance single-character
    * deletions, excluding the empty value, paired with its depth
    * (reference: RecurseDeletionIterator with breadthfirst=true,
    * unique=true, empty_leaves=false — src/iterators.rs:95-236 as invoked
    * from src/lib.rs:1202-1261), in the reference's order. See
    * [[deletions]] for how that order is produced without a visited set.
    */
  def deletionNeighborhood(
      focus: BigInteger,
      alphabetSizeWithUnk: Int,
      maxDistance: Int
  ): Vector[(BigInteger, Int)] = {
    val d = deletions(focus, alphabetSizeWithUnk, maxDistance)
    Vector.tabulate(d.size - 1)(k => (d.value(k + 1), d.depth(k + 1)))
  }

  /** The deletion neighborhood of a focus as parallel primitive arrays.
    * Node 0 is the focus itself at depth 0; nodes 1 until [[size]] are
    * the distinct non-empty sub-bags at depths 1..maxDistance, in the
    * order of [[deletionNeighborhood]]. A node's value is held as a long
    * while it fits 62 bits, else as a BigInteger; [[value]] gives it.
    * Nodes are in depth order; [[depthStart]] gives the first node of a
    * depth.
    */
  final class Deletions private[AnaHash] (
      val size: Int,
      longs: Array[Long],
      bigs: Array[BigInteger],
      depths: Array[Int],
      depthStarts: Array[Int]
  ) {
    /** index of the first node at depth >= d (size past the last depth) */
    def depthStart(d: Int): Int =
      if (d < depthStarts.length) depthStarts(math.max(0, d)) else size
    @inline def depth(k: Int): Int = depths(k)
    def value(k: Int): BigInteger =
      if (bigs != null && bigs(k) != null) bigs(k) else BigInteger.valueOf(longs(k))
  }

  /** Enumerate the deletion neighborhood of `focus` over classes
    * [0, alphabetSizeWithUnk) up to `maxDistance` deletions, each distinct
    * sub-bag exactly once, with no visited set and no divisibility test.
    *
    * The focus is factored once into its per-class counts. A node is
    * then reached only by deleting classes in non-increasing class order:
    * each node carries the last class it deleted and how many times in a
    * row it deleted it, and its children delete either that class again
    * (while letters of it remain) or any lower class present. Every
    * sub-bag has exactly one such deletion sequence, its deleted letters
    * sorted descending, so it is reached once; its canonical parent is
    * the sub-bag with one letter of its smallest deleted class restored.
    *
    * Why this is the reference's breadth-first unique order: the
    * reference expands each frontier node's parents in descending class
    * order and keeps the first visit. Ordering the nodes of one depth by
    * their descending deletion sequences, lexicographically with the
    * higher class first, the canonical parent of a sub-bag precedes every
    * other parent of it: restoring a letter of a larger deleted class
    * puts a smaller class earlier in the sequence. So the reference first
    * visits each sub-bag from its canonical parent, and a frontier node's
    * first visits are exactly its canonical children, in descending class
    * order. Appending each node's canonical children to one queue thus
    * yields the reference's sequence (pinned by KernelSpec "0203" and the
    * spec's visited-set BFS).
    *
    * Values are longs while they fit 62 bits; below an overflowing focus
    * each node does one BigInteger divide until its value fits.
    */
  def deletions(
      focus: BigInteger,
      alphabetSizeWithUnk: Int,
      maxDistance: Int
  ): Deletions = {
    // factor the focus once, highest class first: present classes + counts
    val classes = new Array[Int](alphabetSizeWithUnk)
    val counts = new Array[Int](alphabetSizeWithUnk)
    var nClasses = 0
    var restBig = if (focus.bitLength > 62) focus else null
    var rest = if (restBig == null) focus.longValue else 0L
    var c = alphabetSizeWithUnk - 1
    while (c >= 0 && (restBig != null || rest > 1L)) {
      var n = 0
      if (restBig != null) {
        var qr = restBig.divideAndRemainder(primesBig(c))
        while (qr(1).signum == 0) {
          n += 1; restBig = qr(0); qr = restBig.divideAndRemainder(primesBig(c))
        }
        if (restBig.bitLength <= 62) { rest = restBig.longValue; restBig = null }
      } else {
        val p = primesLong(c)
        while (rest % p == 0L) { n += 1; rest /= p }
      }
      if (n > 0) {
        classes(nClasses) = c; counts(nClasses) = n; nClasses += 1
      }
      c -= 1
    }

    // one queue in yield order; per node: value, depth, the position
    // (in `classes`) of the last deleted class and its run length
    var cap = 16
    var longs = new Array[Long](cap)
    var bigs: Array[BigInteger] =
      if (focus.bitLength > 62) new Array[BigInteger](cap) else null
    var depths = new Array[Int](cap)
    var lasts = new Array[Int](cap)
    var runs = new Array[Int](cap)
    if (bigs != null) bigs(0) = focus else longs(0) = focus.longValue
    var size = 1
    var k = 0
    while (k < size && depths(k) < maxDistance) {
      val last = lasts(k)
      var q = last
      while (q < nClasses) {
        val run = if (q == last) runs(k) + 1 else 1
        if (run <= counts(q)) {
          val cls = classes(q)
          var vLong = 0L
          var vBig: BigInteger = null
          val parentBig = if (bigs == null) null else bigs(k)
          if (parentBig == null) vLong = longs(k) / primesLong(cls)
          else {
            vBig = parentBig.divide(primesBig(cls))
            if (vBig.bitLength <= 62) { vLong = vBig.longValue; vBig = null }
          }
          if (vBig != null || vLong != 1L) {
            if (size == cap) {
              cap *= 2
              longs = java.util.Arrays.copyOf(longs, cap)
              if (bigs != null) bigs = java.util.Arrays.copyOf(bigs, cap)
              depths = java.util.Arrays.copyOf(depths, cap)
              lasts = java.util.Arrays.copyOf(lasts, cap)
              runs = java.util.Arrays.copyOf(runs, cap)
            }
            longs(size) = vLong
            if (bigs != null) bigs(size) = vBig
            depths(size) = depths(k) + 1
            lasts(size) = q
            runs(size) = run
            size += 1
          }
        }
        q += 1
      }
      k += 1
    }
    val depthStarts = new Array[Int](math.max(0, maxDistance) + 1)
    var d = 1
    k = 0
    while (d < depthStarts.length) {
      while (k < size && depths(k) < d) k += 1
      depthStarts(d) = k
      d += 1
    }
    new Deletions(size, longs, bigs, depths, depthStarts)
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
