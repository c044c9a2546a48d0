package graft.kernel

/** An alphabet: ordered character classes, each class an ordered list of
  * equivalent surface strings (case folds, diacritic folds, multi-char
  * ligatures). Order matters twice: class order is the greedy match
  * priority AND the prime index used by the anagram hash
  * (reference: src/types.rs:35-37, src/anahash.rs:16-80).
  *
  * The alphabet is tiny config state — on Spark it is closed over by
  * kernel UDFs / broadcast, never a distributed table.
  */
final case class Alphabet(classes: IndexedSeq[IndexedSeq[String]]) {
  def size: Int = classes.length

  /** UNK class index used by the anagram-hash path (reference:
    * src/anahash.rs:40-44).
    */
  def unkHashIndex: Int = classes.length

  /** UNK class index used by the normalize path — deliberately one higher
    * than the hash path's; the reference has this asymmetry and parity
    * requires replicating it bit-for-bit (reference: src/anahash.rs:74-77).
    */
  def unkNormIndex: Int = classes.length + 1

  /** Greedy normalization: scan left-to-right by codepoint; at each
    * position try classes in file order, surface forms in listed order;
    * first match wins and consumes its full length; unmatched codepoints
    * emit the UNK norm index (reference: src/anahash.rs:50-80).
    *
    * Returns alphabet-class indices, 0 to [[unkNormIndex]]: the classes
    * of [[normKey]], each char minus 33.
    */
  def normalize(s: String): Array[Int] = {
    val key = normKey(s)
    Array.tabulate(key.length)(key.charAt(_) - 33)
  }

  /** The normalized form as a compact string, one char per consumed
    * position: codepoint 33 + class index, UNK at 33 + [[unkNormIndex]].
    * This is the form the matcher's vocabulary, the dedup pipeline's
    * `norm` column and the char distance kernels
    * ([[Distances.dlChars]] etc.) share. Every alphabet the anagram hash
    * accepts (at most 167 classes, see [[AnaHash.valueOf]]) keeps every
    * char at or below 255, so the string is stored one byte per letter.
    * The key itself has no class limit.
    */
  def normKey(s: String): String = {
    val (dForms, dCls) = dispatch
    // each consumed position emits exactly one char for >= 1 char, so
    // s.length bounds the output
    val out = new Array[Char](s.length)
    val unk = (33 + unkNormIndex).toChar
    var n = 0
    var pos = 0
    while (pos < s.length) {
      var matched = false
      val forms = dForms(s.charAt(pos).toInt)
      if (forms != null) {
        val cls = dCls(s.charAt(pos).toInt)
        var i = 0
        while (!matched && i < forms.length) {
          val f = forms(i)
          // f.charAt(0) == s.charAt(pos) by dispatch construction: a
          // single-char form is already a full match
          if (f.length == 1 || s.startsWith(f, pos)) {
            out(n) = (33 + cls(i)).toChar
            n += 1
            pos += f.length
            matched = true
          }
          i += 1
        }
      }
      if (!matched) {
        out(n) = unk
        n += 1
        // advance one codepoint (reference iterates char_indices =
        // unicode scalar values; surrogate pairs advance by 2 UTF-16 units)
        pos += Character.charCount(s.codePointAt(pos))
      }
    }
    new String(out, 0, n)
  }

  /** Anagram hash: product of one prime per consumed position of the
    * same greedy scan as [[normalize]], with the hash path's UNK index
    * (reference: src/anahash.rs:16-47). Empty string hashes to 1.
    */
  def anahash(s: String): java.math.BigInteger =
    AnaHash.valueOf(normKey(s), unkHashIndex)

  /** First-char dispatch for the greedy scan: for each possible leading
    * UTF-16 unit, every (form, class) whose surface form starts with it,
    * in EXACT scan priority order (class order, then form order — the
    * first match wins, so preserving that order preserves the greedy
    * semantics bit-for-bit). The scan tries only the forms that can
    * possibly match at a position instead of every class x form; the
    * common single-char form needs no further comparison at all (the
    * nested startsWith scan was 11% of the dedup pipeline's 1-core
    * profile). Built lazily once per Alphabet instance, and not
    * serialized: every deserialized copy rebuilds it on first use, so
    * each task of a UDF that closes over the alphabet and each restored
    * model pays one build (about 0.2 ms for `simpleLatin`).
    */
  @transient private lazy val dispatch
      : (Array[Array[String]], Array[Array[Int]]) = {
    val buf = new Array[scala.collection.mutable.ArrayBuffer[(String, Int)]](65536)
    var ci = 0
    while (ci < classes.length) {
      val forms = classes(ci)
      var fi = 0
      while (fi < forms.length) {
        val f = forms(fi)
        val c = f.charAt(0).toInt
        if (buf(c) == null)
          buf(c) = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
        buf(c) += ((f, ci))
        fi += 1
      }
      ci += 1
    }
    val dForms = new Array[Array[String]](65536)
    val dCls = new Array[Array[Int]](65536)
    var c = 0
    while (c < 65536) {
      if (buf(c) != null) {
        dForms(c) = buf(c).map(_._1).toArray
        dCls(c) = buf(c).map(_._2).toArray
      }
      c += 1
    }
    (dForms, dCls)
  }
}

object Alphabet {

  /** Parse the reference's alphabet TSV: one class per line, tab-separated
    * equivalent surface forms, `\s`/`\t`/`\n` escapes, blank lines and
    * `#`-comments skipped (reference: src/lib.rs:369-407).
    */
  def parse(lines: Iterator[String]): Alphabet = {
    val classes = lines
      .map(_.stripLineEnd)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        line
          .split('\t')
          .iterator
          .map(unescape)
          .filter(_.nonEmpty)
          .toIndexedSeq
      }
      .filter(_.nonEmpty)
      .toIndexedSeq
    Alphabet(classes)
  }

  def fromFile(path: String): Alphabet = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.getLines()) finally src.close()
  }

  private def unescape(s: String): String =
    s.replace("\\s", " ").replace("\\t", "\t").replace("\\n", "\n")

  /** The reference test alphabet: a-z case-folded plus one `.`/`,` class
    * (reference: src/test.rs:3-31). 27 classes; UNK hash index 27.
    */
  val test: Alphabet = Alphabet(
    (('a' to 'z').map(c => IndexedSeq(c.toString, c.toUpper.toString)) :+
      IndexedSeq(".", ",")).toIndexedSeq
  )

  /** Simple latin alphabet with digit classes, mirroring the shape of the
    * reference's examples/simple.alphabet.tsv: case + common-diacritic
    * folding for a-z, plus 0-9.
    */
  val simpleLatin: Alphabet = {
    val diacritics: Map[Char, String] = Map(
      'a' -> "áàäâãå", 'e' -> "éèëê", 'i' -> "íìïî", 'o' -> "óòöôõø",
      'u' -> "úùüû", 'c' -> "ç", 'n' -> "ñ", 'y' -> "ýÿ"
    )
    val letters = ('a' to 'z').map { c =>
      val extra = diacritics.getOrElse(c, "").flatMap(d =>
        Seq(d.toString, d.toUpper.toString))
      (IndexedSeq(c.toString, c.toUpper.toString) ++ extra).toIndexedSeq
    }
    val digits = ('0' to '9').map(d => IndexedSeq(d.toString))
    Alphabet((letters ++ digits).toIndexedSeq)
  }
}
