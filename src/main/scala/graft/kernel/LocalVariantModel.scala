package graft.kernel

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** A vocabulary entry (reference: src/vocab.rs:8-29, simplified to the
  * fields the matching path reads).
  */
final case class VocabEntry(
    id: Long,
    text: String,
    /** the normalized form as its key (see [[Alphabet.normKey]]) */
    norm: String,
    frequency: Long,
    transparent: Boolean,
    /** outgoing VariantOf edges: (targetId, score) (reference: src/types.rs:316-324) */
    variantOf: List[(Long, Double)],
    /** participates in the anagram index (reference: VocabType::INDEXED) */
    indexed: Boolean = true,
    /** participates in the language model (reference: VocabType::LM) */
    lm: Boolean = false,
    /** bitmask of source lexicons (reference: vocab.rs lexindex,
      * lib.rs:941 `lexindex |= 1 << params.index`)
      */
    lexindex: Long = 0L,
    /** reverse edges: this entry is the canonical reference for these
      * variants (reference: VariantReference::ReferenceFor) — feeds the
      * weighted-variant sink and learn-mode output
      */
    referenceFor: Vector[(Long, Double)] = Vector.empty
) {
  /** is this entry provided by lexicon `i` (reference: vocab.rs in_lexicon) */
  def inLexicon(i: Int): Boolean = (lexindex & (1L << i)) != 0L
  /** number of space-separated tokens (reference: vocab.rs tokencount) */
  def tokenCount: Int = text.count(_ == ' ') + 1
}

/** In-memory port of the reference's variant-matching engine
  * (reference: src/lib.rs VariantModel — build src/lib.rs:190-245,
  * find_variants src/lib.rs:972-1027). Two jobs:
  *
  *  1. the parity anchor: ScalaTest asserts its outputs against the
  *     reference's own unit-test expected values (tests/main.rs 04xx/08xx);
  *  2. the one matcher kernel of both Spark strategies
  *     (graft.operators.VariantMatcher): at reference scale (lexicons ≤ a
  *     few 100k rows) the whole index fits comfortably in executor
  *     memory, so the broadcast strategy ships one of these and maps
  *     partitions — zero shuffle in the verify stage, which is what makes
  *     the throughput scale near-linearly with cores. For a lexicon too
  *     large to broadcast, the shuffled strategy builds one per charcount
  *     slice of the lexicon ([[LocalVariantModel.ofTexts]]) and runs the
  *     same nearest search and gather ([[nearInstances]]) in the slice's
  *     task; it is tested equal to this one.
  *
  * Instances are immutable after build(); safe to broadcast. Java
  * serialization (what a broadcast uses) ships the flat columns of
  * [[LocalVariantModel.Wire]] instead of this object graph.
  */
final class LocalVariantModel(
    val alphabet: Alphabet,
    val weights: Weights = Weights(),
    // reference default is Max (vocab.rs VocabParams::default)
    private val frequencyHandling: String = "max",
    /** apply confusable rescoring before pruning/expansion instead of the
      * default after-truncation point (reference: lib.rs:96-97,1505-1508)
      */
    val confusablesBeforePruning: Boolean = false
) extends Serializable {

  private val confusablesList =
    scala.collection.mutable.ArrayBuffer.empty[Confusable]

  /** Names of loaded lexicons / variant lists, in load order; positions are
    * the `lexindex` bit positions (reference: lib.rs lexicons).
    */
  val lexicons = mutable.ArrayBuffer.empty[String]

  /** Register a lexicon source name; returns its bit index. */
  def addLexiconName(name: String): Int = {
    lexicons += name
    lexicons.length - 1
  }

  /** Tag name registry for context rules (reference: lib.rs tags). */
  val tags = mutable.ArrayBuffer.empty[String]

  private val contextRulesList = mutable.ArrayBuffer.empty[ContextRule]
  def contextRules: Seq[ContextRule] = contextRulesList.toSeq

  /** Register a confusable pattern (reference: lib.rs add_to_confusables). */
  def addConfusable(script: String, weight: Double): this.type = {
    confusablesList += Confusable.parse(script, weight)
    this
  }

  def confusables: Seq[Confusable] = confusablesList.toSeq

  private val entries = mutable.ArrayBuffer.empty[VocabEntry]
  private val encoder = mutable.HashMap.empty[String, Int]
  // the anagram index (see LocalVariantModel.AnagramIndex), built by build()
  private var anagrams = LocalVariantModel.AnagramIndex(Vector.empty, alphabet)
  var haveFreq: Boolean = false
  // language model state (reference: lib.rs ngrams/have_lm)
  private var ngramCounts: Map[Vector[Long], Long] = Map.empty
  var haveLm: Boolean = false

  // special tokens pre-seeded like the reference (vocab.rs:145-181)
  entries += VocabEntry(0, "<bos>", "", 0, transparent = false, Nil,
    indexed = false)
  entries += VocabEntry(1, "<eos>", "", 0, transparent = false, Nil,
    indexed = false)
  entries += VocabEntry(2, "<unk>", "", 0, transparent = false, Nil,
    indexed = false)
  encoder("<bos>") = 0; encoder("<eos>") = 1; encoder("<unk>") = 2

  def alphabetSizeWithUnk: Int = alphabet.size + 1

  def vocab: collection.IndexedSeq[VocabEntry] = entries

  def get(text: String): Option[VocabEntry] =
    encoder.get(text).map(entries(_))

  /** Insert or merge a vocabulary item. Frequency merge on duplicates
    * follows the reference's Sum/Max/Min/Replace (src/lib.rs:900-967,
    * src/vocab.rs:100-106); a later non-transparent insert clears the
    * transparent flag (src/lib.rs:935-940).
    */
  def add(
      text: String,
      frequency: Option[Long] = None,
      transparent: Boolean = false,
      indexed: Boolean = true,
      lm: Boolean = false,
      lexIndex: Int = 0
  ): Long = {
    if (frequency.isDefined) haveFreq = true
    val freq = frequency.getOrElse(1L)
    encoder.get(text) match {
      case Some(i) =>
        val e = entries(i)
        val merged = frequencyHandling match {
          case "sum"     => e.frequency + freq
          case "max"     => math.max(e.frequency, freq)
          case "min"     => math.min(e.frequency, freq)
          case "replace" => freq
          case other => throw new IllegalArgumentException(other)
        }
        entries(i) = e.copy(
          frequency = merged,
          transparent = e.transparent && transparent,
          indexed = e.indexed || indexed,
          lm = e.lm || lm,
          lexindex = e.lexindex | (1L << lexIndex)
        )
        e.id
      case None =>
        val id = entries.length.toLong
        entries += VocabEntry(id, text, alphabet.normKey(text), freq,
          transparent, Nil, indexed = indexed, lm = lm,
          lexindex = 1L << lexIndex)
        encoder(text) = entries.length - 1
        id
    }
  }

  /** Add a language-model n-gram entry (reference: VocabType::LM load,
    * bin/analiticcl.rs:1070-1082). Space-separated tokens, may reference
    * &lt;bos&gt;/&lt;eos&gt;.
    */
  def addLm(text: String, frequency: Long): Long =
    add(text, Some(frequency), indexed = false, lm = true)

  /** Encode a single token (reference: encode_token with use_unk=true). */
  def encodeToken(token: String): Long =
    encoder.get(token).map(entries(_).id).getOrElse(LocalVariantModel.UNK)

  /** Exact encoder lookup (no UNK fallback). */
  def encode(text: String): Option[Long] = encoder.get(text).map(entries(_).id)

  /** Decompose a vocab entry into component unigram ids (reference:
    * into_ngram, lib.rs:2688-2729; unknown parts become UNK).
    */
  def intoNgram(id: Long): Vector[Long] =
    entries(id.toInt).text.split(' ').iterator.map(encodeToken).toVector

  /** Add a weighted VariantOf edge variant -> target (reference:
    * src/lib.rs:478-514 add_variant; used by the error-list reader).
    */
  def addVariantEdge(variantText: String, targetText: String, score: Double,
      transparentVariant: Boolean = true): Unit = {
    val targetId = add(targetText)
    val variantId = encoder.get(variantText).map(entries(_).id).getOrElse(
      add(variantText, None, transparent = transparentVariant))
    addVariantById(targetId, variantId, score)
  }

  /** Link an existing reference and variant both ways (reference:
    * src/lib.rs:478-514 add_variant_by_id). Returns false for self-links.
    * Dedup semantics are the reference's exactly: the ReferenceFor
    * direction skips when an edge to the same variant exists; the
    * VariantOf direction skips only when an edge targets the variant
    * itself (the reference compares against `variantid`, lib.rs:502-506 —
    * replicated bit-for-bit, duplicate edges to the same ref and all).
    */
  def addVariantById(refId: Long, variantId: Long, score: Double): Boolean = {
    if (variantId == refId) return false
    val r = entries(refId.toInt)
    if (!r.referenceFor.exists(_._1 == variantId))
      entries(refId.toInt) =
        r.copy(referenceFor = r.referenceFor :+ ((variantId, score)))
    val v = entries(variantId.toInt)
    if (!v.variantOf.exists(_._1 == variantId))
      entries(variantId.toInt) = v.copy(variantOf = v.variantOf :+ ((refId, score)))
    true
  }

  /** S3: read a weighted variant / error list (reference: read_variants
    * src/lib.rs:772-897). Line format `ref TAB (variant TAB score)+` or,
    * with auto-detected frequency columns, `ref TAB freq TAB (variant TAB
    * score TAB freq)+`. `transparent=true` marks variants as intermediate
    * only (error lists). Returns the number of variant links added.
    */
  def readVariantsLines(
      lines: IterableOnce[String],
      transparent: Boolean = false,
      sourceName: String = "variants"
  ): Int = {
    val lexIndex = addLexiconName(sourceName)
    var count = 0
    var hasFreq: Option[Boolean] = None
    for (line <- lines.iterator if line.nonEmpty) {
      val fields = line.split('\t')
      val reference = fields(0)
      // frequency autodetect on the first data line (lib.rs:815-844):
      // column count must fit `ref freq (variant score freq)*` AND the
      // second column must parse as an integer
      val freq: Option[Long] = hasFreq match {
        case None =>
          if ((fields.length - 2) % 3 == 0 && fields.length >= 2)
            fields(1).toLongOption match {
              case Some(f) => hasFreq = Some(true); Some(f)
              // non-numeric 2nd column: the reference leaves has_freq
              // UNSET and re-attempts detection on later lines
              // (lib.rs:819-825 `_ => None`); only this line is freq-less
              case None => None
            }
          else { hasFreq = Some(false); None }
        case Some(true)  => Some(fields(1).toLong)
        case Some(false) => None
      }
      val refId = add(reference, freq, lexIndex = lexIndex)
      if (hasFreq.contains(true)) {
        var i = 2
        while (i + 3 <= fields.length) {
          val variant = fields(i)
          val score = fields(i + 1).toDouble
          val vfreq = fields(i + 2).toLong
          // reference adds the variant with its own frequency through the
          // same vocabulary path (add_variant -> add_to_vocabulary)
          val variantId = add(variant, Some(vfreq), transparent = transparent,
            lexIndex = lexIndex)
          if (addVariantById(refId, variantId, score)) count += 1
          i += 3
        }
      } else {
        var i = 1
        while (i + 2 <= fields.length) {
          val variant = fields(i)
          val score = fields(i + 1).toDouble
          val variantId = add(variant, None, transparent = transparent,
            lexIndex = lexIndex)
          if (addVariantById(refId, variantId, score)) count += 1
          i += 2
        }
      }
    }
    count
  }

  /** S5: add one context rule (reference: add_contextrule
    * src/lib.rs:658-764). `pattern` is `;`-separated expressions,
    * `tagNames` names (interned into [[tags]]), `tagOffsets` strings
    * `begin:length` with both parts optional.
    */
  def addContextRule(
      pattern: String,
      score: Float,
      tagNames: Seq[String] = Nil,
      tagOffsets: Seq[String] = Nil
  ): Either[String, Unit] = {
    val parsed = pattern.split(';').toVector.map(e =>
      PatternMatch.parse(e, lexicons.toSeq, encode))
    parsed.collectFirst { case Left(err) => err } match {
      case Some(err) => Left(err)
      case None =>
        val pms = parsed.map(_.toOption.get)
        val tagIds = tagNames.toVector.map { t =>
          val existing = tags.indexOf(t)
          if (existing >= 0) existing
          else { tags += t; tags.length - 1 }
        }
        var offsets = tagOffsets.toVector.map { s =>
          val fs = s.split(':')
          val begin = fs.headOption.filter(_.nonEmpty).map(_.toInt).getOrElse(0)
          val len = fs.lift(1).filter(_.nonEmpty).map(_.toInt)
            .getOrElse(pms.length - begin)
          (begin, len)
        }
        while (offsets.length < tagIds.length)
          offsets = offsets :+ ((0, pms.length))
        if (pms.nonEmpty)
          contextRulesList += ContextRule(pms, score, tagIds, offsets)
        Right(())
    }
  }

  /** S5: read context rules from TSV lines (reference: read_contextrules
    * src/lib.rs:570-656). Columns: pattern, score[, tags[, tagoffsets]];
    * `#` comments and blank lines skipped; a single tag defaults its
    * offset to `0:`.
    */
  def readContextRulesLines(lines: IterableOnce[String]): Either[String, Int] = {
    var n = 0
    for (line <- lines.iterator
         if line.nonEmpty && !line.startsWith("#")) {
      val fields = line.split('\t')
      if (fields.length < 2)
        return Left(s"expected at least two columns: $line")
      val pattern = fields(0)
      if (pattern.nonEmpty) {
        val score = fields(1).toFloat
        val tagNames = fields.lift(2).toSeq
          .flatMap(_.split(';').map(_.trim).filter(_.nonEmpty))
        var tagOffsets = fields.lift(3).toSeq
          .flatMap(_.split(';').map(_.trim).filter(_.nonEmpty))
        if (tagNames.length == 1 && tagOffsets.isEmpty) tagOffsets = Seq("0:")
        else if (tagNames.length != tagOffsets.length)
          return Left(s"tag/tagoffset count mismatch: $line")
        addContextRule(pattern, score, tagNames, tagOffsets) match {
          case Left(err) => return Left(err)
          case Right(()) => n += 1
        }
      }
    }
    Right(n)
  }

  /** Q5: score a decoded sequence against the context rules (reference:
    * test_context_rules src/lib.rs:2501-2576). Input = (vocabId, lexindex)
    * per output symbol (vocabId 0 = OOV). Returns (context score = mean of
    * per-position rule scores with 1.0 for uncovered positions, per-position
    * match results). First matching rule wins per position; scan order is
    * begin-position outer, rule order inner.
    */
  def testContextRules(
      sequence: IndexedSeq[(Long, Long)]
  ): (Double, Vector[Vector[PatternMatchResult]]) = {
    val results = Array.fill(sequence.length)(Vector.empty[PatternMatchResult])
    var found = false
    for (begin <- sequence.indices; rule <- contextRulesList)
      if (rule.matches(sequence, begin, results)) found = true
    if (!found) (1.0, results.toVector)
    else {
      val sum = results.iterator
        .map(x => if (x.nonEmpty) x.head.score else 1.0f).sum
      (sum.toDouble / sequence.length.toDouble, results.toVector)
    }
  }

  /** Build the anagram index (reference: src/lib.rs:190-245) and the
    * language model.
    */
  def build(): this.type = {
    anagrams = LocalVariantModel.AnagramIndex(entries.filter(_.indexed), alphabet)
    // language model (reference: lib.rs:247-297)
    val lmCounts = mutable.HashMap.empty[Vector[Long], Long]
    for (e <- entries if e.lm) {
      val ngram = intoNgram(e.id)
      if (ngram.nonEmpty)
        lmCounts(ngram) = lmCounts.getOrElse(ngram, 0L) + e.frequency
    }
    ngramCounts = lmCounts.toMap
    haveLm = ngramCounts.nonEmpty
    this
  }

  /** Port of lm_score_tokens (reference: lib.rs:2632-2674): bigram
    * logprob with add-one/fixed smoothing; tokens are Some(id) or None
    * for out-of-vocabulary. Returns (logprob, perplexity).
    */
  def lmScoreTokens(tokens: IndexedSeq[Option[Long]]): (Float, Double) = {
    val smoothing = -13.815510557964274f // search.rs:4
    var logprob = 0.0f
    var n = 0
    var i = 1
    while (i < tokens.length) {
      (tokens(i - 1), tokens(i)) match {
        case (Some(a), Some(b)) =>
          val priorCount = ngramCounts.getOrElse(Vector(a), 1L)
          ngramCounts.get(Vector(a, b)) match {
            case Some(joint) =>
              logprob +=
                (if (priorCount < joint) math.log(joint.toDouble).toFloat
                 else math.log(joint.toDouble / priorCount.toDouble).toFloat)
            case None => logprob += smoothing
          }
          n += 1
        case _ =>
          n += 1
          logprob += smoothing
      }
      i += 1
    }
    val perplexity = -1.0 / n.toDouble * logprob.toDouble
    (logprob, perplexity)
  }


  /** Vocab ids of the entries that are anagrams of `text` (share its
    * anagram value), in insertion order (empty when none is).
    */
  def anagramInstances(text: String): Vector[Long] = {
    val key = alphabet.normKey(text)
    val av = AnaHash.valueOf(key, alphabet.size)
    // the values of one charcount range ascend with the ordinal
    val c = key.length
    var lo = anagrams.start(c)
    var hi = anagrams.start(c + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = anagramValue(mid).compareTo(av)
      if (cmp == 0) return anagrams.instances(mid).iterator.map(_.toLong).toVector
      if (cmp < 0) lo = mid + 1 else hi = mid - 1
    }
    Vector.empty
  }

  /** The anagram value of an index ordinal (see [[findNearestAnahashes]]),
    * computed from the normalized form of one of its instances.
    */
  def anagramValue(ordinal: Int): BigInteger =
    AnaHash.valueOf(entries(anagrams.ids(anagrams.idStart(ordinal))).norm, alphabet.size)

  /** Candidate anagram values near the query whose normalized form has
    * the key `norm` (the focus f, |f| letters), as index ordinals in ascending
    * value order (BTreeSet order), so downstream gather order is
    * deterministic; [[anagramValue]] gives the values.
    *
    * The reference (src/lib.rs:1143-1308) probes the index with the
    * focus's deletions; a value v at charcount c is one of its hits iff
    * it misses at most [[AnaHash.missBudget]] D(c) of f's letters (the
    * argument is there). Each charcount c in |f| - maxDistance ..
    * |f| + maxDistance with a budget is therefore one miss-count scan of
    * its range (see AnagramIndex.scan).
    *
    * With StopAtExactMatch the charcount |f| range is scanned first with
    * budget 0: a zero-miss value of |f| letters is f itself, the only hit
    * then returned.
    */
  def findNearestAnahashes(
      norm: String,
      maxDistance: Int,
      stopCriterion: StopCriterion = StopCriterion.Exhaustive
  ): Array[Int] = {
    val idx = anagrams
    // the focus's class counts over the hash classes, and its classes
    val unk = alphabet.size
    val f = norm.length
    val counts = new Array[Int](unk + 1)
    val present = new Array[Int](math.min(f, unk + 1))
    var n = 0
    var i = 0
    while (i < f) {
      val k = math.min(norm.charAt(i) - 33, unk)
      if (counts(k) == 0) { present(n) = k; n += 1 }
      counts(k) += 1
      i += 1
    }
    val classes = java.util.Arrays.copyOf(present, n)
    val occ = new Array[Int](f)
    if (stopCriterion == StopCriterion.StopAtExactMatch) {
      // the one zero-miss value of |f| letters, if any
      val exact = new LocalVariantModel.Keys(1)
      idx.scan(f, 0, counts, classes, occ, exact)
      if (exact.length > 0) return Array(exact.keys(0).toInt)
    }
    // hits as (value rank, ordinal) keys; each ordinal sits in one range
    val hits = new LocalVariantModel.Keys(LocalVariantModel.HitsHint)
    // a negative distance probes the focus alone, as distance 0 does
    val maxD = math.max(0, maxDistance)
    var c = f - maxD
    while (c <= f + maxD) {
      val d = AnaHash.missBudget(c, f, maxD)
      if (d >= 0) idx.scan(c, d, counts, classes, occ, hits)
      c += 1
    }
    java.util.Arrays.sort(hits.keys, 0, hits.length)
    val out = new Array[Int](hits.length)
    i = 0
    while (i < out.length) { out(i) = hits.keys(i).toInt; i += 1 }
    out
  }

  /** Gather vocab instances under the nearest anagram values (index
    * ordinals, from [[findNearestAnahashes]]) and verify with the DL
    * kernel (reference: src/lib.rs:1311-1402). Order = the given value
    * order, then insertion order — this order feeds the stable ranking
    * sort and is part of the reference's deterministic tie-breaking.
    * `queryKey` is the query's normalized form as its key.
    */
  def gatherInstances(
      nearest: Array[Int],
      queryKey: String,
      queryText: String,
      maxEditDistance: Int
  ): Vector[(Long, Distance)] = {
    val out = Vector.newBuilder[(Long, Distance)]
    val queryCase = Scoring.caseClass(queryText)
    // plain loops: a for over the index Ranges timed ~15% slower here in
    // MatcherBench's gather+dl phase
    var k = 0
    while (k < nearest.length) {
      var j = anagrams.idStart(nearest(k))
      val end = anagrams.idStart(nearest(k) + 1)
      while (j < end) {
        val e = entries(anagrams.ids(j))
        val sameCase = Scoring.sameCase(queryCase, Scoring.caseClass(e.text), weights)
        Scoring.distanceFeatures(queryKey, e.norm, sameCase, maxEditDistance, weights)
          .foreach(d => out += ((e.id, d)))
        j += 1
      }
      k += 1
    }
    out.result()
  }

  /** Score and rank the gathered instances with
    * [[LocalVariantModel.scoreAndRank]], reading each instance's facts
    * from this model's entries.
    */
  def scoreAndRank(
      instances: Vector[(Long, Distance)],
      inputLength: Int,
      params: SearchParameters,
      input: String
  ): Vector[VariantResult] = {
    val candidates = instances.map { case (id, dist) =>
      val e = entries(id.toInt)
      val edges = e.variantOf.map { case (targetId, score) =>
        val t = entries(targetId.toInt)
        LocalVariantModel.Edge(targetId, t.text, t.frequency.toDouble, score)
      }
      LocalVariantModel.Candidate(id, e.text, dist,
        if (haveFreq) e.frequency.toDouble else 1.0, e.transparent, edges)
    }
    LocalVariantModel.scoreAndRank(candidates, inputLength, input, params,
      weights, confusables, confusablesBeforePruning)
  }

  /** The flagship entry point: ranked variants for one input string
    * (reference: src/lib.rs:972-1027).
    */
  def findVariants(input: String, params: SearchParameters): Vector[VariantResult] = {
    val key = alphabet.normKey(input)
    if (key.isEmpty) return Vector.empty
    scoreAndRank(nearInstances(key, input, params), key.length, params, input)
  }

  /** The verified instances near the query `input`, whose normalized form
    * has the key `key`: [[findNearestAnahashes]] at the resolved anagram
    * distance, then [[gatherInstances]] at the resolved edit distance
    * (reference: src/lib.rs:1143-1402), in gather order.
    */
  def nearInstances(key: String, input: String,
      params: SearchParameters): Vector[(Long, Distance)] = {
    val maxAna = params.maxAnagramDistance
      .resolve(key.length, DistanceThreshold.MaxAnagramDistance)
    val nearest = findNearestAnahashes(key, maxAna, params.stopCriterion)
    val maxEdit = params.maxEditDistance
      .resolve(key.length, DistanceThreshold.MaxEditDistance)
    gatherInstances(nearest, key, input, maxEdit)
  }

  /** Resolve a result id back to its text. */
  def text(id: Long): String = entries(id.toInt).text

  def entry(id: Long): VocabEntry = entries(id.toInt)

  /** K4 anagram-index dump (reference `index` mode,
    * bin/analiticcl.rs:1190-1204): every anagram value with its instance
    * texts, insertion order within a value. The reference iterates a
    * HashMap (unspecified order); this sorts by numeric anavalue so the
    * dump is deterministic and goldenable.
    */
  def indexDump: Seq[(BigInteger, Seq[String])] =
    anagrams.rank.indices.sortBy(anagrams.rank(_)).map { o =>
      (anagramValue(o), anagrams.instances(o).toSeq.map(entries(_).text))
    }

  /** L1 learn mode (reference: learn_variants src/lib.rs:1062-1139): match
    * every input (strict = find_variants per line; otherwise search mode's
    * selected solutions), then fold each (input -> matched reference) into
    * the model as a TRANSPARENT variant with a frequency bump on the first
    * occurrence of a consecutive run, and rebuild. Returns the number of
    * variant links recorded (the caller's convergence signal — the driver
    * loop stops at 0, reference bin/analiticcl.rs:501-549).
    */
  def learnVariants(
      inputs: Seq[String],
      params: SearchParameters,
      strict: Boolean = true,
      autoBuild: Boolean = true
  ): Int = {
    val allVariants = inputs.flatMap(learnMatches(_, params, strict))
    var count = 0
    var prev: Option[String] = None
    for ((inputStr, result) <- allVariants) {
      val vocabId = encoder.get(inputStr) match {
        case Some(i) =>
          val e = entries(i)
          // first occurrence of a consecutive run bumps the frequency
          if (!prev.contains(inputStr))
            entries(i) = e.copy(frequency = e.frequency + 1)
          e.id
        case None =>
          add(inputStr, Some(1), transparent = true)
      }
      if (result.vocabId != vocabId &&
        addVariantById(result.vocabId, vocabId, result.distScore)) count += 1
      prev = Some(inputStr)
    }
    if (autoBuild) build()
    count
  }

  /** The (input, match) pairs one line contributes to a learn iteration
    * (reference: learn_variants src/lib.rs:1062-1139): strict, the line's own
    * [[findVariants]]; otherwise the selected variant of each match of
    * search mode ([[SearchEngine.findAllMatches]]) under its matched text.
    */
  def learnMatches(line: String, params: SearchParameters,
      strict: Boolean): Seq[(String, VariantResult)] =
    if (strict) findVariants(line, params).map(r => (line, r))
    else
      SearchEngine.findAllMatches(this, line, params).flatMap { m =>
        for {
          sel <- m.selected
          vs <- m.variants
          r <- vs.lift(sel)
        } yield (m.text, r)
      }

  /** Apply a pre-reduced learn delta — the driver-side half of the
    * distributed learn iteration (graft.operators.DistributedLearn).
    * Semantically equal to [[learnVariants]]'s fold over the flattened
    * (input, result) pair sequence, reduced to model-sized data:
    *
    *  - `inputRuns`: one row per distinct result-bearing input string in
    *    FIRST-OCCURRENCE order, with its count of consecutive-run starts
    *    in the pair sequence. New strings are added transparent with
    *    freq 1 (ref lib.rs:1076-1078 VocabParams) and each further run
    *    start bumps the frequency by one — the exact consecutive-run rule
    *    of lib.rs:1103-1118, because within one run only the first pair
    *    bumps and a new word's first run is its insertion.
    *  - `edges`: (refId, input, score) rows replayed PER OCCURRENCE in
    *    (lineNo, seq) pair order — NOT pre-deduplicated. The reference's
    *    add_variant_by_id (lib.rs:478-514) dedups only the referenceFor
    *    direction; the variantOf list appends one entry per occurrence,
    *    and J5 expansion's result multiplicity (hence R3/R4 tie order)
    *    depends on that multiplicity. [[addVariantById]] applies the
    *    same one-sided dedup internally, so replaying every occurrence
    *    in order reproduces both list orders exactly.
    *
    * Vocab ids come out identical to the sequential fold: new entries are
    * appended in first-occurrence order before any edge is linked, and an
    * edge can never target an id minted in the same iteration (match
    * results were computed against the pre-iteration model).
    */
  def applyLearnDelta(
      inputRuns: Seq[(String, Long)],
      edges: Seq[(Long, String, Double)],
      autoBuild: Boolean = true
  ): Unit = {
    for ((s, runs) <- inputRuns) {
      encoder.get(s) match {
        case Some(i) =>
          val e = entries(i)
          entries(i) = e.copy(frequency = e.frequency + runs)
        case None =>
          val id = add(s, Some(1L), transparent = true)
          val e = entries(id.toInt)
          entries(id.toInt) = e.copy(frequency = e.frequency + (runs - 1))
      }
    }
    for ((refId, input, score) <- edges)
      addVariantById(refId, entries(encoder(input)).id, score)
    if (autoBuild) build()
  }

  /** K3: weighted-variant-list sink (reference:
    * output_weighted_variants_as_tsv bin/analiticcl.rs:226-288): one line
    * per reference entry that has learned/loaded variants, `ref (TAB
    * variant TAB score)+`, entries in vocabulary order.
    */
  def weightedVariantsTsv: Iterator[String] =
    entries.iterator.filter(_.referenceFor.nonEmpty).map { e =>
      val parts = e.referenceFor.map { case (vid, score) =>
        s"${entries(vid.toInt).text}\t$score"
      }
      (e.text +: parts).mkString("\t")
    }

  private def writeReplace(): AnyRef = LocalVariantModel.Wire(this)
}

object LocalVariantModel {
  /** Pre-seeded special token ids (reference: vocab.rs:145-147). */
  val BOS = 0L
  val EOS = 1L
  val UNK = 2L

  /** One verified candidate of a query, as [[scoreAndRank]] reads it: its
    * vocab id and text, its distance features, its frequency (1 when the
    * lexicon has none), its transparent flag and its outgoing VariantOf
    * edges in insertion order.
    */
  final case class Candidate(id: Long, text: String, dist: Distance, frequency: Double,
      transparent: Boolean, variantOf: Seq[Edge])

  /** An outgoing VariantOf edge: its target's id, text and frequency, and
    * the edge score.
    */
  final case class Edge(targetId: Long, targetText: String, targetFrequency: Double,
      score: Double)

  /** A model over the lexicon `texts` as given, for the nearest search and
    * the gather ([[LocalVariantModel#nearInstances]],
    * [[LocalVariantModel#anagramInstances]]): entry i, vocab id i, is
    * `texts(i)`, indexed. Unlike `add`, equal texts stay separate entries.
    * `VariantMatcher.matchJoin` builds one per charcount slice of its
    * lexicon.
    */
  def ofTexts(alphabet: Alphabet, weights: Weights, texts: Seq[String]): LocalVariantModel = {
    val m = new LocalVariantModel(alphabet, weights)
    // no special tokens and no encoder: the ids are positions in `texts`
    m.entries.clear()
    m.encoder.clear()
    for ((t, i) <- texts.iterator.zipWithIndex)
      m.entries += VocabEntry(i, t, alphabet.normKey(t), 1L, transparent = false, Nil)
    m.build()
  }

  /** The text of every id a ranking of `candidates` can return. */
  def texts(candidates: Seq[Candidate]): Map[Long, String] =
    candidates.iterator.flatMap(c => Iterator(c.id -> c.text) ++
      c.variantOf.iterator.map(e => e.targetId -> e.targetText)).toMap

  /** Score, threshold, expand variants, normalize frequencies, rank,
    * dedup, tie-aware top-k and relative cutoff
    * (reference: src/lib.rs:1405-1653), the one ranking both matcher
    * strategies run: findVariants on its gathered instances,
    * VariantMatcher.matchJoin on each query's verified rows. The
    * candidates come in gather order (ascending anagram value, then
    * insertion id), which the stable rank sort keeps among ties.
    */
  def scoreAndRank(
      candidates: Seq[Candidate],
      inputLength: Int,
      input: String,
      params: SearchParameters,
      weights: Weights,
      confusables: Seq[Confusable],
      confusablesBeforePruning: Boolean
  ): Vector[VariantResult] = {
    // R5 confusable rescoring (reference: lib.rs:1655-1663)
    lazy val textOf = texts(candidates)
    def rescoreConfusables(rs: Vector[VariantResult]): Vector[VariantResult] =
      rs.map(r => r.copy(distScore = r.distScore *
        Confusable.weightFor(confusables, input, textOf(r.vocabId))))
    var maxFreq = 0.0
    var hasExpandable = false
    val results = Vector.newBuilder[VariantResult]
    val kept = Vector.newBuilder[Candidate]
    for (c <- candidates) {
      val s = Scoring.score(c.dist, inputLength, weights)
      if (c.frequency > maxFreq) maxFreq = c.frequency
      // INTENTIONAL divergence from upstream: the reference's
      // has_expandable_variants (lib.rs:1414-1427) triggers on
      // vocabitem.variants.is_some(), which includes ReferenceFor-ONLY
      // entries — expansion then finds nothing to expand but the
      // transparent-drop/dedup passes still run. We trigger only on
      // outgoing variantOf edges (what expansion actually consumes); a
      // result set whose only "variants" are reference-for-only entries
      // keeps transparent rows upstream would drop.
      if (!hasExpandable && c.variantOf.nonEmpty) hasExpandable = true
      if (s >= params.scoreThreshold) {
        results += VariantResult(c.id, s, c.frequency)
        kept += c
      }
    }
    var rs = results.result()
    // early confusable rescoring (reference: lib.rs:1505-1508)
    if (confusables.nonEmpty && confusablesBeforePruning)
      rs = rescoreConfusables(rs)
    if (hasExpandable) {
      rs = expandVariants(rs.zip(kept.result()))
      for (r <- rs) if (r.freqScore > maxFreq) maxFreq = r.freqScore
    }
    if (maxFreq > 0.0) rs = rs.map(r => r.copy(freqScore = r.freqScore / maxFreq))
    rs = Scoring.rank(rs, params.freqWeight)
    if (hasExpandable) {
      // dedup consecutive duplicates by vocab id, keeping first
      // (reference: Vec::dedup_by_key, src/lib.rs:1530-1533)
      val b = Vector.newBuilder[VariantResult]
      var last = -1L
      for (r <- rs) { if (r.vocabId != last) b += r; last = r.vocabId }
      rs = b.result()
    }
    rs = Scoring.truncateTieAware(rs, params.maxMatches, params.freqWeight)
    // late confusable rescoring + re-rank (default; reference: lib.rs:1591-1595)
    if (confusables.nonEmpty && !confusablesBeforePruning) {
      rs = Scoring.rank(rescoreConfusables(rs), params.freqWeight)
    }
    Scoring.applyCutoff(rs, params.cutoffThreshold, params.freqWeight)
  }

  /** Expand VariantOf edges of each result's candidate; transparent
    * originals are dropped (reference: src/lib.rs:1677-1727).
    */
  private def expandVariants(results: Vector[(VariantResult, Candidate)]): Vector[VariantResult] = {
    val out = Vector.newBuilder[VariantResult]
    for ((r, c) <- results) {
      // edges are stored in insertion (file) order like the reference
      for (e <- c.variantOf)
        out += VariantResult(
          e.targetId,
          r.distScore * e.score,
          math.min(e.targetFrequency, r.freqScore),
          via = Some(r.vocabId)
        )
      if (!c.transparent) out += r
    }
    out.result()
  }

  /** The anagram index (reference: the value -> instances map of
    * src/index.rs:5-12 plus the charcount-sorted values of
    * src/lib.rs:222-245) in flat arrays, built once. Ordinals number the
    * distinct anagram values of the indexed entries by (charcount, value);
    * the values are not kept (an instance's normalized form gives one):
    *  - charcount c owns the ordinals `start(c)` until `start(c + 1)`;
    *  - multiplicity postings P(c, k, j), for hash class k (UNK is
    *    `alphabet.size`) and j >= 1: a bitset of ⌈range length / 64⌉
    *    longs over the positions i of that range, bit i set iff ordinal `start(c) + i`
    *    holds at least j letters of class k. They sit in `bits`, P(c, k, 1),
    *    P(c, k, 2), ... from `postingAt(c)(k)` until `postingAt(c)(k + 1)`,
    *    so a multiplicity no value of the range reaches has no posting
    *    (`postingAt(c)` is null for an empty range);
    *  - the vocab ids of o, in insertion order, are `ids(idStart(o))`
    *    until `ids(idStart(o + 1))`;
    *  - `rank(o)`: the value's position in ascending value order.
    */
  private final class AnagramIndex(
      starts: Array[Int],
      postingAt: Array[Array[Int]],
      bits: Array[Long],
      val idStart: Array[Int],
      val ids: Array[Int],
      val rank: Array[Int]
  ) extends Serializable {
    def start(c: Int): Int = starts(math.min(math.max(c, 0), starts.length - 1))

    def instances(o: Int): Array[Int] =
      java.util.Arrays.copyOfRange(ids, idStart(o), idStart(o + 1))

    /** a sort key in ascending value order that carries the ordinal */
    @inline def key(o: Int): Long = (rank(o).toLong << 32) | o

    /** Add `key(o)` to `out` for each ordinal o of charcount c that misses
      * at most `budget` letters of the focus, given as its class `counts`
      * over its `classes`. `occ` is scratch space for |focus| ints.
      *
      * A miss is a focus letter occurrence (k, j), the j-th letter of
      * class k, that v does not hold: a zero bit of P(c, k, j). Misses are
      * counted bit-sliced, 64 values per word: m(s) holds the values with
      * more than s misses, so m(budget) marks the dead ones and a word
      * stops once every value of it is dead. An occurrence with no
      * posting is a miss for the whole range and lowers the budget.
      */
    def scan(c: Int, budget: Int, counts: Array[Int], classes: Array[Int],
        occ: Array[Int], out: Keys): Unit = {
      if (c < 0 || c >= postingAt.length || postingAt(c) == null) return
      val at = postingAt(c)
      val base = starts(c)
      val len = starts(c + 1) - base
      val nWords = (len + 63) >>> 6
      var b = budget
      var n = 0
      var q = 0
      while (q < classes.length) {
        val k = classes(q)
        val held = math.min(counts(k), (at(k + 1) - at(k)) / nWords)
        // highest multiplicity first: the sparser postings kill words sooner
        var j = 0
        while (j < held) { occ(n) = at(k) + (held - 1 - j) * nWords; n += 1; j += 1 }
        b -= counts(k) - held
        q += 1
      }
      if (b < 0) return
      // budgets up to 3 count in registers, larger ones in m (an array
      // counter there ran ~1.4x slower on the default budgets)
      val m = if (b > 3) new Array[Long](b + 1) else null
      var w = 0
      while (w < nWords) {
        val valid = if (w == nWords - 1) -1L >>> (-len & 63) else -1L
        var live = valid
        var i = 0
        if (m == null) {
          var m0 = 0L; var m1 = 0L; var m2 = 0L; var m3 = 0L
          while (i < n && live != 0L) {
            val x = ~bits(occ(i) + w)
            m3 |= m2 & x; m2 |= m1 & x; m1 |= m0 & x; m0 |= x
            live = valid & ~(if (b == 0) m0 else if (b == 1) m1 else if (b == 2) m2 else m3)
            i += 1
          }
        } else {
          java.util.Arrays.fill(m, 0L)
          while (i < n && live != 0L) {
            val x = ~bits(occ(i) + w)
            var s = b
            while (s > 0) { m(s) |= m(s - 1) & x; s -= 1 }
            m(0) |= x
            live = valid & ~m(b)
            i += 1
          }
        }
        while (live != 0L) {
          out.add(key(base + (w << 6) + java.lang.Long.numberOfTrailingZeros(live)))
          live &= live - 1
        }
        w += 1
      }
    }
  }

  /** Capacity a query's [[Keys]] starts with. `MatcherBench` queries
    * have 2 hits in the median and 18 at the 99th percentile at 20k
    * entries (8 and 78 at 120k), so most queries never grow it.
    */
  private final val HitsHint = 64

  /** The scan's output: a growable array of [[AnagramIndex.key]]s, the
    * first `length` of `keys` in insertion order.
    */
  private final class Keys(capacity: Int) {
    var keys = new Array[Long](capacity)
    var length = 0
    def add(k: Long): Unit = {
      if (length == keys.length) keys = java.util.Arrays.copyOf(keys, 2 * length)
      keys(length) = k
      length += 1
    }
  }

  private object AnagramIndex {
    def apply(indexed: collection.IndexedSeq[VocabEntry], alphabet: Alphabet): AnagramIndex = {
      val unk = alphabet.size
      // (charcount, value, entry) per entry, charcount == normalized
      // length; the sort is stable, so one value's ids stay in insertion order
      val rows = indexed.map(e => (e.norm.length, AnaHash.valueOf(e.norm, unk), e))
        .sortWith((a, b) => a._1 < b._1 || a._1 == b._1 && a._2.compareTo(b._2) < 0)
      val firsts = rows.indices.filter(j => j == 0 || !rows(j)._2.equals(rows(j - 1)._2)).toArray
      val starts = new Array[Int]((if (rows.isEmpty) -1 else rows.last._1) + 2)
      for (o <- firsts.indices) starts(rows(firsts(o))._1 + 1) = o + 1
      for (c <- 1 until starts.length) starts(c) = math.max(starts(c), starts(c - 1))
      // pass 1 sizes each range's postings by its classes' largest
      // multiplicity, pass 2 sets bit i of P(c, k, j) for the j-th letter
      // of class k in the value at position i; `seen` counts the letters
      // of one value's classes so far (its first instance's norm)
      val seen = new Array[Int](unk + 1)
      def eachLetter(o: Int)(f: (Int, Int) => Unit): Unit = {
        val norm = rows(firsts(o))._3.norm
        var i = 0
        while (i < norm.length) {
          val k = math.min(norm.charAt(i) - 33, unk)
          f(k, seen(k))
          seen(k) += 1
          i += 1
        }
        i = 0
        while (i < norm.length) { seen(math.min(norm.charAt(i) - 33, unk)) = 0; i += 1 }
      }
      var nBits = 0
      val postingAt = Array.tabulate(starts.length - 1) { c =>
        val nWords = (starts(c + 1) - starts(c) + 63) >>> 6
        if (nWords == 0) null
        else {
          val held = new Array[Int](unk + 1)
          for (o <- starts(c) until starts(c + 1))
            eachLetter(o)((k, j) => held(k) = math.max(held(k), j + 1))
          val at = new Array[Int](unk + 2)
          at(0) = nBits
          for (k <- 0 to unk) at(k + 1) = at(k) + held(k) * nWords
          nBits = at(unk + 1)
          at
        }
      }
      val bits = new Array[Long](nBits)
      for (c <- postingAt.indices if postingAt(c) != null) {
        val nWords = (starts(c + 1) - starts(c) + 63) >>> 6
        for (i <- 0 until starts(c + 1) - starts(c))
          eachLetter(starts(c) + i)((k, j) =>
            bits(postingAt(c)(k) + j * nWords + (i >>> 6)) |= 1L << i)
      }
      val rank = new Array[Int](firsts.length)
      firsts.indices.sortWith((a, b) => rows(firsts(a))._2.compareTo(rows(firsts(b))._2) < 0)
        .zipWithIndex.foreach { case (o, r) => rank(o) = r }
      new AnagramIndex(starts, postingAt, bits, firsts :+ rows.length,
        rows.map(_._3.id.toInt).toArray, rank)
    }
  }

  /** The serialized form of a model: columns of flat arrays in place of
    * the `VocabEntry` object graph, so a broadcast (and every
    * `DistributedLearn` round) writes and reads a few primitive arrays.
    * Entry i has vocab id i:
    *  - text: UTF-8 bytes `texts(textAt(i))` until `texts(textAt(i + 1))`;
    *  - normalized form: `normAt(i)` until `normAt(i + 1)` in `norms`, each
    *    class index (key char - 33) in [[normWidth]] little-endian bytes;
    *  - `frequency(i)`, `lexindex(i)`, and the flags byte `flags(i)`
    *    (Transparent, Indexed, Lm);
    *  - its variantOf and referenceFor lists in the sparse [[Edges]].
    * The anagram index ships as its own arrays and the n-gram counts as
    * ragged id lists (`lmAt`, `lmIds`) with their `lmCounts`. The encoder
    * is not shipped: read rebuilds it from the texts.
    */
  private final class Wire(
      alphabet: Alphabet,
      weights: Weights,
      frequencyHandling: String,
      confusablesBeforePruning: Boolean,
      confusables: Array[Confusable],
      lexicons: Array[String],
      tags: Array[String],
      contextRules: Array[ContextRule],
      haveFreq: Boolean,
      haveLm: Boolean,
      texts: Array[Byte],
      textAt: Array[Int],
      norms: Array[Byte],
      normAt: Array[Int],
      frequency: Array[Long],
      lexindex: Array[Long],
      flags: Array[Byte],
      variantOf: Edges,
      referenceFor: Edges,
      anagrams: AnagramIndex,
      lmAt: Array[Int],
      lmIds: Array[Long],
      lmCounts: Array[Long]
  ) extends Serializable {
    private def readResolve(): AnyRef = {
      val m = new LocalVariantModel(alphabet, weights, frequencyHandling,
        confusablesBeforePruning)
      m.confusablesList ++= confusables
      m.lexicons ++= lexicons
      m.tags ++= tags
      m.contextRulesList ++= contextRules
      m.haveFreq = haveFreq
      val n = flags.length
      val vOf = variantOf.lists(n)
      val rFor = referenceFor.lists(n)
      val w = normWidth(alphabet)
      // drop the special tokens the constructor seeds: the columns hold them
      m.entries.clear()
      m.entries.sizeHint(n)
      m.encoder.clear()
      m.encoder.sizeHint(n)
      var i = 0
      while (i < n) {
        val text = new String(texts, textAt(i), textAt(i + 1) - textAt(i), UTF_8)
        val norm = new Array[Char](normAt(i + 1) - normAt(i))
        var j = 0
        while (j < norm.length) {
          val p = (normAt(i) + j) * w
          var c = 33
          var b = 0
          while (b < w) { c += (norms(p + b) & 0xff) << (8 * b); b += 1 }
          norm(j) = c.toChar
          j += 1
        }
        m.entries += VocabEntry(i, text, new String(norm), frequency(i),
          transparent = (flags(i) & Transparent) != 0, vOf(i).toList,
          indexed = (flags(i) & Indexed) != 0, lm = (flags(i) & Lm) != 0,
          lexindex = lexindex(i), referenceFor = rFor(i))
        m.encoder(text) = i
        i += 1
      }
      m.anagrams = anagrams
      m.ngramCounts = lmCounts.indices.iterator.map(k =>
        lmIds.slice(lmAt(k), lmAt(k + 1)).toVector -> lmCounts(k)).toMap
      m.haveLm = haveLm
      m
    }
  }

  private object Wire {
    def apply(m: LocalVariantModel): Wire = {
      val es = m.entries
      val n = es.length
      val w = normWidth(m.alphabet)
      val textBytes = new Array[Array[Byte]](n)
      val textAt = new Array[Int](n + 1)
      val normAt = new Array[Int](n + 1)
      val frequency = new Array[Long](n)
      val lexindex = new Array[Long](n)
      val flags = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val e = es(i)
        textBytes(i) = e.text.getBytes(UTF_8)
        textAt(i + 1) = textAt(i) + textBytes(i).length
        normAt(i + 1) = normAt(i) + e.norm.length
        frequency(i) = e.frequency
        lexindex(i) = e.lexindex
        flags(i) = ((if (e.transparent) Transparent else 0) |
          (if (e.indexed) Indexed else 0) | (if (e.lm) Lm else 0)).toByte
        i += 1
      }
      val texts = new Array[Byte](textAt(n))
      val norms = new Array[Byte](normAt(n) * w)
      i = 0
      while (i < n) {
        System.arraycopy(textBytes(i), 0, texts, textAt(i), textBytes(i).length)
        val norm = es(i).norm
        var j = 0
        while (j < norm.length) {
          val p = (normAt(i) + j) * w
          var b = 0
          while (b < w) { norms(p + b) = ((norm.charAt(j) - 33) >>> (8 * b)).toByte; b += 1 }
          j += 1
        }
        i += 1
      }
      val lm = m.ngramCounts.toArray
      new Wire(m.alphabet, m.weights, m.frequencyHandling,
        m.confusablesBeforePruning, m.confusablesList.toArray, m.lexicons.toArray,
        m.tags.toArray, m.contextRulesList.toArray, m.haveFreq, m.haveLm,
        texts, textAt, norms, normAt, frequency, lexindex, flags,
        Edges(es, _.variantOf), Edges(es, _.referenceFor), m.anagrams,
        lm.scanLeft(0)(_ + _._1.length), lm.flatMap(_._1), lm.map(_._2))
    }
  }

  private final val Transparent = 1
  private final val Indexed = 2
  private final val Lm = 4

  /** Bytes per class index in [[Wire]]'s norms: enough for the largest
    * index the alphabet's normalized forms hold (its UNK).
    */
  private def normWidth(alphabet: Alphabet): Int =
    (39 - Integer.numberOfLeadingZeros(alphabet.unkNormIndex)) / 8

  /** (id, score) lists of the entries that have one, in CSR form: entry
    * `owners(k)`'s list is `targets`/`scores` from `at(k)` until `at(k + 1)`.
    */
  private final class Edges(
      owners: Array[Int],
      at: Array[Int],
      targets: Array[Long],
      scores: Array[Double]
  ) extends Serializable {
    /** the list of each of `n` entries */
    def lists(n: Int): Array[Vector[(Long, Double)]] = {
      val out = Array.fill(n)(Vector.empty[(Long, Double)])
      for (k <- owners.indices)
        out(owners(k)) = (at(k) until at(k + 1)).map(j => (targets(j), scores(j))).toVector
      out
    }
  }

  private object Edges {
    def apply(es: collection.IndexedSeq[VocabEntry],
        list: VocabEntry => Seq[(Long, Double)]): Edges = {
      val owners = mutable.ArrayBuilder.make[Int]
      val edges = mutable.ArrayBuffer.empty[(Long, Double)]
      val at = mutable.ArrayBuilder.make[Int]
      at.addOne(0)
      var i = 0
      while (i < es.length) {
        val l = list(es(i))
        if (l.nonEmpty) { owners.addOne(i); edges ++= l; at.addOne(edges.length) }
        i += 1
      }
      new Edges(owners.result(), at.result(), edges.map(_._1).toArray,
        edges.map(_._2).toArray)
    }
  }
}
