package graft.kernel

import java.math.BigInteger
import scala.collection.mutable

import AnaHash.bigIntegerOrdering

/** A vocabulary entry (reference: src/vocab.rs:8-29, simplified to the
  * fields the matching path reads).
  */
final case class VocabEntry(
    id: Long,
    text: String,
    norm: Array[Int],
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
  *  2. the broadcastable kernel: at reference scale (lexicons ≤ a few 100k
  *     rows) the whole index fits comfortably in executor memory, so the
  *     Spark matcher broadcasts one of these and maps partitions — zero
  *     shuffle in the verify stage, which is what makes the throughput
  *     scale near-linearly with cores. The declarative join-based plan in
  *     graft.operators.VariantMatcher covers the huge-lexicon case and is
  *     tested equal to this one.
  *
  * Instances are immutable after build(); safe to broadcast.
  */
final class LocalVariantModel(
    val alphabet: Alphabet,
    val weights: Weights = Weights(),
    // reference default is Max (vocab.rs VocabParams::default)
    frequencyHandling: String = "max",
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
  // primary anagram index: anavalue -> vocab ids in insertion order
  // (reference: src/index.rs:5-12)
  private var index: Map[BigInteger, Vector[Long]] = Map.empty
  // secondary index: charcount -> numerically ascending anavalues as
  // parallel primitive-friendly arrays (values + presence masks) so the
  // containment scan is a tight loop with a 1-AND prefilter
  // (reference: src/lib.rs:222-245; scan lib.rs:1266-1281)
  /** charcount -> (sorted anavalues, presence masks, long fast-path
    * values: the anavalue when it fits 62 bits, else 0 — most words'
    * prime products fit a Long, turning the containment scan's dominant
    * BigInteger.mod into a native long remainder).
    */
  private var sortedIndex: Map[Int, (Array[BigInteger], Array[Long], Array[Long])] =
    Map.empty
  // presence set of index keys that fit 62 bits (the vast majority):
  // the deletion-BFS membership probes hit this with one long hash
  // instead of a BigInteger hashCode+equals chain
  private var indexKeysLong: java.util.HashSet[java.lang.Long] =
    new java.util.HashSet[java.lang.Long]()
  /** Index membership with the long fast path — a value that fits 62
    * bits can never equal an overflowing key, so the long set answers
    * exactly for fitting probes.
    */
  @inline private def indexHas(v: BigInteger): Boolean =
    if (v.bitLength <= 62) indexKeysLong.contains(v.longValueExact)
    else index.contains(v)
  private var anavalues: Map[Long, BigInteger] = Map.empty
  var haveFreq: Boolean = false
  // language model state (reference: lib.rs ngrams/have_lm)
  private var ngramCounts: Map[Vector[Long], Long] = Map.empty
  var haveLm: Boolean = false

  // special tokens pre-seeded like the reference (vocab.rs:145-181)
  entries += VocabEntry(0, "<bos>", Array.empty, 0, transparent = false, Nil,
    indexed = false)
  entries += VocabEntry(1, "<eos>", Array.empty, 0, transparent = false, Nil,
    indexed = false)
  entries += VocabEntry(2, "<unk>", Array.empty, 0, transparent = false, Nil,
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
        entries += VocabEntry(id, text, alphabet.normalize(text), freq,
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

  /** Build the anagram index + charcount-partitioned secondary index
    * (reference: src/lib.rs:190-245).
    */
  def build(): this.type = {
    val idx = mutable.LinkedHashMap.empty[BigInteger, Vector[Long]]
    val avs = mutable.HashMap.empty[Long, BigInteger]
    val masks = mutable.HashMap.empty[BigInteger, Long]
    val counts = mutable.HashMap.empty[BigInteger, Int]
    for (e <- entries if e.indexed) {
      val (av, mask) = alphabet.anahashWithMask(e.text)
      avs(e.id) = av
      idx(av) = idx.getOrElse(av, Vector.empty) :+ e.id
      masks(av) = mask
      // charcount == normalized length for values built from text
      counts.getOrElseUpdate(av, e.norm.length)
    }
    index = idx.toMap
    indexKeysLong = {
      val s = new java.util.HashSet[java.lang.Long](index.size * 2)
      index.keysIterator.foreach(k =>
        if (k.bitLength <= 62) s.add(k.longValueExact))
      s
    }
    anavalues = avs.toMap
    sortedIndex = index.keysIterator.toVector
      .map(av => (counts(av), av))
      .groupBy(_._1)
      .map { case (cc, vs) =>
        val sorted = vs.map(_._2).sortBy(identity).toArray
        cc -> ((sorted, sorted.map(masks),
          sorted.map(v => if (v.bitLength <= 62) v.longValueExact else 0L)))
      }
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


  def anagramInstances(av: BigInteger): Vector[Long] =
    index.getOrElse(av, Vector.empty)

  /** Candidate anagram values near `focus`: exact probe + deletion BFS +
    * containment scan over the charcount-bucketed secondary index
    * (reference: src/lib.rs:1143-1308). Returned ascending (BTreeSet order)
    * so downstream gather order is deterministic.
    */
  def findNearestAnahashes(
      focus: BigInteger,
      maxDistance: Int,
      stopCriterion: StopCriterion = StopCriterion.Exhaustive
  ): Vector[BigInteger] = {
    // collected unsorted, sorted+deduped once at the end: a TreeSet of
    // BigInteger pays a log-n compareTo chain per insert (profiled ~13%
    // of query wall); the three sources (focus, deletion hits, scan
    // hits) are each internally duplicate-free, so one final sort is the
    // same BTreeSet order at a fraction of the comparisons
    val nearest = mutable.ArrayBuffer.empty[BigInteger]
    if (indexHas(focus)) {
      nearest += focus
      if (stopCriterion == StopCriterion.StopAtExactMatch &&
        index(focus).nonEmpty) return nearest.toVector
    }
    val focusMask = AnaHash.maskOf(focus, alphabetSizeWithUnk)
    val (focusUpper, focusCharCount) =
      AnaHash.alphabetUpperBound(focus, alphabetSizeWithUnk)
    val focusAlphabetSize = focusUpper + 1

    // (lookup value, mask, target charcount) containment probes
    val lookups = mutable.LinkedHashMap.empty[(BigInteger, Int), Long]
    for (d <- 1 to maxDistance)
      lookups((focus, focusCharCount + d)) = focusMask

    val deletions = AnaHash.deletionNeighborhoodWithMasks(
      focus, focusMask, focusAlphabetSize + 1, maxDistance)
    for ((del, mask, dist) <- deletions) {
      if (indexHas(del)) nearest += del
      val delCharCount = focusCharCount - dist
      for (sd <- 1 to (maxDistance - dist))
        lookups.getOrElseUpdate((del, delCharCount + sd), mask)
    }

    // containment scan: per target charcount, keep index values divisible
    // by any scheduled lookup value (reference: src/lib.rs:1266-1281).
    // Tight loop with a presence-mask prefilter — the vast majority of
    // (candidate, probe) tests die on one AND instead of a BigInteger mod.
    val byCc = lookups.keysIterator.toVector.groupBy(_._2)
    for ((cc, probeKeys) <- byCc; bucket <- sortedIndex.get(cc)) {
      val (candidates, candMasks, candLongs) = bucket
      val values = probeKeys.map(_._1).toArray
      val probeMasks = probeKeys.map(k => lookups(k)).toArray
      // long fast path (0 = does not fit 62 bits): when BOTH sides fit,
      // divisibility is one native % instead of a BigInteger mod — the
      // scan's dominant cost (profiled at >50% of query wall). A probe
      // that overflows Long is strictly larger than any Long candidate,
      // so the mixed case is a constant false.
      val probeLongs = values.map(v => if (v.bitLength <= 62) v.longValueExact else 0L)
      // chars present in EVERY probe of this bucket: a candidate missing
      // any of them can satisfy no probe, so it dies on ONE mask AND
      // without entering the probe loop. Deletion probes only remove up
      // to maxDistance chars from the focus, so this common mask keeps
      // most focus chars and rejects the typical candidate outright.
      var commonMask = -1L
      var cmI = 0
      while (cmI < probeMasks.length) {
        commonMask &= probeMasks(cmI); cmI += 1
      }
      var ci = 0
      while (ci < candidates.length) {
        // only candMasks streams on the (dominant) reject path — the
        // candLongs read is deferred until a probe's mask fits, halving
        // the bytes touched per rejected candidate; this scan is the
        // matcher's memory-bandwidth hot spot at multi-core
        val cMask = candMasks(ci)
        if ((commonMask & ~cMask) == 0) {
          var pi = 0
          var found = false
          while (pi < values.length && !found) {
            if ((probeMasks(pi) & ~cMask) == 0) {
              val cL = candLongs(ci)
              val pL = probeLongs(pi)
              val hit =
                if (cL != 0L) pL != 0L && pL <= cL && cL % pL == 0L
                else AnaHash.contains(candidates(ci), values(pi))
              if (hit) {
                nearest += candidates(ci)
                found = true
              }
            }
            pi += 1
          }
        }
        ci += 1
      }
    }
    // ascending order (the reference's BTreeSet iteration order) with
    // cross-source dedup: deletion values have charcount < focus <= scan
    // hits, so overlaps are only theoretical, but equal neighbors are
    // dropped for safety
    val arr = nearest.toArray
    java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
    val out = Vector.newBuilder[BigInteger]
    var i = 0
    while (i < arr.length) {
      if (i == 0 || arr(i) != arr(i - 1)) out += arr(i)
      i += 1
    }
    out.result()
  }

  /** Gather vocab instances under the nearest anagram values and verify
    * with the DL kernel (reference: src/lib.rs:1311-1402). Order =
    * ascending anavalue, then insertion order — this order feeds the
    * stable ranking sort and is part of the reference's deterministic
    * tie-breaking.
    */
  def gatherInstances(
      nearest: Vector[BigInteger],
      queryNorm: Array[Int],
      queryText: String,
      maxEditDistance: Int
  ): Vector[(Long, Distance)] = {
    val out = Vector.newBuilder[(Long, Distance)]
    for (av <- nearest; id <- index.getOrElse(av, Vector.empty)) {
      val e = entries(id.toInt)
      Scoring.distanceFeatures(queryNorm, queryText, e.norm, e.text,
        maxEditDistance, weights).foreach(d => out += ((id, d)))
    }
    out.result()
  }

  /** Score, threshold, expand variants, normalize frequencies, rank,
    * dedup, tie-aware top-k and relative cutoff
    * (reference: src/lib.rs:1405-1653).
    */
  def scoreAndRank(
      instances: Vector[(Long, Distance)],
      inputLength: Int,
      params: SearchParameters
  ): Vector[VariantResult] =
    scoreAndRank(instances, inputLength, params, input = "")

  def scoreAndRank(
      instances: Vector[(Long, Distance)],
      inputLength: Int,
      params: SearchParameters,
      input: String
  ): Vector[VariantResult] = {
    // R5 confusable rescoring (reference: lib.rs:1655-1663)
    def rescoreConfusables(rs: Vector[VariantResult]): Vector[VariantResult] =
      rs.map(r => r.copy(distScore = r.distScore *
        Confusable.weightFor(confusablesList.toSeq, input, entries(r.vocabId.toInt).text)))
    var maxFreq = 0.0
    var hasExpandable = false
    val results = Vector.newBuilder[VariantResult]
    for ((id, dist) <- instances) {
      val e = entries(id.toInt)
      val s = Scoring.score(dist, inputLength, weights)
      val freqScore = if (haveFreq) e.frequency.toDouble else 1.0
      if (freqScore > maxFreq) maxFreq = freqScore
      // INTENTIONAL divergence from upstream: the reference's
      // has_expandable_variants (lib.rs:1414-1427) triggers on
      // vocabitem.variants.is_some(), which includes ReferenceFor-ONLY
      // entries — expansion then finds nothing to expand but the
      // transparent-drop/dedup passes still run. We trigger only on
      // outgoing variantOf edges (what expansion actually consumes); a
      // result set whose only "variants" are reference-for-only entries
      // keeps transparent rows upstream would drop. Both graft strategies
      // (this kernel and VariantMatcher.matchJoin) share this rule, so
      // they stay mutually consistent (VariantMatcherSpec parity grid).
      if (!hasExpandable && e.variantOf.nonEmpty) hasExpandable = true
      if (s >= params.scoreThreshold)
        results += VariantResult(id, s, freqScore)
    }
    var rs = results.result()
    // early confusable rescoring (reference: lib.rs:1505-1508)
    if (confusablesList.nonEmpty && confusablesBeforePruning)
      rs = rescoreConfusables(rs)
    if (hasExpandable) {
      rs = expandVariants(rs)
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
    if (confusablesList.nonEmpty && !confusablesBeforePruning) {
      rs = Scoring.rank(rescoreConfusables(rs), params.freqWeight)
    }
    Scoring.applyCutoff(rs, params.cutoffThreshold, params.freqWeight)
  }

  /** Expand VariantOf edges; transparent originals are dropped
    * (reference: src/lib.rs:1677-1727).
    */
  def expandVariants(results: Vector[VariantResult]): Vector[VariantResult] = {
    val out = Vector.newBuilder[VariantResult]
    for (r <- results) {
      val e = entries(r.vocabId.toInt)
      // edges are stored in insertion (file) order like the reference
      for ((targetId, edgeScore) <- e.variantOf) {
        val target = entries(targetId.toInt)
        out += VariantResult(
          targetId,
          r.distScore * edgeScore,
          math.min(target.frequency.toDouble, r.freqScore),
          via = Some(r.vocabId)
        )
      }
      if (!e.transparent) out += r
    }
    out.result()
  }

  /** The flagship entry point: ranked variants for one input string
    * (reference: src/lib.rs:972-1027).
    */
  def findVariants(input: String, params: SearchParameters): Vector[VariantResult] = {
    val norm = alphabet.normalize(input)
    if (norm.isEmpty) return Vector.empty
    val focus = alphabet.anahash(input)
    val maxAna = params.maxAnagramDistance
      .resolve(norm.length, DistanceThreshold.MaxAnagramDistance)
    val nearest = findNearestAnahashes(focus, maxAna, params.stopCriterion)
    val maxEdit = params.maxEditDistance
      .resolve(norm.length, DistanceThreshold.MaxEditDistance)
    val instances = gatherInstances(nearest, norm, input, maxEdit)
    scoreAndRank(instances, norm.length, params, input)
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
    index.toSeq
      .filter(_._2.nonEmpty)
      .sortWith((a, b) => a._1.compareTo(b._1) < 0)
      .map { case (v, ids) => (v, ids.map(id => entries(id.toInt).text)) }

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
    val allVariants: Seq[(String, VariantResult)] = inputs.flatMap { line =>
      if (strict) findVariants(line, params).map(r => (line, r))
      else
        SearchEngine.findAllMatches(this, line, params).flatMap { m =>
          for {
            sel <- m.selected
            vs <- m.variants
            r <- vs.lift(sel)
          } yield (m.text, r)
        }
    }
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
}

object LocalVariantModel {
  /** Pre-seeded special token ids (reference: vocab.rs:145-147). */
  val BOS = 0L
  val EOS = 1L
  val UNK = 2L
}
