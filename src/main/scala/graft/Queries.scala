package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{Kernels, TextFns => T}
import graft.spark.Tables

/** Oracle-checked operator queries (driver contract: each entry has a
  * Spark implementation and an equivalent DuckDB SQL; the driver runs both
  * at sf0.01 and compares row/schema/hash — see SparkEntry).
  *
  * Naming follows SURVEY.md §2 operator ids (p=projection/scalar,
  * j=join/candidate-gen, r=rank, a=aggregation build, dedup_/text_/emb_ =
  * the training-data-pipeline operators). Operators whose semantics are
  * not ANSI-SQL-expressible (anagram BFS, tie-aware top-k over UDF scores,
  * the end-to-end LSH+CC pipeline) are verified in ScalaTest instead and
  * registered later without oracle entries.
  */
object Queries {
  private val K = Kernels.test

  /** one query definition: spark plan + duckdb oracle sql */
  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String]
  )

  /** 8 deterministic integer hyperplanes over the 64-dim embedding space
    * for the sign-LSH ANN query: fixed LCG, weights in [-500, 500]. The
    * same literals are interpolated into the DuckDB oracle, so the bucket
    * bits are exact integer math on both engines.
    */
  val annPlanes: Seq[Seq[Long]] = {
    var state = 0x5DEECE66DL
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % 1001L - 500L
    }
    Seq.fill(8)(Seq.fill(64)(next()))
  }

  /** dedup_embcos config: the production [[graft.operators.EmbDedup]]
    * operator at 4 bands x 16-bit keys — wide enough that no band key
    * space is enumerable (65536 values/band), small enough that the
    * 64-plane oracle SQL stays readable. Planes/quantization are shared
    * between the Spark kernel and the interpolated oracle literals.
    */
  val embCfg: graft.operators.EmbDedupConfig =
    graft.operators.EmbDedupConfig(dims = 64, bands = 4, bitsPerBand = 16,
      seed = 42L, bucketCap = 64, cosThreshold = 0.90)

  /** (vec_id, emb) corpus shared by the embedding-dedup queries: every
    * source vector plus a deterministic jittered twin (cos ~0.99)
    * re-keyed to vec_id + 10^6 — real near-dups exist by construction in
    * the otherwise near-orthogonal synthetic table. The jitter is
    * all-integer then one double multiply-add, so both engines build the
    * identical IEEE vector; it reads the SOURCE vec_id in its own select
    * stage (lateral column-alias resolution would otherwise shadow
    * vec_id with the re-keyed value, engine-dependently).
    */
  private[graft] def embTwinCorpus(s: SparkSession, d: String): DataFrame = {
    val src = Tables.embeddings(s, d)
    val orig = src.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("emb"))
    val twin = src.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") +
          ((col("vec_id") * 31 + i * 7) % 11 - 5).cast("double") *
            lit(0.004)).as("emb"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb"))
    orig.union(twin)
  }

  /** DuckDB CTEs building the same twin corpus (`e(vec_id, emb)`). */
  private val embTwinCtesSql: String =
    "orig AS (SELECT vec_id, " +
      "list_transform(embedding, x -> x::DOUBLE) emb FROM embeddings), " +
      // twin jitter must reference the SOURCE vec_id: computed in its
      // own CTE because DuckDB lateral column aliases would otherwise
      // shadow vec_id with the re-keyed value inside list_transform
      "twin0 AS (SELECT vec_id, " +
      "list_transform(range(1,65), i -> embedding[i]::DOUBLE + " +
      "((((vec_id*31 + (i-1)*7) % 11) - 5)::DOUBLE * 0.004)) emb " +
      "FROM embeddings), " +
      "twin AS (SELECT vec_id + 1000000 vec_id, emb FROM twin0), " +
      "e AS (SELECT * FROM orig UNION ALL SELECT * FROM twin)"

  /** DuckDB CTEs for the capped banded sign-LSH candidate generation
    * over `e`: quantize -> per-band sign signatures (the interpolated
    * integer hyperplanes = [[graft.operators.EmbDedup.planes]]) ->
    * capped buckets -> `cand(a_id, b_id)`.
    */
  private def embCandCtesSql(cfg: graft.operators.EmbDedupConfig): String = {
    val planes = graft.operators.EmbDedup.planes(cfg)
    def bandSql(band: Int) = (0 until cfg.bitsPerBand).map { j =>
      val planeLit = planes(band * cfg.bitsPerBand + j)
        .mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1,65), " +
        s"i -> q[i] * ($planeLit)[i])) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val bandRows = (0 until cfg.bands)
      .map(b => s"SELECT vec_id, $b band, s$b bits FROM sig")
      .mkString(" UNION ALL ")
    val sigCols = (0 until cfg.bands)
      .map(b => s"${bandSql(b)} s$b").mkString(", ")
    "eq AS (SELECT vec_id, emb, " +
      s"list_transform(emb, x -> round(x*${cfg.quantScale})::BIGINT) q FROM e), " +
      s"sig AS (SELECT vec_id, $sigCols FROM eq), " +
      "probes AS (SELECT * FROM (SELECT vec_id, band, bits, " +
      s"count(*) OVER (PARTITION BY band, bits) n FROM ($bandRows)) " +
      s"WHERE n BETWEEN 2 AND ${cfg.bucketCap}), " +
      "cand AS (SELECT DISTINCT x.vec_id a_id, y.vec_id b_id " +
      "FROM probes x JOIN probes y " +
      "ON x.band = y.band AND x.bits = y.bits AND x.vec_id < y.vec_id)"
  }

  // canonical cleaned text key shared by the dedup queries
  private def cleanK(len: Int): Column =
    substring(T.cleanText(col("text")), 1, len)

  /** Fan out the STREAMED side of a broadcast self-join — and, more
    * generally, any scan whose stage carries real per-row kernel work
    * (UDFs, interpreted higher-order functions, partial aggregation):
    * the sf tables are single parquet splits, so without this the whole
    * stage (5k rows -> ~1M pairs on the self-joins; 744 md5 calls/row on
    * the minhash queries) runs in ONE task until the first exchange —
    * measured as the entire cost of those queries at local[32]. At
    * production scale the scan has many splits and this is a no-op in
    * spirit; here it is the difference between 1 and all cores doing
    * the work. Parameterised on defaultParallelism, never a constant.
    */
  private def fanout(df: org.apache.spark.sql.DataFrame) =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
  private val cleanSql = "regexp_replace(lower(text),'[^a-z]','','g')"

  // DuckDB class-index CASE for the 27-class test alphabet
  private def classCase(unk: Int) =
    s"CASE WHEN c BETWEEN 'a' AND 'z' THEN ascii(c)-97 " +
      s"WHEN c BETWEEN 'A' AND 'Z' THEN ascii(c)-65 " +
      s"WHEN c='.' OR c=',' THEN 26 ELSE $unk END"

  val all: Map[String, Q] = Map(
    // --- P1: greedy alphabet normalization (reference anahash.rs:50-80) ---
    "p01_normalize" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            K.normStr(substring(col("text"), 1, 40)).as("norm")),
      Some(
        "SELECT doc_id, array_to_string(list_transform(" +
          "string_split_regex(substr(text,1,40), ''), c -> CAST(" +
          classCase(28) + " AS VARCHAR)), ' ') AS norm FROM documents"
      )
    ),

    // --- P2: anagram value (prime product, reference anahash.rs:16-47) ---
    "p02_anahash" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            K.anahashStr(substring(col("text"), 1, 12)).as("anavalue")),
      Some(
        "SELECT doc_id, CAST(list_reduce(list_transform(" +
          "string_split_regex(substr(text,1,12), ''), c -> CAST(" +
          "[2,3,5,7,11,13,17,19,23,29,31,37,41,43,47,53,59,61,67,71,73,79," +
          "83,89,97,101,103,107][" + classCase(27) + " + 1] AS HUGEINT))," +
          "(x,y) -> x*y) AS VARCHAR) AS anavalue FROM documents"
      )
    ),

    // --- P5: Levenshtein verify over candidate pairs (same-source
    //     blocking); Spark-native codegen'd levenshtein ---
    // BLOCKING CONTRACT (applies to p05/p06/dedup_jaccard/r4/r6): these
    // oracles pin per-source self-join semantics, quadratic in the
    // largest `source` group (~250 rows/group at sf0.1 — Bench emits the
    // bound as guards.documents_max_source_group). If `documents` ever
    // scales such that source groups grow 100x, the blocking key must
    // become LSH band keys — exactly what DedupPipeline's production
    // candidate generation does; these queries exist to pin kernel
    // semantics against DuckDB, not as the scale path.
    "p05_levenshtein_pairs" -> Q(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(16).as("k"), col("source"))
        fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            levenshtein(col("a.k"), col("b.k")).as("lev"))
      },
      Some(
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,16) k, source FROM documents) " +
          "SELECT a.doc_id a_id, b.doc_id b_id, levenshtein(a.k,b.k) lev " +
          "FROM t a JOIN t b ON a.source=b.source AND a.doc_id<b.doc_id"
      )
    ),

    // --- P6: Damerau-Levenshtein verification kernel over candidate
    //     pairs, with the reference's max-distance sentinel (-1) ---
    "p06_damerau_pairs" -> Q(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(16).as("k"), col("source"))
        fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            K.damerau(col("a.k"), col("b.k"), 6).as("dl"))
      },
      Some(
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,16) k, source FROM documents) " +
          "SELECT a.doc_id a_id, b.doc_id b_id, " +
          "CASE WHEN damerau_levenshtein(a.k,b.k) > 6 THEN -1 " +
          "ELSE damerau_levenshtein(a.k,b.k) END AS dl " +
          "FROM t a JOIN t b ON a.source=b.source AND a.doc_id<b.doc_id"
      )
    ),

    // --- J2-equivalent: anagram-key grouping (equality case of the
    //     anagram index; sorted-characters key == anagram value) ---
    "j2_anagram_groups" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_join(array_sort(
              filter(split(cleanK(24), ""), c => length(c) > 0)), "")
              .as("abucket"))
          .groupBy("abucket")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc")),
      Some(
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,24) k FROM documents) " +
          "SELECT array_to_string(list_sort(string_split_regex(k,'')),'') abucket, " +
          "count(*) n_docs, min(doc_id) min_doc FROM t GROUP BY 1"
      )
    ),

    // --- Dedup: exact (hash-group canonicalization) ---
    "dedup_exact" -> Q(
      (s, d) => {
        val w = Window.partitionBy(md5(T.cleanText(col("text"))))
        Tables.documents(s, d)
          .select(col("doc_id"), min(col("doc_id")).over(w).as("canon_id"))
          .withColumn("is_dup", col("doc_id") =!= col("canon_id"))
      },
      Some(
        s"SELECT doc_id, min(doc_id) OVER (PARTITION BY md5($cleanSql)) canon_id, " +
          s"doc_id <> min(doc_id) OVER (PARTITION BY md5($cleanSql)) is_dup " +
          "FROM documents"
      )
    ),

    // --- Dedup: portable MinHash signature (k=12, 3-shingles). Computed
    //     by the JVM md5 kernel (bit-identical to the interpreted-HOF
    //     portable form the oracle states; see TextFns.minhashPortableJvm)
    "dedup_minhash_sig" -> Q(
      (s, d) =>
        fanout(Tables.documents(s, d))
          .select(col("doc_id"),
            concat_ws("_", transform(
              T.minhashPortableJvm(substring(T.cleanText(col("text")), 1, 64), 3, 12),
              _.cast("string"))).as("sig")),
      Some {
        val mins = (0 until 12).map(i =>
          s"list_min(list_transform(sh, x -> ('0x'||substr(md5('$i:'||x),1,15))::BIGINT))")
          .mkString(", ")
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,64) k FROM documents), " +
          "s AS (SELECT doc_id, list_transform(range(1, greatest(length(k)-2,1)+1), " +
          "i -> substr(k,i,3)) sh FROM t) " +
          s"SELECT doc_id, array_to_string([$mins], '_') AS sig FROM s"
      }
    ),

    // --- Dedup: LSH band candidate pairs (4 bands x 3 rows over the
    //     portable signature; pair iff any band slice matches) ---
    "dedup_lsh_pairs" -> Q(
      (s, d) => {
        // signature materialized ONCE (round 1 inlined the minhash
        // expression tree into all 4 band columns — 4x the md5 work)
        val sigged = fanout(Tables.documents(s, d))
          .select(col("doc_id"),
            T.minhashPortableJvm(substring(T.cleanText(col("text")), 1, 64), 3, 12)
              .as("sig"))
        val withBands = sigged
          .select(col("doc_id") +: (0 until 4).map(b =>
            concat_ws("_", transform(slice(col("sig"), b * 3 + 1, 3), _.cast("string")))
              .as(s"b$b")): _*)
        val bandCols = (0 until 4).map(b => s"b$b")
        // explode to (band, key) rows -> equi-join on the band key: the
        // scalable plan (a broadcast-free shuffle join on band keys).
        // Hot-band cap (SURVEY.md §7.4): buckets larger than 32 are
        // dropped before pairing — low-entropy keys otherwise produce
        // O(n^2) mega-buckets; the cap bounds every bucket's pair count
        // and is part of the operator's documented semantics (the oracle
        // applies the same cap).
        // One shuffle total: groupBy the band key into buckets, drop
        // capped buckets, expand pairs within each bucket row (builtin
        // double-explode). A probes-side self-join would recompute the
        // whole signature lineage once per join side; this shape computes
        // it exactly once — the difference is 100x wall-clock at sf0.1.
        val probes = withBands.select(col("doc_id"),
          explode(array(bandCols.zipWithIndex.map { case (c, i) =>
            struct(lit(i).as("band"), col(c).as("key"))
          }: _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        val buckets = probes.groupBy(col("band"), col("key"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")).between(2, 32))
        buckets
          .select(explode(col("ids")).as("a_id"), col("ids"))
          .select(col("a_id"), explode(col("ids")).as("b_id"))
          .filter(col("a_id") < col("b_id"))
          .distinct()
      },
      Some {
        val mins = (0 until 12).map(i =>
          s"list_min(list_transform(sh, x -> ('0x'||substr(md5('$i:'||x),1,15))::BIGINT))")
          .mkString(", ")
        val slices = (0 until 4).map(b =>
          s"array_to_string(sig[${b * 3 + 1}:${b * 3 + 3}], '_') b$b").mkString(", ")
        val probeRows = (0 until 4).map(b => s"SELECT doc_id, $b band, b$b bkey FROM bb")
          .mkString(" UNION ALL ")
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,64) k FROM documents), " +
          "s AS (SELECT doc_id, list_transform(range(1, greatest(length(k)-2,1)+1), " +
          "i -> substr(k,i,3)) sh FROM t), " +
          s"g AS (SELECT doc_id, [$mins] sig FROM s), " +
          s"bb AS (SELECT doc_id, $slices FROM g), " +
          s"probes AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bkey) n " +
          s"FROM ($probeRows)) WHERE n <= 32) " +
          "SELECT DISTINCT x.doc_id a_id, y.doc_id b_id FROM probes x JOIN probes y " +
          "ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"
      }
    ),

    // --- Dedup: portable SimHash-32 (3-shingles) + the pigeonhole chunk
    //     keys of the near-exact candidate path (Hamming <= 3 pairs share
    //     >= 1 of the 4 exact 8-bit chunks). Computed by a JVM md5 kernel
    //     bit-identical to the HOF form the oracle states. ---
    "dedup_simhash" -> Q(
      (s, d) => {
        val sim = fanout(Tables.documents(s, d))
          .select(col("doc_id"),
            T.simhashPortableJvm(
              substring(T.cleanText(col("text")), 1, 64), 3, 32).as("simhash"))
        (0 until 4).foldLeft(sim) { (df, b) =>
          df.withColumn(s"chunk$b",
            shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)))
        }
      },
      Some {
        val chunks = (0 until 4)
          .map(b => s"CAST((simhash >> ${b * 8}) & 255 AS BIGINT) AS chunk$b")
          .mkString(", ")
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,64) k FROM documents), " +
          "s AS (SELECT doc_id, list_transform(range(1, greatest(length(k)-2,1)+1), " +
          "i -> substr(k,i,3)) sh FROM t), " +
          "h AS (SELECT doc_id, list_transform(sh, x -> " +
          "('0x'||substr(md5(x),1,15))::BIGINT) hs FROM s), " +
          "g AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,32), b -> " +
          "CASE WHEN list_sum(list_transform(hs, v -> " +
          "CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
          "THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash FROM h) " +
          s"SELECT doc_id, simhash, $chunks FROM g"
      }
    ),

    // --- Dedup: n-gram Jaccard similarity over blocked candidate pairs
    //     (3-shingle sets; |A∩B| / |A∪B| by inclusion-exclusion, so both
    //     engines divide the same exact integers) ---
    "dedup_jaccard" -> Q(
      (s, d) => {
        // shingles are [a-z]{1,3} after cleanText (short tail shingles only
        // when the whole cleaned text is < 3 chars), so packing the 1-3
        // chars into an int (ascii*2^16 + ascii*2^8 + ascii; ascii('')=0
        // pads, and no real char has code 0) is INJECTIVE: distinct sets,
        // intersection sizes and hence every jaccard value are provably
        // identical to the string form the oracle states — while the
        // join-side array_intersect compares/hashes ints instead of
        // UTF8Strings (same-JVM A/B: sub-DAG min 0.43 -> 0.37s, 6/8
        // head-to-head reps faster).
        val packed = transform(
          T.charShingles(substring(T.cleanText(col("text")), 1, 32), 3),
          sh => ascii(sh) * 65536 +
            ascii(substring(sh, 2, 1)) * 256 +
            ascii(substring(sh, 3, 1)))
        // sorted ONCE per row (amortized over every pair the row joins
        // into) so the per-pair |A∩B| is the allocation-free
        // sorted_intersect_count merge scan instead of a hash-set build
        // per pair; set size is order-independent and the arrays are
        // distinct, so every (i, na, nb) triple — hence every jaccard —
        // is identical to the array_intersect form (same-JVM A/B:
        // sub-DAG min 0.338->0.328 / 0.403->0.388 over two runs).
        val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
          sort_array(array_distinct(packed)).as("sh"))
        fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            T.sortedIntersectCount(col("a.sh"), col("b.sh")).as("i"),
            size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"))
          .select(col("a_id"), col("b_id"),
            round(col("i").cast("double") /
              (col("na") + col("nb") - col("i")).cast("double"), 6).as("jaccard"))
      },
      Some(
        s"WITH t AS (SELECT doc_id, source, list_distinct(list_transform(" +
          s"range(1, greatest(length(substr($cleanSql,1,32))-2,1)+1), " +
          s"i -> substr(substr($cleanSql,1,32),i,3))) sh FROM documents) " +
          "SELECT a.doc_id a_id, b.doc_id b_id, " +
          "round(len(list_intersect(a.sh,b.sh))::DOUBLE / " +
          "(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))::DOUBLE, 6) jaccard " +
          "FROM t a JOIN t b ON a.source=b.source AND a.doc_id<b.doc_id"
      )
    ),

    // --- Dedup: substring containment pairs (the suffix-array pass's
    //     behavior contract: A is a dup-by-containment of B when A's
    //     cleaned text is a strict substring of B's; min probe length 8
    //     keeps trivia out). The scalable min-shingle-anchor version runs
    //     inside DedupPipeline; this query pins the semantics. ---
    "dedup_substring" -> Q(
      (s, d) => {
        // A is a containment dup of B when A's 24-char clean prefix occurs
        // anywhere in B's clean text. Scalable plan: if the prefix occurs
        // in B, its leading 12-gram is one of B's 12-grams, so an
        // equi-join on that anchor meets every pair — hosts explode their
        // 12-grams (fanout = text length, bounded), probes carry one
        // anchor each; `instr` then verifies the full prefix. No cross
        // join anywhere; the oracle states the naive quadratic semantics.
        val t = Tables.documents(s, d)
          .select(col("doc_id"), T.cleanText(col("text")).as("k"))
        val probes = t.filter(length(col("k")) >= 24)
          .select(col("doc_id").as("a_id"),
            substring(col("k"), 1, 24).as("p"),
            substring(col("k"), 1, 12).as("g"))
        // per-row array_distinct replaces the former
        // dropDuplicates("b_id","g"): grams are functionally dependent on
        // b_id (one text per host), so in-row dedup yields the identical
        // (b_id, g) set without a full shuffle of the exploded gram rows.
        // probes are broadcast EXPLICITLY (guide §3.1): the planner's
        // size estimate for the exploded gram side is the tiny
        // pre-Generate scan size, and left to stats it broadcast the
        // ~1M-row gram side (measured 6x slower than broadcasting the
        // genuinely small <=1-row-per-doc probe side)
        val hosts = fanout(t).select(col("doc_id").as("b_id"), col("k"),
            explode(array_distinct(transform(
              sequence(lit(1), greatest(length(col("k")) - 11, lit(1))),
              i => col("k").substr(i, lit(12))))).as("g"))
        broadcast(probes).join(hosts, Seq("g"))
          .filter(col("a_id") =!= col("b_id") && instr(col("k"), col("p")) >= 1)
          .select(col("a_id"), col("b_id"))
          .distinct()
      },
      Some(
        s"WITH t AS (SELECT doc_id, $cleanSql k FROM documents) " +
          "SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM t a JOIN t b " +
          "ON a.doc_id<>b.doc_id AND length(a.k)>=24 " +
          "AND position(substr(a.k,1,24) IN b.k)>0"
      )
    ),

    // --- ANN: sign-LSH bucketed cosine top-k over embeddings — the scale
    //     path next to brute-force emb_cosine_topk. Embeddings are
    //     quantized to integers (round(x*1000)) and hashed against 8
    //     integer hyperplanes, so the bucket keys are exact integer math
    //     and identical across engines; candidates meet queries only
    //     inside their bucket (an equi-join, not a cross join). The 8-bit
    //     bucket count is pinned for the tiny sf tables; production sizes
    //     bits ~ log2(N/targetBucket) via EmbDedupConfig.forScale — a
    //     frozen bucket count makes the per-query scan linear in N. ---
    // --- Dedup: embedding-cosine near-dup pairs — pins the production
    //     EmbDedup operator's semantics: WIDE (16-bit) sign-LSH bands of
    //     deterministic integer hyperplanes, hot buckets CAPPED before
    //     pairing (groupBy band key -> collect_list <= cap -> in-row
    //     expansion — the dedup_lsh_pairs shape; never a self-join on a
    //     narrow key), exact cosine verify on candidate pairs only. The
    //     synthetic embeddings are mutually near-orthogonal, so the query
    //     corpus unions each vector with a deterministic jittered TWIN
    //     (cos ~0.99 — integer-derived jitter, identical on both engines):
    //     real near-dups exist by construction and the wide bands recall
    //     ~97% of them, exactly the regime the production operator runs
    //     at 10^9 rows. Bucket membership is exact integer math (fixed-
    //     point quantized vectors x integer planes) via the SAME JVM
    //     kernel EmbDedup uses — bit-identical to the SQL form the
    //     oracle states. ---
    "dedup_embcos" -> Q(
      (s, d) => {
        import graft.operators.EmbDedup
        val cfg = Queries.embCfg
        val corpus = embTwinCorpus(s, d)
        val e = corpus
          .withColumn("q", transform(col("emb"),
            x => round(x * cfg.quantScale).cast("long")))
          .withColumn("sig", EmbDedup.bandBitsUdf(cfg)(col("q")))
          .select(col("vec_id"),
            posexplode(col("sig")).as(Seq("band", "bits")))
        val buckets = e.groupBy(col("band"), col("bits"))
          .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
          .filter(size(col("ids")).between(2, cfg.bucketCap))
        val cand = buckets
          .select(explode(col("ids")).as("a_id"), col("ids"))
          .select(col("a_id"), explode(col("ids")).as("b_id"))
          .filter(col("a_id") < col("b_id"))
          .distinct()
        cand
          .join(corpus.select(col("vec_id").as("a_id"), col("emb").as("aemb")),
            Seq("a_id"))
          .join(corpus.select(col("vec_id").as("b_id"), col("emb").as("bemb")),
            Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            round(T.cosineSim(col("aemb"), col("bemb")), 6).as("cos"))
          .filter(col("cos") >= 0.90)
      },
      Some {
        val cfg = Queries.embCfg
        "WITH " + embTwinCtesSql + ", " + embCandCtesSql(cfg) + ", " +
          "scored AS (SELECT a_id, b_id, " +
          "round(list_cosine_similarity(ea.emb, eb.emb),6) cos " +
          "FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id) " +
          "SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.90"
      }
    ),

    // --- Dedup: the production embedding near-dup operator END-TO-END —
    //     [[graft.operators.EmbDedup.run]] itself (xxhash64 band keys,
    //     count-agg CappedPairs.fromKeys, SHUFFLE_HASH cosine verify,
    //     connected components) pinned against a DuckDB recursive-CTE
    //     transitive closure over the same twin corpus. The oracle
    //     states the bucket SEMANTICS ((band, bits) equality); the
    //     operator keys buckets by xxhash64(band, bits) — the identical
    //     partitioning absent a 64-bit collision, which this fixed
    //     corpus does not produce (deterministic either way, never
    //     flaky). Cosine margins are wide by construction (twins ~0.99,
    //     non-twin candidates far below 0.9), so the operator's
    //     unrounded threshold and the oracle's exact one agree. ---
    "emb_dedup_clusters" -> Q(
      (s, d) => {
        val cfg = Queries.embCfg
        val corpus = embTwinCorpus(s, d)
        val (assignments, _) = graft.operators.EmbDedup.run(
          s, corpus, "vec_id", "emb", cfg)
        assignments.select(col("id").as("vec_id"),
          col("cluster").as("cluster_id"))
      },
      Some {
        val cfg = Queries.embCfg
        "WITH RECURSIVE " + embTwinCtesSql + ", " + embCandCtesSql(cfg) + ", " +
          "edges AS (SELECT a_id x, b_id y FROM cand " +
          "JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id " +
          s"WHERE list_cosine_similarity(ea.emb, eb.emb) >= ${cfg.cosThreshold}), " +
          "es AS (SELECT x, y FROM edges UNION SELECT y, x FROM edges), " +
          "reach(x, y) AS (SELECT vec_id, vec_id FROM e UNION " +
          "SELECT r.x, es.y FROM reach r JOIN es ON r.y = es.x) " +
          "SELECT x AS vec_id, min(y) AS cluster_id FROM reach GROUP BY x"
      }
    ),

    "emb_ann_lsh" -> Q(
      (s, d) => {
        val qexpr = transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long"))
        val sig = Queries.annPlanes.zipWithIndex.map { case (p, b) =>
          val dot = aggregate(
            zip_with(col("q"), array(p.map(lit): _*), (x, y) => x * y),
            lit(0L), (acc, v) => acc + v)
          when(dot > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
        val e = fanout(Tables.embeddings(s, d))
          .select(col("vec_id"), qexpr.as("q"),
            transform(col("embedding"), _.cast("double")).as("emb"))
          .withColumn("bucket", sig)
        val probes = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
            col("bucket"))
        val scored = probes.join(e, Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(T.cosineSim(col("q_emb"), col("emb")), 6).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      },
      Some {
        val sigSql = Queries.annPlanes.zipWithIndex.map { case (p, b) =>
          val planeLit = p.mkString("[", ",", "]")
          s"(CASE WHEN list_sum(list_transform(range(1,65), " +
            s"i -> q[i] * ($planeLit)[i])) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        "WITH e0 AS (SELECT vec_id, " +
          "list_transform(embedding, x -> round(x::DOUBLE*1000)::BIGINT) q, " +
          "list_transform(embedding, x -> x::DOUBLE) emb FROM embeddings), " +
          s"e AS (SELECT vec_id, emb, $sigSql bucket FROM e0), " +
          "p AS (SELECT vec_id q_id, emb q_emb, bucket FROM e WHERE vec_id % 100 = 0), " +
          "scored AS (SELECT q_id, e.vec_id n_id, " +
          "round(list_cosine_similarity(q_emb, e.emb), 6) cos " +
          "FROM p JOIN e USING (bucket) WHERE e.vec_id <> p.q_id) " +
          "SELECT * FROM (SELECT q_id, n_id, cos, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY cos DESC, n_id) rn FROM scored) WHERE rn <= 3"
      }
    ),

    // --- Text analysis: token counting (whitespace + subword pieces) ---
    "text_tokens" -> Q(
      (s, d) =>
        fanout(Tables.documents(s, d)).select(col("doc_id"),
          T.tokenCount(col("text")).as("n_tokens"),
          T.subwordCount(col("text")).as("n_subwords")),
      Some(
        "SELECT doc_id, len(string_split_regex(trim(text),' +')) n_tokens, " +
          "CAST(list_sum(list_transform(string_split_regex(trim(text),' +'), " +
          "t -> CAST(ceil(length(t)/4.0) AS BIGINT))) AS BIGINT) n_subwords FROM documents"
      )
    ),

    // --- Text analysis: quality scoring ---
    "text_quality" -> Q(
      (s, d) =>
        fanout(Tables.documents(s, d))
          .select(col("doc_id"), T.qualityScore(col("text")).as("quality")),
      Some {
        val toks = "string_split_regex(trim(text),' +')"
        val stopHits = "len(list_filter(" + toks + ", t -> t IN (" +
          T.enStopwords.map(w => s"'$w'").mkString(",") + ")))"
        val nTok = s"len($toks)"
        val alphaRatio = s"(length($cleanSql)::DOUBLE / length(text))"
        val meanTok = s"(length(replace(text,' ',''))::DOUBLE / $nTok)"
        val tokScore = s"(CASE WHEN $meanTok >= 3.0 AND $meanTok <= 8.0 THEN 1.0 " +
          s"WHEN $meanTok > 8.0 THEN 8.0 / $meanTok ELSE $meanTok / 3.0 END)"
        val stopRatio = s"($stopHits::DOUBLE / $nTok)"
        s"SELECT doc_id, round(($alphaRatio + $tokScore + " +
          s"least($stopRatio * 4.0, 1.0)) / 3.0, 6) AS quality FROM documents"
      }
    ),

    // --- Text analysis: language-ID heuristic (stopword-hit ratio) ---
    "text_langid" -> Q(
      (s, d) =>
        fanout(Tables.documents(s, d)).select(col("doc_id"),
          round(T.stopwordRatio(col("text")), 6).as("stop_ratio"),
          when(T.stopwordRatio(col("text")) >= 0.08, "en").otherwise("other")
            .as("pred_lang")),
      Some {
        val toks = "string_split_regex(trim(text),' +')"
        val ratio = "(len(list_filter(" + toks + ", t -> t IN (" +
          T.enStopwords.map(w => s"'$w'").mkString(",") +
          s")))::DOUBLE / len($toks))"
        s"SELECT doc_id, round($ratio, 6) stop_ratio, " +
          s"CASE WHEN $ratio >= 0.08 THEN 'en' ELSE 'other' END pred_lang " +
          "FROM documents"
      }
    ),

    // --- Text analysis: rolling-hash document fingerprint ---
    "text_fingerprint" -> Q(
      (s, d) =>
        fanout(Tables.documents(s, d))
          .select(col("doc_id"), T.fingerprint(col("text")).as("fp")),
      Some(
        s"SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
          s"list_transform(string_split_regex($cleanSql,''), c -> ascii(c)::BIGINT)), " +
          "(acc, x) -> (acc * 31 + x) % 2147483647) AS fp FROM documents"
      )
    ),

    // --- Embeddings: brute-force cosine top-k (the ANN baseline) ---
    "emb_cosine_topk" -> Q(
      (s, d) => {
        val e = fanout(Tables.embeddings(s, d))
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        val scored = q.join(e, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(T.cosineSim(col("q_emb"), col("emb")), 6).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      },
      Some(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) emb " +
          "FROM embeddings), " +
          "q AS (SELECT vec_id q_id, emb q_emb FROM e WHERE vec_id % 100 = 0), " +
          "scored AS (SELECT q_id, e.vec_id n_id, " +
          "round(list_cosine_similarity(q_emb, e.emb), 6) cos " +
          "FROM q JOIN e ON e.vec_id <> q.q_id) " +
          "SELECT * FROM (SELECT q_id, n_id, cos, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY cos DESC, n_id) rn FROM scored) WHERE rn <= 5"
      )
    ),

    // --- The flagship operator end-to-end: find_variants over the
    //     document token vocabulary (reference lib.rs:972-1027). Exact
    //     oracle: anagram distance == character-bag distance, DL via
    //     DuckDB damerau_levenshtein, weights chosen with lcs=0 (LCS has
    //     no SQL form; full-weight scoring is pinned in ScalaTest),
    //     unlimited matches + no cutoff so ranking is pure R1/R3. ---
    "variant_matcher" -> Q(
      (s, d) => {
        import graft.operators.VariantMatcher
        import graft.kernel.{SearchParameters => SP, DistanceThreshold => DT, Weights}
        val toks = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), " +")).as("text"))
          .filter(length(col("text")) > 0)
          .distinct()
        // two-phase global rank (graft.spark.Ranks): the round-1 version
        // minted ids with a no-partition Window.orderBy — a single-
        // partition global sort that can't scale (and spammed WindowExec
        // warnings into the bench stdout)
        val lex = graft.spark.Ranks.globalSortId(toks, col("text"), "id")
        val params = SP(
          maxAnagramDistance = DT.Absolute(3), maxEditDistance = DT.Absolute(3),
          maxMatches = 0, scoreThreshold = 0.25, cutoffThreshold = 0.0,
          weights = Weights(ld = 0.5, lcs = 0.0, prefix = 0.25,
            suffix = 0.125, caseW = 0.125))
        VariantMatcher
          .matchJoin(s, graft.kernel.Alphabet.test, lex,
            lex.select(col("text").as("query")), params)
          .select(col("query"), col("rank"), col("match_text"), col("dist_score"))
      },
      Some {
        def cnt(t: String, c: Char) = s"(length($t) - length(replace($t,'$c','')))"
        val bag = ('a' to 'z')
          .map(c => s"abs(${cnt("q.w", c)} - ${cnt("l.w", c)})").mkString(" + ")
        val qlen = "length(q.w)"
        val maxQ = s"least(3, CAST(floor($qlen / 2.0) AS INT))"
        val pre = "len(list_filter(range(1, least(length(q.w),length(l.w))+1), " +
          "i -> substr(q.w,1,i) = substr(l.w,1,i)))"
        val suf = "len(list_filter(range(1, least(length(q.w),length(l.w))+1), " +
          "i -> substr(q.w,length(q.w)-i+1,i) = substr(l.w,length(l.w)-i+1,i)))"
        val score = s"(0.5*(1.0 - damerau_levenshtein(q.w,l.w)/CAST($qlen AS DOUBLE)) " +
          s"+ 0.25*($pre/CAST($qlen AS DOUBLE)) + 0.125*($suf/CAST($qlen AS DOUBLE)) + 0.125)"
        val primes = "[2,3,5,7,11,13,17,19,23,29,31,37,41,43,47,53,59,61,67," +
          "71,73,79,83,89,97,101,103,107]"
        val ana = s"list_reduce(list_prepend(1::HUGEINT, list_transform(" +
          s"string_split_regex(l.w,''), c -> $primes[ascii(c)-96]::HUGEINT)), (x,y) -> x*y)"
        "WITH tok AS (SELECT DISTINCT t.t w FROM (SELECT unnest(" +
          "string_split_regex(trim(text),' +')) t FROM documents) t WHERE length(t.t) > 0), " +
          "lex AS (SELECT w, row_number() OVER (ORDER BY w) - 1 id FROM tok), " +
          s"cand AS (SELECT q.w query, l.w match_text, l.id, $ana anavalue, " +
          s"$score dist_score FROM lex q JOIN lex l ON ($bag) <= $maxQ " +
          s"AND damerau_levenshtein(q.w,l.w) <= $maxQ) " +
          "SELECT query, CAST(row_number() OVER (PARTITION BY query ORDER BY " +
          "dist_score DESC, anavalue, id) AS INT) rank, match_text, dist_score " +
          "FROM cand WHERE dist_score >= 0.25"
      }
    ),

    // --- R6: relative cutoff ranking (reference lib.rs:1597-1622) over
    //     DL-scored candidate pairs: per query keep results until one
    //     scores <= best/2 ---
    "r6_rank_cutoff" -> Q(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(16).as("k"), col("source"))
        val scored = fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("q_id"), col("b.doc_id").as("m_id"),
            (lit(1.0) - levenshtein(col("a.k"), col("b.k")) / lit(16.0)).as("score"))
        val wq = Window.partitionBy("q_id")
        val wr = wq.orderBy(col("score").desc, col("m_id"))
        val ranked = scored.withColumn("rank", row_number().over(wr))
          .withColumn("best", max(when(col("rank") === 1, col("score"))).over(wq))
        val cutRank = min(when(col("rank") > 1 &&
          col("score") <= col("best") / 2.0, col("rank"))).over(wq)
        ranked.withColumn("cut", cutRank)
          .filter(col("cut").isNull || col("rank") < col("cut"))
          .select(col("q_id"), col("rank"), col("m_id"), col("score"))
      },
      Some(
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,16) k, source FROM documents), " +
          "scored AS (SELECT a.doc_id q_id, b.doc_id m_id, " +
          "1.0 - levenshtein(a.k,b.k)/16.0 score FROM t a JOIN t b " +
          "ON a.source=b.source AND a.doc_id <> b.doc_id), " +
          "ranked AS (SELECT q_id, m_id, score, CAST(row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, m_id) AS INT) rank FROM scored), " +
          "wb AS (SELECT *, max(CASE WHEN rank = 1 THEN score END) OVER " +
          "(PARTITION BY q_id) best FROM ranked), " +
          "wc AS (SELECT *, min(CASE WHEN rank > 1 AND score <= best/2.0 " +
          "THEN rank END) OVER (PARTITION BY q_id) cut FROM wb) " +
          "SELECT q_id, rank, m_id, score FROM wc WHERE cut IS NULL OR rank < cut"
      )
    ),

    // --- R4: tie-aware top-k truncation (reference lib.rs:1536-1589) —
    //     integer DL scores create real tie groups at the k boundary ---
    "r4_tie_topk" -> Q(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(12).as("k"), col("source"))
        val scored = fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("q_id"), col("b.doc_id").as("m_id"),
            (lit(12) - levenshtein(col("a.k"), col("b.k"))).as("score"))
        val maxM = 3
        val wq = Window.partitionBy("q_id")
        val wr = wq.orderBy(col("score").desc, col("m_id"))
        val ranked = scored.withColumn("rank", row_number().over(wr))
          .withColumn("last_s", max(when(col("rank") === maxM, col("score"))).over(wq))
          .withColumn("crop_s", max(when(col("rank") === maxM + 1, col("score"))).over(wq))
          .withColumn("early", min(when(col("score") === col("crop_s"), col("rank"))).over(wq))
          .withColumn("late", min(when(col("score") < col("crop_s"), col("rank"))).over(wq))
        ranked.filter(
            col("crop_s").isNull ||
              (when(col("crop_s") < col("last_s"), col("rank") <= maxM)
                .otherwise(when(col("early") > 1, col("rank") <= col("early"))
                  .otherwise(when(col("late") > 1, col("rank") <= col("late"))
                    .otherwise(lit(true))))))
          .select(col("q_id"), col("rank"), col("m_id"), col("score"))
      },
      Some(
        s"WITH t AS (SELECT doc_id, substr($cleanSql,1,12) k, source FROM documents), " +
          "scored AS (SELECT a.doc_id q_id, b.doc_id m_id, " +
          "12 - levenshtein(a.k,b.k) score FROM t a JOIN t b " +
          "ON a.source=b.source AND a.doc_id <> b.doc_id), " +
          "ranked AS (SELECT q_id, m_id, score, CAST(row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, m_id) AS INT) rank FROM scored), " +
          "ww AS (SELECT *, " +
          "max(CASE WHEN rank = 3 THEN score END) OVER (PARTITION BY q_id) last_s, " +
          "max(CASE WHEN rank = 4 THEN score END) OVER (PARTITION BY q_id) crop_s " +
          "FROM ranked), " +
          "wc AS (SELECT *, " +
          "min(CASE WHEN score = crop_s THEN rank END) OVER (PARTITION BY q_id) early, " +
          "min(CASE WHEN score < crop_s THEN rank END) OVER (PARTITION BY q_id) late " +
          "FROM ww) " +
          "SELECT q_id, rank, m_id, score FROM wc WHERE crop_s IS NULL OR " +
          "(CASE WHEN crop_s < last_s THEN rank <= 3 " +
          "WHEN early > 1 THEN rank <= early " +
          "WHEN late > 1 THEN rank <= late ELSE TRUE END)"
      )
    ),

    // --- A5: vocabulary build with frequency merge + lexicon-provenance
    //     bitmask OR (reference lib.rs:900-967: freq sum, lexindex |=) ---
    "a5_vocab_merge" -> Q(
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(trim(col("text")), " +")).as("w"),
            regexp_replace(col("source"), "src", "").cast("int").as("srcnum"))
          .filter(length(col("w")) > 0)
          .groupBy("w")
          .agg(count(lit(1)).as("freq"),
            expr("bit_or(shiftleft(1L, srcnum % 60))").as("lexindex"),
            countDistinct(col("srcnum")).as("n_lexicons")),
      Some(
        "SELECT t.t w, count(*) freq, " +
          "bit_or((1::BIGINT << (CAST(replace(source,'src','') AS INT) % 60))) lexindex, " +
          "count(DISTINCT replace(source,'src','')) n_lexicons " +
          "FROM (SELECT unnest(string_split_regex(trim(text),' +')) t, source " +
          "FROM documents) t WHERE length(t.t) > 0 GROUP BY 1"
      )
    ),

    // --- P13/P15: token n-gram span extraction, orders 1..3
    //     (reference search.rs:190-313: boundaries -> ngram spans) ---
    "p15_ngram_spans" -> Q(
      (s, d) => {
        // all three orders in ONE scan + ONE explode (the former 3-way
        // union re-scanned documents and re-split the text per order):
        // per row, concat the per-order (order, gram) struct arrays and
        // explode once; docs shorter than n contribute an empty array for
        // that order — the same rows, one pass
        val toks = fanout(Tables.documents(s, d))
          .select(col("doc_id"), split(trim(col("text")), " +").as("ts"))
        val emptyGrams = array().cast("array<struct<order:int,gram:string>>")
        def gramsOf(n: Int): Column =
          when(size(col("ts")) >= n,
            transform(
              sequence(lit(1), size(col("ts")) - (n - 1)),
              i => struct(lit(n).as("order"),
                concat_ws(" ", slice(col("ts"), i, lit(n))).as("gram"))))
            .otherwise(emptyGrams)
        toks
          .select(explode(concat((1 to 3).map(gramsOf): _*)).as("g"))
          .select(col("g.order").as("order"), col("g.gram").as("gram"))
          .groupBy("order", "gram").agg(count(lit(1)).as("freq"))
      },
      Some {
        val parts = (1 to 3).map(n =>
          s"SELECT $n \"order\", array_to_string(ts[i:i+${n - 1}], ' ') gram " +
            s"FROM toks, unnest(range(1, greatest(len(ts)-${n - 1},0)+1)) r(i)")
          .mkString(" UNION ALL ")
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text),' +') ts " +
          s"FROM documents) SELECT \"order\", gram, count(*) freq FROM ($parts) " +
          "GROUP BY 1, 2"
      }
    ),

    // --- Join strategy baseline: filtered join + grouped top-k revenue
    //     (broadcast the small dimension) ---
    "q3_join_topk" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = fanout(Tables.lineitem(s, d))
        l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(50)
      },
      Some(
        "SELECT o_orderkey, CAST(sum(CAST(l_extendedprice * (1 - l_discount) " +
          "AS DECIMAL(18,4))) AS DOUBLE) revenue, count(*) n_lines " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 50"
      )
    ),

    // --- Sessionization: gap > 30 min starts a new session (lag + running
    //     sum windows — the batch form of the streaming session op) ---
    "q_sessionize" -> Q(
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(wu))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
              1L).otherwise(0L))
          .withColumn("session_nr", sum(col("new_sess")).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_nr"))
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("first_event"))
      },
      Some(
        "WITH x AS (SELECT user_id, event_id, ts, lag(ts) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) prev_ts FROM events), " +
          "y AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
          "date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END new_sess FROM x), " +
          "z AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id " +
          "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) session_nr FROM y) " +
          "SELECT user_id, session_nr, count(*) n_events, min(event_id) first_event " +
          "FROM z GROUP BY 1, 2"
      )
    ),

    // --- Relational baseline: grouped aggregation (decimal-exact sums) ---
    "q1_agg" -> Q(
      (s, d) =>
        fanout(Tables.lineitem(s, d))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
            count(lit(1)).as("n")),
      Some(
        "SELECT l_returnflag, l_linestatus, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty, " +
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) sum_price, " +
          "count(*) n FROM lineitem GROUP BY 1, 2"
      )
    ),

    // --- Relational baseline: window ranking over events ---
    "q_window_events" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            row_number().over(w).as("rn"))
      },
      Some(
        "SELECT event_id, user_id, row_number() OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) rn FROM events"
      )
    ),

    // --- Clustering: connected components over verified similarity
    //     edges — the dedup pipeline's final stage ([[graft.operators
    //     .ConnectedComponents]], cluster_id = min reachable node id),
    //     oracle-checked against a DuckDB RECURSIVE-CTE transitive
    //     closure over the identical edge set. Edges reuse the
    //     p05-style per-source blocking (see BLOCKING CONTRACT above);
    //     short keys + distance 4 yield multi-hop chains (~110
    //     non-trivial clusters up to size 7 at sf0.01), so label
    //     propagation across rounds is genuinely exercised. ---
    "dedup_cc_clusters" -> Q(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(8).as("k"), col("source"))
        val e = fanout(t.as("a")).join(t.as("b"),
            col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id") &&
              levenshtein(col("a.k"), col("b.k")) <= 4)
          .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        val cc = graft.operators.ConnectedComponents.run(s, e)
        // SHUFFLE_HASH: the assignment side has no stats after the
        // union-find checkpoint and planned as a SortMergeJoin — a
        // sort-free hash join needs no ordering on either side
        t.select(col("doc_id"))
          .join(cc.withColumnRenamed("node", "doc_id").hint("SHUFFLE_HASH"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
      },
      Some(
        "WITH RECURSIVE " +
          s"t AS (SELECT doc_id, substr($cleanSql,1,8) k, source FROM documents), " +
          "e AS (SELECT a.doc_id x, b.doc_id y FROM t a JOIN t b " +
          "ON a.source=b.source AND a.doc_id < b.doc_id AND levenshtein(a.k,b.k) <= 4), " +
          "es AS (SELECT x, y FROM e UNION SELECT y, x FROM e), " +
          "reach(x, y) AS (SELECT doc_id, doc_id FROM t UNION " +
          "SELECT r.x, es.y FROM reach r JOIN es ON r.y = es.x) " +
          "SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x"
      )
    ),

    // --- Dedup END-TO-END at query level: the pipeline's full shape —
    //     minhash sig -> LSH band buckets (capped) -> candidate pairs ->
    //     edit-distance verify -> connected components — with every
    //     stage oracle-portable, so the WHOLE dedup dataflow is checked
    //     against an independent engine (DuckDB md5 minhash + levenshtein
    //     + RECURSIVE-CTE closure), not just its stages in isolation.
    //     (The production path swaps the portable md5 for FastHash and
    //     the SQL levenshtein for the analiticcl kernel — same shape,
    //     pinned by DedupPipelineSpec recall tests.) ---
    "dedup_e2e_clusters" -> Q(
      (s, d) => {
        val pairs = all("dedup_lsh_pairs").fn(s, d) // (a_id, b_id), capped buckets
        val t = Tables.documents(s, d)
          .select(col("doc_id"), cleanK(64).as("k"))
        val edges = pairs
          .join(t.select(col("doc_id").as("a_id"), col("k").as("ka")), Seq("a_id"))
          .join(t.select(col("doc_id").as("b_id"), col("k").as("kb")), Seq("b_id"))
          // bounded-threshold form (Spark 3.5+): the banded DP early-exits
          // once the distance provably exceeds 6, ~O(t·n) vs O(n^2) on the
          // 64-char keys; `>= 0` is the exact old predicate by the
          // threshold contract (returns -1 iff distance > t, null iff an
          // input is null — dropped by the filter either way). Probe
          // (same-JVM alternating A/B, sf0.1): edge sub-DAG 1.72 -> 0.50s.
          .filter(levenshtein(col("ka"), col("kb"), 6) >= 0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val cc = graft.operators.ConnectedComponents.run(s, edges)
        t.select(col("doc_id")) // SHUFFLE_HASH: see dedup_cc_clusters
          .join(cc.withColumnRenamed("node", "doc_id").hint("SHUFFLE_HASH"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))
      },
      Some {
        val mins = (0 until 12).map(i =>
          s"list_min(list_transform(sh, x -> ('0x'||substr(md5('$i:'||x),1,15))::BIGINT))")
          .mkString(", ")
        val slices = (0 until 4).map(b =>
          s"array_to_string(sig[${b * 3 + 1}:${b * 3 + 3}], '_') b$b").mkString(", ")
        val probeRows = (0 until 4).map(b => s"SELECT doc_id, $b band, b$b bkey FROM bb")
          .mkString(" UNION ALL ")
        "WITH RECURSIVE " +
          s"t AS (SELECT doc_id, substr($cleanSql,1,64) k FROM documents), " +
          "s AS (SELECT doc_id, list_transform(range(1, greatest(length(k)-2,1)+1), " +
          "i -> substr(k,i,3)) sh FROM t), " +
          s"g AS (SELECT doc_id, [$mins] sig FROM s), " +
          s"bb AS (SELECT doc_id, $slices FROM g), " +
          "probes AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bkey) n " +
          s"FROM ($probeRows)) WHERE n <= 32), " +
          "pairs AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id FROM probes x " +
          "JOIN probes y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id), " +
          "e AS (SELECT a_id x, b_id y FROM pairs p JOIN t ta ON ta.doc_id = p.a_id " +
          "JOIN t tb ON tb.doc_id = p.b_id WHERE levenshtein(ta.k, tb.k) <= 6), " +
          "es AS (SELECT x, y FROM e UNION SELECT y, x FROM e), " +
          "reach(x, y) AS (SELECT doc_id, doc_id FROM t UNION " +
          "SELECT r.x, es.y FROM reach r JOIN es ON r.y = es.x) " +
          "SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x"
      }
    ),

    // --- Embeddings: IVF approximate nearest neighbor (the scale path
    //     beyond sign-LSH): coarse-quantize every vector to its nearest
    //     centroid (deterministic centroid set: vec_id % 50 == 0;
    //     argmax via map-side-combinable max_by aggregation, NOT a
    //     window — the all-vectors assignment never single-partitions),
    //     then probe only the query's top-2 cells. Broadcast centroids
    //     keep assignment shuffle-free up to ~10^5 cells. ---
    "emb_ann_ivf" -> Q(
      (s, d) => {
        val e = fanout(Tables.embeddings(s, d))
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("emb"))
        val cents = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
        val cellCos = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("emb"), col("c_id"),
            round(T.cosineSim(col("emb"), col("c_emb")), 6).as("ccos"))
        // ONE ranked pass serves both consumers: rn=1 is exactly the
        // former max_by(struct(ccos, -c_id)) nearest-cell assignment, and
        // rn<=2 the probe cells — sharing the window's exchange means the
        // crossJoin+cosine subtree is computed once, not once per branch
        // (row_number is per-vec_id, so filtering probes AFTER the window
        // changes nothing)
        val wq = Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("c_id"))
        val ranked = cellCos.withColumn("rn", row_number().over(wq))
        val asgn = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_id"), col("emb"))
        val probes = ranked
          .filter(col("vec_id") % 100 === 0 && col("rn") <= 2)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("c_id"))
        val scored = probes.hint("SHUFFLE_HASH").join(asgn, Seq("c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(T.cosineSim(col("q_emb"), col("emb")), 6).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("q_id"), col("n_id"), col("cos"))
      },
      Some(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) emb " +
          "FROM embeddings), " +
          "c AS (SELECT vec_id c_id, emb c_emb FROM e WHERE vec_id % 50 = 0), " +
          "asgn AS (SELECT vec_id, emb, c_id FROM (" +
          "SELECT e.vec_id, e.emb, c.c_id, row_number() OVER (" +
          "PARTITION BY e.vec_id ORDER BY " +
          "round(list_cosine_similarity(e.emb, c.c_emb),6) DESC, c.c_id) rn " +
          "FROM e CROSS JOIN c) WHERE rn = 1), " +
          "probes AS (SELECT vec_id q_id, emb q_emb, c_id FROM (" +
          "SELECT e.vec_id, e.emb, c.c_id, row_number() OVER (" +
          "PARTITION BY e.vec_id ORDER BY " +
          "round(list_cosine_similarity(e.emb, c.c_emb),6) DESC, c.c_id) rn " +
          "FROM e CROSS JOIN c WHERE e.vec_id % 100 = 0) WHERE rn <= 2), " +
          "scored AS (SELECT p.q_id, a.vec_id n_id, " +
          "round(list_cosine_similarity(p.q_emb, a.emb),6) cos " +
          "FROM probes p JOIN asgn a ON a.c_id = p.c_id AND a.vec_id <> p.q_id) " +
          "SELECT q_id, n_id, cos FROM (SELECT q_id, n_id, cos, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) rn " +
          "FROM scored) WHERE rn <= 3"
      )
    ),

    // --- ANN-IVF, trained-centroid production path: 3 Lloyd iterations
    //     refining the modulo-50 init — INTEGER-EXACT end-to-end
    //     (AnnIvf.trainCentroidsQuant): vectors live on the fixed-point
    //     grid round(x*1000), per-cell means re-quantize to the grid via
    //     round(sum/count) with exact integer sums, and every cosine the
    //     training or the search orders by is computed from
    //     integer-valued doubles (dots and norms < 2^53, hence exact),
    //     rounded to 6 decimals. The oracle unrolls the SAME three
    //     iterations as SQL CTEs — the centroids, assignments and top-k
    //     are bit-identical across engines, which is what flips this
    //     entry from rows-only to a full hash-match row. The float
    //     production path (AnnIvf.trainCentroids, k~sqrt(N) via
    //     kForScale) keeps its recall >=0.9 pin in AnnIvfSpec. ---
    "emb_ann_ivf_trained" -> Q(
      (s, d) => {
        val e = fanout(Tables.embeddings(s, d))
          .select(col("vec_id").as("id"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1000).cast("long")).as("q"))
        val init = e.filter(col("id") % 50 === 0)
          .select(col("id").as("c_id"), col("q").as("c_emb"))
        val cents = graft.operators.AnnIvf
          .trainCentroidsQuant(e, init, iterations = 3)
        val eD = e.select(col("id"),
          transform(col("q"), _.cast("double")).as("emb"))
        val cD = cents.select(col("c_id"),
          transform(col("c_emb"), _.cast("double")).as("c_emb"))
        val cellCos = eD.crossJoin(broadcast(cD))
          .select(col("id"), col("emb"), col("c_id"),
            round(T.cosineSim(col("emb"), col("c_emb")), 6).as("ccos"))
        // shared ranked pass (see emb_ann_ivf): rn=1 == the former
        // max_by(struct(ccos, -c_id)) assignment; one exchange, one
        // crossJoin+cosine evaluation for both branches
        val wq = Window.partitionBy(col("id"))
          .orderBy(col("ccos").desc, col("c_id"))
        val ranked = cellCos.withColumn("rn", row_number().over(wq))
        val asgn = ranked.filter(col("rn") === 1)
          .select(col("id"), col("c_id"), col("emb"))
        val probes = ranked
          .filter(col("id") % 100 === 0 && col("rn") <= 2)
          .select(col("id").as("q_id"), col("emb").as("q_emb"), col("c_id"))
        val scored = probes.hint("SHUFFLE_HASH").join(asgn, Seq("c_id"))
          .filter(col("id") =!= col("q_id"))
          .select(col("q_id"), col("id").as("n_id"),
            round(T.cosineSim(col("q_emb"), col("emb")), 6).as("cos"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      },
      Some {
        // one Lloyd iteration: assign (rounded integer-exact cosine,
        // ties to lowest c_id) -> per-cell per-dim mean re-quantized to
        // the grid -> empty cells keep the previous centroid
        def iter(k: Int): String = {
          val prev = s"c${k - 1}"
          s"a$k AS (SELECT id, q, c_id FROM (" +
            "SELECT e.id, e.q, c.c_id, row_number() OVER (PARTITION BY e.id " +
            "ORDER BY round(list_cosine_similarity(" +
            "list_transform(e.q, x -> x::DOUBLE), " +
            "list_transform(c.c, x -> x::DOUBLE)),6) DESC, c.c_id) rn " +
            s"FROM e CROSS JOIN $prev c) WHERE rn = 1), " +
            s"m$k AS (SELECT c_id, list(v ORDER BY i) c FROM (" +
            s"SELECT c_id, i, round(avg(q[i]))::BIGINT v FROM a$k, " +
            "range(1,65) t(i) GROUP BY c_id, i) GROUP BY c_id), " +
            s"c$k AS (SELECT p.c_id, coalesce(m.c, p.c) c " +
            s"FROM $prev p LEFT JOIN m$k m USING (c_id))"
        }
        "WITH e AS (SELECT vec_id id, " +
          "list_transform(embedding, x -> round(x::DOUBLE*1000)::BIGINT) q " +
          "FROM embeddings), " +
          "c0 AS (SELECT id c_id, q c FROM e WHERE id % 50 = 0), " +
          (1 to 3).map(iter).mkString(", ") + ", " +
          "ed AS (SELECT id, list_transform(q, x -> x::DOUBLE) emb FROM e), " +
          "cd AS (SELECT c_id, list_transform(c, x -> x::DOUBLE) c_emb FROM c3), " +
          "cc AS (SELECT id, emb, c_id, " +
          "round(list_cosine_similarity(emb, c_emb),6) ccos " +
          "FROM ed CROSS JOIN cd), " +
          "asgn AS (SELECT id, emb, c_id FROM (SELECT id, emb, c_id, " +
          "row_number() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) rn " +
          "FROM cc) WHERE rn = 1), " +
          "probes AS (SELECT id q_id, emb q_emb, c_id FROM (" +
          "SELECT id, emb, c_id, row_number() OVER (PARTITION BY id " +
          "ORDER BY ccos DESC, c_id) rn FROM cc WHERE id % 100 = 0) " +
          "WHERE rn <= 2), " +
          "scored AS (SELECT q_id, a.id n_id, " +
          "round(list_cosine_similarity(q_emb, a.emb),6) cos " +
          "FROM probes p JOIN asgn a ON a.c_id = p.c_id AND a.id <> p.q_id) " +
          "SELECT q_id, n_id, cos, rank FROM (SELECT q_id, n_id, cos, " +
          "CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) " +
          "AS INT) rank FROM scored) WHERE rank <= 3"
      }
    )
  )
}
