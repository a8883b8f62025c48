package graft.operators

import graft.QuerySpec
import graft.functions.GraftFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over `documents`
  * (SURVEY.md §2.11; north-star LLM-data-pipeline surface).
  *
  * All tokenization is [[tokens]], `split(trim(text), ' +')` — one
  * definition shared by every operator so dedup/fingerprint/quality
  * agree with each other and with the DuckDB oracle
  * (`regexp_split_to_array`).
  *
  * Scale notes: everything here is per-row narrow work (no shuffle)
  * except the group-bys on derived keys (fingerprint, LSH bands), which
  * shuffle on a hash — uniform by construction, no skew. The MinHash
  * candidate join is band-bucketed (self equi-join on (band, hash)), the
  * standard LSH trick that replaces the quadratic all-pairs compare.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Shared tokenizer: distinct not applied here. */
  private[graft] def tokens(c: Column): Column = split(trim(c), " +")

  // --- exact dedup: keep-first per key (deterministic via window, not
  //     dropDuplicates which keeps an arbitrary row) ---
  val qDedupExact: QuerySpec = QuerySpec(
    "q_dedup_exact",
    Some("""SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
          row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1 ORDER BY doc_id"""),
    (spark, dir) => {
      val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
                row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("doc_id")
    })

  // --- full-row duplicate stats (exact content dedup) ---
  val qDedupStats: QuerySpec = QuerySpec(
    "q_dedup_stats",
    Some("""SELECT count(*) AS n_rows, count(DISTINCT text) AS n_distinct_text,
      count(DISTINCT md5(text)) AS n_distinct_fp FROM documents"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("text")).as("n_distinct_text"),
             countDistinct(md5(col("text"))).as("n_distinct_fp"))
    })

  // --- token counting ---
  val qTextTokens: QuerySpec = QuerySpec(
    "q_text_tokens",
    Some("""SELECT doc_id,
      CAST(len(regexp_split_to_array(trim(text), ' +')) AS INT) AS n_tokens,
      CAST(len(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS INT) AS n_distinct,
      round(CAST(list_sum(list_transform(regexp_split_to_array(trim(text), ' +'),
        t -> length(t))) AS DOUBLE) / len(regexp_split_to_array(trim(text), ' +')), 4)
        AS avg_token_len
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          round(
            aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
              size(toks), 4).as("avg_token_len"))
        .orderBy("doc_id")
    })

  // --- BPE-style subword pre-tokenization: the GPT-2-family regex
  //     (contraction suffixes | space-prefixed letter runs | digit runs
  //     | punctuation runs | whitespace), restricted to RE2-safe
  //     constructs (no lookahead) so the DuckDB oracle runs the
  //     IDENTICAL pattern. This is the pre-tokenizer stage every BPE
  //     tokenizer applies before merges — the right granularity for
  //     token-budget accounting on raw corpora. ---
  private val bpePattern =
    """'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  val qTextTokensBpe: QuerySpec = QuerySpec(
    "q_text_tokens_bpe",
    Some(s"""SELECT doc_id,
      CAST(len(regexp_extract_all(text, '${bpePattern.replace("'", "''")}')) AS INT)
        AS n_bpe,
      CAST(len(list_distinct(regexp_extract_all(text,
        '${bpePattern.replace("'", "''")}'))) AS INT) AS n_bpe_distinct
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = regexp_extract_all(col("text"), lit(bpePattern), lit(0))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_bpe"),
          size(array_distinct(toks)).as("n_bpe_distinct"))
        .orderBy("doc_id")
    })

  // --- quality scoring (length / stopword / alpha ratios) ---
  val qTextQuality: QuerySpec = QuerySpec(
    "q_text_quality",
    Some(s"""SELECT doc_id, n_tokens, round(stop_raw, 4) AS stop_ratio,
      round(alpha_raw, 4) AS alpha_ratio,
      round(0.5*stop_raw + 0.3*least(n_tokens/200.0, 1.0) + 0.2*alpha_raw, 4) AS quality
      FROM (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), ' +')) AS INT) AS n_tokens,
        CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
          t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS DOUBLE)
          / len(regexp_split_to_array(trim(text), ' +')) AS stop_raw,
        CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
          / length(text) AS alpha_raw
        FROM documents) ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          (size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
            size(toks)).as("stop_raw"),
          (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
            length(col("text"))).as("alpha_raw"))
        // quality from the *unrounded* ratios: rounding first parks the
        // weighted sum on .xxxx5 boundaries where the engines' double
        // rounding diverges
        .select(col("doc_id"), col("n_tokens"),
          round(col("stop_raw"), 4).as("stop_ratio"),
          round(col("alpha_raw"), 4).as("alpha_ratio"),
          round(lit(0.5) * col("stop_raw") +
                lit(0.3) * least(col("n_tokens") / 200.0, lit(1.0)) +
                lit(0.2) * col("alpha_raw"), 4).as("quality"))
        .orderBy("doc_id")
    })

  // --- document fingerprinting (full text + bag-of-words) ---
  val qTextFingerprint: QuerySpec = QuerySpec(
    "q_text_fingerprint",
    Some("""SELECT doc_id, md5(text) AS fp_text,
      md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), ' +'))), ' '))
        AS fp_bow
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          md5(col("text")).as("fp_text"),
          md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("fp_bow"))
        .orderBy("doc_id")
    })

  // --- heuristic language id (CJK chars → zh; stopword hits → en; …) ---
  val qLangId: QuerySpec = QuerySpec(
    "q_lang_id",
    Some(s"""SELECT doc_id, lang,
      CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
             t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS INT) >= 2
             THEN 'en'
           ELSE 'unknown' END AS pred_lang
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          when(col("text").rlike("[一-鿿]"), "zh")
            .when(size(filter(toks, t => array_contains(stopArr, t))) >= 2, "en")
            .otherwise("unknown").as("pred_lang"))
        .orderBy("doc_id")
    })

  // --- n-gram (token-set) Jaccard near-dup pairs, exact, blocked by lang ---
  val qNgramJaccard: QuerySpec = QuerySpec(
    "q_ngram_jaccard",
    Some("""WITH t AS (SELECT doc_id, lang,
        list_distinct(regexp_split_to_array(trim(text), ' +')) AS toks FROM documents)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
      ORDER BY doc1, doc2"""),
    (spark, dir) => jaccardPairs(spark, dir, 0.9)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc1", "doc2"))

  /** Exact token-set Jaccard near-dup pairs with *prefix filtering*
    * (PPJoin-style): tokens are globally ordered by ascending document
    * frequency; a pair at jaccard ≥ t must share a token within each
    * side's first ⌊(1-t)·n⌋+1 rarest tokens, so only the prefix is
    * inverted-indexed. On a corpus where common tokens appear in ~half
    * the documents this cuts the candidate join from Σ df² over all
    * tokens to Σ df² over rare prefixes — the difference between a
    * quadratic and a near-linear shuffle at 100 TB. Verification is
    * exact (array_intersect on the candidate pair), so the result is
    * identical to brute force.
    *
    * Results memoize per (session, dir, threshold): candidate
    * generation + verification is the expensive half of the dedup
    * pipeline, and the pair query and the cluster-collapse queries
    * consume the identical result — derive once, reuse from a
    * checkpointed frame.
    */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    pairsMemo.getOrElseUpdate((spark, dir, threshold),
      jaccardPairsUncached(spark, dir, threshold)) // already checkpointed

  // JVM-lifetime scope by design: one entry per (session, dir,
  // threshold), sized for this engine's one-job-per-JVM process model.
  // A long-lived multi-tenant server would add eviction/unpersist here.
  private val pairsMemo = graft.Memo[(SparkSession, String, Double), DataFrame]()

  /** One definition of "documents as (doc_id, blocking-key, token set)"
    * shared by every PPJoin variant — the blocked, global, and shingle
    * builders must never drift apart in tokenization or projection
    * (the cross-variant containment contracts depend on it).
    *
    * `unit` maps the token column to the dedup unit (identity for token
    * sets, [[shingles]] for shingle sets). NOTE the two-step projection
    * is cosmetic only — `CollapseProject` re-inlines `_toks` into the
    * consumer — so `unit` MUST be per-element-safe when handed a
    * complex expression (see the [[shingles]] implementation note on
    * lambda capture).
    */
  private def docsForPairs(spark: SparkSession, dir: String,
                           blockKey: Column,
                           unit: Column => Column = identity): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), blockKey.as("lang"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("lang"),
        array_distinct(unit(col("_toks"))).as("toks"))
  }

  private def jaccardPairsUncached(spark: SparkSession, dir: String,
                                   threshold: Double): DataFrame =
    jaccardPairsOver(
      docsForPairs(spark, dir, col("lang")), threshold)

  /** The PPJoin pipeline over any (doc_id, lang, toks) frame — token
    * sets and shingle sets run through the identical machinery.
    */
  def jaccardPairsOver(docs0: DataFrame, threshold: Double): DataFrame = {
    // the inverted list feeds two consumers (df counts for the
    // dictionary, the id re-join): cache for the build, drop after the
    // checkpointed result below is materialized
    val inv0 = docs0
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .cache()
    // dictionary-encode tokens as ints, id order = (df asc, token): a
    // doc's sorted id array is then simultaneously rarest-first (for the
    // prefix) and canonically sorted (for merge-intersect verification).
    // Id assignment is a distributed range-sort on (df, tok) followed by
    // zipWithIndex (two narrow passes) — NOT a global single-partition
    // window, which would serialize the whole vocabulary through one
    // task (VERDICT r1). The assignment is partitioning-independent:
    // (df, tok) is a unique total order, so ids only depend on the data.
    val spark0 = docs0.sparkSession
    val idsRdd = inv0.groupBy("tok").agg(count(lit(1)).as("df"))
      .repartitionByRange(col("df"), col("tok"))
      .sortWithinPartitions("df", "tok")
      .select("tok").rdd
      .zipWithIndex()
      .map { case (r, i) =>
        org.apache.spark.sql.Row(r.getString(0), (i + 1).toInt)
      }
    val ids = spark0.createDataFrame(idsRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tid",
          org.apache.spark.sql.types.IntegerType))))
    // plain shuffle join, not an explicit vocab broadcast: AQE promotes
    // it to a broadcast join when the dictionary is actually small.
    // Cached: three consumers (prefix explode + both verification
    // sides), and the plan embeds the zipWithIndex dictionary — without
    // the cache each consumer re-runs the dictionary sort + re-join.
    val docs = inv0.join(ids, "tok")
      .groupBy("doc_id", "lang")
      .agg(sort_array(collect_list(col("tid"))).as("tids"))
      .withColumn("n_toks", size(col("tids")))
      .withColumn("plen",
        (col("n_toks") - ceil(lit(threshold) * col("n_toks")) + 1).cast("int"))
      .cache()
    val prefix = docs.select(col("doc_id"), col("lang"), col("n_toks"),
      explode(slice(col("tids"), lit(1), col("plen"))).as("tid"))
    // length-ratio pruning in the candidate join: jaccard >= t forces
    // min(n1,n2) >= ceil(t * max(n1,n2)) — cuts verification volume
    // before the distinct/re-join, at zero false-negative risk
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tid") === col("b.tid") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_toks") >= ceil(lit(threshold) * col("b.n_toks")) &&
        col("b.n_toks") >= ceil(lit(threshold) * col("a.n_toks")))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    val t1 = docs.select(col("doc_id").as("doc1"), col("tids").as("tids1"),
                         col("n_toks").as("n1"))
    val t2 = docs.select(col("doc_id").as("doc2"), col("tids").as("tids2"),
                         col("n_toks").as("n2"))
    try {
      cands.join(t1, "doc1").join(t2, "doc2")
        .withColumn("common", GraftFunctions.sortedIntIntersectCount(col("tids1"), col("tids2")))
        .withColumn("jaccard",
          col("common").cast("double") / (col("n1") + col("n2") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
        .localCheckpoint() // materializes while inv0/docs are cached
    } finally {
      inv0.unpersist(blocking = false)
      docs.unpersist(blocking = false)
    }
  }

  /** PPJoin with a HASH-ordered prefix instead of the df-ordered
    * dictionary. The prefix-filter theorem needs only that both sides
    * take their first ⌊(1-t)·n⌋+1 elements under ONE global total
    * order — ANY order is correct; df-ascending merely minimizes
    * candidates by pushing high-df tokens out of prefixes. When the
    * element-frequency distribution is flat — shingles: a 3-token
    * shingle is shared essentially only by near-duplicates — that
    * pruning buys nothing, and the dictionary's cost (vocabulary
    * groupBy + range-sort + zipWithIndex + a corpus-sized re-join of
    * the inverted list, all over long shingle strings — the ~21 s
    * dominating the r4 shingle build) is pure overhead. Here the order
    * is (xxhash64(tok), tok); the hash is ONLY an ordering key:
    * candidates still join on the exact element string (a collision
    * can perturb prefix order, never equate two different shingles),
    * and verification is an exact codegen merge-intersect over
    * lexicographically sorted string arrays — value-identical output
    * to [[jaccardPairsOver]], pinned by PpjoinSpec.
    */
  def jaccardPairsHashOrdered(docs0: DataFrame, threshold: Double): DataFrame = {
    val docs = docs0
      .select(col("doc_id"), col("lang"),
        sort_array(col("toks")).as("toks"), // exact-verify order (binary, = UTF8String.compareTo)
        transform(
          array_sort(transform(col("toks"),
            t => struct(xxhash64(t).as("h"), t.as("tok")))),
          s => s.getField("tok")).as("htoks")) // prefix order
      .withColumn("n_toks", size(col("toks")))
      .withColumn("plen",
        (col("n_toks") - ceil(lit(threshold) * col("n_toks")) + 1).cast("int"))
      .cache()
    val prefix = docs.select(col("doc_id"), col("lang"), col("n_toks"),
      explode(slice(col("htoks"), lit(1), col("plen"))).as("tok"))
    // same length-ratio pruning as the dictionary path
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_toks") >= ceil(lit(threshold) * col("b.n_toks")) &&
        col("b.n_toks") >= ceil(lit(threshold) * col("a.n_toks")))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    val t1 = docs.select(col("doc_id").as("doc1"), col("toks").as("toks1"),
                         col("n_toks").as("n1"))
    val t2 = docs.select(col("doc_id").as("doc2"), col("toks").as("toks2"),
                         col("n_toks").as("n2"))
    try {
      cands.join(t1, "doc1").join(t2, "doc2")
        .withColumn("common",
          GraftFunctions.sortedIntersectCount(col("toks1"), col("toks2")))
        .withColumn("jaccard",
          col("common").cast("double") / (col("n1") + col("n2") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
        .localCheckpoint() // materializes while docs is cached
    } finally {
      docs.unpersist(blocking = false)
    }
  }

  // --- MinHash + LSH banding (no SQL oracle: hash functions are
  //     engine-specific; correctness covered by MinHashSpec's
  //     minhash≈jaccard property test and the exact-jaccard recheck) ---
  val numHashes = 64
  val numBands = 8 // 8 bands x 8 rows: candidate threshold ~(1/8)^(1/8)=0.77

  /** (doc_id, sig: array<long>[64]) — one codegen'd per-row expression,
    * no explode/shuffle (graft.functions.MinhashSignature).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), GraftFunctions.minhashSignature(col("toks")).as("sig"))
  }

  /** LSH candidate pairs + minhash-estimated similarity.
    *
    * Banding is tuned for the near-dup regime (threshold ≈0.77): with
    * 8 rows per band, a pair at jaccard 0.5 has only ~3% candidate
    * probability, so the candidate set stays near-linear even on a
    * corpus where *everything* shares common tokens — the property that
    * keeps this plan alive at 100 TB. The self-join carries only
    * (band, hash, doc_id); signatures rejoin afterwards via shuffle
    * joins on doc id, so the band shuffle rows are 3 longs wide, dedup
    * happens on bare id pairs, and nothing corpus-sized is ever
    * broadcast.
    */
  /** The LSH banding pipeline over any (doc_id, toks) frame: signatures
    * → band hashes → bucket self-join → shuffle-join signature re-attach
    * → estimated similarity. Shared by the token-set and shingle
    * variants. EAGER: the signature table feeds three consumers (bands
    * + both re-attach sides), so it is cached for the build and dropped
    * once the checkpointed result is materialized — without this the
    * corpus is re-tokenized and re-hashed three times per build.
    */
  def minhashPairsOver(docs: DataFrame): DataFrame = {
    val sigs = minhashSignatures(docs).cache()
    try {
      val rowsPerBand = numHashes / numBands
      val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until numBands).map { b =>
            hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
          }: _*)).as(Seq("band", "bhash")))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .distinct()
      // estimated sim = fraction of agreeing signature components;
      // signatures re-attach via plain shuffle joins on the id-keyed,
      // deduped pairs — NOT broadcast: the signature table is
      // corpus-sized (one 64-long array per document), so broadcasting
      // it is an OOM at 100 TB (VERDICT r1 scale-killer)
      val s1 = sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1"))
      val s2 = sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2"))
      cands.join(s1, Seq("doc1")).join(s2, Seq("doc2"))
        .withColumn("est_sim",
          round(GraftFunctions.arrayEqCount(col("sig1"), col("sig2"))
            .cast("double") / numHashes, 4))
        .select("doc1", "doc2", "est_sim")
        .localCheckpoint() // materializes while sigs is cached
    } finally sigs.unpersist(blocking = false)
  }

  /** LSH candidate pairs with minhash-estimated similarity — memoized
    * per (session, dir) because both the pair query and the dedup
    * pipeline consume it.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashMemo.getOrElseUpdate((spark, dir, "tokens"), {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      minhashPairsOver(docs) // already checkpointed
    })

  /** Shingle-variant candidate pairs — memoized as a derive-once
    * artifact like [[minhashPairs]] (signature hashing over every
    * 3-token shingle is the expensive half; the pair query consumes the
    * checkpointed result).
    */
  def minhashShinglePairs(spark: SparkSession, dir: String): DataFrame =
    minhashMemo.getOrElseUpdate((spark, dir, "shingles"), {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          array_distinct(shingles(tokens(col("text")))).as("toks"))
      minhashPairsOver(docs) // already checkpointed
    })

  /** Overlapping w-token shingles, space-joined — the ORDER-SENSITIVE
    * dedup unit: token-set minhash treats permutations of the same
    * vocabulary as identical (jaccard 1.0), shingles do not. Documents
    * shorter than w collapse to a single whole-document shingle.
    */
  /** Implementation note: built from `zip_with` over w aligned slices,
    * NOT `transform(sequence(...), i => slice(toks, i, w))`. A lambda
    * that captures `toks` re-evaluates the captured expression PER
    * ELEMENT — and since callers pass `split(trim(text))` (and
    * `CollapseProject` re-inlines it even when a caller projects the
    * tokens first), the transform form re-tokenized every document
    * O(n²) times: two thirds of the r5 decontamination/shingle-build
    * runtime. `zip_with` evaluates its array INPUTS once per row; its
    * lambda touches only element variables.
    */
  def shingles(toks: Column, w: Int = 3): Column = {
    val m = size(toks) - (w - 1) // shingle count when size >= w
    val joined = (0 until w)
      .map(j => slice(toks, lit(j + 1), m))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(size(toks) < w, array(concat_ws(" ", toks))).otherwise(joined)
  }

  /** Shingle→minhash→band→bucket-join near-dup pairs (rows-only:
    * engine-specific hashing; order sensitivity pinned in
    * DedupSimilaritySpec). Same banding pipeline, stricter dedup
    * semantics — the variant a copy-paste-with-edits corpus needs.
    */
  val qMinhashShingle: QuerySpec = QuerySpec(
    "q_minhash_lsh_shingle",
    None,
    (spark, dir) => minhashShinglePairs(spark, dir).filter(col("est_sim") >= 0.9))

  private val minhashMemo = graft.Memo[(SparkSession, String, String), DataFrame]()

  /** UNBLOCKED exact near-dup pairs — the no-metadata corpus case
    * (blocking on lang is an optimization available only when such a
    * column exists): the same PPJoin machinery with a constant blocking
    * key, so candidate pruning comes entirely from the rarest-token
    * prefix index + length-ratio bound. Cross-lang duplicates that the
    * blocked q_ngram_jaccard structurally cannot see are in scope here.
    */
  val qNgramJaccardGlobal: QuerySpec = QuerySpec(
    "q_ngram_jaccard_global",
    Some("""WITH t AS (SELECT doc_id,
        list_distinct(regexp_split_to_array(trim(text), ' +')) AS toks FROM documents)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
      ORDER BY doc1, doc2"""),
    (spark, dir) =>
      globalJaccardPairs(spark, dir, 0.9)
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2"))

  /** Unblocked pair artifact behind [[qNgramJaccardGlobal]] — memoized
    * like the blocked variant (and timed as a named bench setup entry).
    */
  def globalJaccardPairs(spark: SparkSession, dir: String,
                         threshold: Double): DataFrame =
    pairsMemo.getOrElseUpdate((spark, "global:" + dir, threshold),
      jaccardPairsOver(
        docsForPairs(spark, dir, lit("")), threshold))

  /** Exact shingle-set jaccard pairs (same-lang) — memoized like
    * [[jaccardPairs]]; the exact side of the shingle containment
    * contract. Uses the HASH-ordered PPJoin ([[jaccardPairsHashOrdered]]):
    * shingle document-frequency is flat, so the df dictionary bought
    * nothing and cost 21 s of the r4 bench setup; output is
    * value-identical (PpjoinSpec pins hash-ordered ≡ dictionary-ordered
    * on this very frame).
    */
  def shingleJaccardPairs(spark: SparkSession, dir: String,
                          threshold: Double): DataFrame =
    pairsMemo.getOrElseUpdate((spark, "shingle:" + dir, threshold),
      jaccardPairsHashOrdered(
        docsForPairs(spark, dir, col("lang"), shingles(_)),
        threshold))

  /** Shingle-LSH containment contract: like [[qMinhashContain]] but on
    * the ORDER-SENSITIVE shingle pipeline — the oracle builds 3-token
    * shingle sets in SQL (list comprehension over the raw token
    * sequence, whole-doc shingle under 3 tokens, mirroring
    * [[shingles]]) and keeps exact shingle-jaccard ≥ 0.95 same-lang
    * pairs; the Spark side emits those of them the shingle banding
    * surfaced. Hash-green = shingle-LSH recall machine-checked.
    */
  val qMinhashShingleContain: QuerySpec = QuerySpec(
    "q_minhash_shingle_contain",
    Some("""WITH t AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      s AS (SELECT doc_id, lang,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                 FOR i IN range(1, len(toks)-1)]) END AS sh
        FROM t)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.95
      ORDER BY doc1, doc2"""),
    (spark, dir) => {
      val exact = shingleJaccardPairs(spark, dir, 0.95)
      val cands = minhashShinglePairs(spark, dir).select("doc1", "doc2")
      exact.join(cands, Seq("doc1", "doc2"), "left_semi")
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    })

  /** Directional containment near-dup: pairs where ≥ 90% of A's
    * 3-shingles appear in B — the asymmetric overlap that catches
    * quote-inclusion / doc-embedded-in-doc duplicates, which symmetric
    * jaccard structurally misses when |A| ≪ |B| (the length-ratio
    * prune in the PPJoin path deliberately discards exactly these).
    *
    * Implementation is inverted-index pair generation: explode distinct
    * shingles, equi-join on (lang, shingle), count per ordered pair,
    * divide by |A|. Work is Σ_g df(g)² over shingle document
    * frequencies — near-linear on a real corpus because 3-shingles are
    * rare outside duplicate clusters; at 100 TB the standard hardening
    * is a df cap on the join side with capped-shingle pairs verified
    * by direct set compare (the prefix-filter trick does not transfer:
    * containment has no lower length-ratio bound to prune with).
    */
  val qContainmentDedup: QuerySpec = QuerySpec(
    "q_containment_dedup",
    Some("""WITH t AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      s AS (SELECT doc_id, lang,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                 FOR i IN range(1, len(toks)-1)]) END AS sh
        FROM t)
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4)
          AS containment
      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.9
      ORDER BY contained_id, container_id"""),
    (spark, dir) => {
      val sh = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          array_distinct(shingles(tokens(col("text")))).as("sh"))
        .withColumn("sz", size(col("sh")))
      // ONE derivation, no self-join: group the posting list per
      // (lang, shingle) and emit ordered pairs by double-explode —
      // same df(g)² pair volume the join would shuffle, but the corpus
      // is tokenized once and nothing needs caching (the earlier
      // checkpoint-the-exploded-frame variant churned 2M-row blocks
      // per run). Posting lists are df(g)-sized — shingle document
      // frequency, small off duplicate clusters (the df cap is the
      // 100 TB hardening).
      val postings = sh
        .select(col("lang"), explode(col("sh")).as("g"),
          struct(col("doc_id"), col("sz")).as("ds"))
        .groupBy("lang", "g").agg(collect_list("ds").as("docs"))
        .filter(size(col("docs")) > 1)
      postings
        .select(explode(col("docs")).as("a"), col("docs"))
        .select(col("a"), explode(col("docs")).as("b"))
        .filter(col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
          col("a.sz").as("sza"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") / col("sza") >= 0.9)
        .select(col("ida").as("contained_id"), col("idb").as("container_id"),
          round(col("inter").cast("double") / col("sza"), 4).as("containment"))
        .orderBy("contained_id", "container_id")
    })

  /** N-gram language-model quality score (the CCNet/KenLM filtering
    * signal, §2.11): train bigram MLE counts on the corpus itself, then
    * score each document by its mean log2 bigram probability —
    * low-scoring docs are the gibberish/boilerplate a perplexity filter
    * drops. P(w2|w1) = c(w1 w2) / c(w1·) with both counts from the
    * bigram stream, so every scored bigram has P > 0 (no smoothing
    * needed to score the training corpus).
    *
    * Scale shape: two hash aggregations build the count tables (token-
    * and bigram-keyed — vocabulary-sized, stays distributed; AQE may
    * broadcast them when small but nothing requires it), one shuffle
    * join re-attaches probabilities, one doc-keyed aggregation scores.
    * Exact-rational probabilities (counts are exact in double) keep the
    * only FP wobble in log2 — 1-ulp libm differences vanish under the
    * 4 dp round of a ~500-term mean.
    */
  val qNgramLmScore: QuerySpec = QuerySpec(
    "q_ngram_lm_score",
    Some("""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      bg AS (SELECT doc_id, w1, w1 || ' ' || w2 AS b FROM (
        SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
               unnest(toks[2:len(toks)]) AS w2 FROM t)),
      c2 AS (SELECT b, CAST(count(*) AS DOUBLE) AS n2 FROM bg GROUP BY b),
      c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n1 FROM bg GROUP BY w1)
      SELECT bg.doc_id, count(*) AS n_bigrams,
        round(avg(log2(c2.n2 / c1.n1)), 4) AS avg_logp
      FROM bg JOIN c2 USING (b) JOIN c1 USING (w1)
      GROUP BY bg.doc_id ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val n = size(toks)
      val pairs = zip_with(
        slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
        (x, y) => struct(x.as("w1"), concat_ws(" ", x, y).as("b")))
      val bg = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(pairs).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.b").as("b"))
      val c2 = bg.groupBy("b").agg(count(lit(1)).cast("double").as("n2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).cast("double").as("n1"))
      bg.join(c2, "b").join(c1, "w1")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log2(col("n2") / col("n1"))), 4).as("avg_logp"))
        .orderBy("doc_id")
    })

  /** MinHash-LSH containment contract, oracle-checked (VERDICT r3 item 1
    * — the `q_cosine_topk_ivf_exact` move applied to LSH): the oracle is
    * the EXACT pair set at jaccard ≥ 0.95 (well above the 8×8 banding
    * threshold ~0.77, where candidate probability is ≥ 1-(1-0.95⁸)⁸ ≈
    * 0.9998 per pair), and the Spark side emits exactly those of the
    * exact pairs that the LSH banding surfaced as candidates (semi-join
    * against the RAW candidate set, no est_sim filter — estimation noise
    * must not mask a banding miss). Hash-green therefore MACHINE-CHECKS
    * recall: any high-similarity pair the banding lost goes missing from
    * the Spark result and fails the row/hash compare. The exact side
    * reuses the memoized PPJoin artifact; candidates reuse the memoized
    * LSH artifact — the query itself is one semi-join over two
    * derive-once frames.
    */
  val qMinhashContain: QuerySpec = QuerySpec(
    "q_minhash_contain",
    Some("""WITH t AS (SELECT doc_id, lang,
        list_distinct(regexp_split_to_array(trim(text), ' +')) AS toks FROM documents)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.95
      ORDER BY doc1, doc2"""),
    (spark, dir) => {
      val exact = jaccardPairs(spark, dir, 0.9).filter(col("jaccard") >= 0.95)
      val cands = minhashPairs(spark, dir).select("doc1", "doc2")
      exact.join(cands, Seq("doc1", "doc2"), "left_semi")
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    })

  /** SimHash containment contract, oracle-checked: documents with the
    * IDENTICAL distinct-token set (equal bag-of-words fingerprint — the
    * same fp_bow the oracle-green q_text_fingerprint pins) have equal
    * simhash, i.e. Hamming distance 0, so the banded Hamming ≤ 3 pair
    * set MUST contain every such pair — deterministically, by the chunk
    * pigeonhole. The oracle computes the fp_bow-duplicate pairs in
    * DuckDB; the Spark side semi-joins them against the banded simhash
    * pairs. A bug anywhere in the chunking / bucket join / dedup
    * plumbing loses rows and turns the hash red — recall-1 is now a
    * CORRECTNESS row, not only a sampled spec claim.
    */
  val qSimhashContain: QuerySpec = QuerySpec(
    "q_simhash_contain",
    Some("""WITH f AS (SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), ' +'))), ' ')) AS fp
      FROM documents)
      SELECT a.doc_id AS doc1, b.doc_id AS doc2
      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
      ORDER BY doc1, doc2"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val fp = docs.select(col("doc_id"),
        md5(concat_ws(" ", array_sort(col("toks")))).as("fp"))
      val exact = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      exact.join(simhashPairsFor(spark, dir).select("doc1", "doc2"),
          Seq("doc1", "doc2"), "left_semi")
        .orderBy("doc1", "doc2")
    })

  val qMinhashLsh: QuerySpec = QuerySpec(
    "q_minhash_lsh",
    None, // engine-specific hashing; see DedupSimilaritySpec properties
    (spark, dir) => minhashPairs(spark, dir)
      // no ORDER BY: this operator has no SQL oracle (rows-only check),
      // and a global sort of the candidate set is pure overhead
    )

  // --- edit-distance near-dup (§2.11 adjunct): exact levenshtein over
  //     the distinct source-label vocabulary — the fuzzy-key-matching
  //     shape (entity resolution on short strings). Vocabulary-sized
  //     self-join, and BANDED (VERDICT r2 item 6): dist <= maxDist
  //     implies abs(len(a)-len(b)) <= maxDist, so the length band in the
  //     join condition prunes pairs before levenshtein runs without
  //     changing the kept result set — the O(V²) nested loop becomes
  //     O(V × band) at a million-label vocabulary. ---
  private val editMaxDist = 3

  val qEditDistance: QuerySpec = QuerySpec(
    "q_edit_distance",
    Some(s"""SELECT a.source AS s1, b.source AS s2,
      CAST(levenshtein(a.source, b.source) AS INT) AS dist
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b
        ON a.source < b.source
        AND abs(length(a.source) - length(b.source)) <= $editMaxDist
      WHERE levenshtein(a.source, b.source) <= $editMaxDist
      ORDER BY s1, s2"""),
    (spark, dir) => {
      val srcs = Tables.load(spark, dir, "documents").select("source").distinct()
      srcs.as("a").join(srcs.as("b"),
          col("a.source") < col("b.source") &&
          abs(length(col("a.source")) - length(col("b.source"))) <= editMaxDist)
        // thresholded levenshtein short-circuits the DP at maxDist
        // (returns -1 above it) — O(maxDist·len) per pair instead of
        // O(len²); kept distances are exact, so the oracle (plain
        // levenshtein + WHERE <= maxDist) sees the identical result
        .select(col("a.source").as("s1"), col("b.source").as("s2"),
          levenshtein(col("a.source"), col("b.source"), editMaxDist).as("dist"))
        .filter(col("dist").between(0, editMaxDist))
        .orderBy("s1", "s2")
    })

  // --- Jaro-Winkler fuzzy matching (§2.11 adjunct, the second string
  //     metric beside levenshtein — rewards shared prefixes, the right
  //     bias for source/entity labels): the codegen'd JaroWinkler
  //     expression implements the SAME 0.7-boost-threshold convention
  //     as DuckDB's jaro_winkler_similarity, so every pair's score is
  //     hash-checked cross-engine at 4dp, not just spec-sampled.
  //     Vocabulary-sized self-join like q_edit_distance; at a
  //     million-label vocabulary the blocking would come from the LSH /
  //     fingerprint operators, not from this exact metric. ---
  val qJaroWinkler: QuerySpec = QuerySpec(
    "q_jaro_winkler",
    Some("""SELECT a.source AS s1, b.source AS s2,
      round(jaro_winkler_similarity(a.source, b.source), 4) AS jw
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
      ORDER BY s1, s2"""),
    (spark, dir) => {
      val srcs = Tables.load(spark, dir, "documents").select("source").distinct()
      srcs.as("a").join(srcs.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("s1"), col("b.source").as("s2"),
          round(GraftFunctions.jaroWinkler(col("a.source"), col("b.source")), 4)
            .as("jw"))
        .orderBy("s1", "s2")
    })

  // --- token-budget packing: fill a per-language token budget in a
  //     deterministic order (the "assemble a training mix of N tokens
  //     per language" shape) — a running-sum window + filter, so the
  //     kept set is exact and oracle-checked. One shuffle on the
  //     partition key; at 100 TB the order key would be a quality score
  //     instead of doc_id, same plan. ---
  val qTokenBudget: QuerySpec = QuerySpec(
    "q_token_budget",
    Some("""SELECT lang, count(*) AS n_docs,
      CAST(max(cum) AS BIGINT) AS tokens_used,
      CAST(max(doc_id) AS BIGINT) AS last_doc
      FROM (SELECT lang, doc_id,
        sum(len(regexp_split_to_array(trim(text), ' +')))
          OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        FROM documents)
      WHERE cum <= 20000
      GROUP BY lang ORDER BY lang"""),
    (spark, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      Tables.load(spark, dir, "documents")
        .select(col("lang"), col("doc_id"),
          sum(size(tokens(col("text"))).cast("long")).over(w).as("cum"))
        .filter(col("cum") <= 20000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), max("cum").as("tokens_used"),
          max("doc_id").as("last_doc"))
        .orderBy("lang")
    })

  // --- token-budget packing, QUALITY-ordered (VERDICT r3 item 7): the
  //     production shape — fill each language's budget with the
  //     highest-quality documents first. Order key is the ROUNDED
  //     quality score (the exact expression q_text_quality hash-checks
  //     cross-engine; rounding first keeps the sort key bit-identical in
  //     both engines) with doc_id as the deterministic tiebreak. Same
  //     one-shuffle running-sum plan as q_token_budget. ---
  val qTokenBudgetQuality: QuerySpec = QuerySpec(
    "q_token_budget_quality",
    Some(s"""WITH q AS (SELECT doc_id, lang,
        CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
        round(0.5*(CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
            t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t))) AS DOUBLE)
            / len(regexp_split_to_array(trim(text), ' +')))
          + 0.3*least(len(regexp_split_to_array(trim(text), ' +'))/200.0, 1.0)
          + 0.2*(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
            / length(text)), 4) AS quality
        FROM documents),
      c AS (SELECT lang, doc_id, quality,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS cum
        FROM q)
      SELECT lang, count(*) AS n_docs, CAST(max(cum) AS BIGINT) AS tokens_used,
        round(min(quality), 4) AS min_quality
      FROM c WHERE cum <= 20000
      GROUP BY lang ORDER BY lang"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      val scored = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          round(lit(0.5) * (size(filter(toks, t => array_contains(stopArr, t)))
              .cast("double") / size(toks)) +
            lit(0.3) * least(size(toks) / 200.0, lit(1.0)) +
            lit(0.2) * (length(regexp_replace(col("text"), "[^a-z]", ""))
              .cast("double") / length(col("text"))), 4).as("quality"))
      val w = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
      scored
        .withColumn("cum", sum("n_tokens").over(w))
        .filter(col("cum") <= 20000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), max("cum").as("tokens_used"),
          round(min("quality"), 4).as("min_quality"))
        .orderBy("lang")
    })

  // --- concat-and-chunk sequence packing: the standard LLM pre-training
  //     shape — concatenate all documents in a deterministic global
  //     order and cut the token stream into fixed 2048-token context
  //     windows. Each doc's global token offset is an exclusive prefix
  //     sum of token counts, which a naive Window.orderBy(doc_id) would
  //     serialize through ONE task over the whole corpus; the scale path
  //     is Analytic.twoPassPrefixSum (range shuffle + per-shard running
  //     sums + broadcast shard offsets — same machinery the global-rank
  //     query uses). Output: where each doc lands (first/last context
  //     bin), exact and oracle-checked against DuckDB's single-window
  //     prefix sum. ---
  val qPackSequences: QuerySpec = QuerySpec(
    "q_pack_sequences",
    Some("""SELECT doc_id,
        CAST(cum - n AS BIGINT) AS tok_start,
        CAST((cum - n) // 2048 AS BIGINT) AS bin_first,
        CAST((cum - 1) // 2048 AS BIGINT) AS bin_last
      FROM (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n,
        sum(CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT))
          OVER (ORDER BY doc_id) AS cum
        FROM documents)
      ORDER BY doc_id"""),
    (spark, dir) => {
      val base = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      Analytic.twoPassPrefixSum(base, Seq("doc_id"), "n_tokens")
        .select(col("doc_id"),
          (col("_cum") - col("n_tokens")).as("tok_start"),
          expr("(_cum - n_tokens) div 2048").as("bin_first"),
          expr("(_cum - 1) div 2048").as("bin_last"))
        .orderBy("doc_id")
    })

  // --- shuffle-then-pack: the production pre-training order. Packing
  //     in doc_id order would train on the corpus's storage order;
  //     the real pipeline first applies a DETERMINISTIC global shuffle
  //     (portable md5 of the doc id — the same salt-hash family the
  //     oracle-checked samplers use, so the permutation is a pure
  //     function of the data, reproducible across engines and runs)
  //     and packs in that order. Same two-pass prefix-sum plan; the
  //     range shuffle now partitions on the hash key, which is uniform
  //     by construction — no skewed shards. ---
  val qShufflePack: QuerySpec = QuerySpec(
    "q_shuffle_pack",
    Some("""WITH d AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n,
        md5('graft-shuffle-v1' || '|' || CAST(doc_id AS VARCHAR)) AS sk
        FROM documents),
      c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY sk, doc_id) AS cum FROM d)
      SELECT doc_id, CAST(cum - n AS BIGINT) AS tok_start,
        CAST((cum - n) // 2048 AS BIGINT) AS bin_first,
        CAST((cum - 1) // 2048 AS BIGINT) AS bin_last
      FROM c ORDER BY doc_id"""),
    (spark, dir) => {
      val base = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          md5(concat_ws("|", lit("graft-shuffle-v1"),
            col("doc_id").cast("string"))).as("sk"))
      Analytic.twoPassPrefixSum(base, Seq("sk", "doc_id"), "n_tokens")
        .select(col("doc_id"),
          (col("_cum") - col("n_tokens")).as("tok_start"),
          expr("(_cum - n_tokens) div 2048").as("bin_first"),
          expr("(_cum - 1) div 2048").as("bin_last"))
        .orderBy("doc_id")
    })

  // --- context-window chunking: split each document into fixed-size
  //     token chunks (the unit a training/RAG pipeline actually feeds a
  //     model). Pure per-row explode — no shuffle; chunk text is
  //     fingerprinted so downstream chunk-level dedup composes with the
  //     existing dedup operators. ---
  private val chunkTokens = 128

  val qTextChunks: QuerySpec = QuerySpec(
    "q_text_chunks",
    Some(s"""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents)
      SELECT doc_id, i AS chunk_idx,
        CAST(least((i+1)*$chunkTokens, len(toks)) - i*$chunkTokens AS INT)
          AS chunk_tokens,
        md5(array_to_string(
          toks[i*$chunkTokens+1 : least((i+1)*$chunkTokens, len(toks))], ' '))
          AS chunk_fp
      FROM t, UNNEST(generate_series(0,
        CAST(ceil(len(toks)/$chunkTokens.0) AS INT) - 1)) AS ix(i)
      ORDER BY doc_id, chunk_idx"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            ceil(size(col("toks")) / lit(chunkTokens.toDouble)).cast("int") - 1))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (least((col("chunk_idx") + 1) * chunkTokens, size(col("toks"))) -
            col("chunk_idx") * chunkTokens).cast("int").as("chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), col("chunk_idx") * chunkTokens + 1,
              lit(chunkTokens)))).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    })

  // --- n-gram repetition ratio (Gopher-style quality rule): the
  //     fraction of duplicate bigrams — high values flag boilerplate /
  //     looping text that length and stopword ratios miss. Narrow
  //     per-row work; shares the shingle definition with the dedup
  //     operators. ---
  val qTextRepetition: QuerySpec = QuerySpec(
    "q_text_repetition",
    Some("""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      b AS (SELECT doc_id,
        CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
             ELSE [array_to_string(toks[i:i+1], ' ')
                   FOR i IN range(1, len(toks))] END AS bigrams
        FROM t)
      SELECT doc_id, CAST(len(bigrams) AS INT) AS n_bigrams,
        round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 4)
          AS dup_ratio
      FROM b ORDER BY doc_id"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("_toks"))
        .select(col("doc_id"), shingles(col("_toks"), 2).as("bigrams"))
        .select(col("doc_id"),
          size(col("bigrams")).as("n_bigrams"),
          round(lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") /
            size(col("bigrams")), 4).as("dup_ratio"))
        .orderBy("doc_id")
    })

  // --- SimHash (64-bit) — one codegen'd expression per row, no shuffle ---
  def simhash(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), GraftFunctions.simhash64(col("toks")).as("simhash"))
  }

  val qSimhash: QuerySpec = QuerySpec(
    "q_simhash",
    None, // engine-specific hashing; see DedupSimilaritySpec
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      simhash(docs).orderBy("doc_id")
    })

  /** Near-dup pairs over ANY 64-bit fingerprint column at Hamming
    * distance ≤ `maxHamming`, banded by 16-bit chunks: a pair within
    * Hamming 3 differs in at most 3 of the 4 chunks, so BY PIGEONHOLE
    * it agrees on at least one — the candidate join is an equi-join on
    * (chunk index, chunk value), never an all-pairs compare, and recall
    * is exactly 1 (proved in DedupSimilaritySpec against a brute-force
    * sample). Verification is exact `bit_count(xor)`. Shared by the
    * text simhash ([[simhashPairs]]) and the image perceptual-hash
    * ([[Multimodal.qImagePhashPairs]]) dedup families.
    *
    * @param hashed (doc_id, h64) — null fingerprints never pair
    */
  def hammingPairs64(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "hammingPairs64: 4x16-bit banding is complete only for Hamming <= 3")
    val chunks = hashed
      .filter(col("h64").isNotNull)
      .select(col("doc_id"), col("h64"),
        posexplode(array((0 until 4).map { c =>
          shiftrightunsigned(col("h64"), c * 16).bitwiseAND(lit(0xffffL))
        }: _*)).as(Seq("chunk", "cval")))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.h64").as("sh1"), col("b.h64").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
  }

  /** SimHash near-dup pairs — [[hammingPairs64]] over the 64-bit text
    * simhash.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs64(
      simhash(docs).select(col("doc_id"), col("simhash").as("h64")),
      maxHamming)

  /** Banded simhash pairs over the fixture, memoized per (session, dir)
    * — consumed by both the pair query and the containment contract, so
    * derive once like the other pair artifacts.
    */
  def simhashPairsFor(spark: SparkSession, dir: String): DataFrame =
    simhashPairsMemo.getOrElseUpdate((spark, dir), {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      simhashPairs(docs).localCheckpoint()
    })

  private val simhashPairsMemo = graft.Memo[(SparkSession, String), DataFrame]()

  /** The simhash dedup surface: near-dup pairs at Hamming ≤ 3.
    * Rows-only (engine-specific hashing); exact-recall property in
    * DedupSimilaritySpec.
    */
  val qSimhashPairs: QuerySpec = QuerySpec(
    "q_simhash_pairs",
    None,
    (spark, dir) => simhashPairsFor(spark, dir).orderBy("doc1", "doc2"))

  /** Exact-substring (span-level) dedup — the production operator the
    * doc-level families miss: repeated boilerplate SPANS survive
    * document dedup whenever the surrounding text differs ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022,
    * motivates removing them). Approximation of the paper's
    * suffix-array pass with fixed-width windows: any repeated token
    * substring of length ≥ w appears as a run of cross-doc-repeated
    * w-token windows, so marking every position whose w-window occurs
    * in ≥ `minDocs` distinct documents and merging consecutive marked
    * positions yields maximal removable spans (doc_id, span_start,
    * span_len) — token-indexed, 1-based, span_len ≥ w.
    *
    * Scale shape, stage by stage: positional windows are ONE narrow
    * pass — each window is FINGERPRINTED to 8 bytes (xxhash64 of its w
    * token slices, no intermediate string) before anything shuffles;
    * the shared-window filter is one posting-list aggregation keyed on
    * fp (vocabulary-like cardinality, lists df(fp)-sized) exploded
    * back to matched positions; the run-merge window partitions by
    * doc_id over MATCHED positions only — bounded by document length,
    * no global window anywhere. Everything is linear in corpus tokens;
    * there is no doc×doc anything. An fp collision (2⁻⁶⁴/pair) could
    * falsely mark one window — the accepted trade everywhere
    * fingerprints replace strings.
    */
  def substringSpans(docs: DataFrame, w: Int = 8,
                     minDocs: Int = 2,
                     dfCap: Int = Int.MaxValue): DataFrame = {
    val toks = tokens(col("text"))
    // fingerprints computed DIRECTLY from w aligned token slices
    // (arrays_zip → per-element xxhash64 over the w fields): no
    // intermediate w-token string is ever built. Same equivalence as
    // hashing the joined string — tokens are space-free by construction,
    // so the w-tuple determines the joined form and vice versa. (The
    // string-shingle build was ~half this query's runtime at sf0.1.)
    val m = size(toks) - (w - 1)
    val fps = {
      val slices = (0 until w).map(j => slice(toks, lit(j + 1), m).as(s"s$j"))
      transform(arrays_zip(slices: _*), x =>
        xxhash64((0 until w).map(j => x.getField(s"s$j")): _*))
    }
    // docs shorter than w have no w-window: excluded up front (NOT the
    // whole-doc fallback `shingles` applies — a 3-token doc is not a
    // removable span of itself)
    val pos = docs
      .select(col("doc_id"), fps.as("fps"), size(toks).as("n"))
      .filter(col("n") >= w)
      .select(col("doc_id"), posexplode(col("fps")).as(Seq("pos0", "fp")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("fp"))
    // ONE derivation, no re-scan: posting list per fingerprint, kept
    // when it spans ≥ minDocs distinct docs, exploded back to matched
    // positions — the qContainmentDedup pattern. Posting lists are
    // df(fp)-sized: tiny off duplicate clusters; pass `dfCap` for the
    // list-free hardened path (below) on boilerplate-heavy corpora.
    val matched =
      if (dfCap == Int.MaxValue) pos
        .groupBy("fp")
        .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
        .filter(size(array_distinct(col("occ").getField("doc_id"))) >= minDocs)
        .select(explode(col("occ")).as("o"))
        .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
      else {
        // df-cap hardening (boilerplate-dominated corpora): a license
        // header shared by millions of docs makes one fp's posting list
        // a task-killer. This path never BUILDS lists — a partial-
        // aggregated (count, count distinct) per fp selects fps whose
        // occurrence count fits the cap, and positions re-attach with a
        // semi-join. Trade, stated: spans repeated in > dfCap positions
        // are NOT marked — at that df they are corpus boilerplate and
        // belong to qParagraphDedup's removal pass, not span surgery.
        val keep = pos.groupBy("fp")
          .agg(count_distinct(col("doc_id")).as("nd"),
            count(lit(1)).as("nocc"))
          .filter(col("nd") >= minDocs && col("nocc") <= dfCap)
        pos.join(keep.select("fp"), Seq("fp"), "left_semi")
          .select("doc_id", "pos")
      }
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val run = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    matched
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("is_new",
        when(col("prev").isNull || col("pos") - col("prev") > 1, 1)
          .otherwise(0))
      .withColumn("rid", sum("is_new").over(run))
      .groupBy("doc_id", "rid")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(w)).as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** Removable-span inventory of the documents fixture: 8-token windows
    * shared by ≥ 2 docs, merged to maximal spans. The oracle rebuilds
    * positional windows with a list comprehension (generate_subscripts
    * = window start, both 1-based), takes HAVING count(DISTINCT doc_id)
    * ≥ 2, and merges runs with the same gaps-and-islands SQL the
    * sessionize oracle uses — full strings where Spark uses
    * fingerprints, so a hash-green row also witnesses fp faithfulness.
    */
  val qSubstringDedup: QuerySpec = QuerySpec(
    "q_substring_dedup",
    Some("""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      p AS (SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) AS pos
            FROM (SELECT doc_id,
                    [array_to_string(toks[i:i+7], ' ')
                     FOR i IN range(1, len(toks) - 6)] AS gs
                  FROM t)),
      shared AS (SELECT g FROM p GROUP BY g
                 HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT doc_id, pos FROM p WHERE g IN (SELECT g FROM shared)),
      r AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 1
                  THEN 1 ELSE 0 END AS is_new
            FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      s AS (SELECT doc_id, pos, sum(is_new) OVER (PARTITION BY doc_id
              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS rid FROM r)
      SELECT doc_id, min(pos) AS span_start,
        max(pos) - min(pos) + 8 AS span_len
      FROM s GROUP BY doc_id, rid
      ORDER BY doc_id, span_start"""),
    (spark, dir) =>
      substringSpans(Tables.load(spark, dir, "documents"))
        .orderBy("doc_id", "span_start"))

  /** Gopher-style quality rule suite (Rae et al. 2021 §A1.1 heuristics,
    * re-expressed over this fixture): word-count bounds, mean-word-length
    * band, stopword floor, alphabetic-word ratio, symbol-to-word ratio.
    * Each rule is emitted as its own flag (downstream pipelines weight
    * them; a single boolean would lose the diagnostics) plus the
    * conjunction. Narrow per-row work — one pass, no shuffle; every
    * ratio is an exact rational (int counts ÷ int counts) so the rule
    * comparisons are deterministic cross-engine, and displayed doubles
    * are rounded to 4 dp.
    */
  val qGopherRules: QuerySpec = QuerySpec(
    "q_gopher_rules",
    Some(s"""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      m AS (SELECT doc_id,
        CAST(len(toks) AS INT) AS n_words,
        CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
          / len(toks) AS mwl,
        CAST(len(list_filter(toks,
          t -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], t)))
          AS INT) AS stop_hits,
        CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
          AS DOUBLE) / len(toks) AS alpha_ratio,
        CAST(len(list_filter(toks, t -> regexp_matches(t, '#|\\.\\.\\.')))
          AS DOUBLE) / len(toks) AS sym_ratio
        FROM t)
      SELECT doc_id, n_words, round(mwl, 4) AS mean_word_len, stop_hits,
        CAST(n_words BETWEEN 20 AND 80 AS INT) AS r_wordcount,
        CAST(mwl BETWEEN 3 AND 10 AS INT) AS r_wordlen,
        CAST(stop_hits >= 2 AS INT) AS r_stop,
        CAST(alpha_ratio >= 0.8 AS INT) AS r_alpha,
        CAST(sym_ratio <= 0.1 AS INT) AS r_symbol,
        CAST(n_words BETWEEN 20 AND 80 AND mwl BETWEEN 3 AND 10
          AND stop_hits >= 2 AND alpha_ratio >= 0.8 AND sym_ratio <= 0.1
          AS INT) AS pass
      FROM m ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_words"),
          (aggregate(toks, lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(toks)).as("mwl"),
          size(filter(toks, t => array_contains(stopArr, t)))
            .as("stop_hits"),
          (size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
            size(toks)).as("alpha_ratio"),
          (size(filter(toks, t => t.rlike("#|\\.\\.\\."))).cast("double") /
            size(toks)).as("sym_ratio"))
        .select(col("doc_id"), col("n_words"),
          round(col("mwl"), 4).as("mean_word_len"), col("stop_hits"),
          col("n_words").between(20, 80).cast("int").as("r_wordcount"),
          col("mwl").between(3, 10).cast("int").as("r_wordlen"),
          (col("stop_hits") >= 2).cast("int").as("r_stop"),
          (col("alpha_ratio") >= 0.8).cast("int").as("r_alpha"),
          (col("sym_ratio") <= 0.1).cast("int").as("r_symbol"),
          (col("n_words").between(20, 80) && col("mwl").between(3, 10) &&
            col("stop_hits") >= 2 && col("alpha_ratio") >= 0.8 &&
            col("sym_ratio") <= 0.1).cast("int").as("pass"))
        .orderBy("doc_id")
    })

  private val paraTokens = 10

  /** Paragraph-level boilerplate removal (the RefinedWeb/FineWeb "line
    * dedup" stage at this fixture's granularity): docs are split into
    * fixed 10-token paragraphs, any paragraph whose fingerprint appears
    * in ≥ 2 DISTINCT docs is dropped everywhere, and survivors are
    * reassembled in order. Output keeps the kept-text fingerprint, not
    * the text — the driver hash-checks reassembly faithfulness without
    * shipping the corpus.
    *
    * Scale shape: the paragraph pass is narrow; the shared-fp screen is
    * one hash agg keyed on md5 (uniform); the reassembly groups each
    * doc's OWN paragraphs (bounded by doc length). Nothing is doc×doc
    * and nothing corpus-sized is broadcast — the md5-keyed join is a
    * shuffle join of (fp, doc, idx) triples.
    */
  val qParagraphDedup: QuerySpec = QuerySpec(
    "q_paragraph_dedup",
    Some(s"""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      c AS (SELECT doc_id, i AS idx,
        array_to_string(toks[i*$paraTokens+1 :
          least((i+1)*$paraTokens, len(toks))], ' ') AS txt
        FROM t, UNNEST(generate_series(0,
          CAST(ceil(len(toks)/$paraTokens.0) AS INT) - 1)) ix(i)),
      d AS (SELECT md5(txt) AS fp FROM c GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT c.doc_id, c.idx, c.txt, d.fp IS NOT NULL AS dup
            FROM c LEFT JOIN d ON md5(c.txt) = d.fp)
      SELECT doc_id, CAST(count(*) AS INT) AS n_paras,
        CAST(sum(CASE WHEN dup THEN 0 ELSE 1 END) AS INT) AS n_kept,
        md5(coalesce(string_agg(CASE WHEN dup THEN NULL ELSE txt END,
          ' ' ORDER BY idx), '')) AS kept_fp
      FROM m GROUP BY doc_id ORDER BY doc_id"""),
    (spark, dir) => {
      val toks = tokens(col("text"))
      val paras = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            ceil(size(col("toks")) / lit(paraTokens.toDouble)).cast("int") - 1))
            .as("idx"))
        .select(col("doc_id"), col("idx"),
          concat_ws(" ", slice(col("toks"), col("idx") * paraTokens + 1,
            lit(paraTokens))).as("txt"))
        .withColumn("fp", md5(col("txt")))
      val shared = paras.groupBy("fp")
        .agg(count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("fp")
      paras.join(shared.withColumn("dup", lit(true)), Seq("fp"), "left")
        .select(col("doc_id"), col("idx"), col("txt"),
          coalesce(col("dup"), lit(false)).as("dup"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_paras"),
          sum(when(col("dup"), 0).otherwise(1)).cast("int").as("n_kept"),
          md5(concat_ws(" ", transform(
            sort_array(collect_list(when(!col("dup"),
              struct(col("idx"), col("txt"))))),
            x => x.getField("txt")))).as("kept_fp"))
        .orderBy("doc_id")
    })

  /** Incremental dedup: screen a NEW batch (the last 20% of doc_ids —
    * arrival order) against the existing corpus without re-deduping the
    * corpus itself, the shape every recurring-crawl pipeline runs. Two
    * screens per delta doc: exact (md5 of text seen in the corpus) and
    * near (≥ 90% of its 3-shingles contained in one same-lang corpus
    * doc — [[qContainmentDedup]]'s asymmetric overlap, here directional
    * delta→corpus by construction).
    *
    * Scale shape: the corpus side is reduced to fingerprints / exploded
    * shingle postings before any join — delta×corpus work is
    * Σ_g df_delta(g)·df_corpus(g) over shingles sharing a (lang, g) key,
    * near-linear for the same df reasons as containment dedup, and the
    * exact screen is a semi-join on md5. The corpus NEVER re-pairs with
    * itself — cost scales with the delta, which is the entire point of
    * incremental dedup.
    */
  val qDedupIncremental: QuerySpec = QuerySpec(
    "q_dedup_incremental",
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      t AS (SELECT doc_id, lang, text,
        regexp_split_to_array(trim(text), ' +') AS toks,
        doc_id >= (SELECT 0.8 * m FROM mx) AS is_delta FROM documents),
      s AS (SELECT doc_id, lang, text, is_delta,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                 FOR i IN range(1, len(toks)-1)]) END AS sh
        FROM t),
      d AS (SELECT * FROM s WHERE is_delta),
      c AS (SELECT * FROM s WHERE NOT is_delta),
      nd AS (SELECT d.doc_id,
          max(CAST(len(list_intersect(d.sh, c.sh)) AS DOUBLE) / len(d.sh))
            AS mc
        FROM d JOIN c ON d.lang = c.lang GROUP BY d.doc_id)
      SELECT d.doc_id,
        CAST(EXISTS (SELECT 1 FROM c WHERE md5(c.text) = md5(d.text))
          AS INT) AS exact_dup,
        CAST(coalesce(nd.mc, 0) >= 0.9 AS INT) AS near_dup,
        round(coalesce(nd.mc, 0), 4) AS max_contain
      FROM d LEFT JOIN nd USING (doc_id) ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val cut = docs.agg((max("doc_id") * 0.8).as("cut"))
      val sh = docs.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("tfp"),
          array_distinct(shingles(tokens(col("text")))).as("sh"),
          (col("doc_id") >= col("cut")).as("is_delta"))
      val delta = sh.filter(col("is_delta"))
      val corpus = sh.filter(!col("is_delta"))
      // inverted-index containment, delta side carries |sh| for the ratio
      val dPost = delta.select(col("lang"), col("doc_id"),
        size(col("sh")).as("sz"), explode(col("sh")).as("g"))
      val cPost = corpus.select(col("lang"), col("doc_id").as("cid"),
        explode(col("sh")).as("g"))
      val contain = dPost.join(cPost, Seq("lang", "g"))
        .groupBy("doc_id", "cid", "sz").agg(count(lit(1)).as("inter"))
        .groupBy("doc_id")
        .agg(max(col("inter").cast("double") / col("sz")).as("mc"))
      val exact = corpus.select(col("tfp")).distinct()
        .withColumn("ex", lit(true))
      delta.join(exact, Seq("tfp"), "left")
        .join(contain, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ex"), lit(false)).cast("int").as("exact_dup"),
          (coalesce(col("mc"), lit(0.0)) >= 0.9).cast("int").as("near_dup"),
          round(coalesce(col("mc"), lit(0.0)), 4).as("max_contain"))
        .orderBy("doc_id")
    })

  /** Per-delta-doc "most shingles shared with any single corpus doc"
    * aggregator for [[qStreamDedupIncremental]]: the streaming engine
    * allows one stateful aggregation per query, so the batch path's
    * two-level (doc, cid) → doc rollup folds into ONE typed buffer — a
    * cid → shared-count map per delta doc, finished to its max. The
    * buffer holds only the doc's matching corpus docs (df-bounded, the
    * same argument as the batch join's fan-out) and merges
    * associatively, so map-side partial aggregation still applies.
    */
  private[operators] object MaxSharedCount
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Map[Long, Long], Long] {
    override def zero: Map[Long, Long] = Map.empty
    override def reduce(b: Map[Long, Long],
                        cid: java.lang.Long): Map[Long, Long] =
      if (cid == null) b
      else b.updated(cid.longValue, b.getOrElse(cid.longValue, 0L) + 1L)
    override def merge(x: Map[Long, Long],
                       y: Map[Long, Long]): Map[Long, Long] =
      y.foldLeft(x) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, 0L) + v) }
    override def finish(b: Map[Long, Long]): Long =
      if (b.isEmpty) 0L else b.values.max
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[Long, Long]] =
      org.apache.spark.sql.Encoders.kryo[Map[Long, Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** Streaming twin of [[qDedupIncremental]] — the recurring-crawl
    * shape run THROUGH the streaming engine: delta docs arrive as a
    * file stream, the corpus stays a static table. Same two screens:
    * exact (md5 seen in the corpus — stream-static left join against
    * the corpus fingerprint set) and near (≥ 90 % of the doc's
    * 3-shingles contained in one same-lang corpus doc — postings
    * explode, stream-static left join on (lang, shingle), then one
    * stateful [[MaxSharedCount]] aggregation). Complete mode: the sink
    * holds one verdict row per delta doc seen so far; corpus postings
    * NEVER self-pair, so per-batch cost scales with that batch's crawl
    * drop — the incremental-dedup point, now with arrival semantics.
    *
    * The corpus-derived sides (fingerprint set, shingle postings) are
    * STATIC across micro-batches, so they materialize ONCE
    * (`localCheckpoint`) instead of re-tokenizing the corpus per
    * trigger (r16, guide §1.2): per-batch work is then genuinely
    * delta-sized — at 100 TB these are the persisted dedup artifacts
    * every batch joins against, not per-trigger recomputes.
    */
  def incrementalDedupStream(delta: DataFrame, corpus: DataFrame): DataFrame = {
    val exact = corpus.select(md5(col("text")).as("tfp")).distinct()
      .withColumn("ex", lit(true))
      .localCheckpoint()
    val cPost = corpus.select(col("lang"), col("doc_id").as("cid"),
      explode(array_distinct(shingles(tokens(col("text"))))).as("g"))
      .localCheckpoint()
    val dPost = delta
      .select(col("doc_id"), col("lang"), md5(col("text")).as("tfp"),
        array_distinct(shingles(tokens(col("text")))).as("sh"))
      .select(col("doc_id"), col("lang"), col("tfp"),
        size(col("sh")).as("sz"), explode(col("sh")).as("g"))
    val maxShared = udaf(MaxSharedCount)
    dPost
      .join(exact, Seq("tfp"), "left")
      .join(cPost, Seq("lang", "g"), "left")
      .groupBy(col("doc_id"), col("sz"),
        coalesce(col("ex"), lit(false)).as("ex"))
      .agg(maxShared(col("cid")).as("mx"))
      .select(col("doc_id"),
        col("ex").cast("int").as("exact_dup"),
        (col("mx").cast("double") / col("sz") >= 0.9).cast("int")
          .as("near_dup"),
        round(col("mx").cast("double") / col("sz"), 4).as("max_contain"))
  }

  /** Stage the fixture's delta partition (top 20 % of doc_id, the same
    * cut [[qDedupIncremental]] derives relationally) as TWO parquet
    * files — two crawl drops — in a fresh per-invocation dir. The 1-row
    * cut collect is STAGING, not the operator: carving the fixture into
    * "corpus" and "arriving crawl" needs a concrete split value to
    * write files with (same role as streamResumePhases' halves).
    */
  private def stageDeltaFiles(spark: SparkSession, dir: String): (String, Double) = {
    val docs = Tables.load(spark, dir, "documents")
    val cut = docs.agg((max("doc_id") * 0.8).as("cut")).head.getDouble(0)
    val in = StreamRun.staged(spark, dir, "stream-incr", 2)(i =>
      docs.filter(col("doc_id") >= cut && col("doc_id") % 2 === i))
    (in, cut)
  }

  /** The fifteenth streaming oracle row: [[incrementalDedupStream]]
    * drained over the staged crawl drops (maxFilesPerTrigger = 1 forces
    * one micro-batch per drop) SHARES the batch oracle — green only if
    * arrival-order screening over two batches lands on exactly the
    * batch answer.
    */
  val qStreamDedupIncremental: QuerySpec = QuerySpec(
    "q_stream_dedup_incr",
    qDedupIncremental.oracle,
    (spark, dir) => {
      val (in, cut) = stageDeltaFiles(spark, dir)
      val corpus = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < lit(cut))
      val delta = spark.readStream.schema(Tables.documents)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*.parquet")
      EventOps.runStreamToTable(
        incrementalDedupStream(delta, corpus), mode = "complete")
        .orderBy("doc_id")
    })

  /** Sliding token-window CHUNKING — the retrieval-prep operator every
    * RAG/embedding pipeline runs before vectorizing: each document
    * splits into overlapping windows of `window` whitespace tokens
    * every `stride` tokens (stride < window ⇒ the overlap that keeps
    * context at chunk boundaries), with a stable `(doc_id, chunk_idx)`
    * identity downstream embeddings key on. Pure narrow built-ins
    * (normalize → split → `sequence`/`slice`/`concat_ws` → explode):
    * whole-stage codegen, no shuffle, no UDF — at 100 TB chunking is
    * a map over the corpus and nothing else. Tokenization is pinned
    * to "collapse whitespace, split on single space" IN BOTH ENGINES
    * so the oracle hashes the exact chunk text.
    */
  def chunkByTokens(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkByTokens: need 0 < stride <= window, got $window/$stride")
    val toks = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .withColumn("start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col("doc_id"), col("lang"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(window)).as("c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("c")).as("n_tokens"),
        concat_ws(" ", col("c")).as("chunk_text"), col("lang"))
  }

  /** OVERLAPPING chunking, oracle-hashed chunk-for-chunk — the
    * complement of [[qTextChunks]]'s disjoint 128-token split: a RAG
    * retrieval corpus chunks with stride < window so boundary context
    * appears in two windows. DuckDB recomputes every window's exact
    * text with `generate_series` + list slicing over the
    * identically-normalized token array — a hash match means every
    * boundary token landed in exactly the windows the
    * (window, stride) grid puts it in.
    */
  val qTextChunksOverlap: QuerySpec = QuerySpec(
    "q_text_chunks_overlap",
    Some("""WITH t AS (
        SELECT doc_id, lang,
          string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
            AS toks
        FROM documents WHERE length(trim(text)) > 0)
      SELECT doc_id, gs.s // 8 AS chunk_idx,
        len(toks[gs.s + 1 : least(gs.s + 32, len(toks))]) AS n_tokens,
        array_to_string(toks[gs.s + 1 : least(gs.s + 32, len(toks))], ' ')
          AS chunk_text,
        lang
      FROM t, UNNEST(generate_series(0, len(toks) - 1, 8)) AS gs(s)
      ORDER BY doc_id, chunk_idx"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      chunkByTokens(docs, window = 32, stride = 8)
        .orderBy("doc_id", "chunk_idx")
    })

  def specs: Seq[QuerySpec] = Seq(
    qTextChunksOverlap,
    qDedupExact, qDedupStats, qTextTokens, qTextTokensBpe, qTextQuality,
    qTextFingerprint, qLangId, qNgramJaccard, qNgramJaccardGlobal,
    qEditDistance, qJaroWinkler, qMinhashLsh,
    qMinhashShingle, qMinhashContain, qMinhashShingleContain, qSimhash,
    qSimhashPairs, qSimhashContain, qContainmentDedup, qSubstringDedup,
    qNgramLmScore, qTokenBudget, qTokenBudgetQuality,
    qPackSequences, qShufflePack, qTextChunks, qTextRepetition,
    qGopherRules, qParagraphDedup, qDedupIncremental,
    qStreamDedupIncremental)
}
