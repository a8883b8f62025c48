package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus: BM25 scoring (the Lucene-style
  * `ln((N - df + 0.5)/(df + 0.5) + 1)` idf variant, k1=1.2, b=0.75) for
  * a fixed query-term set, plus top-k. Training pipelines use this
  * shape for targeted corpus slicing ("all docs about X") and as the
  * lexical side of hybrid retrieval next to the ANN operators.
  *
  * Scale shape: tf is a per-row explode filtered to the query terms
  * BEFORE any shuffle (the filter reaches the scan side, so the shuffle
  * carries only matching (doc, term) rows — query terms are few, the
  * corpus is not); df and the corpus stats (N, avgdl) are term-count- /
  * single-row-sized and broadcast. No global window, no all-pairs; the
  * one aggregation shuffles on doc_id. The arithmetic mirrors the
  * DuckDB oracle's expression tree shape exactly so the doubles agree
  * bit-for-bit before the final round(4).
  */
object Search {

  val K1 = 1.2
  val B = 0.75

  /** BM25 scores for `terms` over (doc_id, toks). Emits one row per doc
    * containing at least one term: (doc_id, n_terms, bm25).
    */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val withDl = docs.withColumn("dl", size(col("toks")).cast("double"))
    val stats = withDl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val tf = withDl.select(col("doc_id"), col("dl"), explode(col("toks")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfT), "t").crossJoin(broadcast(stats))
      .withColumn("s",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)) *
          (col("tf") * lit(K1 + 1)) /
          (col("tf") + lit(K1) *
            (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), round(sum("s"), 4).as("bm25"))
  }

  /** Top-k retrieval: same scores, `TakeOrderedAndProject` plan (no
    * global sort materialization) — guarded in PlanSpec.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25(docs, terms).orderBy(col("bm25").desc, col("doc_id")).limit(k)

  private def docsFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  /** Oracle-checked on SCORES for every matching doc (ordered by
    * doc_id, no limit): a top-k cut in a cross-engine hash compare
    * would turn a last-ulp score difference at the boundary into a
    * different row SET; scoring every match checks strictly more while
    * staying deterministic. The top-k surface is [[bm25TopK]]
    * (spec + plan guard).
    */
  val qBm25: QuerySpec = QuerySpec(
    "q_bm25",
    Some("""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM d),
      e AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS t
        FROM d),
      tf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf FROM e
        WHERE t IN ('spark', 'vector', 'stream') GROUP BY doc_id, dl, t),
      dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t)
      SELECT doc_id, count(*) AS n_terms,
        round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4)
          AS bm25
      FROM tf JOIN dfq USING (t), st
      GROUP BY doc_id ORDER BY doc_id"""),
    (spark, dir) =>
      bm25(docsFrame(spark, dir), Seq("spark", "vector", "stream"))
        .orderBy("doc_id"))

  /** Inverted-index build: one row per term with document frequency and
    * the head of its doc_id-sorted posting list. In production the
    * exploded (term, doc_id) frame — bucketed by term — IS the index
    * (this is how [[bm25]] consumes it: the posting data stays
    * distributed and is equi-joined, never aggregated into driver-sized
    * arrays); the per-term aggregate here is the index-statistics view,
    * with postings capped at 20 ids so no row grows with corpus size.
    * Oracle-checked exactly, postings serialized (the cross-engine
    * comparator hashes scalar columns).
    */
  val qInvertedIndex: QuerySpec = QuerySpec(
    "q_inverted_index",
    Some("""WITH e AS (SELECT DISTINCT t, doc_id FROM
        (SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS t, doc_id
         FROM documents))
      SELECT t AS term, count(*) AS df,
        array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',') AS postings_head
      FROM e GROUP BY t ORDER BY term"""),
    (spark, dir) => {
      val e = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .distinct()
      e.groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(transform(
            slice(sort_array(collect_list(col("doc_id"))), 1, 20),
            _.cast("string")), ",").as("postings_head"))
        .orderBy("term")
    })

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR'09): fuse a lexical BM25 list and a vector cosine list with
    * score = Σ 1/(60 + rank). Ranks are assigned on ROUNDED scores
    * (bm25 4 dp, cosine 6 dp; id tie-break), so the integer ranks —
    * and hence the exact rational RRF scores — are reproducible
    * cross-engine, which is what makes a fused top-k hash-checkable.
    *
    * Scale shape: both input lists are top-k retrievals —
    * `TakeOrderedAndProject`-bounded, never a corpus-wide global
    * window; the rank row_number then runs over ≤ `listK` rows
    * (driver-bounded by construction, the defining property of a
    * retrieval list). The fuse join is list-sized.
    */
  val RrfK = 60

  def qRrfFusion: QuerySpec = QuerySpec(
    "q_rrf_fusion",
    Some("""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM d),
      e AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS t
        FROM d),
      tf AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf FROM e
        WHERE t IN ('spark', 'vector', 'stream') GROUP BY doc_id, dl, t),
      dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
      lex AS (SELECT doc_id,
        round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
          * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4)
          AS bm25
        FROM tf JOIN dfq USING (t), st GROUP BY doc_id),
      lexr AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rl
        FROM lex ORDER BY bm25 DESC, doc_id LIMIT 100),
      emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      probe AS (SELECT v FROM emb WHERE vec_id = 0),
      vec AS (SELECT emb.vec_id,
          round(list_cosine_similarity(emb.v, probe.v), 6) AS sim
        FROM emb, probe),
      vecr AS (SELECT vec_id AS doc_id,
          CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rv
        FROM vec ORDER BY sim DESC, vec_id LIMIT 100)
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        round(coalesce(1.0 / (60 + l.rl), 0) + coalesce(1.0 / (60 + v.rv), 0), 6)
          AS rrf,
        l.rl AS lex_rank, v.rv AS vec_rank
      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
      ORDER BY rrf DESC, doc_id LIMIT 20"""),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val listK = 100
      val lex = bm25(docsFrame(spark, dir), Seq("spark", "vector", "stream"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(listK)
      // the window runs over the ALREADY-bounded list (≤ listK rows) —
      // a single-partition window over a retrieval list, not the corpus
      val lexr = lex
        .withColumn("rl",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("rl"))
      val emb = Tables.load(spark, dir, "embeddings")
      val probe = broadcast(
        emb.filter(col("vec_id") === 0).select(col("embedding").as("pv")))
      val vec = emb.crossJoin(probe)
        .select(col("vec_id"),
          round(graft.functions.GraftFunctions
            .cosineSim(col("embedding"), col("pv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(listK)
      val vecr = vec
        .withColumn("rv",
          row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rv"))
      lexr.join(vecr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(RrfK) + col("rv")), lit(0.0)), 6)
            .as("rrf"),
          col("rl").as("lex_rank"), col("rv").as("vec_rank"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    })

  /** Per-document top-5 keyword extraction by TF-IDF — the cheap
    * content-tagging signal beside BM25's query-time scoring. idf is
    * rounded to 6 dp straight off `ln` (1-ulp libm differences are the
    * same accepted risk class as the LM score's log2); tf is an exact
    * integer, so the product is the identical double in both engines
    * and the (score DESC, term) rank is deterministic.
    *
    * Scale shape: tf and df are the two hash aggs of the inverted-index
    * build; the corpus-size scalar broadcasts as one row; the top-5 rank
    * windows over ONE DOCUMENT's vocabulary at a time — never corpus-
    * wide. Exactly the index-side statistics pipeline, reused as an
    * operator.
    */
  val qTfidfTopk: QuerySpec = QuerySpec(
    "q_tfidf_topk",
    Some("""WITH t AS (SELECT doc_id,
        unnest(regexp_split_to_array(trim(text), ' +')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      sc AS (SELECT tf.doc_id, tf.term,
          tf.tf * round(ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (SELECT doc_id, term, score, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM sc)
      SELECT doc_id, rk, term, round(score, 4) AS score FROM r
      WHERE rk <= 5 ORDER BY doc_id, rk"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = terms.groupBy("term")
        .agg(count_distinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf") * round(log(col("n").cast("double") / col("df")), 6))
            .as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("term"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rk")
    })

  def specs: Seq[QuerySpec] = Seq(qBm25, qInvertedIndex, qRrfFusion, qTfidfTopk)
}
