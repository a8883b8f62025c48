package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned corpus-curation models (SURVEY.md §2.11): operators that
  * TRAIN a statistical model on one slice of the corpus and SCORE the
  * rest with it — the "model-based filtering" stage of LLM data
  * pipelines, next to the rule-based signals in [[TextOps]]
  * (Gopher rules, stopword ratios) and the self-scored LM in
  * [[TextOps.qNgramLmScore]].
  *
  *  - [[nbClassify]]: multinomial Naive Bayes with add-one smoothing,
  *    trained on the portable train split, predicting a label for every
  *    held-out document — the quality/domain-classifier shape
  *    (a fastText/logistic stand-in whose train AND inference are pure
  *    relational algebra, so the whole fit is oracle-checkable).
  *  - [[dsirSelect]]: Data Selection via Importance Resampling
  *    (Xie et al. 2023) — hashed unigram+bigram bucket distributions
  *    for a target domain vs the raw pool, per-document log importance
  *    weights, and seeded-Gumbel top-k sampling.
  *
  * Cross-engine float discipline (stricter than the round-the-sum rule
  * used where term counts are ≤3): every per-token/per-bucket log term
  * is rounded ONCE to integer micro-nats (`round(ln(·)·1e6)` — a single
  * libm call on identical doubles in both engines), and everything
  * after that — document sums, priors, arg-max, top-k — is exact
  * 64-bit integer arithmetic, so no summation order or boundary tie can
  * differ between Spark and the oracle.
  *
  * Scale shape: model tables are vocabulary- or bucket-sized (the 512
  * DSIR buckets broadcast; the NB class table broadcasts; the per-class
  * token table shuffles on its own key), the corpus is touched by
  * narrow explodes and keyed aggregations only — no all-pairs, no
  * driver-side data. Reference basis: provisioned-capability extension
  * (the reference deploys a relational tier, SURVEY §0; these rows are
  * the north-star LLM-pipeline band).
  */
object Classify {

  /** Micro-nat fixed-point of `ln(x)`: one rounded libm call, then
    * integers only.
    */
  private def microLn(x: Column): Column =
    round(log(x) * 1000000.0).cast("long")

  /** Portable bucket in [0, m) — md5-derived like
    * [[Splits.portableBucket]] but with a caller-chosen modulus.
    */
  private def md5Mod(salt: String, key: Column, m: Int): Column =
    (conv(substring(md5(concat_ws("|", lit(salt), key)), 1, 8), 16, 10)
      .cast("long") % m)

  /** Seeded uniform in (0,1) — the [[Privacy]] derivation (SHA-256 →
    * first 8 hex chars → offset-midpoint), reproducible in any engine.
    */
  private def seededUniform(seed: String, key: Column): Column =
    (conv(substring(sha2(concat_ws("|", lit(seed), key), 256), 1, 8),
      16, 10).cast("long").cast("double") + 0.5) / 4294967296.0

  /** Multinomial Naive Bayes: train on `docs` rows with
    * (label, toks), score `test` rows (id, toks); returns one row per
    * test doc: (id, pred, score_u) where score_u is the winning
    * class's posterior in micro-nats (prior + Σ per-occurrence
    * log-likelihood; add-one smoothing over the train vocabulary;
    * out-of-vocabulary tokens are dropped — the standard multinomial-NB
    * treatment, stated rather than hidden). Arg-max ties break on the
    * label's lexicographic order.
    */
  def nbClassify(train: DataFrame, test: DataFrame,
                 labelCol: String = "label", toksCol: String = "toks",
                 idCol: String = "id"): DataFrame = {
    // a NULL array element is no token: it counts neither in the
    // vocabulary nor in a class's token total
    val tok = train.select(col(labelCol).as("lang"),
      explode(col(toksCol)).as("t")).filter(col("t").isNotNull)
    // the ONLY aggregation over the exploded train corpus (guide §2.3):
    // vocabulary (vt/voc) and the per-class totals (tc) all derive from
    // these (class, token) counts — exactly equivalent (ct holds every
    // distinct train token), where deriving them from `tok` re-ran the
    // explode per consumer. The consumers do not all reuse ct's
    // exchange: a profile of q_nb_classify at sf0.1 ran the train
    // explode 4 times (5 Generate nodes, 1 over the test split).
    val ct = tok.groupBy("lang", "t").agg(count(lit(1)).as("n_ct"))
    val cls = train.groupBy(col(labelCol).as("lang"))
      .agg(count(lit(1)).as("d_c"))
    val dAll = cls.agg(sum("d_c").as("d_all"))
    val tc = ct.groupBy("lang").agg(sum("n_ct").as("t_c"))
    val vt = ct.select("t").distinct()
    val voc = vt.agg(count(col("t")).as("v"))
    // per-class scalars: log prior + the unseen-in-class (count 0 + 1
    // smoothing) default, both in micro-nats — #classes rows, broadcast
    val pri = cls.join(tc, "lang")
      .crossJoin(broadcast(dAll)).crossJoin(broadcast(voc))
      .select(col("lang"),
        microLn(col("d_c").cast("double") / col("d_all")).as("prior_u"),
        microLn(lit(1.0) / (col("t_c") + col("v"))).as("dflt_u"),
        col("t_c"), col("v"))
    // per-(class, seen-token) log-likelihood — |ct| rows, stays keyed
    val llc = ct.join(broadcast(pri.select("lang", "t_c", "v")), "lang")
      .select(col("lang"),
        col("t"),
        microLn((col("n_ct") + 1.0) / (col("t_c") + col("v"))).as("ll_u"))
    val tet = test.select(col(idCol).as("doc_id"), explode(col(toksCol)).as("t"))
      .join(vt, Seq("t"), "left_semi") // OOV dropped
    val terms = tet
      .crossJoin(broadcast(pri.select(col("lang").as("cand"), col("dflt_u"))))
      .join(llc.select(col("lang").as("cand"), col("t"), col("ll_u")),
        Seq("cand", "t"), "left")
      .select(col("doc_id"), col("cand"),
        coalesce(col("ll_u"), col("dflt_u")).as("term_u"))
    val sums = terms.groupBy("doc_id", "cand").agg(sum("term_u").as("sum_u"))
    // all-OOV docs still get a prior-only score for every class
    val base = test.select(col(idCol).as("doc_id"))
      .crossJoin(broadcast(pri.select(col("lang").as("cand"), col("prior_u"))))
    val fin = base.join(sums, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"),
        col("cand"),
        (col("prior_u") + coalesce(col("sum_u"), lit(0L))).as("score_u"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_u").desc, col("cand").asc)
    fin.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("doc_id").as(idCol), col("cand").as("pred"), col("score_u"))
  }

  /** NB language classifier over the standard portable split (train =
    * bucket ≥ 20, test = bucket < 20 — the same md5 split
    * `q_train_test_split` publishes), label = `lang`. The oracle
    * re-runs the ENTIRE fit — priors, smoothing denominators, vocab,
    * per-occurrence sums, arg-max — from the raw table, so the hash
    * pins training and inference, not just the emission.
    */
  val qNbClassify: QuerySpec = QuerySpec(
    "q_nb_classify",
    Some("""WITH d AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), ' +') AS toks,
        CAST(('0x' || substr(md5('graft-split-v1' || '|' ||
          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents),
      tr AS (SELECT * FROM d WHERE b >= 20),
      te AS (SELECT * FROM d WHERE b < 20),
      tok AS (SELECT lang, unnest(toks) AS t FROM tr),
      ct AS (SELECT lang, t, count(*) AS n_ct FROM tok GROUP BY lang, t),
      cls AS (SELECT lang, count(*) AS d_c FROM tr GROUP BY lang),
      tota AS (SELECT CAST(sum(d_c) AS BIGINT) AS d_all FROM cls),
      tc AS (SELECT lang, CAST(sum(n_ct) AS BIGINT) AS t_c FROM ct GROUP BY lang),
      voc AS (SELECT count(DISTINCT t) AS v FROM tok),
      pri AS (SELECT cls.lang,
          CAST(round(ln(CAST(d_c AS DOUBLE) / d_all) * 1000000) AS BIGINT) AS prior_u,
          CAST(round(ln(1.0 / (t_c + v)) * 1000000) AS BIGINT) AS dflt_u,
          t_c, v
        FROM cls JOIN tc ON cls.lang = tc.lang CROSS JOIN tota CROSS JOIN voc),
      llc AS (SELECT ct.lang, ct.t,
          CAST(round(ln((n_ct + 1.0) / (p.t_c + p.v)) * 1000000) AS BIGINT) AS ll_u
        FROM ct JOIN pri p ON ct.lang = p.lang),
      vt AS (SELECT DISTINCT t FROM tok),
      tet AS (SELECT doc_id, unnest(toks) AS t FROM te),
      tiv AS (SELECT tet.* FROM tet SEMI JOIN vt ON tet.t = vt.t),
      terms AS (SELECT tiv.doc_id, p.lang AS cand,
          COALESCE(l.ll_u, p.dflt_u) AS term_u
        FROM tiv CROSS JOIN pri p
        LEFT JOIN llc l ON l.lang = p.lang AND l.t = tiv.t),
      sums AS (SELECT doc_id, cand, CAST(sum(term_u) AS BIGINT) AS sum_u
        FROM terms GROUP BY doc_id, cand),
      base AS (SELECT te.doc_id, te.lang AS true_lang, p.lang AS cand,
          p.prior_u FROM te CROSS JOIN pri p),
      fin AS (SELECT b.doc_id, b.true_lang, b.cand,
          b.prior_u + COALESCE(s.sum_u, 0) AS score_u
        FROM base b LEFT JOIN sums s
          ON s.doc_id = b.doc_id AND s.cand = b.cand),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score_u DESC, cand) AS r FROM fin)
      SELECT doc_id, true_lang, cand AS pred_lang, score_u
      FROM rk WHERE r = 1 ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"),
          Splits.portableBucket(col("doc_id").cast("string"),
            "graft-split-v1").as("b"))
      val tr = docs.filter(col("b") >= 20)
        .select(col("lang").as("label"), col("toks"))
      val te = docs.filter(col("b") < 20)
      nbClassify(tr, te.select(col("doc_id").as("id"), col("toks")),
        idCol = "id")
        .join(te.select(col("doc_id"), col("lang").as("true_lang")),
          col("id") === col("doc_id"))
        .select(col("doc_id"), col("true_lang"), col("pred").as("pred_lang"),
          col("score_u"))
        .orderBy("doc_id")
    })

  /** DSIR importance weights + seeded-Gumbel top-k selection.
    *
    * Features are hashed unigram and bigram buckets (`nBuckets`,
    * md5-portable); the target and raw categorical distributions are
    * add-one smoothed over the buckets; a candidate document's log
    * importance weight is Σ_b count_b · (ln p̂_target(b) − ln p̂_raw(b))
    * in micro-nats. Sampling follows the paper: Gumbel noise on the log
    * weight, take the top k — here the Gumbel is SEEDED per doc id
    * (the [[Privacy]] SHA-256 uniform), so the drawn set is a pure
    * function of the data and the seed.
    *
    * `target`/`raw` are predicates over the corpus frame; raw docs are
    * the selection pool. The corpus is tokenized and hashed ONCE into a
    * per-(doc, bucket) count frame (materialized — ≤ |docs| × nBuckets
    * rows); one conditional aggregation over it builds BOTH
    * distributions (bucket-sized output, broadcast back), one keyed
    * aggregation weighs the pool — never shuffled on a data-sized key
    * other than doc_id.
    */
  def dsirSelect(docs: DataFrame, target: Column, k: Int,
                 nBuckets: Int = 512, seed: String = "graft-dsir-v1",
                 toksCol: String = "toks", idCol: String = "doc_id")
      : DataFrame = {
    val toks = col(toksCol)
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (x, y) => concat_ws(" ", x, y))
    val fb = docs.select(col(idCol), target.as("is_t"),
        explode(concat(toks, bigrams)).as("f"))
      .select(col(idCol), col("is_t"),
        md5Mod(seed, col("f"), nBuckets).as("bkt"))
    // per-(doc, bkt) occurrence counts, materialized ONCE (guide §2.3/
    // §2.4): both consumers below — the bucket distributions and the
    // pool weighing — previously re-ran the tokenize + md5 explode over
    // the whole corpus. The counts frame is ≤ |docs| × nBuckets rows
    // (each doc touches at most nBuckets distinct buckets), far
    // narrower than the exploded occurrences, and every downstream
    // value is an exact integer fold of it: ct/cr sum the counts,
    // logw_u = Σ_occurrence l_u(bkt) = Σ_bkt c · l_u(bkt).
    val g = fb.groupBy(col(idCol), col("is_t"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cnt = g.groupBy("bkt").agg(
      sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(col("c"))).as("cr"))
    val tot = cnt.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    // one round of the DIFFERENCE (mirrors the oracle's expression tree
    // exactly — rounding each log separately could differ by 1 µnat)
    val l = cnt.crossJoin(broadcast(tot))
      .select(col("bkt"),
        round((log((col("ct") + 1.0) / (col("tt") + nBuckets)) -
          log((col("cr") + 1.0) / (col("tr") + nBuckets))) * 1000000.0)
          .cast("long").as("l_u"))
    val dw = g.filter(!col("is_t"))
      .join(broadcast(l), "bkt")
      .groupBy(idCol).agg(sum(col("c") * col("l_u")).as("logw_u"))
    dw.withColumn("z_u",
        col("logw_u") + round(-log(-log(
          seededUniform(seed, col(idCol).cast("string")))) * 1000000.0)
          .cast("long"))
      .orderBy(col("z_u").desc, col(idCol)).limit(k)
  }

  /** DSIR selection of 200 non-English documents that look most like
    * the English slice (target = lang 'en', pool = the rest). The
    * oracle rebuilds hashing, both smoothed distributions, every log
    * weight, the seeded Gumbel draw, and the top-k cut — selection is
    * decided on exact integers, so the k-boundary cannot flip on an
    * ulp.
    */
  val qDsirSelect: QuerySpec = QuerySpec(
    "q_dsir_select",
    Some("""WITH t AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
      un AS (SELECT doc_id, lang, unnest(toks) AS f FROM t),
      bgp AS (SELECT doc_id, lang, unnest(toks[1:len(toks)-1]) AS w1,
          unnest(toks[2:len(toks)]) AS w2 FROM t),
      bg AS (SELECT doc_id, lang, w1 || ' ' || w2 AS f FROM bgp),
      fb AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5('graft-dsir-v1' || '|' || f), 1, 8))
            AS BIGINT) % 512 AS bkt
        FROM (SELECT * FROM un UNION ALL SELECT * FROM bg)),
      cnt AS (SELECT bkt,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        FROM fb GROUP BY bkt),
      tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
          CAST(sum(cr) AS BIGINT) AS tr FROM cnt),
      l AS (SELECT bkt,
          CAST(round((ln((ct + 1.0) / (tt + 512))
            - ln((cr + 1.0) / (tr + 512))) * 1000000) AS BIGINT) AS l_u
        FROM cnt, tot),
      dw AS (SELECT fb.doc_id, fb.lang,
          CAST(sum(l.l_u) AS BIGINT) AS logw_u
        FROM fb JOIN l USING (bkt) WHERE fb.lang <> 'en'
        GROUP BY fb.doc_id, fb.lang),
      g AS (SELECT doc_id, lang, logw_u,
          logw_u + CAST(round(-ln(-ln(
            (('0x' || substr(sha256('graft-dsir-v1' || '|' ||
              CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
              / 4294967296.0)) * 1000000) AS BIGINT) AS z_u
        FROM dw),
      sel AS (SELECT * FROM g ORDER BY z_u DESC, doc_id LIMIT 200)
      SELECT doc_id, lang, logw_u, z_u FROM sel ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
      dsirSelect(docs.select(col("doc_id"), col("lang"), col("toks")),
        target = col("lang") === "en", k = 200)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "logw_u", "z_u")
        .orderBy("doc_id")
    })

  def specs: Seq[QuerySpec] = Seq(qNbClassify, qDsirSelect)
}
