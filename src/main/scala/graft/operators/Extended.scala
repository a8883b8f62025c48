package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Second-wave operator coverage (SURVEY.md §2.4 remaining aggregates,
  * §2.2 collation mode, §2.8 hash/array functions, §2.10 generators).
  */
object Extended {

  // --- GROUP_CONCAT (MySQL) ≡ ordered listagg ---
  val qGroupConcat: QuerySpec = QuerySpec(
    "q_group_concat",
    Some("""SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names,
      count(*) AS n FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""),
    (spark, dir) => {
      Tables.load(spark, dir, "supplier")
        .groupBy("s_nationkey")
        .agg(concat_ws(",", array_sort(collect_list("s_name"))).as("names"),
             count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    })

  // --- statistical aggregates ---
  val qStatsAgg: QuerySpec = QuerySpec(
    "q_stats_agg",
    Some("""SELECT l_returnflag,
      round(stddev_pop(l_extendedprice), 2) AS sd_pop,
      round(stddev_samp(l_extendedprice), 2) AS sd_samp,
      round(var_pop(l_extendedprice), 2) AS v_pop,
      round(var_samp(l_extendedprice), 2) AS v_samp,
      round(median(l_extendedprice), 4) AS med,
      round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_extendedprice")), 2).as("sd_pop"),
             round(stddev_samp(col("l_extendedprice")), 2).as("sd_samp"),
             round(var_pop(col("l_extendedprice")), 2).as("v_pop"),
             round(var_samp(col("l_extendedprice")), 2).as("v_samp"),
             // 4dp, not 2: quantiles of 2-decimal data are midpoints with a
             // third decimal of exactly 5 — the round(…,2) cross-engine
             // boundary. At 4dp no true digit sits at the boundary.
             round(median(col("l_extendedprice")), 4).as("med"),
             round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
        .orderBy("l_returnflag")
    })

  // --- bit aggregates ---
  val qBitAgg: QuerySpec = QuerySpec(
    "q_bit_agg",
    Some("""SELECT p_brand,
      CAST(bit_and(p_size) AS BIGINT) AS b_and,
      CAST(bit_or(p_size) AS BIGINT) AS b_or,
      CAST(bit_xor(p_size) AS BIGINT) AS b_xor,
      count(*) AS n
      FROM part GROUP BY p_brand ORDER BY p_brand"""),
    (spark, dir) => {
      Tables.load(spark, dir, "part")
        .groupBy("p_brand")
        .agg(bit_and(col("p_size")).cast("bigint").as("b_and"),
             bit_or(col("p_size")).cast("bigint").as("b_or"),
             bit_xor(col("p_size")).cast("bigint").as("b_xor"),
             count(lit(1)).as("n"))
        .orderBy("p_brand")
    })

  // --- approx distinct (HLL) — the sketch value is engine-specific, so
  //     the oracle checks the EXACT side plus an in-engine contract that
  //     the sketch landed within 3×rsd of it (VERDICT r2 item 5): a
  //     hash-green error-bound guarantee instead of a rows-only shrug.
  //     DedupSimilaritySpec additionally asserts the rsd bound directly. ---
  private val approxRsd = 0.05

  val qApproxDistinct: QuerySpec = QuerySpec(
    "q_approx_distinct",
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      true AS within_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), approxRsd).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") <= lit(3 * approxRsd)).as("within_bound"))
        .orderBy("l_returnflag")
    })

  // --- approx percentile (t-digest-style sketch) — same hash-green
  //     error-bound pattern as q_approx_distinct: the sketch value is
  //     engine-specific, so the oracle checks the EXACT quantiles plus
  //     an in-engine contract that the approximation landed between the
  //     exact p±0.01 quantiles (accuracy 10000 → rank error 1e-4,
  //     comfortably inside the band). ---
  val qApproxPercentile: QuerySpec = QuerySpec(
    "q_approx_percentile",
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_extendedprice, 0.49), 4) AS med_lo,
      round(quantile_cont(l_extendedprice, 0.51), 4) AS med_hi,
      true AS within_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap"),
             expr("percentile(l_extendedprice, 0.49)").as("lo"),
             expr("percentile(l_extendedprice, 0.51)").as("hi"))
        .select(col("l_returnflag"),
          round(col("lo"), 4).as("med_lo"),
          round(col("hi"), 4).as("med_hi"),
          col("ap").between(col("lo"), col("hi")).as("within_bound"))
        .orderBy("l_returnflag")
    })

  // --- GROUPING SETS (beyond MySQL's ROLLUP-only surface) ---
  val qGroupingSets: QuerySpec = QuerySpec(
    "q_grouping_sets",
    Some("""SELECT coalesce(o_orderstatus, '*') AS status,
      coalesce(o_orderpriority, '*') AS priority,
      count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority"""),
    (spark, dir) => {
      Tables.registerAll(spark, dir)
      spark.sql("""SELECT coalesce(o_orderstatus, '*') AS status,
        coalesce(o_orderpriority, '*') AS priority,
        count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    })

  // --- case-insensitive collation mode (the reference deploys
  //     utf8_general_ci, mysql-persistent-template.json:238-242; engine
  //     default stays binary, UTF8_LCASE is the opt-in compat mode) ---
  val qCollationCi: QuerySpec = QuerySpec(
    "q_collation_ci",
    Some("""SELECT c_mktsegment, count(*) AS n FROM customer
      WHERE lower(c_mktsegment) = lower('Building')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    (spark, dir) => {
      Tables.load(spark, dir, "customer")
        .filter(collate(col("c_mktsegment"), "UTF8_LCASE") === lit("Building"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    })

  /** Case-insensitive collation BREADTH (VERDICT r10 item 7): MySQL's
    * `utf8_general_ci` default doesn't just compare equal case-blind —
    * it GROUPS, de-duplicates and ORDERS case-blind. Exercised here on
    * deliberately case-mangled data (priority strings upper/lowered by
    * key parity): GROUP BY a `UTF8_LCASE`-collated key collapses the
    * case variants into one group (5 groups, not 10), COUNT(DISTINCT
    * raw) inside each group proves both variants were really present,
    * and the ORDER BY sorts on the collated key. Output is normalized
    * through `lower()` (a CI group's representative is whichever
    * variant arrived first — unstable — so the stable projection is
    * part of correct CI usage) and cast back to a default-collation
    * string so the written schema matches the oracle's VARCHAR. DuckDB
    * oracle via `lower()` normalization — the standard cross-engine
    * encoding of ci semantics.
    */
  val qCollationCiFull: QuerySpec = QuerySpec(
    "q_collation_ci_full",
    Some("""WITH m AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                    ELSE lower(o_orderpriority) END AS prio_raw
        FROM orders)
      SELECT lower(prio_raw) AS prio, count(*) AS n,
        count(DISTINCT prio_raw) AS case_variants
      FROM m GROUP BY lower(prio_raw) ORDER BY prio"""),
    (spark, dir) => {
      val mangled = Tables.load(spark, dir, "orders")
        .select(when(col("o_orderkey") % 2 === 0, upper(col("o_orderpriority")))
          .otherwise(lower(col("o_orderpriority"))).as("prio_raw"))
      mangled
        .groupBy(collate(col("prio_raw"), "UTF8_LCASE").as("k"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("prio_raw")).as("case_variants"))
        .orderBy(col("k")) // CI ordering on the collated key
        .select(lower(col("k")).cast("string").as("prio"),
          col("n"), col("case_variants"))
    })

  /** Case-insensitive collation JOIN — the remaining `utf8_general_ci`
    * surface after equality/GROUP/DISTINCT/ORDER: an equi-join whose
    * key compares case-blind. Fact side carries parity-mangled
    * priority strings (upper/lowered), the dim side a THIRD casing
    * (initcap) with a rank attribute — no pair matches bytewise, every
    * pair matches under `UTF8_LCASE`, so a correct CI join yields
    * exactly the per-rank fact counts. Both keys are collated (mixing
    * a collated and a binary key is an analysis error by design).
    * PlanSpec pins that the collated join still plans as a HASH join —
    * collation must change the comparison, not the join strategy (a
    * collation-forced nested loop would be a scale-killer). DuckDB
    * oracle via `lower()` normalization on both keys.
    */
  val qCollationCiJoin: QuerySpec = QuerySpec(
    "q_collation_ci_join",
    Some("""WITH l AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
               ELSE lower(o_orderpriority) END AS prio_raw
        FROM orders),
      d AS (
        SELECT DISTINCT lower(o_orderpriority) AS prio_key,
          CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_rank
        FROM orders)
      SELECT d.prio_rank AS prio_rank, count(*) AS n
      FROM l JOIN d ON lower(l.prio_raw) = d.prio_key
      GROUP BY d.prio_rank ORDER BY prio_rank"""),
    (spark, dir) => ciJoinPlan(spark, dir))

  /** The collated-join plan, shared by the oracle row and PlanSpec's
    * hash-join guard.
    */
  def ciJoinPlan(spark: org.apache.spark.sql.SparkSession,
                 dir: String): org.apache.spark.sql.DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val mangled = orders.select(col("o_orderkey"),
      when(col("o_orderkey") % 2 === 0, upper(col("o_orderpriority")))
        .otherwise(lower(col("o_orderpriority"))).as("prio_raw"))
    val dim = orders.select(
        initcap(col("o_orderpriority")).as("prio_dim"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("prio_rank"))
      .distinct()
    mangled.join(dim,
        collate(col("prio_raw"), "UTF8_LCASE") ===
          collate(col("prio_dim"), "UTF8_LCASE"))
      .groupBy("prio_rank")
      .agg(count(lit(1)).as("n"))
      .orderBy("prio_rank")
  }

  // --- bivariate statistics (§2.4 depth): correlation, covariance,
  //     least-squares regression over price vs quantity per return
  //     flag. Aggregates of doubles → rounded (summation order varies
  //     across partitionings). ---
  val qCorrRegr: QuerySpec = QuerySpec(
    "q_corr_regr",
    Some("""SELECT l_returnflag,
      round(corr(l_extendedprice, l_quantity), 8) AS price_qty_corr,
      round(covar_pop(l_extendedprice, l_quantity), 4) AS cv_pop,
      round(covar_samp(l_extendedprice, l_quantity), 4) AS cv_samp,
      round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (spark, dir) => {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_extendedprice"), col("l_quantity")), 8).as("price_qty_corr"),
          round(covar_pop(col("l_extendedprice"), col("l_quantity")), 4).as("cv_pop"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cv_samp"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")
    })

  // --- generator / UDTF surface: explode to a word count ---
  val qWordCount: QuerySpec = QuerySpec(
    "q_word_count",
    Some("""SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
            FROM documents)
      GROUP BY tok ORDER BY tok"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
        .orderBy("tok")
    })

  // --- array higher-order functions over embeddings ---
  val qArrayFns: QuerySpec = QuerySpec(
    "q_array_fns",
    Some("""SELECT vec_id,
      CAST(len(embedding) AS INT) AS dim,
      CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INT) AS n_pos,
      round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2,
      round(list_max(CAST(embedding AS DOUBLE[])), 6) AS mx,
      round(list_min(CAST(embedding AS DOUBLE[])), 6) AS mn
      FROM embeddings ORDER BY vec_id"""),
    (spark, dir) => {
      val vd = transform(col("embedding"), x => x.cast("double"))
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          size(filter(vd, x => x > 0)).as("n_pos"),
          round(sqrt(aggregate(vd, lit(0.0), (a, x) => a + x * x)), 6).as("l2"),
          round(array_max(vd), 6).as("mx"),
          round(array_min(vd), 6).as("mn"))
        .orderBy("vec_id")
    })

  // --- hash functions (md5/sha2 shared with DuckDB; sha1/crc32 are
  //     Spark-side extras exercised in unit tests) ---
  val qHashFns: QuerySpec = QuerySpec(
    "q_hash_fns",
    Some("""SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
      FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          md5(col("text")).as("h_md5"),
          sha2(col("text"), 256).as("h_sha256"))
        .orderBy("doc_id")
    })

  // --- three-valued NULL logic + null-safe equality (§2.2; fixtures
  //     carry no NULLs, so nullif manufactures them) ---
  val qNullLogic: QuerySpec = QuerySpec(
    "q_null_logic",
    Some("""SELECT o_orderkey,
      nullif(o_orderstatus, 'P') AS st_n,
      nullif(o_orderstatus, 'P') = 'F' AS eq3,
      nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL AS null_safe_is_null,
      nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F' AS null_safe_eq_f,
      coalesce(nullif(o_orderstatus, 'P'), 'missing') AS filled,
      nullif(o_orderstatus, 'P') IS NULL AS is_n
      FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"""),
    (spark, dir) => {
      val stN = nullif(col("o_orderstatus"), lit("P"))
      Tables.load(spark, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          stN.as("st_n"),
          (stN === "F").as("eq3"),
          stN.eqNullSafe(lit(null).cast("string")).as("null_safe_is_null"),
          stN.eqNullSafe(lit("F")).as("null_safe_eq_f"),
          coalesce(stN, lit("missing")).as("filled"),
          stN.isNull.as("is_n"))
        .orderBy("o_orderkey")
    })

  // --- map functions (§2.8 extension surface; scalar outputs so the
  //     oracle compares plain values) ---
  val qMapFns: QuerySpec = QuerySpec(
    "q_map_fns",
    Some("""SELECT event_id,
      CAST(props->>'$.k' AS INT) AS v1,
      CAST(props->>'$.k' AS INT) * 2 AS v2,
      2 AS m_size,
      'k,k2' AS keys
      FROM events WHERE event_id < 1000 ORDER BY event_id"""),
    (spark, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      val m = map(lit("k"), k, lit("k2"), k * 2)
      Tables.load(spark, dir, "events")
        .filter(col("event_id") < 1000)
        .select(col("event_id"),
          element_at(m, "k").as("v1"),
          element_at(m, "k2").as("v2"),
          size(m).as("m_size"),
          array_join(map_keys(m), ",").as("keys"))
        .orderBy("event_id")
    })

  // --- multiset set ops (§2.7 ALL variants) ---
  val qIntersectAll: QuerySpec = QuerySpec(
    "q_intersect_all",
    Some("""SELECT c_nationkey AS nkey FROM customer
      INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY nkey"""),
    (spark, dir) => {
      Tables.load(spark, dir, "customer").select(col("c_nationkey").as("nkey"))
        .intersectAll(Tables.load(spark, dir, "supplier").select(col("s_nationkey").as("nkey")))
        .orderBy("nkey")
    })

  val qExceptAll: QuerySpec = QuerySpec(
    "q_except_all",
    Some("""SELECT c_nationkey AS nkey FROM customer
      EXCEPT ALL SELECT s_nationkey FROM supplier ORDER BY nkey"""),
    (spark, dir) => {
      Tables.load(spark, dir, "customer").select(col("c_nationkey").as("nkey"))
        .exceptAll(Tables.load(spark, dir, "supplier").select(col("s_nationkey").as("nkey")))
        .orderBy("nkey")
    })

  // --- regexp extraction/counting (§2.8) ---
  val qRegexp: QuerySpec = QuerySpec(
    "q_regexp",
    Some("""SELECT doc_id,
      regexp_extract(text, '([a-z]+)', 1) AS first_word,
      CAST(len(regexp_extract_all(text, 'scan')) AS INT) AS n_scan,
      regexp_matches(text, 'join.*join') AS double_join,
      regexp_replace(substring(text, 1, 40), '[aeiou]', '_', 'g') AS devoweled
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
          size(expr("regexp_extract_all(text, 'scan', 0)")).as("n_scan"),
          col("text").rlike("join.*join").as("double_join"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "_").as("devoweled"))
        .orderBy("doc_id")
    })

  // --- calendar arithmetic (§2.8: add_months / months_between / next_day) ---
  val qDateArith: QuerySpec = QuerySpec(
    "q_date_arith",
    Some("""SELECT o_orderkey,
      CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
      CAST(datediff('month', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT) AS months_to,
      CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
      CAST(dayofweek(o_orderdate) AS INT) AS dow_sun0
      FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey"""),
    (spark, dir) => {
      // Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0 → align
      Tables.load(spark, dir, "orders")
        .filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          (months_between(lit(java.sql.Timestamp.valueOf("2002-01-01 00:00:00")),
            date_trunc("month", col("o_orderdate"))).cast("int")).as("months_to"),
          date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
          (dayofweek(col("o_orderdate")) - 1).as("dow_sun0"))
        .orderBy("o_orderkey")
    })

  // --- second string-function wave (§2.8: translate/ascii/chr/repeat/
  //     char-trims; initcap deliberately absent — no DuckDB analog) ---
  val qStringMore: QuerySpec = QuerySpec(
    "q_string_more",
    Some("""SELECT doc_id,
      translate(source, 'rs', 'xy') AS tr,
      CAST(ascii(lang) AS INT) AS asc_l,
      chr(ascii(lang) + 1) AS next_ch,
      repeat(lang, 3) AS rep3,
      trim(source, 's') AS trim_s,
      ltrim(source, 's') AS ltrim_s,
      rtrim(source, '0123456789') AS rtrim_d
      FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
    (spark, dir) => {
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          translate(col("source"), "rs", "xy").as("tr"),
          ascii(col("lang")).as("asc_l"),
          expr("char(ascii(lang) + 1)").as("next_ch"),
          repeat(col("lang"), 3).as("rep3"),
          expr("trim(BOTH 's' FROM source)").as("trim_s"),
          expr("trim(LEADING 's' FROM source)").as("ltrim_s"),
          expr("trim(TRAILING '0123456789' FROM source)").as("rtrim_d"))
        .orderBy("doc_id")
    })

  // --- second array wave (§2.8: sequence/flatten/slice/reverse/
  //     position/exists). Array outputs are serialized to strings: the
  //     driver's comparator (pandas sort) crashes on raw array cells
  //     (CORRECTNESS_r01 red row). Integer arrays join directly; the
  //     float32 slices are first mapped through floor(x*1000) — floor of
  //     identical IEEE doubles is engine-identical, so the string is
  //     boundary-free (round() would not be). ---
  val qArrayMore: QuerySpec = QuerySpec(
    "q_array_more",
    Some("""SELECT vec_id,
      array_to_string(generate_series(1, 5), ',') AS seq5,
      array_to_string(generate_series(0, CAST(label AS BIGINT), 2), ',') AS evens,
      array_to_string(flatten([[label], [label + 1]]), ',') AS flat,
      array_to_string(h4, ',') AS head4,
      array_to_string(list_reverse(h4), ',') AS head4_rev,
      CAST(list_position(embedding, embedding[2]) AS BIGINT) AS pos2,
      len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.2)) > 0 AS any_big
      FROM (SELECT *, list_transform(embedding[1:4],
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS h4
            FROM embeddings)
      WHERE vec_id < 100 ORDER BY vec_id"""),
    (spark, dir) => {
      val h4 = transform(slice(col("embedding"), 1, 4),
        x => floor(x.cast("double") * 1000).cast("long"))
      Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          array_join(sequence(lit(1L), lit(5L)), ",").as("seq5"),
          array_join(sequence(lit(0L), col("label").cast("long"), lit(2L)), ",").as("evens"),
          array_join(flatten(array(array(col("label")), array(col("label") + 1))), ",")
            .as("flat"),
          array_join(h4, ",").as("head4"),
          array_join(reverse(h4), ",").as("head4_rev"),
          array_position(col("embedding"), element_at(col("embedding"), 2)).as("pos2"),
          exists(transform(col("embedding"), x => x.cast("double")), x => x > 0.2)
            .as("any_big"))
        .orderBy("vec_id")
    })

  def specs: Seq[QuerySpec] = Seq(
    qGroupConcat, qStatsAgg, qBitAgg, qApproxDistinct, qApproxPercentile,
    qGroupingSets,
    qCollationCi, qCollationCiFull, qCollationCiJoin, qCorrRegr,
    qWordCount, qArrayFns,
    qHashFns, qNullLogic,
    qMapFns, qIntersectAll, qExceptAll, qRegexp, qDateArith, qStringMore,
    qArrayMore)
}
