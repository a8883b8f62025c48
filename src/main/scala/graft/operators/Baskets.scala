package graft.operators

import graft.QuerySpec
import graft.functions.GraftFunctions
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Co-occurrence analytics and entity resolution: market-basket
  * association rules over order lineitems and blocked fuzzy record
  * linkage over customer names. Both are "pair generation bounded by a
  * key" plans — the basket self-join is keyed on the order (pairs per
  * order ≤ basket²; TPC-H-ish baskets are ≤13 items) and the linkage
  * join is keyed on a blocking key, so neither ever goes corpus×corpus.
  */
object Baskets {

  /** Association rules over a (basket, item) relation (one row per
    * DISTINCT basket-item membership): pairs with support count ≥
    * `minSupport`, plus support / confidence / lift. See qBasketRules
    * for the determinism and scale arguments.
    *
    * Eager and lineage-free: the per-basket item arrays are
    * `localCheckpoint`ed, so calling `rules` runs a Spark job at
    * DataFrame construction even if the result is never used, and the
    * checkpointed blocks carry no lineage — losing an executor fails
    * the job instead of recomputing it. That fits local mode; on a
    * cluster this is a persist(MEMORY_AND_DISK) or a parquet-staged
    * basket table, the same derive-once shape (as `Graph.triangleStats`).
    */
  def rules(ob: org.apache.spark.sql.DataFrame, minSupport: Int)
      : org.apache.spark.sql.DataFrame = {
    // Pair generation as group-then-expand, not a self-join (r17 —
    // the q_triangles/copurchaseEdges move, guide §2.3/§2.4): the
    // ob ⋈ ob form moved the membership relation across the network
    // twice, and n / bc re-derived ob's upstream build (fact ⋈ dim +
    // distinct) twice more — 20 parquet scans in the pre-r17 plan.
    // One aggregation keyed on the basket materializes per-basket
    // SORTED item arrays; the basket count, the per-item counts AND
    // the pair expansion all derive from it, so the upstream build
    // runs once and nothing else shuffles basket-sized data.
    // Pair equivalence: ob is one row per DISTINCT (basket, item) by
    // contract, so over each sorted array the position pairs (i < j,
    // guarded y > x) realize every item_a < item_b pair exactly once —
    // the join's output verbatim. Per-basket blowup is C(k,2), bounded
    // by basket size exactly as the join's was.
    // a NULL basket is no basket and a NULL item no item: neither
    // forms pairs nor counts toward n_baskets
    val g = ob.filter(col("basket").isNotNull && col("item").isNotNull)
      .groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .localCheckpoint()
    val n = g.agg(count(lit(1)).as("n_baskets"))
    val bc = g.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_b"))
    g.select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(filter(slice(items, i + 2, size(items)), y -> y > x),
          |            y -> struct(x AS item_a, y AS item_b))))""".stripMargin))
        .as("e"))
      .select(col("e.item_a").as("item_a"), col("e.item_b").as("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
      .join(broadcast(bc.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_b", "na")), "item_a")
      .join(broadcast(bc.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_b", "nb")), "item_b")
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_baskets"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("na"), 6).as("confidence"),
        // exact-int64 products are safe up to n_baskets ≈ 3.0e9 (see
        // qBasketRules scaladoc); past that fail fast like the oracle
        // would, instead of wrapping silently
        round(when(col("n_baskets") <= lit(3037000499L),
            (col("n_ab") * col("n_baskets")).cast("double") /
              (col("na") * col("nb")))
          .otherwise(raise_error(lit(
            "Baskets.rules: n_baskets > 3.0e9 — int64 lift product would overflow; pre-aggregate or cast before multiplying"))),
          6).as("lift"))
  }

  /** Best-match blocked linkage: candidates are (dirty ⋈ clean) on the
    * blocking key, scored with the DuckDB-parity Jaro-Winkler rounded
    * to 4 dp, thresholded, and reduced to the top candidate per dirty
    * record with a (score DESC, key) tie-break. Inputs:
    * dirty(did, block, dname), clean(ckey, block, cname).
    */
  def linkBest(dirty: org.apache.spark.sql.DataFrame,
               clean: org.apache.spark.sql.DataFrame,
               threshold: Double): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("did").orderBy(col("jw").desc, col("ckey"))
    dirty.join(clean, "block")
      .select(col("did"), col("ckey"),
        round(GraftFunctions.jaroWinkler(col("dname"), col("cname")), 4)
          .as("jw"))
      .filter(col("jw") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("did"), col("ckey").as("matched_key"), col("jw"))
  }

  /** Brand-level association rules (support / confidence / lift) with
    * minimum pair support 20. Items are brands (via the part dim) so
    * the rule space is |brands|² and the statistics are dense.
    *
    * Determinism: n_ab / n_a / n_b / n_baskets are exact integers; each
    * output ratio is ONE double division (the lift numerator and
    * denominator multiply exactly in int64 first), so both engines
    * compute the identical IEEE double before the 6 dp round.
    *
    * Overflow bound on the int64 lift products: n_ab ≤ min(n_a, n_b) ≤
    * n_baskets, so both products are ≤ n_baskets² and exact while
    * n_baskets < 2³¹·√2 ≈ 3.0e9 baskets. Beyond that Spark would wrap
    * silently where DuckDB raises, so [[rules]] fails fast instead: it
    * asserts the bound once from the (already computed) basket count.
    * Corpora past 3e9 baskets should pre-aggregate by basket shard or
    * accept one ULP by casting before the multiply.
    *
    * Scale shape: the brand dictionary is a 2-column projection of the
    * part dim (broadcastable; at warehouse scale the lineitem⋈part hop
    * is the usual dim join). Baskets deduplicate through one hash agg
    * keyed (order, brand); the fact table then crosses the network
    * ONCE into per-basket sorted arrays (r17 — see [[rules]]) whose
    * codegen expansion fans out at most basket² pairs per order; rule
    * stats are a |brands|²-row hash agg with the per-brand counts
    * broadcast back.
    */
  val qBasketRules: QuerySpec = QuerySpec(
    "q_basket_rules",
    Some("""WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM ob),
      bc AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
      pc AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
          count(*) AS n_ab
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2)
      SELECT pc.brand_a, pc.brand_b, pc.n_ab,
        round(CAST(pc.n_ab AS DOUBLE) / n.n_baskets, 6) AS support,
        round(CAST(pc.n_ab AS DOUBLE) / ba.n_b, 6) AS confidence,
        round(CAST(pc.n_ab * n.n_baskets AS DOUBLE) / (ba.n_b * bb.n_b), 6)
          AS lift
      FROM pc JOIN bc ba ON pc.brand_a = ba.p_brand
        JOIN bc bb ON pc.brand_b = bb.p_brand CROSS JOIN n
      WHERE pc.n_ab >= 20
      ORDER BY brand_a, brand_b"""),
    (spark, dir) => {
      val ob = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.load(spark, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
        .distinct()
      rules(ob, minSupport = 20)
        .select(col("item_a").as("brand_a"), col("item_b").as("brand_b"),
          col("n_ab"), col("support"), col("confidence"), col("lift"))
        .orderBy("brand_a", "brand_b")
    })

  /** Blocked fuzzy record linkage: a deterministically-dirtied copy of
    * the customer table (three perturbation classes by key mod — a
    * dropped character, a transposition, a delimiter swap; all
    * prefix-side, so suffix blocking stays sound) is linked back to the
    * clean table by Jaro-Winkler score within (nationkey, last-char)
    * blocks. Both engines derive the identical dirty strings with pure
    * string ops, so the link table is fully oracle-checkable — the
    * codegen'd JaroWinkler expression is DuckDB-parity (q_jaro_winkler
    * pins that cross-engine at 4 dp).
    *
    * Candidates are ranked on the ROUNDED score (4 dp) with the
    * custkey tie-break, so rank order can't flip on a sub-ulp
    * difference.
    *
    * Scale shape: the join is keyed on the blocking key (one shuffle
    * each side — at production scale the blocking key comes from a
    * phonetic/fingerprint function, same plan); JW only scores within
    * blocks, and the best-match window partitions per dirty record over
    * block-sized candidate lists, never globally.
    */
  val qRecordLinkage: QuerySpec = QuerySpec(
    "q_record_linkage",
    Some("""WITH dirty AS (SELECT c_custkey AS did, c_nationkey,
        CASE WHEN c_custkey % 3 = 0
               THEN replace(c_name, 'Customer#', 'Cstomer#')
             WHEN c_custkey % 3 = 1
               THEN concat(substr(c_name, 2, 1), substr(c_name, 1, 1),
                           substr(c_name, 3, 64))
             ELSE replace(c_name, '#', '-') END AS dname
        FROM customer),
      cand AS (SELECT d.did, c.c_custkey,
          round(jaro_winkler_similarity(d.dname, c.c_name), 4) AS jw
        FROM dirty d JOIN customer c
          ON d.c_nationkey = c.c_nationkey
         AND right(d.dname, 1) = right(c.c_name, 1)),
      best AS (SELECT did, c_custkey, jw, row_number() OVER (
          PARTITION BY did ORDER BY jw DESC, c_custkey) AS rk
        FROM cand WHERE jw >= 0.85)
      SELECT did, c_custkey AS matched_key, jw
      FROM best WHERE rk = 1 ORDER BY did"""),
    (spark, dir) => {
      val cust = Tables.load(spark, dir, "customer")
      val dirty = cust.select(col("c_custkey").as("did"),
        when(col("c_custkey") % 3 === 0,
            regexp_replace(col("c_name"), "Customer#", "Cstomer#"))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("c_name"), 2, 1),
              substring(col("c_name"), 1, 1),
              substring(col("c_name"), 3, 64)))
          .otherwise(regexp_replace(col("c_name"), "#", "-")).as("dname"),
        col("c_nationkey"))
        .select(col("did"), col("dname"),
          concat(col("c_nationkey"), lit("|"), expr("right(dname, 1)"))
            .as("block"))
      val clean = cust.select(col("c_custkey").as("ckey"),
        col("c_name").as("cname"),
        concat(col("c_nationkey"), lit("|"), expr("right(c_name, 1)"))
          .as("block"))
      linkBest(dirty, clean, threshold = 0.85).orderBy("did")
    })

  def specs: Seq[QuerySpec] = Seq(qBasketRules, qRecordLinkage)
}
