package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, VectorOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Plan-quality regression guards (SURVEY.md §4): the optimizations the
  * engine depends on must be visible in the physical plan, not assumed.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val p = plan(Relational.q1PricingSummary.run(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(600))
  }

  test("q5: tiny dims broadcast; region IN-filter pushed") {
    val p = plan(Relational.q5RegionRevenue.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("In(r_name, [ASIA,EUROPE])"), p.take(600))
  }

  test("collated CI join stays a hash join — collation changes comparison, not strategy") {
    // a collation-forced BroadcastNestedLoopJoin would turn every
    // CI-keyed join into an O(n*m) scan at scale; UTF8_LCASE keys must
    // still hash-partition/broadcast like binary ones
    val p = plan(graft.operators.Extended.ciJoinPlan(spark, sf))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      p.take(800))
  }

  test("q_join_waiting: dims broadcast, keyed semi/anti self-joins, no nested-loop") {
    // the Q21-shaped 6-relation query is the CBO stress case: the guard
    // pins the properties that keep it alive at 100 TB — small dims go
    // broadcast, the lineitem self-probes stay EQUI-keyed on l_orderkey
    // (semi + anti with the lateness predicate as a join filter, never a
    // per-row subquery or nested loop), and nothing plans cartesian.
    val p = plan(Relational.qJoinWaiting.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("LeftAnti"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("runtime bloom-filter pruning injects on a selective fact join") {
    // §4 runtime row-level filtering: a selective filter on one join
    // side should induce a bloom filter applied to the other side's
    // scan, cutting shuffled fact rows before the join. Default
    // thresholds target cluster-scale tables (application side > 10 GB),
    // so they are lowered to fixture scale for the guard — the capability
    // and plan shape are what's pinned, production keeps the defaults.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // bloom injection targets SHUFFLE joins (a broadcastable creation
      // side already prunes via the broadcast); fixture dims always
      // broadcast, so force the shuffle-join shape the rule serves
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val sel = Tables.load(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000.0) // highly selective
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), p.take(1000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("banded interval join stays equi-keyed — no nested loop") {
    // the whole point of banding a point-in-interval join: the plan
    // must key on the time bin, never fall back to the O(n×m) nested
    // loop a raw BETWEEN theta join plans as
    val p = plan(graft.operators.EventOps.qIntervalJoin.run(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopK.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("scan reads only referenced columns (column pruning)") {
    val df = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p.take(400))
  }

  test("cosine expression participates in codegen (no fallback marker)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val df = VectorOps.topK(emb.filter(col("vec_id") < 2), emb, 3)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("cosine_sim"))
    // the property that matters: none of our custom expressions fall
    // back to interpreted eval (CodegenFallback)
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val nl = Literal(null)
    Seq(
      CosineSimilarity(nl, nl),
      SelfCosine(nl),
      SortedIntersectCount(nl, nl),
      SortedIntIntersectCount(nl, nl),
      ArrayEqCount(nl, nl),
      Simhash64(nl),
      MinhashSignature(nl, 64),
      JaroWinkler(nl, nl)
    ).foreach(e => assert(!e.isInstanceOf[CodegenFallback], e.prettyName))
  }

  test("IVF search prunes cell partitions dynamically (DPP fires)") {
    import graft.operators.Ivf
    val path = Ivf.ensureIndex(spark, sf)
    val probes = Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 3)
    val df = Ivf.searchIndex(spark, path, probes, 3)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the corpus (cells) scan must carry a dynamic pruning expression on
    // cid — a probe reads only its nProbe cells from disk
    assert(formatted.contains("dynamicpruning"), formatted.take(1200))
  }

  test("edit-distance band predicate lands in the join, not a post-filter") {
    val p = plan(graft.operators.TextOps.qEditDistance.run(spark, sf))
    // the length band must prune INSIDE the nested-loop join condition
    // (O(V×band)), not after levenshtein ran over the full V² cross
    val joinLine = p.linesIterator.find(_.contains("NestedLoopJoin")).getOrElse("")
    assert(joinLine.contains("abs(") && joinLine.contains("length("), p.take(800))
  }

  test("LshSignature participates in codegen; SQL entry plans like the DSL") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    assert(!graft.functions.LshSignature(Literal(null), 8)
      .isInstanceOf[CodegenFallback])
    // SQL-text q5 gets the same physical shape as the DSL flagship:
    // broadcast joins for the dims, pushed region filter
    val p = plan(graft.operators.SqlEntry.q5Sql.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("SimplifySelfCosine rewrites the self-similarity diagonal to SelfCosine") {
    import graft.functions.GraftFunctions
    val emb = Tables.load(spark, sf, "embeddings")
    val df = emb.select(
      GraftFunctions.cosineSim(col("embedding"), col("embedding")).as("self"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("self_cosine"), optimized.take(400))
    assert(!optimized.contains("cosine_sim("), optimized.take(400))
    // d/(√d·√d) is 1.0 ± 1 ulp on real vectors (sqrt rounding) — that's
    // the *correct* value of cosine_sim(x,x); the old literal-1.0 fold
    // was the approximation.
    val vals = df.limit(5).collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12), vals.mkString(","))
  }

  test("SimplifySelfCosine preserves degenerate-vector semantics (NaN, NULL)") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(0.0f, 0.0f))), // zero norm → 0/0 = NaN
      (2L, Some(Seq.empty[Float])), // empty → NaN
      (3L, None), // NULL in → NULL out
      (4L, Some(Seq(0.5f, 0.25f))) // normal → 1.0
    ).toDF("id", "v")
      .select(col("id"), GraftFunctions.cosineSim(col("v"), col("v")).as("s"))
    // (no plan assert here: ConvertToLocalRelation folds the projection
    // into the LocalRelation, evaluating SelfCosine at optimize time —
    // which also exercises its interpreted eval path)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getDouble(1).isNaN)
    assert(rows(1).getDouble(1).isNaN)
    assert(rows(2).isNullAt(1))
    assert(math.abs(rows(3).getDouble(1) - 1.0) < 1e-12) // 1.0 ± ulp of √ rounding
  }

  test("bm25 top-k plans as TakeOrderedAndProject; no cartesian blowup") {
    import graft.operators.Search
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
    val p = plan(Search.bm25TopK(docs, Seq("spark", "vector", "stream"), 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    // the only nested-loop join allowed is the single-row corpus-stats
    // broadcast; a CartesianProduct would mean the stats or df frame
    // joined without its key
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("decontamination membership broadcasts the benchmark dictionary") {
    import graft.operators.Contamination
    val p = plan(Contamination.qDecontaminate.run(spark, sf))
    // the corpus-sized exploded side must not shuffle for the
    // membership join: benchmark grams broadcast, equi-keyed
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(600))
  }

  test("cdc apply: one key shuffle, no join anywhere") {
    import graft.operators.Changes
    val p = plan(Changes.qCdcApply.run(spark, sf))
    // changelog compaction must stay window-over-one-shuffle: a join or
    // a second exchange on the key means the latest-row-per-key shape
    // regressed to self-join-and-filter
    assert(!p.contains("Join"), p.take(600))
    assert(p.sliding("hashpartitioning(o_custkey".length)
      .count(_ == "hashpartitioning(o_custkey") === 1, p.take(800))
  }

  test("triangle census: wedge joins equi-keyed; nested-loop only for 1-row stats") {
    import graft.operators.Graph
    val p = plan(Graph.triangleStats(Graph.copurchaseEdges(spark, sf)))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the final single-row stat frames (triangles × degree-stats ×
    // edge-count) combine via two broadcast nested-loop cross joins of
    // one row each — anything beyond those two means wedge enumeration
    // or closing-edge probing lost its equi key
    val nlj = "BroadcastNestedLoopJoin"
    assert(p.sliding(nlj.length).count(_ == nlj) <= 2, p.take(1200))
  }

  test("funnel: post-stage-1 joins are user-keyed equi-joins") {
    import graft.operators.Funnels
    val p = plan(Funnels.qFunnel.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("correlated aggregate subquery decorrelates to a join, not per-row") {
    import graft.operators.SqlEntry
    val df = SqlEntry.qQtyBelowAvgSql.run(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    // decorrelation happened: no subquery expression survives anywhere
    val hasSubquery = optimized.exists(_.expressions.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
      case _ => false
    }))
    assert(!hasSubquery, "correlated aggregate survived as a subquery:\n" +
      optimized.treeString.take(1500))
    // and the physical shape is joins + aggregates, never a cartesian
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("top-supplier scalar: no correlated subquery, no cartesian, no nested loop") {
    import graft.operators.SqlEntry
    val df = SqlEntry.qTopSupplierSql.run(spark, sf)
    // the `= (SELECT max(...) FROM cte)` scalar may legitimately survive
    // as an UNCORRELATED one-shot subquery (evaluated once, broadcast as
    // a literal — the one-row-join equivalent); what must NOT survive is
    // a correlated one (per-row re-evaluation)
    val correlated = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          s.isCorrelated
        case _ => false
      }))
    assert(!correlated, "scalar subquery stayed correlated:\n" +
      df.queryExecution.optimizedPlan.treeString.take(1500))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("idle-rich: NOT EXISTS decorrelates to a left-anti join") {
    import graft.operators.SqlEntry
    val p = plan(SqlEntry.qIdleRichSql.run(spark, sf))
    assert(p.contains("LeftAnti"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("min-cost-supp: correlated min over a multi-join decorrelates to a join") {
    import graft.operators.SqlEntry
    val df = SqlEntry.qMinCostSuppSql.run(spark, sf)
    // the per-part scalar min (whose inner is offers ⋈ supplier ⋈
    // nation ⋈ region) must become one aggregate + join — nothing
    // correlated survives, and nothing plans cartesian
    val correlated = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          s.isCorrelated
        case _ => false
      }))
    assert(!correlated, "Q2-shaped scalar min stayed correlated:\n" +
      df.queryExecution.optimizedPlan.treeString.take(1500))
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("big-orders: IN over grouped HAVING becomes a semi-join or agg-join, never per-row") {
    import graft.operators.SqlEntry
    val df = SqlEntry.qBigOrdersSql.run(spark, sf)
    val hasSubquery = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
        case _ => false
      }))
    assert(!hasSubquery, "Q18-shaped IN survived as a subquery:\n" +
      df.queryExecution.optimizedPlan.treeString.take(1500))
    val p = plan(df)
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("concentrated-supp: nested IN with correlated agg fully decorrelates") {
    import graft.operators.SqlEntry
    val df = SqlEntry.qConcentratedSuppSql.run(spark, sf)
    val hasSubquery = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
        case _ => false
      }))
    assert(!hasSubquery, "Q20-shaped nested IN survived as a subquery:\n" +
      df.queryExecution.optimizedPlan.treeString.take(1500))
    val p = plan(df)
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("cust-order-dist: outer join keeps its equi key; two stacked aggs") {
    import graft.operators.SqlEntry
    val p = plan(SqlEntry.qCustOrderDistSql.run(spark, sf))
    assert(p.contains("LeftOuter"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("winsorize/MAD: per-type stats broadcast back, never a per-type window") {
    import graft.operators.Series
    // the skew argument from qZscoreOutliers, machine-checked for the
    // robust-stats twins: raw events join per-type summary rows via
    // broadcast hash joins; no Window over the raw event stream
    Seq(Series.qWinsorize, Series.qMadOutliers).foreach { q =>
      val p = plan(q.run(spark, sf))
      assert(p.contains("BroadcastHashJoin"), q.name + ": " + p.take(600))
      assert(!p.contains("Window"), q.name + ": " + p.take(600))
      assert(!p.contains("CartesianProduct"), q.name + ": " + p.take(600))
    }
  }

  test("funnel: every step join's right side is pre-aggregated per user") {
    import graft.operators.Funnels
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val lp = Funnels.funnelTimes(ev, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")).queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.size === 3)
    def aggregated(n: LogicalPlan): Boolean = n match {
      case _: Aggregate => true
      case p: Project => aggregated(p.child)
      case _ => false
    }
    // the scaladoc's scale claim, machine-checked: each step join moves
    // at most one (grouped) row per user on its right side
    joins.foreach(j => assert(aggregated(j.right),
      s"step join right side is not an Aggregate:\n${j.right.treeString}"))
  }

  test("basket rules: group-then-expand over materialized baskets; stats broadcast") {
    import graft.operators.Baskets
    val p = plan(Baskets.qBasketRules.run(spark, sf))
    // r17: pair generation is a codegen expansion over materialized
    // per-basket sorted arrays — NO self-join moves the membership
    // relation, and the basket count / per-item counts derive from the
    // same materialized frame (no parquet re-scan). Per-item counts
    // come back via broadcast hash joins; the ONLY nested-loop allowed
    // is the 1-row basket-total crossJoin (the scalar-broadcast
    // contract-assembly pattern). A regression that re-introduces the
    // ob ⋈ ob join (or re-derives ob per statistic) must fail here.
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("ExistingRDD"), p.take(800))
    assert(!p.contains("Scan parquet"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(800))
  }

  test("record linkage: candidates from a block-keyed equi-join only") {
    import graft.operators.Baskets
    val p = plan(Baskets.qRecordLinkage.run(spark, sf))
    // JW scoring must happen inside block-sized candidate lists — the
    // join is equi-keyed on the blocking key; a cartesian/nested-loop
    // here would be the |dirty|×|clean| plan this operator exists to avoid
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("cumulative uniques: running sum windows the daily table, not events") {
    import graft.operators.Series
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // exactly one window, and its input is already aggregated to per-day
    // rows — the quadratic distinct-over-growing-window rewrite this
    // query documents must stay rewritten
    val lp = Series.qCumulativeUniques.run(spark, sf)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size === 1, lp.treeString.take(800))
    val aggsBelow = wins.head.child.collect { case a: Aggregate => a }
    assert(aggsBelow.nonEmpty,
      s"window input is not aggregated:\n${wins.head.child.treeString.take(800)}")
  }

  test("disjunctive join: per-side OR projections reach both scans; no nested loop") {
    // no single disjunct of the OR-of-AND-blocks can push alone, but the
    // part-only projection ((brand,size) bands) and the lineitem-only
    // projection (quantity bands) are each inferable — both must reach
    // their parquet scans as pushed ORs, with the full OR left as the
    // join residual on an EQUI hash join (never a nested loop)
    val p = plan(Relational.qDisjunctiveJoin.run(spark, sf))
    assert(p.contains("Or(Or(And(EqualTo(p_brand,Brand#12)"), p.take(1200))
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("supplier-variety: NOT IN plans as an anti join; size IN-list pushed") {
    // l_suppkey NOT IN (subquery) over a non-null key must degrade to a
    // left-anti hash join (the null-aware fallback is a nested loop),
    // and the part screen's IN-list must reach the part scan
    val p = plan(Relational.qSupplierVariety.run(spark, sf))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("In(p_size"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("valuable-parts: threshold reuses the per-part shuffle — one fact scan") {
    // the derived value table feeds both the global threshold and the
    // output; the claim "computes once" is AQE exchange reuse, visible
    // only in the EXECUTED plan: the threshold branch must read a
    // ReusedExchange over the per-partkey shuffle instead of re-scanning
    // lineitem (at 100 TB the second fact scan is the whole cost)
    val df = Relational.qValuableParts.run(spark, sf)
    assert(df.collect().nonEmpty, "threshold selects nothing — row is vacuous")
    val p = plan(df)
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  test("promo-share: shipdate month range reaches the lineitem scan") {
    val p = plan(Relational.qPromoShare.run(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"), p.take(1200))
    assert(p.contains("LessThan(l_shipdate"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q6: all three predicate families reach the lineitem scan") {
    // the canonical pushdown probe — a miss here means every selective
    // scan in the suite is silently reading full row groups
    // toString truncates long PushedFilters lists — read the scan node's
    // metadata, not the rendered plan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = Relational.q6RevenueDelta.run(spark, sf)
      .queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate,1996-01-01"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,24.0)"), pushed)
  }

  test("q4: EXISTS plans as one keyed semi join with the lateness residual") {
    // the correlated EXISTS must become a LEFT SEMI hash/merge join on
    // l_orderkey (date comparison as join filter) — never a per-order
    // probe or nested loop; the quarter filter pushes to the orders scan
    val p = plan(Relational.q4PriorityLate.run(spark, sf))
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), p.take(800))
  }

  test("q10: top-20 plans as TakeOrderedAndProject; quarter pushed to orders") {
    // ORDER BY + LIMIT must not materialize a global sort of every
    // customer group — at 100 TB the difference is a per-partition heap
    // vs a full shuffle-and-sort of the aggregate
    val p = plan(Relational.q10ReturnedItems.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"), p.take(800))
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(800))
  }

  test("q8: dims broadcast; one aggregate computes share and total together") {
    // the market-share ratio must come out of ONE pass over the star —
    // two Aggregates over the fact side would double the dominant scan
    val df = Relational.q8MarketShare.run(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size === 1, df.queryExecution.optimizedPlan.treeString.take(800))
  }

  test("q8 through the SQL parser also plans ONE aggregate over the star") {
    // the scaladoc's claim for the E1 twin: parser -> analyzer must
    // reach the same one-pass share-and-total plan the DSL builds
    import graft.operators.SqlEntry
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = SqlEntry.q8MarketShareSql.run(spark, sf)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size === 1, df.queryExecution.optimizedPlan.treeString.take(800))
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("filtered IVF search: probe side is the broadcast build; cells never shuffle") {
    // VERDICT r14 item 3: searchCellsWhere's broadcast-the-probe-side
    // pin was enforced only by explicit broadcast() calls and an
    // eyeballed explain dump. Freeze it — at corpus scale the one plan
    // this operator must never take is shuffling the cells on cid
    // (the whole corpus through an exchange); the probe side (probes ×
    // nProbe rows, small by contract) must be the build side of a
    // BroadcastHashJoin into the cell scan.
    import graft.operators.Ivf
    val path = Ivf.ensureIndex(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
    val df = Ivf.searchCellsWhere(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/cells"),
      emb.filter(col("vec_id") < 10), 5, 8,
      col("label") === col("p_label"))
    val p = plan(df)
    // the cid join exists, as a broadcast join built from the LEFT
    // (probe) side — streamed side is the cells scan
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("cid") && l.contains("BuildLeft")), p.take(1500))
    // nothing ever hash-partitions the corpus by cell id — the one
    // exchange in the plan is rankPerProbe's per-probe aggregation
    assert(!p.contains("Exchange hashpartitioning(cid"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("SQ8 coarse scan: no window, no corpus sort, bounded-heap selection") {
    // the shortlist and the final rank are TopByAgg bounded heaps —
    // the compressed-domain scan must never plan a per-probe Window
    // or a candidate-wide Sort (the corpus-sized stages the int8
    // projection exists to avoid)
    import org.apache.spark.sql.catalyst.plans.logical.{Sort, Window}
    val emb = Tables.load(spark, sf, "embeddings")
    val df = VectorOps.topKSq8(emb, col("vec_id") < 5, 5,
      shortlist = Some(16))
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case w: Window => w }.isEmpty,
      opt.treeString.take(800))
    assert(opt.collect { case s: Sort => s }.isEmpty,
      opt.treeString.take(800))
    assert(plan(df).contains("ObjectHashAggregate"), plan(df).take(800))
  }

  test("LATERAL top-k decorrelates to one window rank — no per-row subquery") {
    // the correlated ORDER BY + LIMIT subquery must rewrite to a rank
    // over ONE orders scan joined back (|customers| probe executions
    // would be the 100-TB killer); the guard pins the rewrite's shape
    val p = plan(graft.operators.SqlEntry.qLateralTopk.run(spark, sf))
    assert(p.contains("Window"), p.take(800))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("recursive CTE plans the iterative union loop over the pre-agg, not the corpus") {
    // the recursion input must be the ~60-row pre-aggregated sequence:
    // the corpus (orders) appears once under an Aggregate; the loop
    // node exists (the executor's fixpoint surface, not an unrolled
    // union); and the date band reaches the orders scan
    val df = graft.operators.SqlEntry.qRecursiveCte.run(spark, sf)
    val opt = df.queryExecution.optimizedPlan.treeString
    assert(opt.contains("UnionLoop"), opt.take(1200))
    // the loop body is planned per iteration (it stays logical in the
    // outer plan), so pin the shape there: the date band sits directly
    // on the parquet relation (pushdown engages when each step plans)
    // and the recursion input is the month Aggregate, not raw orders
    assert(opt.contains("1995-01-01"), opt.take(2000))
    assert(opt.contains("UnionLoopRef"), opt.take(2000))
  }

  test("crosswalk resolution: version arrays broadcast; no per-event window or argmax shuffle") {
    // the as-of resolution must ride ONE broadcast hash join plus a
    // narrow array expression — a Window (or event-keyed re-shuffle)
    // here would mean the naive per-event version argmax came back
    val p = plan(graft.operators.Vocab.qCodeCrosswalk.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("Window"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("PQ codebook build plans with no corpus-wide window or sort") {
    // the trainCodebooks seed selection is a bounded-heap aggregation
    // (TopByAgg) + broadcast fetch — the former row_number window
    // ranked the WHOLE corpus's subvectors through m partitions to
    // pick m x ks seed rows, a corpus-sized sort in the build path
    import graft.operators.Pq
    import org.apache.spark.sql.catalyst.plans.logical.{Sort, Window}
    val emb = Tables.load(spark, sf, "embeddings")
    val cb = Pq.trainCodebooks(emb)
    val opt = cb.queryExecution.optimizedPlan
    assert(opt.collect { case w: Window => w }.isEmpty,
      opt.treeString.take(800))
    assert(opt.collect { case s: Sort => s }.isEmpty,
      opt.treeString.take(800))
  }

  test("space-time scan: cylinder scoring joins broadcast; no shuffle joins after the corpus agg") {
    import graft.operators.Epi
    val p = plan(Epi.qSpacetimeScan.run(spark, sf))
    // interval membership is an exploded-member EQUI-join, broadcast —
    // a range/theta join here would nested-loop weeks × intervals
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    // BroadcastNestedLoopJoin appears only for the 1-row total —
    // every OTHER join must be keyed
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"$bnl nested-loop joins: ${p.take(800)}")
  }

  test("age-adjusted rates: dims broadcast; no cartesian beyond the 1-row standard total") {
    import graft.operators.Epi
    val p = plan(Epi.qAgeAdjusted.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"$bnl nested-loop joins: ${p.take(800)}")
  }

  test("EM linkage: pairs from a block-keyed equi-join; EM weights fold in as literals") {
    import graft.operators.Linkage
    val p = plan(Linkage.qLinkageEm.run(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // r17: the blocked JW comparison materializes ONCE (it feeds both
    // the EM pattern-count collect and the final scoring) — the result
    // plan must scan the materialized pairs, not re-run the join. A
    // regression that drops the checkpoint puts the join back here and
    // doubles the dominant comparison work.
    assert(p.contains("ExistingRDD"), p.take(800))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("DSIR: one tokenize+hash pass — both distributions and the pool weighing scan the materialized counts") {
    import graft.operators.Classify
    // r17 (guide §2.3): the per-(doc, bucket) count frame materializes
    // once; the result plan must hold NO explode (Generate) and no
    // documents scan — a regression re-runs the corpus tokenize + md5
    // per consumer (it appeared 6x in the pre-r17 plan).
    val p = plan(Classify.qDsirSelect.run(spark, sf))
    assert(p.contains("ExistingRDD"), p.take(800))
    assert(!p.contains("Generate"), p.take(1200))
  }

  test("q_bfs_hops: per-round frontiers materialize — final plan unions scans, no join towers") {
    // the r16 lineage cut (guide §5): each round's frontier is
    // localCheckpoint'ed, so the RESULT plan is a union of
    // materialized frontier scans. A regression that re-nests lineage
    // (dropping a checkpoint) puts the frontier⋈edges joins back into
    // the final plan — and re-runs every earlier round's join once per
    // later round. Must fail here, not wait for a bench.
    val p = plan(graft.operators.Graph.qBfsHops.run(spark, sf))
    assert(p.contains("ExistingRDD"), p.take(800))
    assert(!p.contains("Join"), p.take(1200))
  }
}
