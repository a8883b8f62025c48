package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable-sketch operators beyond HLL/t-digest (those live in
  * [[Extended]]): count-min frequency sketching with the same
  * hash-green error-bound contract pattern as `q_approx_distinct` —
  * the oracle checks the EXACT answer, plus in-engine booleans proving
  * the sketch landed inside its published bound.
  *
  * Scale shape: `count_min_sketch` is a mergeable aggregate — each
  * partition folds its rows into a local table and the driver merges
  * `numPartitions` fixed-size tables (width×depth counters, a few KB at
  * eps 0.001), so the corpus never moves; one pass, no shuffle of data
  * rows. That is exactly how a 1000-executor cluster would compute
  * global frequencies: ship sketches, not keys. The exact side (the
  * oracle anchor) is one hash aggregation.
  */
object Sketches {

  private val Eps = 0.001
  private val Confidence = 0.999
  private val Seed = 42

  /** Exact heavy hitters with a count-min contract: top-k keys by exact
    * count, each carrying proof booleans that the CMS estimate (a) never
    * under-counts (deterministic CMS guarantee) and (b) over-counts by
    * at most eps×N (holds with prob `Confidence`; fixed seed makes the
    * run reproducible).
    *
    * The sketch is queried on the driver — a count-min table IS a
    * driver-sized summary (that is its point), and only the k result
    * keys are probed; the corpus-sized work (sketch build, exact
    * counts) is fully distributed.
    */
  def heavyHitters(spark: SparkSession, df: DataFrame, keyCol: String,
                   k: Int): DataFrame = {
    val skBytes = df.agg(
      count_min_sketch(col(keyCol), lit(Eps), lit(Confidence), lit(Seed))
        .as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = CountMinSketch.readFrom(skBytes)
    val slack = math.ceil(Eps * cms.totalCount()).toLong
    val exactTop = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(keyCol).asc)
      .limit(k)
      .collect() // k rows — the contract probe set, not a data path
    val rows = exactTop.map { r =>
      val key = r.getLong(0)
      val n = r.getLong(1)
      val est = cms.estimateCount(key)
      Row(key, n, est >= n, est <= n + slack)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField(keyCol, LongType),
        StructField("n", LongType),
        StructField("no_undercount", BooleanType),
        StructField("within_eps", BooleanType))))
  }

  /** Top-20 parts by lineitem frequency, CMS-contract-checked. */
  val qHeavyHitters: QuerySpec = QuerySpec(
    "q_heavy_hitters",
    Some("""SELECT l_partkey, count(*) AS n,
        true AS no_undercount, true AS within_eps
      FROM lineitem GROUP BY l_partkey
      ORDER BY n DESC, l_partkey LIMIT 20"""),
    (spark, dir) => {
      heavyHitters(spark, Tables.load(spark, dir, "lineitem"),
        "l_partkey", 20)
        .orderBy(col("n").desc, col("l_partkey").asc)
    })

  /** Explicit bloom semi-join pruning (the third sketch family next to
    * CMS and HLL): build a mergeable bloom filter over the selective
    * dimension's keys, pre-filter the fact side with `might_contain`,
    * then exact-verify the survivors with the real semi-join — the
    * "prune cheap, verify exact" pipeline Spark's own runtime filter
    * rule applies, here as a first-class operator (the filter could be
    * persisted and reused across queries, which the runtime rule cannot).
    *
    * Contract columns, all in-engine: the pruned-then-verified result
    * must equal the direct semi-join (blooms never false-negative — a
    * missed row means the operator is broken), and the false-positive
    * overhead the verify join absorbs stays under 5%. The oracle checks
    * the exact aggregate + both booleans.
    */
  val qBloomPrune: QuerySpec = QuerySpec(
    "q_bloom_prune",
    Some("""WITH dim AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
      ex AS (SELECT o.* FROM orders o
             WHERE o.o_custkey IN (SELECT c_custkey FROM dim))
      SELECT count(*) AS n_exact, round(sum(o_totalprice), 2) AS sum_price,
        true AS no_false_negatives, true AS fp_rate_ok
      FROM ex"""),
    (spark, dir) => {
      import graft.functions.GraftFunctions.{bloomAgg, bloomMightContain}
      val dim = Tables.load(spark, dir, "customer")
        .filter(col("c_acctbal") > 9000).select("c_custkey")
      // the built filter lands on the driver as a literal: might_contain
      // requires a foldable/scalar-subquery filter side, and a bloom IS
      // a driver-sized summary (here 128 KiB), exactly like the CMS
      // table above — the corpus-sized work stays distributed
      val bf = dim.agg(
        bloomAgg(col("c_custkey"), 100000L, 8L * 131072L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val orders = Tables.load(spark, dir, "orders")
      val cand = orders
        .filter(bloomMightContain(lit(bf), col("o_custkey")))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val exact = cand.join(broadcast(dim),
        cand("o_custkey") === dim("c_custkey"), "left_semi")
      val exactRaw = orders.join(broadcast(dim),
        orders("o_custkey") === dim("c_custkey"), "left_semi")
      val missed = exactRaw.join(cand.select(col("o_orderkey").as("ck")),
        col("o_orderkey") === col("ck"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
        .crossJoin(orders.agg(count(lit(1)).as("n_total")))
        .select(col("n_exact"), col("sum_price"),
          (col("n_missed") === 0).as("no_false_negatives"),
          ((col("n_cand") - col("n_exact")).cast("double") /
            greatest(col("n_total") - col("n_exact"), lit(1L)) <= 0.05)
            .as("fp_rate_ok"))
    })

  /** Single-pass data profiling — the warehouse "column statistics"
    * view (what ANALYZE feeds the CBO, surfaced as a queryable result):
    * per column, row/non-null/distinct counts and min/max. ONE scan:
    * every metric for every profiled column is an aggregate in one
    * `agg`, and the single wide row unpivots to per-column rows with
    * `stack` — profiling N columns costs one pass, not N.
    *
    * Profiled columns are restricted to integral/string types: min/max
    * serialize for the cross-engine compare, and double/timestamp
    * string formats legitimately differ between engines.
    */
  val qProfile: QuerySpec = QuerySpec(
    "q_profile",
    Some("""WITH m AS (SELECT
        count(*) AS n,
        count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS nd1,
          CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
        count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2,
          CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
        count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS nd3,
          CAST(min(o_orderstatus) AS VARCHAR) AS mn3, CAST(max(o_orderstatus) AS VARCHAR) AS mx3,
        count(o_orderpriority) AS nn4, count(DISTINCT o_orderpriority) AS nd4,
          CAST(min(o_orderpriority) AS VARCHAR) AS mn4, CAST(max(o_orderpriority) AS VARCHAR) AS mx4
      FROM orders)
      SELECT * FROM (
        SELECT 'o_orderkey' AS column_name, n, nn1 AS n_nonnull,
          nd1 AS n_distinct, mn1 AS min_v, mx1 AS max_v FROM m
        UNION ALL SELECT 'o_custkey', n, nn2, nd2, mn2, mx2 FROM m
        UNION ALL SELECT 'o_orderstatus', n, nn3, nd3, mn3, mx3 FROM m
        UNION ALL SELECT 'o_orderpriority', n, nn4, nd4, mn4, mx4 FROM m)
      ORDER BY column_name"""),
    (spark, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val aggs = count(lit(1)).as("n") +:
        cols.flatMap { c =>
          Seq(count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            min(col(c)).cast("string").as(s"mn_$c"),
            max(col(c)).cast("string").as(s"mx_$c"))
        }
      val wide = Tables.load(spark, dir, "orders")
        .agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols
        .map(c => s"'$c', n, nn_$c, nd_$c, mn_$c, mx_$c")
        .mkString(", ")
      wide.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n, n_nonnull, n_distinct, min_v, max_v)")
        .orderBy("column_name")
    })

  /** The 1000-executor merge path of [[qHeavyHitters]], made literal:
    * the corpus is split into 8 disjoint chunks (as a cluster's
    * partitions would be), each chunk folds its OWN count-min table,
    * and the driver merges the 8 fixed-size tables. Because a CMS is a
    * linear sketch — counters are sums of per-row increments, and
    * addition commutes — the merged table is BIT-IDENTICAL to the
    * single-pass sketch with the same (eps, confidence, seed), so every
    * probe estimate matches exactly. The `merged_eq_single` column is
    * that proof, per key; the other contract booleans re-check the CMS
    * bounds THROUGH the merged sketch. Shares qHeavyHitters' exact
    * top-20, so the whole row is oracle-checked.
    *
    * Scale: each chunk sketch is a KB-sized table (the corpus never
    * moves); merge cost is O(chunks × table size) on the driver —
    * exactly how global frequencies are assembled from 1000 executors.
    */
  val qHeavyHittersMerged: QuerySpec = QuerySpec(
    "q_heavy_hitters_merged",
    Some("""SELECT l_partkey, count(*) AS n, true AS no_undercount,
        true AS within_eps, true AS merged_eq_single
      FROM lineitem GROUP BY l_partkey
      ORDER BY n DESC, l_partkey LIMIT 20"""),
    (spark, dir) => {
      val li = Tables.load(spark, dir, "lineitem")
      val single = CountMinSketch.readFrom(
        li.agg(count_min_sketch(col("l_partkey"), lit(Eps),
          lit(Confidence), lit(Seed)).as("sk"))
          .head().getAs[Array[Byte]]("sk"))
      // one sketch per disjoint chunk — 8 rows of KB-sized tables back
      // to the driver, merged pairwise (mergeInPlace mutates the target)
      val chunkRows = li
        .groupBy(pmod(col("l_orderkey"), lit(8)).as("chunk"))
        .agg(count_min_sketch(col("l_partkey"), lit(Eps), lit(Confidence),
          lit(Seed)).as("sk"))
        .collect() // 8 rows — sketch tables, not data
      val merged = chunkRows.map(r =>
          CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val slack = math.ceil(Eps * merged.totalCount()).toLong
      val exactTop = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_partkey").asc)
        .limit(20)
        .collect() // the 20 probe keys, not a data path
      val rows = exactTop.map { r =>
        val key = r.getLong(0)
        val n = r.getLong(1)
        val est = merged.estimateCount(key)
        Row(key, n, est >= n, est <= n + slack,
          est == single.estimateCount(key))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
        StructType(Seq(
          StructField("l_partkey", LongType),
          StructField("n", LongType),
          StructField("no_undercount", BooleanType),
          StructField("within_eps", BooleanType),
          StructField("merged_eq_single", BooleanType))))
        .orderBy(col("n").desc, col("l_partkey").asc)
    })

  // --- mergeable quantile sketch (GK) — completes the sketch family
  //     (HLL distinct / CMS frequency / Bloom membership / GK rank) ---

  private val QProbes = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
  /** Contracted rank error; sketches BUILD 4× tighter (GkBuildEps) so
    * merge-tree error growth has headroom — see GkSketch scaladoc.
    */
  private val RankEps = 0.01
  private val GkBuildEps = 0.0025

  /** Per-(group, probe) contract facts resolved by [[gkAnchors]]: the
    * group's row count, the exact interpolated quantile, and each
    * sketch-under-test's (strict, weak) rank counts at its estimate.
    */
  private case class GkAnchor(n: Long, exact: Double,
                              ranks: IndexedSeq[(Long, Long)])

  /** Executor-side sketch-guided anchor resolve shared by ALL GK
    * contract rows (global, merged, streaming, grouped). Two passes
    * over `xs` (`grp`, `x`), both distributed:
    *
    * Pass 1 joins a broadcast PROBE SPEC — one row per (group, probe,
    * sketch) carrying the estimate under test and the guide's value
    * band for the probe — and aggregates `groupBy(grp, pi, si)`: n,
    * strict/weak rank counts of the estimate, and the below-band
    * count. Contract facts are ROWS keyed by group (constant 4
    * aggregate columns), not per-group aggregate COLUMNS — the shape
    * that survives 10k-key grouped monitors, where the previous fused
    * single-row aggregate would have needed 200k columns.
    *
    * Pass 2 resolves each probe's floor/ceil order statistics WITHOUT
    * materializing band rows on the driver (the previous driver-side
    * band-histogram walk was a ~6·ε̂·n collect — a driver OOM at
    * 100 TB): band rows get `row_number` over (group, probe) in value
    * order, the below-band count converts that to a GLOBAL 0-based
    * rank, and only the ≤ 2 rows whose rank equals the probe's
    * bracketing positions come back. Each (group, probe) window
    * partition holds ~6·ε̂·n_g rows — executor-sized by the sketch's
    * own ε̂ bound, spilling to executor disk at worst, never to the
    * driver.
    *
    * Using the guide sketch (each group's first) to band its own
    * verification stays sound because nothing is taken on faith: pass
    * 1's below-band count must sit at or before the bracketing rank
    * and pass 2 must actually surface both bracketing positions —
    * loud `require`s fail a sketch that broke its bound; it can never
    * vouch for itself.
    */
  private def gkAnchors(spark: SparkSession, xs0: DataFrame,
      perGroup: Seq[(String, Seq[graft.functions.GkSketch])])
      : Map[(String, Int), GkAnchor] = {
    import org.apache.spark.sql.expressions.Window
    val spec = perGroup.flatMap { case (g, sks) =>
      val guide = sks.head
      val eFrac = (guide.rankSlack + 1).toDouble / guide.n
      QProbes.zipWithIndex.flatMap { case (q, i) =>
        val vlo = guide.query(math.max(1e-9, q - 3 * eFrac))
        val vhi = guide.query(math.min(1.0, q + 3 * eFrac))
        sks.zipWithIndex.map { case (sk, j) => (g, i, j, sk.query(q), vlo, vhi) }
      }
    }
    val specDf = spark.createDataFrame(spec)
      .toDF("grp", "pi", "si", "est", "vlo", "vhi")
    val xs = xs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-(group, probe, sketch) rank facts — map-side
      // combined before the one |groups|·|probes|·|sketches|-key shuffle
      val byKey = xs.join(broadcast(specDf), Seq("grp"))
        .groupBy("grp", "pi", "si")
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("est"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("le"),
          sum(when(col("x") < col("vlo"), 1L).otherwise(0L)).as("below"))
        .collect() // |groups|·7·|sketches| KB-sized fact rows
        .map(r => ((r.getString(0), r.getInt(1), r.getInt(2)),
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val band2 = spec.filter(_._3 == 0).map { case (g, i, _, _, vlo, vhi) =>
        val (n, _, _, below) = byKey((g, i, 0))
        val p = QProbes(i) * (n - 1)
        require(below <= p.floor.toLong,
          s"gk group '$g' band $i starts past rank ${p.floor.toLong} — " +
            "guide sketch broke its bound")
        (g, i, vlo, vhi, below, p.floor.toLong, p.ceil.toLong)
      }
      val band2Df = spark.createDataFrame(band2)
        .toDF("grp", "pi", "vlo", "vhi", "below", "kLo", "kHi")
      // pass 2: executor-side order statistics at the bracketing ranks
      val w = Window.partitionBy("grp", "pi").orderBy("x")
      val posVal = xs.join(broadcast(band2Df), Seq("grp"))
        .filter(col("x") >= col("vlo") && col("x") <= col("vhi"))
        .withColumn("pos", row_number().over(w) + col("below") - 1)
        .filter(col("pos") === col("kLo") || col("pos") === col("kHi"))
        .select("grp", "pi", "pos", "x")
        .collect() // ≤ 2 bracketing rows per (group, probe)
        .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)),
          r.getDouble(3))).toMap
      perGroup.flatMap { case (g, sks) =>
        QProbes.zipWithIndex.map { case (q, i) =>
          val n = byKey((g, i, 0))._1
          val p = q * (n - 1)
          val (kLo, kHi) = (p.floor.toLong, p.ceil.toLong)
          def at(k: Long): Double = {
            require(posVal.contains((g, i, k)),
              s"gk group '$g' band $i did not cover rank $k — " +
                "guide sketch broke its bound")
            posVal((g, i, k))
          }
          val exact =
            if (kLo == kHi) at(kLo)
            else (kHi - p) * at(kLo) + (p - kLo) * at(kHi) // Spark's percentile formula
          ((g, i), GkAnchor(n, exact,
            sks.indices.map { j =>
              val (_, lt, le, _) = byKey((g, i, j)); (lt, le)
            }))
        }
      }.toMap
    } finally { xs.unpersist(); () }
  }

  /** Same HALF_UP-on-BigDecimal semantics as Spark's round(col, 4). */
  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rank-interval membership test of the GK contract: the estimate's
    * rank interval [#(x < est)+1, #(x ≤ est)] must intersect
    * [φ·n ± (ε·n + 1)]. Probing via exact ranks (not value proximity)
    * is the honest GK guarantee — on a heavy-tied column the ε-rank
    * value can be far from the exact quantile in value space and
    * still be correct.
    */
  private def withinEps(q: Double, n: Long, ltle: (Long, Long)): Boolean = {
    val tol = RankEps * n + 1
    val target = q * n
    ltle._2 >= target - tol && (ltle._1 + 1) <= target + tol
  }

  private def gkContract(spark: SparkSession, xs0: DataFrame,
                         sketches: Seq[(String, graft.functions.GkSketch)])
      : DataFrame = {
    val anchors = gkAnchors(spark, xs0.withColumn("grp", lit("")),
      Seq("" -> sketches.map(_._2)))
    val rows = QProbes.zipWithIndex.map { case (q, i) =>
      val a = anchors(("", i))
      Row((Seq[Any](q, r4(a.exact)) ++
        sketches.indices.map(j => withinEps(q, a.n, a.ranks(j)))): _*)
    }
    val schema = StructType(
      StructField("q", org.apache.spark.sql.types.DoubleType) +:
      StructField("exact_v", org.apache.spark.sql.types.DoubleType) +:
      sketches.map { case (nm, _) => StructField(nm, BooleanType) })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .orderBy("q")
  }

  private def gkOracle(contracts: String*): String = {
    val bools = contracts.map(c => s"true AS $c").mkString(", ")
    QProbes.map { q =>
      s"""SELECT CAST($q AS DOUBLE) AS q,
         round(quantile_cont(CAST(l_extendedprice AS DOUBLE), $q), 4)
           AS exact_v, $bools FROM lineitem"""
    }.mkString("", "\nUNION ALL ", "\nORDER BY q")
  }

  /** Mergeable GK quantile sketch over lineitem prices, rank-ε
    * contracted. The sketch is a Spark `Aggregator` ([[graft.functions.GkQuantileAgg]]):
    * each of the 32 partitions folds its rows into a local tuple
    * summary and Spark merges the fixed-small summaries — values never
    * move, the same ship-sketches-not-keys shape as the CMS path. The
    * driver probes 7 quantiles on the KB-sized result (a GK table IS a
    * driver-sized summary, like the CMS/bloom above); the corpus-sized
    * work (sketch build, exact anchors, rank counts) is distributed.
    */
  val qQuantileSketch: QuerySpec = QuerySpec(
    "q_quantile_sketch",
    Some(gkOracle("within_rank_eps")),
    (spark, dir) => {
      val xs = Tables.load(spark, dir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("x"))
      val gk = udaf(new graft.functions.GkQuantileAgg(GkBuildEps),
        org.apache.spark.sql.Encoders.scalaDouble)
      val sk = graft.functions.GkSketch.fromBytes(
        xs.agg(gk(col("x")).as("sk")).head().getAs[Array[Byte]]("sk"))
      gkContract(spark, xs, Seq("within_rank_eps" -> sk))
    })

  /** The explicit 1000-executor merge path of [[qQuantileSketch]],
    * mirroring [[qHeavyHittersMerged]]: 8 disjoint chunks each fold
    * their OWN GK summary, the driver merges the 8 fixed-small tables
    * in chunk order. GK is NOT a linear sketch (unlike CMS the merged
    * table is not bit-identical to the single pass), so the proof is
    * the honest one: the MERGED sketch satisfies the same rank-ε
    * contract as the single-pass sketch, on shared oracle-checked
    * exact rows.
    */
  val qQuantileSketchMerged: QuerySpec = QuerySpec(
    "q_quantile_sketch_merged",
    Some(gkOracle("single_within_eps", "merged_within_eps")),
    (spark, dir) => {
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_extendedprice").cast("double").as("x"))
      val gk = udaf(new graft.functions.GkQuantileAgg(GkBuildEps),
        org.apache.spark.sql.Encoders.scalaDouble)
      val single = graft.functions.GkSketch.fromBytes(
        li.agg(gk(col("x")).as("sk")).head().getAs[Array[Byte]]("sk"))
      val merged = li
        .groupBy(pmod(col("l_orderkey"), lit(8)).as("chunk"))
        .agg(gk(col("x")).as("sk"))
        .orderBy("chunk")
        .collect() // 8 rows — KB-sized summaries, not data
        .map(r => graft.functions.GkSketch.fromBytes(r.getAs[Array[Byte]]("sk")))
        .reduce((a, b) => a.merge(b))
      gkContract(spark, li.select("x"),
        Seq("single_within_eps" -> single, "merged_within_eps" -> merged))
    })

  /** The GK summary as STREAMING STATE — the composition the sketch
    * family's merge proofs point at: a mergeable summary is exactly
    * what an incremental engine keeps between micro-batches. Events
    * arrive in 4 chunk files (one micro-batch each); the complete-mode
    * global aggregation folds every batch into the persisted GK buffer
    * through [[graft.functions.GkQuantileAgg]]'s reduce/merge path —
    * the same code Spark uses across partitions now runs across TIME —
    * and the drained sketch must satisfy the identical rank-ε contract
    * as a batch-built sketch, on oracle-anchored exact rows. State is
    * one O(1/ε·log εn) summary, not values: the unbounded-stream
    * quantile shape.
    */
  val qStreamQuantile: QuerySpec = QuerySpec(
    "q_stream_quantile",
    Some {
      val bools = "true AS within_rank_eps"
      QProbes.map { q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
           round(quantile_cont(value, $q), 4) AS exact_v, $bools
           FROM events"""
      }.mkString("", "\nUNION ALL ", "\nORDER BY q")
    },
    (spark, dir) => {
      val in = StreamRun.stageEventChunks(spark, dir, 4)
      val src = spark.readStream.schema(Tables.eventsRaw)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*.parquet")
      val gk = udaf(new graft.functions.GkQuantileAgg(GkBuildEps),
        org.apache.spark.sql.Encoders.scalaDouble)
      val table = EventOps.runStreamToTable(
        src.select(col("value").as("x")).agg(gk(col("x")).as("sk")),
        mode = "complete")
      val sk = graft.functions.GkSketch.fromBytes(
        table.head().getAs[Array[Byte]]("sk"))
      val xs = Tables.load(spark, dir, "events")
        .select(col("value").as("x"))
      gkContract(spark, xs, Seq("within_rank_eps" -> sk))
        .select("q", "exact_v", "within_rank_eps")
    })

  /** Mergeable HLL (DataSketches) union proof — the distinct-count
    * analogue of [[qHeavyHittersMerged]]/[[qQuantileSketchMerged]],
    * closing the persistable-merge story for the whole sketch family:
    * 8 disjoint chunks each build their own `hll_sketch_agg` summary
    * (the executor shape), `hll_union_agg` merges the fixed-small
    * sketches, and the union's estimate must satisfy the same
    * error-bound contract as the single-pass sketch. HLL registers are
    * per-bucket hash maxima — set-deterministic, union = elementwise
    * max — but sparse→dense promotion can take different routes in the
    * two builds, so the honest cross-build claim is a shared 1 %
    * consistency tolerance, not bit equality (same reasoning as GK's
    * contract-equivalence proof). Bound: lgK = 12 ⇒ RSE ≈ 1.04/√4096;
    * contracted at 3σ ≈ 5 % (+1 for integer slack).
    */
  val qHllMerged: QuerySpec = QuerySpec(
    "q_hll_merged",
    Some("""SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_n,
      true AS single_within_bound, true AS merged_within_bound,
      true AS merge_consistent FROM orders"""),
    (spark, dir) => {
      val o = Tables.load(spark, dir, "orders")
      val single = o
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est"))
        .head().getAs[Long]("est")
      val merged = o
        .groupBy(pmod(col("o_orderkey"), lit(8)).as("chunk"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .head().getAs[Long]("est")
      val exact = o.agg(count_distinct(col("o_custkey")).as("n"))
        .head().getAs[Long]("n")
      val bound = 0.05 * exact + 1
      val row = Row(exact,
        math.abs(single - exact) <= bound,
        math.abs(merged - exact) <= bound,
        math.abs(merged - single) <= 0.01 * exact + 1)
      val schema = StructType(Seq(
        StructField("exact_n", LongType),
        StructField("single_within_bound", BooleanType),
        StructField("merged_within_bound", BooleanType),
        StructField("merge_consistent", BooleanType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), schema)
    })

  /** The GK summary PER GROUP — the always-on percentile-monitor shape
    * the sketch's scale story promises (one O(1/ε·log εn) summary per
    * key, values never shuffle) but no row exercised until now: one
    * `groupBy(flag).agg(gk(x))` builds an independent mergeable
    * summary per return-flag, and every (group, probe) estimate is
    * rank-contracted against that group's exact order statistics —
    * the same sketch-guided two-scan contract as [[qQuantileSketch]],
    * with the group column folded into the fused aggregate and the
    * band filter. Exact anchors per group are oracle-checked against
    * DuckDB's grouped `quantile_cont` at 4 dp.
    */
  val qQuantileByGroup: QuerySpec = QuerySpec(
    "q_quantile_by_group",
    Some {
      QProbes.map { q =>
        s"""SELECT l_returnflag AS grp, CAST($q AS DOUBLE) AS q,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), $q), 4)
             AS exact_v, true AS within_rank_eps
           FROM lineitem GROUP BY l_returnflag"""
      }.mkString("", "\nUNION ALL ", "\nORDER BY grp, q")
    },
    (spark, dir) => {
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          col("l_extendedprice").cast("double").as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val gk = udaf(new graft.functions.GkQuantileAgg(GkBuildEps),
          org.apache.spark.sql.Encoders.scalaDouble)
        val sketches = li.groupBy("grp").agg(gk(col("x")).as("sk")).collect()
          .map(r => r.getString(0) ->
            graft.functions.GkSketch.fromBytes(r.getAs[Array[Byte]]("sk")))
        gkGroupContract(spark, li, sketches.toSeq)
      } finally { li.unpersist(); () }
    })

  /** Per-group rank-ε contract shared by the batch and streaming
    * grouped-quantile rows: `byG` is a (grp, x) frame, `sketches` one
    * GK summary per group value. [[gkAnchors]] does all the
    * distributed work — per-group facts arrive as rows (the shape
    * that holds at 10k keys), exact anchors resolve executor-side.
    */
  private def gkGroupContract(spark: SparkSession, byG: DataFrame,
      sketches: Seq[(String, graft.functions.GkSketch)]): DataFrame = {
    val info = sketches.sortBy(_._1)
    val anchors = gkAnchors(spark, byG,
      info.map { case (g, sk) => (g, Seq(sk)) })
    val rows = info.flatMap { case (g, _) =>
      QProbes.zipWithIndex.map { case (q, i) =>
        val a = anchors((g, i))
        Row(g, q, r4(a.exact), withinEps(q, a.n, a.ranks(0)))
      }
    }
    val schema = StructType(Seq(
      StructField("grp", org.apache.spark.sql.types.StringType),
      StructField("q", org.apache.spark.sql.types.DoubleType),
      StructField("exact_v", org.apache.spark.sql.types.DoubleType),
      StructField("within_rank_eps", BooleanType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
      .orderBy("grp", "q")
  }

  /** The grouped GK summary as STREAMING STATE — the per-key
    * always-on percentile monitor composed end-to-end: events arrive
    * as 4 file micro-batches, a complete-mode `groupBy(event_type)`
    * aggregation folds every batch into one persisted GK buffer PER
    * KEY (state = #keys × O(1/ε·log εn) tuples, never values), and
    * each drained per-key sketch must satisfy the identical
    * per-group rank-ε contract as the batch build, on oracle-anchored
    * grouped exact quantiles. This is [[qStreamQuantile]] ×
    * [[qQuantileByGroup]]: the composition a production
    * latency-per-endpoint monitor actually runs.
    */
  val qStreamQuantileByGroup: QuerySpec = QuerySpec(
    "q_stream_quantile_by_group",
    Some {
      QProbes.map { q =>
        s"""SELECT event_type AS grp, CAST($q AS DOUBLE) AS q,
           round(quantile_cont(value, $q), 4) AS exact_v,
           true AS within_rank_eps
           FROM events GROUP BY event_type"""
      }.mkString("", "\nUNION ALL ", "\nORDER BY grp, q")
    },
    (spark, dir) => {
      val in = StreamRun.stageEventChunks(spark, dir, 4)
      val src = spark.readStream.schema(Tables.eventsRaw)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*.parquet")
      val gk = udaf(new graft.functions.GkQuantileAgg(GkBuildEps),
        org.apache.spark.sql.Encoders.scalaDouble)
      val table = EventOps.runStreamToTable(
        src.groupBy(col("event_type").as("grp"))
          .agg(gk(col("value")).as("sk")),
        mode = "complete")
      val sketches = table.collect().map(r => r.getString(0) ->
        graft.functions.GkSketch.fromBytes(r.getAs[Array[Byte]]("sk")))
      val byG = Tables.load(spark, dir, "events")
        .select(col("event_type").as("grp"), col("value").as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try gkGroupContract(spark, byG, sketches.toSeq)
      finally { byG.unpersist(); () }
    })

  // ---- KMV ("theta") distinct sketch: SET OPERATIONS on cardinality —
  // the capability HLL union lacks (HLL cannot intersect). Built
  // entirely from composable engine ops: h = pmod(xxhash64(key), M)
  // uniform on [0, M); the sketch is the k SMALLEST DISTINCT hashes
  // per population (one hash-distinct shuffle + the bounded-heap
  // TopByAgg — the corpus never sorts), θ = the k-th smallest. KMV
  // estimators (Beyer et al. 2007; the theta-sketch framework):
  //   distinct(A)  ≈ (k-1)·M/θ_A           (exact when |A| < k)
  //   A ∪ B:  merge samples, re-take k smallest — a valid sketch of ∪
  //   A ∩ B:  θ* = min(θ_A, θ_B); est = |{h ∈ A∩B : h < θ*}| · M/θ*
  // M = 2^50 keeps every hash exactly representable as a double
  // (TopByAgg scores), and cross-population work happens on k-sized
  // arrays — at 100 TB two populations overlap WITHOUT a raw-key
  // shuffle between them, and sketches persist/merge like HLL.

  private val ThetaM: Long = 1L << 50

  /** Per-group KMV sample: (g, ks array<long> ascending, ≤ k values). */
  def thetaSketch(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    val sel = udaf(new graft.functions.TopByAgg(k, largest = false),
      graft.functions.TopByAgg.inputEncoder)
    df.select(col(groupCol).as("g"),
        pmod(xxhash64(col(keyCol)), lit(ThetaM)).as("h"))
      .distinct()
      .groupBy("g")
      .agg(sel(col("h").cast("double"), col("h")).as("top"))
      .select(col("g"), col("top._2").as("ks"))
  }

  /** KMV estimate from one sample (driver-side; a sample IS a
    * driver-sized summary, like the CMS table).
    */
  def thetaEstimate(ks: Seq[Long], k: Int): Double =
    if (ks.length < k) ks.length.toDouble
    else (k - 1).toDouble * ThetaM / ks.max

  /** Set-operation estimates for two samples: (estA, estB, estUnion,
    * estIntersection). Intersection error is relative to the UNION
    * (the theta framework's bound), which the contract row encodes.
    */
  def thetaOverlap(a: Seq[Long], b: Seq[Long], k: Int)
      : (Double, Double, Double, Double) = {
    val union = (a ++ b).distinct.sorted.take(k)
    val estU = thetaEstimate(union, k)
    val exactSide = a.length < k && b.length < k
    if (exactSide) {
      // both samples are their full populations' hash sets: exact
      val inter = a.toSet.intersect(b.toSet).size.toDouble
      (a.length.toDouble, b.length.toDouble,
        (a ++ b).distinct.length.toDouble, inter)
    } else {
      val theta = math.min(
        if (a.length < k) ThetaM else a.max,
        if (b.length < k) ThetaM else b.max)
      val matching = a.toSet.intersect(b.toSet).count(_ < theta)
      (thetaEstimate(a, k), thetaEstimate(b, k), estU,
        matching.toDouble * ThetaM / theta)
    }
  }

  /** Distinct-overlap of two customer populations (URGENT-order vs
    * HIGH-order customers) through KMV sketches, contract-checked
    * against the exact distributed counts: each estimate must land
    * within 5/√k relative error (intersection relative to the UNION —
    * the theta bound; all four are EXACT when the population fits the
    * sample, which is the small-sf regime). The oracle recomputes the
    * exact set algebra from first principles; the booleans are the
    * sketch contract.
    */
  val qThetaOverlap: QuerySpec = QuerySpec(
    "q_theta_overlap",
    Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'),
        b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '2-HIGH')
      SELECT 'a' AS pop, (SELECT count(*) FROM a) AS exact,
        true AS within_bound
      UNION ALL SELECT 'b', (SELECT count(*) FROM b), true
      UNION ALL SELECT 'intersection',
        (SELECT count(*) FROM a JOIN b USING (o_custkey)), true
      UNION ALL SELECT 'union', (SELECT count(*) FROM
        (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)), true
      ORDER BY pop"""),
    (spark, dir) => {
      val k = 2048
      val orders = Tables.load(spark, dir, "orders")
      def pop(p: String) = orders
        .filter(col("o_orderpriority") === p)
        .withColumn("pop", lit(p))
      val sk = thetaSketch(
        pop("1-URGENT").unionByName(pop("2-HIGH")), "pop", "o_custkey", k)
        .collect().map(r => r.getString(0) ->
          r.getSeq[Long](1)).toMap
      val (estA, estB, estU, estI) =
        thetaOverlap(sk("1-URGENT"), sk("2-HIGH"), k)
      // exact counts: fully distributed (two distincts + one semi)
      val a = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct()
      val b = orders.filter(col("o_orderpriority") === "2-HIGH")
        .select("o_custkey").distinct()
      val (na, nb) = (a.count(), b.count())
      val ni = a.join(b, Seq("o_custkey"), "left_semi").count()
      val nu = a.unionByName(b).distinct().count()
      val tol = 5.0 / math.sqrt(k)
      def ok(est: Double, exact: Long, rel: Long): Boolean =
        math.abs(est - exact) <= tol * rel
      val rows = Seq(
        Row("a", na, ok(estA, na, na)),
        Row("b", nb, ok(estB, nb, nb)),
        Row("intersection", ni, ok(estI, ni, nu)), // theta: err ∝ |∪|
        Row("union", nu, ok(estU, nu, nu)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("pop",
          org.apache.spark.sql.types.StringType),
          StructField("exact", LongType),
          StructField("within_bound", BooleanType))))
        .orderBy("pop")
    })

  /** Merge two KMV samples: distinct k-smallest of the union — a
    * valid sketch of A ∪ B, and (the mergeability law) EXACTLY the
    * sample a direct build over A ∪ B produces, because "k smallest
    * distinct hashes" is an associative/commutative fold.
    */
  def thetaMerge(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] =
    (a ++ b).distinct.sorted.take(k)

  // ---- theta sketches as a PERSISTED, SQL-visible surface (VERDICT
  // r14 item 6): a sketch is an ordinary `array<long>` column, so it
  // writes to parquet like any other value and the whole set algebra —
  // group-wise merge, cardinality estimate, pairwise intersection —
  // composes in ONE engine-side step over persisted sketch tables (the
  // `hll_union` discipline), without collecting a sample to the
  // driver. All k-sized array work: at 100 TB the raw keys hash once
  // at sketch-build time and never move again.

  /** θ of a sketch column: M when the sample holds its whole
    * population (fewer than k hashes), else the k-th smallest (the
    * array max). Double — every hash < 2^50 is exactly representable.
    */
  private def thetaOfCol(ks: Column, k: Int): Column =
    when(size(ks) < k, lit(ThetaM.toDouble))
      .otherwise(array_max(ks).cast("double"))

  /** [[thetaEstimate]] as a column over a persisted sketch. */
  def thetaEstimateCol(ks: Column, k: Int): Column =
    when(size(ks) < k, size(ks).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(ThetaM.toDouble) /
        array_max(ks).cast("double"))

  /** GROUP-wise sketch merge as an aggregate expression: the distinct
    * k-smallest of the member sketches' union — [[thetaMerge]] folded
    * engine-side over a whole group in one hash aggregation. Each
    * member is ≤ k longs, so a group of m sketches costs m·k values
    * through the agg — sketch-sized algebra, never population-sized.
    */
  def thetaMergeAgg(ks: Column, k: Int): Column =
    slice(array_sort(array_distinct(flatten(collect_list(ks)))), 1, k)

  /** [[thetaOverlap]]'s intersection estimate as a column over two
    * persisted sketches: exact set intersection when both samples hold
    * their full populations, else the theta estimator
    * `|{h ∈ A∩B : h < θ*}| · M / θ*` with `θ* = min(θ_A, θ_B)` —
    * the same branch structure as the driver-side algebra, so the two
    * paths agree element-for-element (PropertySpec pins it).
    */
  def thetaIntersectCol(a: Column, b: Column, k: Int): Column = {
    val theta = least(thetaOfCol(a, k), thetaOfCol(b, k))
    val matching = size(org.apache.spark.sql.functions.filter(
      array_intersect(a, b), h => h.cast("double") < theta))
    when(size(a) < k && size(b) < k,
      size(array_intersect(a, b)).cast("double"))
      .otherwise(matching.cast("double") * lit(ThetaM.toDouble) / theta)
  }

  /** The 1000-executor merge path made literal for the theta family
    * (the qHeavyHittersMerged / qHllMerged discipline): 8 disjoint
    * chunk sketches of URGENT-order customers fold into one, and the
    * folded sample must equal the whole-population build ELEMENT FOR
    * ELEMENT (not just within an estimator bound — "k smallest
    * distinct" is an exact distributive fold, so mergeability is
    * deterministic, not statistical). The oracle recomputes the exact
    * distinct count; the booleans carry the in-engine law.
    */
  val qThetaMerged: QuerySpec = QuerySpec(
    "q_theta_merged",
    Some("""SELECT count(DISTINCT o_custkey) AS exact_distinct,
        true AS merged_equals_direct, true AS estimate_within_bound
      FROM orders WHERE o_orderpriority = '1-URGENT'"""),
    (spark, dir) => {
      val k = 2048
      val urgent = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val direct = thetaSketch(
        urgent.withColumn("pop", lit("all")), "pop", "o_custkey", k)
        .collect().head.getSeq[Long](1)
      val chunkSks = thetaSketch(
        urgent.withColumn("pop", pmod(col("o_orderkey"), lit(8))),
        "pop", "o_custkey", k)
        .collect().map(_.getSeq[Long](1)).toSeq
      val merged = chunkSks.reduce(thetaMerge(_, _, k))
      val exact = urgent.select("o_custkey").distinct().count()
      val est = thetaEstimate(merged, k)
      val rows = Seq(Row(exact, merged == direct,
        math.abs(est - exact) <= 5.0 / math.sqrt(k) * exact))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("exact_distinct", LongType),
          StructField("merged_equals_direct", BooleanType),
          StructField("estimate_within_bound", BooleanType))))
    })

  /** Segment overlap from PERSISTED sketches, composed entirely
    * engine-side (VERDICT r14 item 6 — the r14 theta rows ran their
    * algebra in-driver on collected samples): per-(population × chunk)
    * KMV sketches are written to a parquet sketch TABLE, read back,
    * merged per population with ONE aggregate expression
    * ([[thetaMergeAgg]]), and every pairwise overlap estimate is a
    * column ([[thetaIntersectCol]]) over the joined 3-row merged
    * frame — no sample ever reaches the driver. The oracle recomputes
    * the exact per-population and pairwise-intersection distinct
    * counts from first principles; the booleans carry the 5/√k
    * contract (intersection error relative to the pair's UNION — the
    * theta bound). Scale: raw keys hash exactly once at sketch-build;
    * everything after is k-sized array algebra over a sketch table
    * that persists/merges like HLL.
    */
  val qThetaGroups: QuerySpec = QuerySpec(
    "q_theta_groups",
    Some("""WITH p AS (SELECT DISTINCT o_orderpriority AS pop, o_custkey AS c
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM'))
      SELECT pop AS name, count(*) AS exact, true AS within_bound
      FROM p GROUP BY pop
      UNION ALL
      SELECT a.pop || ' & ' || b.pop AS name, count(*) AS exact,
        true AS within_bound
      FROM p a JOIN p b ON a.c = b.c AND a.pop < b.pop
      GROUP BY a.pop, b.pop
      ORDER BY name"""),
    (spark, dir) => {
      val k = 2048
      val pops = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
      val orders = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority").isin(pops: _*))
      // per-(population × 8-chunk) sketches, PERSISTED — the sketch
      // table a segment pipeline maintains ahead of overlap queries
      val skPath = graft.Scratch.dir("theta-sketches") + "/sk"
      thetaSketch(
        orders.withColumn("g", concat_ws("#", col("o_orderpriority"),
          pmod(col("o_orderkey"), lit(8)))),
        "g", "o_custkey", k)
        .write.mode("overwrite").parquet(skPath)
      // everything below runs over the persisted sketches
      val merged = spark.read.parquet(skPath)
        .withColumn("pop", substring_index(col("g"), "#", 1))
        .groupBy("pop")
        .agg(thetaMergeAgg(col("ks"), k).as("sk"))
      val exact = orders
        .select(col("o_orderpriority").as("pop"), col("o_custkey").as("c"))
        .distinct()
      val exactPop = exact.groupBy("pop").agg(count(lit(1)).as("exact"))
      val exactPair = exact.as("a").join(exact.as("b"),
          col("a.c") === col("b.c") && col("a.pop") < col("b.pop"))
        .groupBy(col("a.pop").as("pa"), col("b.pop").as("pb"))
        .agg(count(lit(1)).as("exact_i"))
      val tol = 5.0 / math.sqrt(k)
      val popRows = merged.join(exactPop, "pop")
        .select(col("pop").as("name"), col("exact"),
          (abs(thetaEstimateCol(col("sk"), k) - col("exact")) <=
            lit(tol) * col("exact")).as("within_bound"))
      val pairRows = merged.as("a")
        .join(merged.as("b"), col("a.pop") < col("b.pop"))
        .join(exactPair,
          col("a.pop") === col("pa") && col("b.pop") === col("pb"))
        .join(exactPop.select(col("pop").as("pop_a"),
          col("exact").as("ex_a")), col("a.pop") === col("pop_a"))
        .join(exactPop.select(col("pop").as("pop_b"),
          col("exact").as("ex_b")), col("b.pop") === col("pop_b"))
        .select(concat(col("a.pop"), lit(" & "), col("b.pop")).as("name"),
          col("exact_i").as("exact"),
          // theta bound: intersection error is relative to |A ∪ B|
          (abs(thetaIntersectCol(col("a.sk"), col("b.sk"), k) -
            col("exact_i")) <=
            lit(tol) * (col("ex_a") + col("ex_b") - col("exact_i")))
            .as("within_bound"))
      popRows.unionByName(pairRows).orderBy("name")
    })

  /** FEED-MAINTAINED sketch table — the incremental-MV discipline
    * ([[graft.operators.Changes]]) applied to theta sketches: orders
    * land as 4 committed batches on a change-feed-bearing keyed table,
    * and a consumer folds each feed slice's INSERT rows into a
    * persisted per-population sketch table ([[thetaMergeAgg]] over
    * the prior persisted state ∪ the batch sketch) — the consumer
    * never reads the base table after batch 0. Because "k smallest
    * distinct hashes" is an associative/commutative fold, the
    * incrementally-maintained sketch must equal the direct
    * whole-history build ELEMENT FOR ELEMENT — a deterministic law,
    * checked as an in-query boolean; the oracle pins the exact
    * per-population distinct counts and the 5/√k estimate bound.
    * Deletion caveat (same as HLL): a KMV sample is insert-mergeable
    * only — a tombstoned key cannot leave the sketch; a table with
    * deletes rebuilds its sketches at the OPTIMIZE cadence, exactly
    * like the ANN index's quantizer retrain. Scale: each fold costs
    * O(batch hashes) + groups × k — the feed slice, never the table.
    */
  private val thetaTableMemo =
    graft.Memo[(org.apache.spark.sql.SparkSession, String), String]()

  val qThetaIncremental: QuerySpec = QuerySpec(
    "q_theta_incremental",
    Some("""SELECT o_orderpriority AS pop,
        count(DISTINCT o_custkey) AS exact,
        true AS folded_equals_direct, true AS within_bound
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY 1 ORDER BY 1"""),
    (spark, dir) => {
      import graft.sources.Ingest
      val k = 2048
      val pops = Seq("1-URGENT", "2-HIGH")
      val orders = Tables.load(spark, dir, "orders")
        .filter(col("o_orderpriority").isin(pops: _*))
        .select(col("o_orderkey"), col("o_orderpriority").as("pop"),
          col("o_custkey"))
      val base = graft.Scratch.dir("theta-incr")
      // derive-once fixture (r16): the 4-batch feed table is read-only
      // under the fold — the sketch fold below is what the row times
      val table = thetaTableMemo.getOrElseUpdate((spark, dir), {
        val t = graft.Scratch.dir("theta-incr-table") + "/table"
        StreamRun.withStreamSizing(spark) {
          (0L to 3L).foreach { b =>
            Ingest.upsertParquet(t, Seq("o_orderkey"), nBuckets = 8,
              keepVersions = 8, changeFeed = true)(
              orders.filter(pmod(col("o_orderkey"), lit(4)) === b), b)
          }
        }
        t
      })
      // fold each feed slice into the PERSISTED sketch table
      var cur: Option[String] = None
      (0L to 3L).foreach { b =>
        val slice = Ingest.readTableChanges(spark, table, b, b)
          .filter(col("_change_type") === "insert")
        val batchSk = thetaSketch(slice, "pop", "o_custkey", k)
        val merged = cur.fold(batchSk) { p =>
          spark.read.parquet(p).unionByName(batchSk)
            .groupBy("g").agg(thetaMergeAgg(col("ks"), k).as("ks"))
        }
        val next = s"$base/sk_v$b"
        merged.write.mode("overwrite").parquet(next)
        cur = Some(next)
      }
      val folded = spark.read.parquet(cur.get)
      val direct = thetaSketch(orders, "pop", "o_custkey", k)
        .withColumnRenamed("ks", "dks")
      val exact = orders.groupBy("pop")
        .agg(countDistinct(col("o_custkey")).as("exact"))
        .withColumnRenamed("pop", "g")
      val tol = 5.0 / math.sqrt(k)
      folded.join(direct, Seq("g")).join(exact, Seq("g"))
        .select(col("g").as("pop"), col("exact"),
          (col("ks") === col("dks")).as("folded_equals_direct"),
          (abs(thetaEstimateCol(col("ks"), k) - col("exact")) <=
            lit(tol) * col("exact")).as("within_bound"))
        .orderBy("pop")
    })

  def specs: Seq[QuerySpec] =
    Seq(qHeavyHitters, qBloomPrune, qProfile, qHeavyHittersMerged,
      qQuantileSketch, qQuantileSketchMerged, qStreamQuantile, qHllMerged,
      qQuantileByGroup, qStreamQuantileByGroup, qThetaOverlap,
      qThetaMerged, qThetaGroups, qThetaIncremental)
}
