package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-preserving release — the de-identification half of the
  * reference's shared-services charter (a surveillance platform
  * re-publishes line lists and aggregates; the public techniques are
  * k-anonymity via quasi-identifier generalization, Sweeney 2002, and
  * calibrated-noise aggregate release, Dwork et al. 2006):
  *
  *  - [[kAnonymize]]: generalize quasi-identifiers up a fixed ladder
  *    (day → month → year; fine → coarse key buckets) to the FIRST
  *    level where every equivalence class holds ≥ k rows, suppressing
  *    residual small classes only at the top level. Deterministic by
  *    construction — the level choice is a pure function of the data.
  *  - [[noisyCounts]]: per-group counts with seeded Laplace noise.
  *    The noise is a deterministic function of (seed, group key) — a
  *    SHA-256-derived uniform through the inverse-CDF — so releases
  *    are reproducible and testable; a production deployment swaps
  *    the seeded uniform for a CSPRNG draw (the scaladoc'd seam: with
  *    a public seed this is calibrated perturbation, not a formal DP
  *    guarantee).
  *
  * Scale shape: k-anonymity costs one hash aggregation per ladder
  * level (ladder length is a small constant) to find the class sizes,
  * then one pass to emit — the corpus is never shuffled more than the
  * level aggs; noisy counts are ONE aggregation plus per-group scalar
  * noise (hash + ln — codegen'd built-ins).
  */
object Privacy {

  /** One generalization level: the named quasi-identifier columns. */
  final case class QiLevel(cols: Seq[(String, Column)])

  /** Smallest equivalence-class size under a level's grouping. An
    * EMPTY input has zero equivalence classes (min over zero groups is
    * SQL NULL) — trivially k-anonymous, not an error: report MaxValue
    * so the ladder picks level 0 and releases the empty frame.
    */
  private def minClassSize(df: DataFrame, level: QiLevel): Long = {
    val counts = df.groupBy(level.cols.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"))
    // one scalar to the driver per ladder level (ladder is O(3))
    val row = counts.agg(min("n")).head()
    if (row.isNullAt(0)) Long.MaxValue else row.getLong(0)
  }

  /** Generalize up `ladder` to the first level satisfying k; at the
    * top level, suppress classes still below k. Returns the chosen
    * level index and the released frame: generalized QI columns plus
    * `keep` (the released attributes), with a `k_level` column
    * stamping the level the release used.
    */
  def kAnonymize(df: DataFrame, ladder: Seq[QiLevel], k: Long,
                 keep: Seq[Column]): (Int, DataFrame) = {
    require(ladder.nonEmpty, "kAnonymize: empty generalization ladder")
    // the ladder scan's per-level sizes are the ONLY aggregations this
    // release runs — the chosen level's size is reused below, never
    // recomputed (one full-corpus agg per level, period)
    val sizes = scala.collection.mutable.Map.empty[Int, Long]
    def sizeAt(i: Int): Long =
      sizes.getOrElseUpdate(i, minClassSize(df, ladder(i)))
    val lvl = ladder.indices.find(sizeAt(_) >= k)
      .getOrElse(ladder.length - 1) // top level + suppression
    val level = ladder(lvl)
    val qi = level.cols.map { case (n, c) => c.as(n) }
    val gen = df.select(qi ++ keep: _*)
    val released =
      if (sizeAt(lvl) >= k) gen
      else {
        // top-level residual: suppress classes below k (the rows have
        // no k-anonymous representation in this ladder)
        val big = df.groupBy(qi: _*).agg(count(lit(1)).as("n"))
          .filter(col("n") >= k)
          .select(level.cols.map { case (n, _) => col(n) }: _*)
        gen.join(big, level.cols.map(_._1), "leftsemi")
      }
    (lvl, released.withColumn("k_level", lit(lvl)))
  }

  /** Seeded-uniform u ∈ (0,1) from SHA-256 of (seed, key): the first
    * 8 hex chars parsed as an integer, centered off 0 and 1. The SAME
    * formula is SQL-expressible in DuckDB (`('0x'||substr)::BIGINT`),
    * which is what makes the release cross-engine checkable.
    */
  private def seededUniform(seed: String, key: Column): Column =
    (conv(substring(sha2(concat_ws("|", lit(seed), key), 256), 1, 8),
      16, 10).cast("long").cast("double") + 0.5) / 4294967296.0

  /** Laplace(b) noise through the inverse CDF of the seeded uniform. */
  private def laplace(u: Column, b: Double): Column = {
    val c = u - 0.5
    -lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
  }

  /** Per-group counts with seeded Laplace(1/eps) noise, rounded at 6
    * then 4 decimals (the suite's cross-engine double discipline —
    * `ln` may differ by an ulp between engines).
    */
  def noisyCounts(df: DataFrame, groupCols: Seq[String], eps: Double,
                  seed: String): DataFrame = {
    val key = concat_ws("~", groupCols.map(col): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_n",
        round(round(col("n") + laplace(seededUniform(seed, key), 1.0 / eps),
          6), 4))
  }

  /** k-anonymous release of the orders line list: quasi-identifiers
    * are (customer bucket, order date) generalized day → month → year
    * with key buckets coarsening in step; k = 5; the released
    * attribute is the price. Both engines pick the level by the same
    * data-dependent rule (scalar min-class-size subqueries), so the
    * hash pins the LADDER SEMANTICS — which level a given corpus
    * needs — not just the emission.
    */
  val qKAnonymize: QuerySpec = QuerySpec(
    "q_k_anonymize",
    Some("""WITH l0 AS (SELECT o_custkey // 10 AS qc,
          CAST(o_orderdate AS DATE) AS qd, o_totalprice FROM orders),
      l1 AS (SELECT o_custkey // 100 AS qc,
          date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS qd,
          o_totalprice FROM orders),
      l2 AS (SELECT o_custkey // 1000 AS qc,
          date_trunc('year', CAST(o_orderdate AS DATE))::DATE AS qd,
          o_totalprice FROM orders),
      m0 AS (SELECT min(n) AS m FROM (SELECT count(*) AS n FROM l0 GROUP BY qc, qd)),
      m1 AS (SELECT min(n) AS m FROM (SELECT count(*) AS n FROM l1 GROUP BY qc, qd)),
      m2 AS (SELECT min(n) AS m FROM (SELECT count(*) AS n FROM l2 GROUP BY qc, qd)),
      lvl AS (SELECT CASE WHEN (SELECT m FROM m0) >= 5 THEN 0
                          WHEN (SELECT m FROM m1) >= 5 THEN 1
                          ELSE 2 END AS l),
      gen AS (SELECT l0.* FROM l0, lvl WHERE lvl.l = 0
              UNION ALL SELECT l1.* FROM l1, lvl WHERE lvl.l = 1
              UNION ALL SELECT l2.* FROM l2, lvl WHERE lvl.l = 2),
      ok AS (SELECT qc, qd FROM gen GROUP BY qc, qd HAVING
               count(*) >= 5 OR (SELECT m FROM m2) >= 5 OR
               (SELECT l FROM lvl) < 2)
      SELECT gen.qc, gen.qd, round(gen.o_totalprice, 2) AS price,
        (SELECT l FROM lvl) AS k_level
      FROM gen SEMI JOIN ok ON gen.qc = ok.qc AND gen.qd = ok.qd
      ORDER BY qc, qd, price"""),
    (spark, dir) => {
      val orders = Tables.load(spark, dir, "orders")
      val ladder = Seq(
        QiLevel(Seq(
          "qc" -> (col("o_custkey") / 10).cast("long"),
          "qd" -> to_date(col("o_orderdate")))),
        QiLevel(Seq(
          "qc" -> (col("o_custkey") / 100).cast("long"),
          "qd" -> trunc(to_date(col("o_orderdate")), "month"))),
        QiLevel(Seq(
          "qc" -> (col("o_custkey") / 1000).cast("long"),
          "qd" -> trunc(to_date(col("o_orderdate")), "year"))))
      val (_, released) = kAnonymize(orders, ladder, k = 5L,
        keep = Seq(round(col("o_totalprice"), 2).as("price")))
      released.select(col("qc"), col("qd"), col("price"), col("k_level"))
        .orderBy("qc", "qd", "price")
    })

  /** Seeded noisy-count release per order priority — reproducible
    * calibrated perturbation, cross-engine: the identical SHA-256 →
    * uniform → inverse-CDF pipeline runs in DuckDB, so the hash check
    * pins the NOISE derivation, not just the counts.
    */
  val qNoisyCounts: QuerySpec = QuerySpec(
    "q_noisy_counts",
    Some("""WITH base AS (
        SELECT o_orderpriority AS prio, count(*) AS n
        FROM orders GROUP BY 1),
      u AS (SELECT prio, n,
        (('0x' || substr(sha256('graft-release-1|' || prio), 1, 8))::BIGINT
          + 0.5) / 4294967296.0 AS uu
        FROM base)
      SELECT prio, n,
        round(round(n + (-2.0) * sign(uu - 0.5)
          * ln(1.0 - 2.0 * abs(uu - 0.5)), 6), 4) AS noisy_n
      FROM u ORDER BY prio"""),
    (spark, dir) => {
      noisyCounts(Tables.load(spark, dir, "orders")
        .select(col("o_orderpriority").as("prio")),
        Seq("prio"), eps = 0.5, seed = "graft-release-1")
        .orderBy("prio")
    })

  /** Small-cell suppression for published contingency tables — the
    * third disclosure-control primitive (statistical agencies mask
    * counts below a threshold, and then COMPLEMENTARY-suppress: a row
    * with exactly one masked cell would let a reader recover it from
    * the row total, so the smallest surviving cell in that row masks
    * too; deterministic tie-break by column key). One pass over the
    * cell frame plus one per-row window — no iteration (full
    * cross-dimension complementary suppression is NP-hard; the
    * row-rule is the published-practice baseline and is stated as
    * such).
    */
  def suppressSmallCells(cells: DataFrame, rowCol: String, colCol: String,
                         nCol: String, k: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(rowCol)
    val primary = cells.withColumn("_prim", col(nCol) < k)
    // rank surviving cells per row by (count, column key): rank 1 is
    // the complementary victim when exactly one primary hides
    val rankW = Window.partitionBy(rowCol)
      .orderBy(when(col("_prim"), lit(null)).otherwise(col(nCol)).asc_nulls_last,
        col(colCol).asc)
    primary
      .withColumn("_nprim", sum(when(col("_prim"), 1).otherwise(0)).over(w))
      .withColumn("_rank", row_number().over(rankW))
      .withColumn("suppressed",
        col("_prim") || (col("_nprim") === 1 && col("_rank") === 1))
      .select(col(rowCol), col(colCol),
        when(col("suppressed"), lit(null)).otherwise(col(nCol)).as(nCol),
        col("suppressed"))
  }

  /** Nation × priority counts with k=5 suppression: primaries masked,
    * and every row with a lone primary loses its smallest surviving
    * cell too — the oracle recomputes the identical rule with its own
    * windows, so the hash pins the complementary-victim selection
    * (count-then-column tie-break), not just the threshold.
    */
  val qCellSuppression: QuerySpec = QuerySpec(
    "q_cell_suppression",
    Some("""WITH cells AS (
        SELECT c.c_nationkey AS nation, o.o_orderpriority AS prio,
          count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      marked AS (
        SELECT nation, prio, n, n < 5 AS prim FROM cells),
      ranked AS (
        SELECT *,
          sum(CASE WHEN prim THEN 1 ELSE 0 END)
            OVER (PARTITION BY nation) AS nprim,
          row_number() OVER (PARTITION BY nation
            ORDER BY CASE WHEN prim THEN NULL ELSE n END ASC NULLS LAST,
              prio ASC) AS rnk
        FROM marked)
      SELECT nation, prio,
        CASE WHEN prim OR (nprim = 1 AND rnk = 1) THEN NULL ELSE n END AS n,
        prim OR (nprim = 1 AND rnk = 1) AS suppressed
      FROM ranked ORDER BY nation, prio"""),
    (spark, dir) => {
      val cells = Tables.load(spark, dir, "orders")
        .join(Tables.load(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"))
      suppressSmallCells(cells, "nation", "prio", "n", k = 5L)
        .orderBy("nation", "prio")
    })

  // ---- privacy budget ledger (r16) -----------------------------------
  //
  // Epsilon COMPOSITION across releases (sequential composition, Dwork
  // et al.: total privacy loss of a release series is the sum of the
  // per-release epsilons): a per-dataset budget with per-release
  // debits, persisted as a GRAFT TABLE keyed (dataset, release_id) —
  // the format's exactly-once machinery is precisely what a budget
  // needs (atomic commits, replayable history, no double-debit).
  // Charging is CONSERVATIVE: the debit commits BEFORE the release
  // frame is handed out, so a crash between debit and delivery wastes
  // budget rather than leaking it — the safe direction for privacy.
  // Replays are free because the noise is a deterministic function of
  // (seed, group): re-running a committed (release_id, eps, seed)
  // regenerates the SAME release without touching the budget.

  private val BudgetRow = "_budget"

  /** Create (or re-pin) a dataset's total epsilon budget. Refuses to
    * SHRINK an existing budget below what is already spent.
    */
  def initBudget(spark: SparkSession, ledgerDir: String, dataset: String,
                 totalEps: Double)
                (implicit store: graft.sources.TableStore): Unit = {
    import spark.implicits._
    require(totalEps > 0, s"initBudget: total epsilon must be > 0")
    val spent = spentEps(spark, ledgerDir, dataset)
    require(spent <= totalEps,
      f"initBudget: $dataset has already spent $spent%.4f — a total of " +
        f"$totalEps%.4f would be retroactively exhausted")
    graft.sources.Ingest.upsertInto(spark, ledgerDir,
      Seq((dataset, BudgetRow, totalEps, ""))
        .toDF("dataset", "release_id", "eps", "seed"),
      keys = Seq("dataset", "release_id"), nBuckets = 4)
    ()
  }

  private def ledger(spark: SparkSession, ledgerDir: String)
                    (implicit store: graft.sources.TableStore): DataFrame =
    graft.sources.Ingest.readUpsertTable(spark, ledgerDir)

  /** Total epsilon already debited against `dataset`. */
  def spentEps(spark: SparkSession, ledgerDir: String, dataset: String)
              (implicit store: graft.sources.TableStore): Double =
    if (!store.exists(store.child(ledgerDir, "_meta"))) 0.0
    else ledger(spark, ledgerDir)
      .filter(col("dataset") === dataset && col("release_id") =!= BudgetRow)
      .agg(coalesce(sum("eps"), lit(0.0))).head().getDouble(0)

  /** One budgeted noisy-counts release: debit `eps` against the
    * dataset's budget, then release [[noisyCounts]] with the recorded
    * seed. An exhausted budget REFUSES (nothing is released, nothing
    * is charged); a replay of a committed (release_id, eps, seed)
    * regenerates the identical release WITHOUT a second debit; the
    * same release_id with different parameters is a refused identity
    * violation (a release is immutable once charged).
    */
  def noisyCountsBudgeted(spark: SparkSession, ledgerDir: String,
                          dataset: String, releaseId: String,
                          df: DataFrame, groupCols: Seq[String],
                          eps: Double, seed: String)
                         (implicit store: graft.sources.TableStore)
      : DataFrame = {
    import spark.implicits._
    require(releaseId.nonEmpty && releaseId != BudgetRow,
      s"noisyCountsBudgeted: invalid release id '$releaseId'")
    require(eps > 0, "noisyCountsBudgeted: epsilon must be > 0")
    val rows = ledger(spark, ledgerDir).filter(col("dataset") === dataset)
      .collect() // budget rows: one per release — control-plane sized
    val total = rows.find(_.getString(1) == BudgetRow)
      .map(_.getDouble(2))
      .getOrElse(throw new IllegalArgumentException(
        s"noisyCountsBudgeted: no budget pinned for '$dataset' — " +
          "call initBudget first"))
    rows.find(_.getString(1) == releaseId) match {
      case Some(r) =>
        require(r.getDouble(2) == eps && r.getString(3) == seed,
          s"noisyCountsBudgeted: release '$releaseId' of $dataset was " +
            s"charged with eps=${r.getDouble(2)}, seed='${r.getString(3)}' " +
            "— a committed release is immutable (use a new release_id)")
        // replay: the deterministic noise regenerates the identical
        // release; the budget was charged the first time
        noisyCounts(df, groupCols, eps, seed)
      case None =>
        val spent = rows.filter(_.getString(1) != BudgetRow)
          .map(_.getDouble(2)).sum
        if (spent + eps > total + 1e-12)
          throw new IllegalStateException(
            f"noisyCountsBudgeted: budget exhausted for '$dataset' — " +
              f"spent $spent%.4f of $total%.4f, release needs $eps%.4f")
        graft.sources.Ingest.upsertInto(spark, ledgerDir,
          Seq((dataset, releaseId, eps, seed))
            .toDF("dataset", "release_id", "eps", "seed"),
          keys = Seq("dataset", "release_id"))
        noisyCounts(df, groupCols, eps, seed)
    }
  }

  /** Two sequential budgeted releases through the ledger (different
    * epsilons and seeds), a third refused on exhaustion — caught
    * IN-QUERY so the refusal is part of the hashed contract. DuckDB
    * recomputes both released count sets with the seeded formula; the
    * budget arithmetic itself is spec-gated (PrivacySpec battery:
    * composition, replay no-double-debit, immutable release identity).
    */
  val qNoisyCountsBudgeted: QuerySpec = QuerySpec(
    "q_noisy_counts_budgeted",
    Some("""WITH base AS (
        SELECT o_orderpriority AS prio, count(*) AS n
        FROM orders GROUP BY 1),
      r1 AS (SELECT 'r1' AS release_id, prio, n,
        (('0x' || substr(sha256('budget-r1|' || prio), 1, 8))::BIGINT
          + 0.5) / 4294967296.0 AS uu, 1.0 AS b FROM base),
      r2 AS (SELECT 'r2' AS release_id, prio, n,
        (('0x' || substr(sha256('budget-r2|' || prio), 1, 8))::BIGINT
          + 0.5) / 4294967296.0 AS uu, 0.5 AS b FROM base),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
      SELECT release_id, prio, n,
        round(round(n + (-b) * sign(uu - 0.5)
          * ln(1.0 - 2.0 * abs(uu - 0.5)), 6), 4) AS noisy_n,
        true AS third_refused
      FROM u ORDER BY release_id, prio"""),
    (spark, dir) => {
      implicit val store: graft.sources.TableStore =
        graft.sources.TableStore.local
      val ledgerDir = graft.Scratch.dir("privacy-budget") + "/ledger"
      val src = Tables.load(spark, dir, "orders")
        .select(col("o_orderpriority").as("prio"))
      initBudget(spark, ledgerDir, "orders", totalEps = 3.5)
      val r1 = noisyCountsBudgeted(spark, ledgerDir, "orders", "r1",
        src, Seq("prio"), eps = 1.0, seed = "budget-r1")
      val r2 = noisyCountsBudgeted(spark, ledgerDir, "orders", "r2",
        src, Seq("prio"), eps = 2.0, seed = "budget-r2")
      // 3.0 of 3.5 spent: a 1.0 release must refuse and charge nothing
      val refused =
        try {
          noisyCountsBudgeted(spark, ledgerDir, "orders", "r3",
            src, Seq("prio"), eps = 1.0, seed = "budget-r3")
          false
        } catch { case _: IllegalStateException => true }
      require(refused, "exhausted budget did not refuse")
      require(math.abs(spentEps(spark, ledgerDir, "orders") - 3.0) < 1e-9,
        "refused release must charge nothing")
      r1.withColumn("release_id", lit("r1"))
        .unionByName(r2.withColumn("release_id", lit("r2")))
        .select(col("release_id"), col("prio"), col("n"), col("noisy_n"),
          lit(true).as("third_refused"))
        .orderBy("release_id", "prio")
    })

  def specs: Seq[QuerySpec] = Seq(qKAnonymize, qNoisyCounts,
    qCellSuppression, qNoisyCountsBudgeted)
}
