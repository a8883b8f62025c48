package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Epidemiological calendar + epi-curve primitives — the reporting
  * spine of the reference's domain: CDC surveillance programs
  * aggregate case counts by MMWR WEEK (the public MMWR/epi-week
  * definition: weeks run Sunday–Saturday; week 1 of a year is the
  * week containing at least four January days, equivalently the week
  * whose WEDNESDAY falls in the new year), and publish weekly epi
  * curves with smoothing. The reference deploys the services around
  * exactly this reporting tier (`/root/reference/README.md:2-4`,
  * surveillance shared services over the MySQL store).
  *
  * The week computation is pure date arithmetic as column
  * expressions (no UDF, codegen-friendly): Sunday-of-week via
  * `dayofweek`, anchor = Sunday + 3 (that week's Wednesday), then
  * `mmwr_year = year(anchor)` and `mmwr_week =
  * (dayofyear(anchor) - 1) / 7 + 1` — consecutive Wednesdays are 7
  * days apart and the first MMWR week's Wednesday always has
  * day-of-year 1..7, so the quotient is exact. The DuckDB oracle
  * implements the same definition INDEPENDENTLY from its own
  * dayofweek convention (Sunday = 0 there, = 1 in Spark), so a hash
  * match cross-checks the epi-calendar logic itself, not a shared
  * formula transliterated.
  *
  * Scale: one hash aggregation by (year, week) — a few thousand
  * groups whatever the corpus — then a window over the tiny weekly
  * frame for the moving average. The corpus appears exactly once.
  */
object Epi {

  /** MMWR anchor: the Wednesday of `d`'s Sunday-started week. */
  private def mmwrAnchor(d: Column): Column =
    date_add(date_sub(to_date(d), dayofweek(to_date(d)) - 1), 3)

  /** MMWR year of a date/timestamp column. */
  def mmwrYear(d: Column): Column = year(mmwrAnchor(d))

  /** MMWR week number (1..53) of a date/timestamp column. */
  def mmwrWeek(d: Column): Column =
    ((dayofyear(mmwrAnchor(d)) - 1) / 7 + 1).cast("int")

  /** Weekly epi curve over the orders "line list": case counts and
    * exact-cents revenue per MMWR week, plus a centered 3-week moving
    * average of the count over each year's ordered weeks — the
    * standard smoothed weekly curve. Every year boundary in the
    * fixture's 7-year span exercises the week-1/week-52/53 rule
    * (where MMWR differs from naive ISO weeks — Sunday start AND the
    * four-January-days rule).
    */
  val qEpiweekCurve: QuerySpec = QuerySpec(
    "q_epiweek_curve",
    Some("""WITH anchored AS (
        SELECT CAST(o_orderdate AS DATE)
            - CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT)
            + 3 AS wed,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      weekly AS (
        SELECT year(wed) AS mmwr_year,
          (dayofyear(wed) - 1) // 7 + 1 AS mmwr_week,
          count(*) AS n, sum(cents) AS cents
        FROM anchored GROUP BY 1, 2)
      SELECT mmwr_year, mmwr_week, n,
        CAST(cents AS DOUBLE) / 100 AS revenue,
        round(avg(n) OVER (PARTITION BY mmwr_year ORDER BY mmwr_week
          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS ma3
      FROM weekly ORDER BY mmwr_year, mmwr_week"""),
    (spark, dir) => {
      val weekly = Tables.load(spark, dir, "orders")
        .groupBy(mmwrYear(col("o_orderdate")).as("mmwr_year"),
          mmwrWeek(col("o_orderdate")).as("mmwr_week"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      val w = Window.partitionBy("mmwr_year").orderBy("mmwr_week")
        .rowsBetween(-1, 1)
      weekly.select(col("mmwr_year"), col("mmwr_week"), col("n"),
        (col("cents").cast("double") / 100).as("revenue"),
        round(avg(col("n")).over(w), 4).as("ma3"))
        .orderBy("mmwr_year", "mmwr_week")
    })

  /** EARS C2 aberration detection (CDC's Early Aberration Reporting
    * System, public algorithm): for each series and day, the test
    * statistic is `(count − μ) / σ` where μ/σ come from the 7-day
    * baseline ending 3 days before the test day (the 2-day guard band
    * that keeps an emerging signal out of its own baseline); a day
    * alerts when the statistic ≥ 3 with σ > 0. Order priorities stand
    * in for syndromes (5 independent series over the orders line
    * list).
    *
    * Correctness needs a DENSE day spine — a zero-case day must enter
    * the baseline as 0, not vanish (lag-window detectors silently
    * corrupt on sparse series): the spine is `sequence(min, max)` ×
    * series, left-joined to counts, zero-filled. Membership is
    * decided on the 6-dp-rounded statistic in BOTH engines (the
    * qZscoreOutliers discipline — a raw quotient within an ulp of 3
    * would flip the alert set between engines).
    *
    * Scale: the spine is DAYS × SERIES — metadata-sized versus the
    * corpus. The corpus appears once in the daily hash aggregation;
    * the window partitions by series over the small dense frame.
    */
  val qEarsAlerts: QuerySpec = QuerySpec(
    "q_ears_alerts",
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
          count(*) AS n
        FROM orders GROUP BY 1, 2),
      bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
          max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      spine AS (
        SELECT p.prio, s.day
        FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders) p,
          (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
             AS day FROM bounds) s),
      dense AS (
        SELECT spine.prio, spine.day, coalesce(daily.n, 0) AS n
        FROM spine LEFT JOIN daily
          ON daily.prio = spine.prio AND daily.day = spine.day),
      stat AS (
        SELECT prio, day, n,
          avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sigma
        FROM dense
        WINDOW w AS (PARTITION BY prio ORDER BY day
          ROWS BETWEEN 9 PRECEDING AND 3 PRECEDING))
      SELECT prio, day, n, round(round((n - mu) / sigma, 6), 4) AS c2
      FROM stat
      WHERE sigma > 0 AND round((n - mu) / sigma, 6) >= 3
      ORDER BY prio, day"""),
    (spark, dir) => {
      val orders = Tables.load(spark, dir, "orders")
      val daily = orders
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      val bounds = orders.agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      val spine = orders.select(col("o_orderpriority").as("prio")).distinct()
        .crossJoin(bounds.select(
          explode(sequence(col("d0"), col("d1"))).as("day")))
      val dense = spine.join(daily, Seq("prio", "day"), "left")
        .select(col("prio"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
      earsC2Score(dense)
        .filter(col("sigma") > 0 && col("c2r") >= 3)
        .select(col("prio"), col("day"), col("n"),
          round(col("c2r"), 4).as("c2"))
        .orderBy("prio", "day")
    })

  /** C2 scoring over a dense (prio, day, n) frame: 7-day baseline
    * ending 3 days back, rounded statistic — the scoring half of
    * [[qEarsAlerts]], reusable on any densified series.
    */
  def earsC2Score(dense: DataFrame): DataFrame = {
    val w = Window.partitionBy("prio").orderBy("day")
      .rowsBetween(-9, -3)
    dense
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sigma", stddev_samp(col("n")).over(w))
      .withColumn("c2r", round((col("n") - col("mu")) / col("sigma"), 6))
  }

  /** Farrington-style linear-trend scoring over a dense
    * (prio, day, t, y) frame: OLS over the 49-day window ending 8
    * days back (7-day guard), residual sd from the OLS identity,
    * rounded standardized statistic `zr` — the scoring half of
    * [[qFarringtonAlerts]]. Rows without a full window carry NULLs.
    */
  def farringtonScore(dense: DataFrame): DataFrame = {
    val w = Window.partitionBy("prio").orderBy("day")
      .rowsBetween(-56, -8)
    val fit = dense
      .withColumn("mx", avg(col("t")).over(w))
      .withColumn("my", avg(col("y")).over(w))
      .withColumn("mxy", avg(col("t") * col("y")).over(w))
      .withColumn("mxx", avg(col("t") * col("t")).over(w))
      .withColumn("myy", avg(col("y") * col("y")).over(w))
      .withColumn("m", count(lit(1)).over(w))
      .filter(col("m") === 49)
    val vx = col("mxx") - col("mx") * col("mx")
    val b = (col("mxy") - col("mx") * col("my")) / vx
    fit
      .withColumn("b", b)
      .withColumn("vr",
        (col("myy") - col("my") * col("my")) - b * b * vx)
      .withColumn("expected",
        col("my") + col("b") * (col("t") - col("mx")))
      .withColumn("sd", sqrt(greatest(col("vr"), lit(0.0))))
      .withColumn("zr",
        round((col("y") - col("expected")) / col("sd"), 6))
  }

  /** Farrington-style baseline-REGRESSION aberration detection (the
    * trend-aware complement to [[qEarsAlerts]]'s short-baseline C2;
    * Farrington et al. 1996 fit a trend over historical reference
    * windows — this is that linear-trend core, deterministic and
    * closed-form so two engines can recompute it exactly, without the
    * quasi-Poisson weighting): over the same densified day spine ×
    * series, each day's EXPECTED count comes from an OLS line fitted
    * to the 49-day baseline window ending 8 days before the test day
    * (a 7-day guard band keeps an emerging signal out of its own
    * fit), the residual variance comes from the OLS identity
    * `Var(resid) = Var(y) − b²·Var(x)` (no second pass), and a day
    * alerts when `count > expected + 2·sd(resid)` on the
    * 6-dp-rounded statistic (the cross-engine membership discipline).
    *
    * What the regression buys over C2: a steadily RISING series (a
    * growing surveillance catchment) alarms forever under a
    * mean-based detector but sits on the fitted line here — the spec
    * pins exactly that divergence on a synthetic ramp.
    *
    * Scale: identical to C2's — the corpus appears once in the daily
    * hash aggregation; the window sums (x, y, xy, x²) run over the
    * metadata-sized dense spine.
    */
  val qFarringtonAlerts: QuerySpec = QuerySpec(
    "q_farrington_alerts",
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
          count(*) AS n
        FROM orders GROUP BY 1, 2),
      bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
          max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      spine AS (
        SELECT p.prio, s.day
        FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders) p,
          (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
             AS day FROM bounds) s),
      dense AS (
        SELECT spine.prio, spine.day,
          CAST(spine.day - (SELECT d0 FROM bounds) AS DOUBLE) AS t,
          CAST(coalesce(daily.n, 0) AS DOUBLE) AS y
        FROM spine LEFT JOIN daily
          ON daily.prio = spine.prio AND daily.day = spine.day),
      fit AS (
        SELECT prio, day, t, y,
          avg(t) OVER w AS mx, avg(y) OVER w AS my,
          avg(t * y) OVER w AS mxy, avg(t * t) OVER w AS mxx,
          avg(y * y) OVER w AS myy, count(*) OVER w AS m
        FROM dense
        WINDOW w AS (PARTITION BY prio ORDER BY day
          ROWS BETWEEN 56 PRECEDING AND 8 PRECEDING)),
      scored AS (
        SELECT prio, day, t, y, mx, my,
          (mxy - mx * my) / (mxx - mx * mx) AS b,
          (myy - my * my)
            - ((mxy - mx * my) / (mxx - mx * mx))
              * ((mxy - mx * my) / (mxx - mx * mx))
              * (mxx - mx * mx) AS vr
        FROM fit WHERE m = 49),
      stat AS (
        SELECT prio, day, y,
          my + b * (t - mx) AS expected,
          sqrt(greatest(vr, 0)) AS sd
        FROM scored)
      SELECT prio, day, CAST(y AS BIGINT) AS n,
        round(expected, 4) AS expected,
        round(round((y - expected) / sd, 6), 4) AS z
      FROM stat
      WHERE sd > 0 AND round((y - expected) / sd, 6) >= 2
      ORDER BY prio, day"""),
    (spark, dir) => {
      val orders = Tables.load(spark, dir, "orders")
      val daily = orders
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val bounds = orders.agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      val spine = orders.select(col("o_orderpriority").as("prio")).distinct()
        .crossJoin(bounds.select(col("d0"),
          explode(sequence(col("d0"), col("d1"))).as("day")))
      val dense = spine.join(daily, Seq("prio", "day"), "left")
        .select(col("prio"), col("day"),
          datediff(col("day"), col("d0")).cast("double").as("t"),
          coalesce(col("cnt"), lit(0L)).cast("double").as("y"))
      farringtonScore(dense)
        .filter(col("sd") > 0 && col("zr") >= 2)
        .select(col("prio"), col("day"), col("y").cast("long").as("n"),
          round(col("expected"), 4).as("expected"),
          round(col("zr"), 4).as("z"))
        .orderBy("prio", "day")
    })

  /** Reporting-delay NOWCAST (reporting-triangle completeness
    * correction, the standard surveillance estimator for "how many
    * cases happened recently, given reporting lags"): from MATURE
    * event days (old enough that every report within `maxLag` has
    * arrived) estimate the lag distribution's cumulative completeness
    * `F(L)` = share of reports arriving within `L` days; a recent day
    * observed at available lag `L` is corrected to `observed / F(L)`.
    *
    * `lineList` carries one row per (event, report) with `day` (event
    * date) and `lag` (report delay in days, pre-filtered to reports
    * at or before the as-of instant and lags in `[0, maxLag]`).
    * Returns one row per recent day: observed count, completeness at
    * its available lag, and the corrected estimate (NULL when F = 0 —
    * no mature report ever arrived that fast, the estimate is
    * genuinely undefined).
    *
    * Scale: the corpus appears ONCE in two hash aggregations (mature
    * lag histogram — ≤ maxLag+1 groups; recent daily counts — ≤
    * maxLag days). The completeness table is maxLag+1 rows, built on
    * a dense lag spine (a lag with zero mature reports must
    * contribute 0, not vanish) and broadcast into the recent-day
    * join. No shuffle moves event rows twice.
    */
  def nowcast(lineList: DataFrame, asOf: String, maxLag: Int): DataFrame = {
    val asOfD = to_date(lit(asOf))
    val mature = lineList.filter(col("day") <= date_sub(asOfD, maxLag))
    val dist = mature.sparkSession.range(0, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
      .join(mature.groupBy("lag").agg(count(lit(1)).as("c")),
        Seq("lag"), "left")
      .select(col("lag"), coalesce(col("c"), lit(0L)).as("c"))
    val wCum = Window.orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // maxLag+1 rows — the unpartitioned windows are metadata-sized
    val f = dist.select(col("lag"), sum("c").over(wCum).as("cum"),
      sum("c").over(wAll).as("total"))
    val recent = lineList.filter(col("day") > date_sub(asOfD, maxLag))
      .groupBy("day").agg(count(lit(1)).as("observed"))
      .withColumn("lag", datediff(asOfD, col("day")).cast("int"))
    recent.join(broadcast(f), Seq("lag"))
      .select(col("day"), col("observed"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("completeness"),
        when(col("cum") > 0,
          round(col("observed").cast("double") * col("total").cast("double")
            / col("cum").cast("double"), 4)).as("nowcast"))
  }

  /** Nowcast over the orders line list: event day = o_orderdate,
    * report lag synthesized DETERMINISTICALLY as `o_orderkey % 11`
    * days (both engines derive the identical triangle — the row pins
    * the ESTIMATOR, not a lag model), as-of 1998-06-30, maxLag 10.
    * The DuckDB oracle rebuilds the whole estimator from first
    * principles: the as-of visibility filter, the mature/recent
    * split, the dense-lag cumulative completeness, and the corrected
    * counts, with the division written in the same operand order
    * (elementwise IEEE arithmetic, rounded once at the end in both
    * engines).
    */
  val qNowcast: QuerySpec = QuerySpec(
    "q_nowcast",
    Some("""WITH obs AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(o_orderkey % 11 AS INT) AS lag
        FROM orders
        WHERE CAST(o_orderdate AS DATE) + CAST(o_orderkey % 11 AS INT)
          <= DATE '1998-06-30'),
      mature AS (
        SELECT * FROM obs WHERE day <= DATE '1998-06-30' - 10),
      spine AS (SELECT CAST(range AS INT) AS lag FROM range(0, 11)),
      dist AS (
        SELECT s.lag, count(m.lag) AS c
        FROM spine s LEFT JOIN mature m ON m.lag = s.lag GROUP BY 1),
      f AS (
        SELECT lag, sum(c) OVER (ORDER BY lag) AS cum,
          sum(c) OVER () AS total FROM dist),
      recent AS (
        SELECT day, count(*) AS observed,
          datediff('day', day, DATE '1998-06-30') AS lag
        FROM obs WHERE day > DATE '1998-06-30' - 10 GROUP BY day)
      SELECT r.day, r.observed,
        round(CAST(f.cum AS DOUBLE) / CAST(f.total AS DOUBLE), 6)
          AS completeness,
        CASE WHEN f.cum > 0 THEN
          round(CAST(r.observed AS DOUBLE) * CAST(f.total AS DOUBLE)
            / CAST(f.cum AS DOUBLE), 4) END AS nowcast
      FROM recent r JOIN f ON f.lag = r.lag
      ORDER BY r.day"""),
    (spark, dir) => {
      val lineList = Tables.load(spark, dir, "orders")
        .select(to_date(col("o_orderdate")).as("day"),
          (col("o_orderkey") % 11).cast("int").as("lag"))
        .filter(date_add(col("day"), col("lag")) <= to_date(lit("1998-06-30")))
      nowcast(lineList, "1998-06-30", maxLag = 10).orderBy("day")
    })

  /** Space-time permutation SCAN STATISTIC (Kulldorff et al. 2005 —
    * the SaTScan method CDC practice uses for outbreak cluster
    * detection, in its permutation form which needs only the case
    * counts, no population denominators): candidate clusters are
    * cylinders (zone × run of consecutive MMWR weeks, 1..4 weeks
    * long); under the null the expected cylinder count is
    * `μ = (zone total × interval total) / N` (row×column margins),
    * and each cylinder with observed `c > μ` scores the Poisson
    * generalized likelihood ratio
    * `c·ln(c/μ) + (N−c)·ln((N−c)/(N−μ))`. The top clusters by LLR
    * are the detected outbreaks. (SaTScan's Monte-Carlo p-values are
    * a significance layer over this same statistic — the statistic
    * itself is the deterministic, cross-engine-checkable core.)
    *
    * Zones are customer nations (orders ⋈ customer ⋈ nation — the
    * "where" of each case); weeks are MMWR Sunday-start weeks. The
    * `c > μ` membership is decided on the EXACT integer cross
    * product (`c·N > zone_total·interval_total`) in both engines —
    * no float boundary can flip a cluster in or out.
    *
    * Scale: the corpus appears once in the zone-week aggregation
    * (orders ⋈ customer is a standard co-partitioned keyed join,
    * nation broadcast). Everything after is CALENDAR-sized — zones ×
    * weeks (~10⁴ rows whatever the corpus), interval spine joined by
    * broadcast, so candidate scoring costs the same at 100 TB as at
    * sf0.01.
    */
  val qSpacetimeScan: QuerySpec = QuerySpec(
    "q_spacetime_scan",
    Some("""WITH weekly AS (
        SELECT n_name AS zone,
          CAST(o_orderdate AS DATE)
            - CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS wk,
          count(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      wt AS (SELECT wk, sum(n) AS wn FROM weekly GROUP BY 1),
      zt AS (SELECT zone, sum(n) AS zn FROM weekly GROUP BY 1),
      tot AS (SELECT sum(n) AS nn FROM weekly),
      spine AS (
        SELECT s.wk AS week_start, l.len,
          s.wk + 7 * (l.len - 1) AS we
        FROM (SELECT DISTINCT wk FROM weekly) s
        CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS len) l
        WHERE s.wk + 7 * (l.len - 1) <= (SELECT max(wk) FROM weekly)),
      iw AS (
        SELECT week_start, len, sum(wn) AS iw
        FROM spine JOIN wt ON wt.wk BETWEEN week_start AND we
        GROUP BY 1, 2),
      cyl AS (
        SELECT zone, week_start, len, sum(n) AS c
        FROM spine JOIN weekly ON weekly.wk BETWEEN week_start AND we
        GROUP BY 1, 2, 3),
      scored AS (
        SELECT cyl.zone, cyl.week_start, cyl.len AS weeks, cyl.c,
          CAST(zt.zn * iw.iw AS DOUBLE) / CAST(tot.nn AS DOUBLE) AS mu,
          CAST(cyl.c AS DOUBLE) AS cd, CAST(tot.nn AS DOUBLE) AS nd
        FROM cyl
        JOIN iw ON iw.week_start = cyl.week_start AND iw.len = cyl.len
        JOIN zt ON zt.zone = cyl.zone
        CROSS JOIN tot
        WHERE cyl.c * tot.nn > zt.zn * iw.iw),
      llrd AS (
        SELECT zone, week_start, weeks, c, mu,
          cd * ln(cd / mu)
            + CASE WHEN nd = cd THEN 0.0
                ELSE (nd - cd) * ln((nd - cd) / (nd - mu)) END AS llr
        FROM scored)
      SELECT zone, week_start, weeks, CAST(c AS BIGINT) AS c,
        round(mu, 4) AS mu, round(round(llr, 6), 4) AS llr
      FROM llrd
      ORDER BY round(llr, 6) DESC, zone, week_start, weeks
      LIMIT 20"""),
    (spark, dir) => {
      val orders = Tables.load(spark, dir, "orders")
      val customer = Tables.load(spark, dir, "customer")
      val nation = Tables.load(spark, dir, "nation")
      val weekly = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("zone"),
          date_sub(to_date(col("o_orderdate")),
            dayofweek(to_date(col("o_orderdate"))) - 1).as("wk"))
        .agg(count(lit(1)).as("n"))
      // weekly/zone margins are calendar-/zone-sized; the scalars (max
      // week, grand total) attach via unpartitioned windows over those
      // tiny frames — no 1-row join anywhere in the plan
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val wt = weekly.groupBy("wk").agg(sum("n").as("wn"))
      val zt = weekly.groupBy("zone").agg(sum("n").as("zn"))
        .withColumn("nn", sum("zn").over(wAll))
      val spine = wt
        .select(col("wk").as("week_start"), max("wk").over(wAll).as("maxWk"))
        .select(col("week_start"),
          explode(array(lit(1), lit(2), lit(3), lit(4))).as("len"),
          col("maxWk"))
        .withColumn("we", date_add(col("week_start"), (col("len") - 1) * 7))
        .filter(col("we") <= col("maxWk"))
      // interval membership as an EQUI-join: each candidate interval
      // explodes into its member Sundays, so the cylinder sums are hash
      // joins over calendar-sized frames — no range/nested-loop join
      val members = spine.select(col("week_start"), col("len"),
        explode(sequence(col("week_start"), col("we"),
          expr("interval 7 days"))).as("wk"))
      val iw = wt.join(broadcast(members), Seq("wk"))
        .groupBy("week_start", "len").agg(sum("wn").as("iw"))
      val cyl = weekly.join(broadcast(members), Seq("wk"))
        .groupBy("zone", "week_start", "len").agg(sum("n").as("c"))
      val cd = col("c").cast("double")
      val nd = col("nn").cast("double")
      val mu = (col("zn") * col("iw")).cast("double") / nd
      cyl
        .join(broadcast(iw), Seq("week_start", "len"))
        .join(broadcast(zt), Seq("zone")) // zt carries nn (window total)
        .filter(col("c") * col("nn") > col("zn") * col("iw"))
        .withColumn("mu", mu)
        .withColumn("llr", cd * log(cd / col("mu")) +
          when(nd === cd, lit(0.0))
            .otherwise((nd - cd) * log((nd - cd) / (nd - col("mu")))))
        .select(col("zone"), col("week_start"), col("len").as("weeks"),
          col("c"), round(col("mu"), 4).as("mu"),
          round(round(col("llr"), 6), 4).as("llr"),
          round(col("llr"), 6).as("ord"))
        .orderBy(col("ord").desc, col("zone"), col("week_start"),
          col("weeks"))
        .drop("ord")
        .limit(20)
    })

  /** Tabular CUSUM aberration detection (Page 1954; the third member
    * of the published surveillance-detector family next to
    * [[qEarsAlerts]]'s short-baseline C2 and [[qFarringtonAlerts]]'s
    * trend regression — CUSUM is the one that ACCUMULATES small
    * sustained shifts no single-day detector sees): each series'
    * counts are standardized against the series' whole-period
    * mean/sd (the retrospective phase-I convention — an all-zero or
    * constant series drops out via the σ₀ > 0 guard), and the
    * one-sided upper CUSUM `S_t = max(0, S_{t−1} + z_t − k)` with
    * reference value `k = 0.5` alerts when it crosses the decision
    * interval `h = 4` (the textbook ±1σ-shift operating point).
    *
    * Cross-engine determinism: μ₀/σ₀ are 6-dp-rounded AGGREGATES
    * (summation order differs between engines); everything after is
    * elementwise IEEE arithmetic on identical inputs — the whole
    * recurrence is bit-identical in Spark's fold and DuckDB's
    * recursive CTE, so membership (`round(S,6) ≥ 4`) cannot drift.
    *
    * Scale: the corpus appears once in the daily aggregation; the
    * recurrence is inherently sequential PER SERIES, so each series'
    * dense day vector (calendar-bounded — ~2.4k days here) folds
    * inside one task via the [[Series.ewmaSmoothed]] discipline,
    * with the same fail-fast guard on a series outgrowing its task;
    * series themselves parallelize freely.
    */
  val qCusumAlerts: QuerySpec = QuerySpec(
    "q_cusum_alerts",
    Some("""WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
          count(*) AS n
        FROM orders GROUP BY 1, 2),
      bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
          max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      spine AS (
        SELECT p.prio, s.day
        FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders) p,
          (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
             AS day FROM bounds) s),
      dense AS (
        SELECT spine.prio, spine.day, coalesce(daily.n, 0) AS n,
          spine.day - (SELECT d0 FROM bounds) AS idx
        FROM spine LEFT JOIN daily
          ON daily.prio = spine.prio AND daily.day = spine.day),
      bs AS (
        SELECT prio,
          floor(avg(n) * 1000000 + 0.5) / 1000000 AS mu0,
          floor(stddev_samp(n) * 1000000 + 0.5) / 1000000 AS s0
        FROM dense GROUP BY prio
        HAVING floor(stddev_samp(n) * 1000000 + 0.5) / 1000000 > 0),
      z AS (
        SELECT d.prio, d.day, d.n, d.idx,
          (d.n - bs.mu0) / bs.s0 AS z
        FROM dense d JOIN bs ON d.prio = bs.prio),
      cusum AS (
        SELECT prio, idx, day, n, greatest(z - 0.5, 0.0) AS s
        FROM z WHERE idx = 0
        UNION ALL
        SELECT z.prio, z.idx, z.day, z.n,
          greatest(c.s + z.z - 0.5, 0.0)
        FROM cusum c JOIN z ON z.prio = c.prio AND z.idx = c.idx + 1)
      SELECT prio, day, n,
        floor((floor(s * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000
          AS s
      FROM cusum WHERE floor(s * 1000000 + 0.5) / 1000000 >= 4
      ORDER BY prio, day"""),
    (spark, dir) => {
      val orders = Tables.load(spark, dir, "orders")
      val daily = orders
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val bounds = orders.agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      val spine = orders.select(col("o_orderpriority").as("prio")).distinct()
        .crossJoin(bounds.select(col("d0"),
          explode(sequence(col("d0"), col("d1"))).as("day")))
      val dense = spine.join(daily, Seq("prio", "day"), "left")
        .select(col("prio"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("n"))
      def r6f(c: Column): Column =
        floor(c * 1000000 + lit(0.5)).cast("double") / 1000000
      val bs = dense.groupBy("prio")
        .agg(r6f(avg("n")).as("mu0"), r6f(stddev_samp(col("n"))).as("s0"))
        .filter(col("s0") > 0)
      val arr = dense
        .join(broadcast(bs), Seq("prio"))
        .select(col("prio"), col("day"), col("n"),
          ((col("n") - col("mu0")) / col("s0")).as("z"))
        .groupBy("prio")
        .agg(sort_array(collect_list(struct(col("day"), col("n"),
          col("z")))).as("pts"))
        .withColumn("pts",
          when(size(col("pts")) <= lit(Series.EwmaMaxPointsPerSeries),
            col("pts"))
            .otherwise(raise_error(concat(
              lit("Epi.cusum: series '"), col("prio"),
              lit("' exceeds the one-task fold bound — re-grain " +
                "(e.g. weekly) or segment the fold")))))
      // seed 0.0, fold the recurrence, drop the seed: ss[i] = S of pts[i]
      val ss = slice(
        aggregate(col("pts"), array(lit(0.0)),
          (acc, x) => concat(acc, array(
            greatest(element_at(acc, -1) + x.getField("z") - lit(0.5),
              lit(0.0))))),
        lit(2), size(col("pts")))
      val s6 = floor(col("s") * 1000000 + lit(0.5)).cast("double") / 1000000
      arr.select(col("prio"),
          explode(arrays_zip(col("pts"), ss.as("s"))).as("e"))
        .select(col("prio"), col("e.pts.day").as("day"),
          col("e.pts.n").as("n"), col("e.s").as("s"))
        .filter(s6 >= 4)
        .select(col("prio"), col("day"), col("n"),
          (floor(s6 * 10000 + lit(0.5)).cast("double") / 10000).as("s"))
        .orderBy("prio", "day")
    })

  /** EARS C2 as an ALWAYS-ON streaming monitor: the orders line list
    * arrives as 4 file micro-batches, a complete-mode streaming
    * aggregation maintains the DAILY COUNTS per series (state =
    * series × days — spine-sized, never the corpus), and the
    * detector re-scores the densified spine after the drain. The
    * alerts must equal [[qEarsAlerts]] exactly (SHARED oracle): the
    * incremental fold changes where the daily aggregate comes from,
    * not what the detector sees.
    *
    * This is the scale shape a production syndromic monitor runs:
    * the corpus flows through ONCE as it arrives (per-batch partial
    * aggregation into bounded state), and each re-score touches only
    * the metadata-sized daily frame — no end-of-day corpus rescan.
    */
  val qStreamEars: QuerySpec = QuerySpec(
    "q_stream_ears",
    qEarsAlerts.oracle,
    (spark, dir) => {
      val raw = Tables.load(spark, dir, "orders")
      val in = StreamRun.staged(spark, dir, "stream-ears", 4)(i =>
        raw.filter(pmod(col("o_orderkey"), lit(4L)) === i))
      val src = spark.readStream.schema(Tables.orders)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*.parquet")
      val daily = EventOps.runStreamToTable(
        src.groupBy(col("o_orderpriority").as("prio"),
            to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        mode = "complete")
      val bounds = daily.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      val spine = daily.select(col("prio")).distinct()
        .crossJoin(bounds.select(
          explode(sequence(col("d0"), col("d1"))).as("day")))
      val dense = spine.join(daily, Seq("prio", "day"), "left")
        .select(col("prio"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("n"))
      earsC2Score(dense)
        .filter(col("sigma") > 0 && col("c2r") >= 3)
        .select(col("prio"), col("day"), col("n"),
          round(col("c2r"), 4).as("c2"))
        .orderBy("prio", "day")
    })

  /** Two-source CAPTURE-RECAPTURE completeness estimation (the
    * Chapman-corrected Lincoln-Petersen estimator — the standard
    * epidemiologic answer to "how many cases did BOTH our reporting
    * systems miss?", Hook & Regal 1995): two overlapping case lists
    * per stratum give `N̂ = (n1+1)(n2+1)/(m+1) − 1` with `m` the
    * matched overlap, plus each system's implied sensitivity. The
    * two "systems" are deterministic key-derived sublists (keys
    * ∤ 3 / ∤ 5) so both engines derive the identical capture
    * histories and the hash pins the estimator itself.
    *
    * Scale: ONE conditional-aggregation pass over the corpus — n1,
    * n2, m are `count(CASE …)` in the same hash aggregate; nothing
    * joins, nothing shuffles twice.
    */
  val qCaptureRecapture: QuerySpec = QuerySpec(
    "q_capture_recapture",
    Some("""WITH caps AS (
        SELECT o_orderpriority AS prio,
          count(CASE WHEN o_orderkey % 3 <> 0 THEN 1 END) AS n1,
          count(CASE WHEN o_orderkey % 5 <> 0 THEN 1 END) AS n2,
          count(CASE WHEN o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
            THEN 1 END) AS m,
          count(*) AS n_true
        FROM orders GROUP BY 1)
      SELECT prio, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CAST(m AS BIGINT) AS m,
        round((CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE))
          / CAST(m + 1 AS DOUBLE) - 1, 4) AS n_hat,
        round(CAST(m AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS sens1,
        round(CAST(m AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS sens2,
        CAST(n_true AS BIGINT) AS n_true
      FROM caps ORDER BY prio"""),
    (spark, dir) => {
      val caps = Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(
          count(when(col("o_orderkey") % 3 =!= 0, 1)).as("n1"),
          count(when(col("o_orderkey") % 5 =!= 0, 1)).as("n2"),
          count(when(col("o_orderkey") % 3 =!= 0 &&
            col("o_orderkey") % 5 =!= 0, 1)).as("m"),
          count(lit(1)).as("n_true"))
      caps.select(col("prio"), col("n1"), col("n2"), col("m"),
          round((col("n1") + 1).cast("double") * (col("n2") + 1)
            .cast("double") / (col("m") + 1).cast("double") - 1, 4)
            .as("n_hat"),
          round(col("m").cast("double") / col("n2").cast("double"), 6)
            .as("sens1"),
          round(col("m").cast("double") / col("n1").cast("double"), 6)
            .as("sens2"),
          col("n_true"))
        .orderBy("prio")
    })

  /** DIRECT STANDARDIZATION of rates (the age-adjusted-rate method
    * every published CDC mortality/incidence table uses): a zone's
    * crude rate confounds with its population MIX, so each zone's
    * stratum-specific rates are re-weighted by a common STANDARD
    * population (here: the all-zone stratum totals). Zones =
    * customer nations, strata = market segments (standing in for age
    * bands), cases = orders, population = customers.
    *
    * Scale: cases aggregate once through the orders ⋈ customer keyed
    * join (the corpus pass); populations aggregate over the
    * dimension table; everything downstream is zones × strata —
    * metadata-sized. Per the repo's determinism contract, the
    * division-then-sum runs on 6-dp-rounded stratum rates in both
    * engines before the final 6-dp rounding.
    */
  val qAgeAdjusted: QuerySpec = QuerySpec(
    "q_age_adjusted",
    Some("""WITH cases AS (
        SELECT n_name AS zone, c_mktsegment AS stratum, count(*) AS c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      pop AS (
        SELECT n_name AS zone, c_mktsegment AS stratum,
          count(*) AS p
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      std AS (
        SELECT stratum, sum(p) AS sp FROM pop GROUP BY 1),
      stdtot AS (SELECT sum(sp) AS spt FROM std),
      rates AS (
        SELECT pop.zone, pop.stratum,
          round(CAST(coalesce(cases.c, 0) AS DOUBLE)
            / CAST(pop.p AS DOUBLE), 6) AS r,
          std.sp, stdtot.spt
        FROM pop
        LEFT JOIN cases ON cases.zone = pop.zone
          AND cases.stratum = pop.stratum
        JOIN std ON std.stratum = pop.stratum
        CROSS JOIN stdtot),
      crude AS (
        SELECT z.zone,
          round(CAST(sum(coalesce(c.c, 0)) AS DOUBLE)
            / CAST(sum(z.p) AS DOUBLE), 6) AS crude_rate
        FROM pop z LEFT JOIN cases c
          ON c.zone = z.zone AND c.stratum = z.stratum
        GROUP BY 1)
      SELECT r.zone, crude.crude_rate,
        round(sum(r.r * (CAST(r.sp AS DOUBLE) / CAST(r.spt AS DOUBLE))),
          6) AS adjusted_rate
      FROM rates r JOIN crude ON crude.zone = r.zone
      GROUP BY r.zone, crude.crude_rate
      ORDER BY r.zone"""),
    (spark, dir) => {
      val customer = Tables.load(spark, dir, "customer")
      val nation = Tables.load(spark, dir, "nation")
      val cust = customer.join(broadcast(nation),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("zone"),
          col("c_mktsegment").as("stratum"))
      val cases = Tables.load(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("zone", "stratum").agg(count(lit(1)).as("c"))
      val pop = cust.groupBy("zone", "stratum")
        .agg(count(lit(1)).as("p"))
      val std = pop.groupBy("stratum").agg(sum("p").as("sp"))
      val stdtot = std.agg(sum("sp").as("spt"))
      val rates = pop
        .join(cases, Seq("zone", "stratum"), "left")
        .join(broadcast(std), Seq("stratum"))
        .crossJoin(broadcast(stdtot))
        .select(col("zone"), col("stratum"),
          round(coalesce(col("c"), lit(0L)).cast("double")
            / col("p").cast("double"), 6).as("r"),
          col("sp"), col("spt"))
      val crude = pop.join(cases, Seq("zone", "stratum"), "left")
        .groupBy("zone")
        .agg(round(sum(coalesce(col("c"), lit(0L))).cast("double")
          / sum(col("p")).cast("double"), 6).as("crude_rate"))
      rates.groupBy("zone")
        .agg(round(sum(col("r") * (col("sp").cast("double")
          / col("spt").cast("double"))), 6).as("adjusted_rate"))
        .join(broadcast(crude), Seq("zone"))
        .select(col("zone"), col("crude_rate"), col("adjusted_rate"))
        .orderBy("zone")
    })

  def specs: Seq[QuerySpec] =
    Seq(qEpiweekCurve, qEarsAlerts, qFarringtonAlerts, qNowcast,
      qSpacetimeScan, qCusumAlerts, qStreamEars, qCaptureRecapture,
      qAgeAdjusted)
}
