package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThanOrEqual}
import graft.sources.{GraftSource, GraftSourceOptions, Ingest, Snapshot, TableStore}
import graft.sources.StatsManifest.Bound
import java.nio.file.Files

/** The `graft` DataSource registration — every standard Spark verb
  * against the table format: `spark.read.format("graft")` (snapshot /
  * versionAsOf / tag / changes / quarantine), `CREATE TABLE … USING
  * graft` + SELECT + INSERT INTO, `df.write.format("graft")` SaveMode
  * semantics, and the exactly-once streaming sink. Each read surface
  * is checked ≡ the library API it wraps; the pushdown translation is
  * pinned unit-level (filters → manifest bounds) and end-to-end
  * (pruned read ≡ full read under the same predicate).
  */
class GraftSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private implicit val store: TableStore = TableStore.local

  private def tmp(): String =
    Files.createTempDirectory("graft-source").toString

  /** Two-batch keyed table with updates, a delete, pinned sortCols
    * (manifest present) and a change feed.
    */
  private def buildTable(dir: String): Unit = {
    import spark.implicits._
    val b0 = Seq(
      (1L, 10, "a", false), (2L, 20, "b", false), (3L, 30, "c", false),
      (4L, 40, "d", false), (5L, 50, "e", false), (6L, 60, "f", false))
      .toDF("k", "v", "s", "_del")
    val b1 = Seq(
      (2L, 21, "B", false), (6L, 61, "F", false), (3L, 0, "c", true),
      (7L, 70, "g", false))
      .toDF("k", "v", "s", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 4,
      deleteCol = Some("_del"), changeFeed = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b0, 0L)
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 4,
      deleteCol = Some("_del"), changeFeed = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b1, 1L)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("format read equals the API snapshot read (current, versionAsOf, tag)") {
    val dir = tmp() + "/t"
    buildTable(dir)
    Ingest.createTag(dir, "first", 0L)

    val cur = spark.read.format("graft").load(dir)
    assert(rows(cur) === rows(Ingest.readUpsertTable(spark, dir)))
    assert(cur.count() === 6) // 7 keys minus the deleted k=3

    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(dir)
    assert(rows(v0) === rows(Ingest.readUpsertTable(spark, dir, Some(0L))))
    assert(v0.count() === 6)

    val tagged = spark.read.format("graft").option("tag", "first").load(dir)
    assert(rows(tagged) === rows(v0))

    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("tag", "first")
        .option("versionAsOf", "0").load(dir)
    }
  }

  test("pushed filters become manifest bounds; pruned read stays exact") {
    val dir = tmp() + "/t"
    buildTable(dir)

    // unit level: the filter → bound translation
    val bounds = GraftSourceOptions.boundsFromFilters(
      Seq(GreaterThanOrEqual("v", 21), LessThanOrEqual("v", 61),
        EqualTo("s", "B"), // not a stat column → no bound
        GreaterThan("v", 20), // strict stays strict
        In("v", Array(21, 61)), // IN-list → no bound (row filter only)
        IsNotNull("v")), statCols = Set("v"))
    assert(bounds === Seq(Bound("v", ">=", 21), Bound("v", "<=", 61),
      Bound("v", ">", 20), Bound("v", "notnull")))

    // end to end: same rows as the unpruned read under the predicate
    val got = spark.read.format("graft").load(dir)
      .filter(col("v") >= 21 && col("v") <= 61)
    val want = Ingest.readUpsertTable(spark, dir)
      .filter(col("v") >= 21 && col("v") <= 61)
    assert(rows(got) === rows(want))
    assert(got.count() === 4) // 21, 40, 50, 61

    // the bound genuinely skips files: a point probe survives fewer
    // files than the snapshot holds
    val m = Snapshot.resolve(dir).manifest(spark).get
    val all = m.files
    val hit = m.surviving(Bound.open("v", Some(70), Some(70)))
    assert(hit.nonEmpty && hit.size < all.size,
      s"expected a strict prune: ${hit.size} of ${all.size}")
  }

  test("read=changes and read=quarantine wrap the API reads") {
    val dir = tmp() + "/t"
    buildTable(dir)
    val ch = spark.read.format("graft").option("read", "changes")
      .option("startingBatch", "1").option("endingBatch", "1").load(dir)
    assert(rows(ch) === rows(Ingest.readTableChanges(spark, dir, 1L, 1L)))
    assert(ch.filter(col("_change_type") === "delete").count() === 1)

    // quarantine: a constrained table diverts violating rows
    val qdir = tmp() + "/q"
    import spark.implicits._
    val batch = Seq((1L, 5, "ok", false), (2L, -1, "bad", false))
      .toDF("k", "v", "s", "_del")
    Ingest.upsertParquet(qdir, Seq("k"), nBuckets = 2,
      deleteCol = Some("_del"), constraints = Seq(("v_pos", "v >= 0")),
      quarantine = true)(batch, 0L)
    val q = spark.read.format("graft").option("read", "quarantine").load(qdir)
    assert(rows(q) === rows(Ingest.readQuarantine(spark, qdir)))
    assert(q.count() === 1)
  }

  test("CREATE TABLE USING graft: SQL SELECT and INSERT INTO") {
    val dir = tmp() + "/t"
    buildTable(dir)
    spark.sql("DROP TABLE IF EXISTS graft_src_t")
    spark.sql(s"CREATE TABLE graft_src_t USING graft OPTIONS (path '$dir')")
    try {
      val got = spark.sql(
        "SELECT k, v FROM graft_src_t WHERE v BETWEEN 21 AND 61 ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got === Seq((2L, 21), (4L, 40), (5L, 50), (6L, 61)))

      // the catalog schema is the READ schema (no delete-flag column —
      // that is a sink input, not stored data): INSERT upserts rows;
      // deletes stay with GRAFT DML / MERGE
      spark.sql("INSERT INTO graft_src_t SELECT 9L AS k, 90 AS v, 'i' AS s")
      assert(spark.sql("SELECT v FROM graft_src_t WHERE k = 9")
        .collect().map(_.getInt(0)).toSeq === Seq(90))
      // the insert rode the format: a new committed batch exists
      assert(Ingest.committedBatchIds(dir).max === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_src_t")
  }

  test("write path: SaveMode semantics over the upsert sink") {
    import spark.implicits._
    val dir = tmp() + "/w"
    val df0 = Seq((1L, 10), (2L, 20)).toDF("k", "v")

    // ErrorIfExists on a fresh dir creates (keys pin the layout)
    df0.write.format("graft").option("keys", "k").save(dir)
    assert(spark.read.format("graft").load(dir).count() === 2)

    // second ErrorIfExists refuses
    intercept[IllegalArgumentException] {
      df0.write.format("graft").option("keys", "k").save(dir)
    }
    // Ignore no-ops
    Seq((9L, 99)).toDF("k", "v").write.format("graft")
      .mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft").load(dir).count() === 2)

    // Append upserts by key
    Seq((2L, 21), (3L, 30)).toDF("k", "v").write.format("graft")
      .mode(SaveMode.Append).save(dir)
    val got = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 10), (2L, 21), (3L, 30)))

    // Overwrite is refused, loudly
    val e = intercept[IllegalArgumentException] {
      df0.write.format("graft").mode(SaveMode.Overwrite).save(dir)
    }
    assert(e.getMessage.contains("Overwrite"))
  }

  test("streaming sink: micro-batches commit exactly-once by id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp() + "/s"
    val ck = tmp() + "/ck"
    val stream = MemoryStream[(Long, Int)]
    val q = stream.toDF().toDF("k", "v")
      .writeStream.format("graft")
      .option("keys", "k").option("buckets", "2")
      .option("checkpointLocation", ck)
      .start(dir)
    try {
      stream.addData(Seq((1L, 10), (2L, 20)))
      q.processAllAvailable()
      stream.addData(Seq((2L, 21), (3L, 30)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 10), (2L, 21), (3L, 30)))
    assert(Ingest.committedBatchIds(dir) === Set(0L, 1L))

    // replaying a committed micro-batch id AS THE SAME WRITER is a
    // ledger no-op: the poisoned frame never runs (exactly-once, not
    // at-least-once). Same checkpoint => same queryId => same writer.
    val sink = new GraftSource().createSink(spark.sqlContext,
      Map("path" -> dir, "keys" -> "k", "checkpointLocation" -> ck), Nil,
      org.apache.spark.sql.streaming.OutputMode.Update())
    sink.addBatch(1L, Seq((3L, -999)).toDF("k", "v"))
    assert(spark.read.format("graft").load(dir)
      .filter(col("k") === 3L).head().getInt(1) === 30)

    // a sink with NO writer identity (no checkpoint, no txnAppId)
    // refuses loudly rather than guessing an id space
    val anon = new GraftSource().createSink(spark.sqlContext,
      Map("path" -> dir, "keys" -> "k"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Update())
    val e = intercept[IllegalArgumentException] {
      anon.addBatch(9L, Seq((9L, 9)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("txnAppId"))

    // a stale pinned id BELOW the ledger head that was never committed
    // is a foreign id space — refused, never merged
    val dir2 = tmp() + "/s2"
    Ingest.upsertInto(spark, dir2, Seq((1L, 1)).toDF("k", "v"),
      keys = Seq("k"), asBatch = Some(5L))
    intercept[IllegalArgumentException] {
      Ingest.upsertInto(spark, dir2, Seq((2L, 2)).toDF("k", "v"),
        asBatch = Some(3L))
    }
  }

  test("batch-created table then stream into it: micro-batch 0 lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp() + "/bt"
    // the documented composition: create via the batch write path
    // (mints table batch 0), THEN stream into the same table — the
    // stream's micro-batch 0 must merge, not vanish into the ledger
    Seq((1L, 1)).toDF("k", "v").write.format("graft")
      .option("keys", "k").option("buckets", "2").save(dir)
    val stream = MemoryStream[(Long, Int)]
    val q = stream.toDF().toDF("k", "v")
      .writeStream.format("graft")
      .option("checkpointLocation", tmp() + "/btck")
      .start(dir)
    try {
      stream.addData(Seq((2L, 20)))
      q.processAllAvailable()
      stream.addData(Seq((3L, 30)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 1), (2L, 20), (3L, 30)))
    assert(Ingest.committedBatchIds(dir) === Set(0L, 1L, 2L))
  }

  test("a recreated checkpoint is a NEW writer: nothing silently swallowed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp() + "/rw"
    // first stream: two micro-batches (writer A, mb 0 and 1)
    val s1 = MemoryStream[(Long, Int)]
    val q1 = s1.toDF().toDF("k", "v").writeStream.format("graft")
      .option("keys", "k").option("buckets", "2")
      .option("checkpointLocation", tmp() + "/ck1").start(dir)
    try {
      s1.addData(Seq((1L, 10))); q1.processAllAvailable()
      s1.addData(Seq((2L, 20))); q1.processAllAvailable()
    } finally q1.stop()
    // second stream, FRESH checkpoint: its micro-batch ids restart at
    // 0 — under the old bare-id ledger both would no-op and the data
    // would be lost; per-writer dedupe processes them
    val s2 = MemoryStream[(Long, Int)]
    val q2 = s2.toDF().toDF("k", "v").writeStream.format("graft")
      .option("checkpointLocation", tmp() + "/ck2").start(dir)
    try {
      s2.addData(Seq((3L, 30))); q2.processAllAvailable()
      s2.addData(Seq((2L, 21))); q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 10), (2L, 21), (3L, 30)))
    assert(Ingest.committedBatchIds(dir) === Set(0L, 1L, 2L, 3L))
  }

  test("pushdown equivalence property: every predicate shape reads the same rows") {
    // the pruning path must be a pure superset optimization for ANY
    // predicate the planner pushes — sweep a grid of shapes (closed /
    // one-sided / point / empty-range / non-stat-column / IN / string
    // / disjunction / null-test) and require format read ≡ API read
    val dir = tmp() + "/t"
    buildTable(dir)
    val api = Ingest.readUpsertTable(spark, dir)
    val fmt = spark.read.format("graft").load(dir)
    val preds: Seq[Column] = Seq(
      col("v") >= 21 && col("v") <= 61,
      col("v") > 20,
      col("v") < 40,
      col("v") === 70,
      col("v") === -5, // empty result
      col("v") >= 100, // empty via pruning
      col("s") === "B",
      col("s").startsWith("B") || col("v") > 60,
      col("v").isin(10, 21, 70),
      col("v").isNotNull,
      col("k") % 2 === 0, // arithmetic — not pushable, still exact
      col("v").between(0, 1000))
    preds.zipWithIndex.foreach { case (p, i) =>
      val got = fmt.filter(p).collect().toSet
      val want = api.filter(p).collect().toSet
      assert(got === want, s"predicate #$i: $p")
    }
  }

  test("format sink survives a stop/restart from its checkpoint — each id once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp() + "/r"
    val ck = tmp() + "/rck"
    val stream = MemoryStream[(Long, Int)]
    def start() = stream.toDF().toDF("k", "v")
      .writeStream.format("graft")
      .option("keys", "k").option("buckets", "2")
      .option("checkpointLocation", ck)
      .start(dir)

    val q1 = start()
    try {
      stream.addData(Seq((1L, 10), (2L, 20)))
      q1.processAllAvailable()
    } finally q1.stop()

    // data added while the query is DOWN lands after restart, under
    // the NEXT batch id — the checkpoint, not the sink, carries the
    // source offset; the ledger pins each id exactly once
    stream.addData(Seq((2L, 21), (3L, 30)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((1L, 10), (2L, 21), (3L, 30)))
    assert(Ingest.committedBatchIds(dir) === Set(0L, 1L))
  }

  test("sizeInBytes prices the snapshot so small dims broadcast") {
    val dir = tmp() + "/t"
    buildTable(dir)
    val size = spark.read.format("graft").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0)
    assert(size < 10L * 1024 * 1024, s"tiny table priced at $size")

    // and the planner acts on it: graft dim ⋈ big fact broadcasts
    import spark.implicits._
    val fact = spark.range(0, 10000)
      .select((col("id") % 7 + 1).as("k"), col("id").as("x"))
    val joined = fact.join(spark.read.format("graft").load(dir), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("store=hadoop reaches the Hadoop control plane end to end") {
    import spark.implicits._
    val dir = tmp() + "/h"
    val hstore = new graft.sources.HadoopTableStore()
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2)(
      Seq((1L, 10), (2L, 20)).toDF("k", "v"), 0L)(hstore)
    val got = spark.read.format("graft").option("store", "hadoop").load(dir)
    assert(got.count() === 2)
    assert(rows(got) === rows(Ingest.readUpsertTable(spark, dir)(hstore)))
  }

  test("readStream.format(graft): the change feed is a REAL streaming source") {
    val dir = tmp() + "/t"
    buildTable(dir)
    val ck = tmp() + "/srcck"
    val src = spark.readStream.format("graft")
      .option("read", "changes").load(dir)
    assert(src.isStreaming)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def drain(): Unit = {
      val q = src.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          df.collect().foreach(seen.add); ()
        }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
    }
    // first run: the whole committed feed (batches 0 and 1)
    drain()
    assert(rows(spark.createDataFrame(
      new java.util.ArrayList(seen), src.schema)) ===
      rows(Ingest.readTableChanges(spark, dir, 0L, Long.MaxValue)))
    // a third batch lands while the query is DOWN; the restarted query
    // resumes from its checkpoint and reads ONLY the new slice
    import spark.implicits._
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 4,
      deleteCol = Some("_del"), changeFeed = true,
      sortCols = Seq("v"), filesPerBucket = 2)(
      Seq((8L, 80, "h", false)).toDF("k", "v", "s", "_del"), 2L)
    seen.clear()
    drain()
    assert(rows(spark.createDataFrame(
      new java.util.ArrayList(seen), src.schema)) ===
      rows(Ingest.readTableChanges(spark, dir, 2L, 2L)))
    // snapshot-mode streaming is refused with the right spelling
    val e = intercept[Exception] {
      spark.readStream.format("graft").load(dir)
        .writeStream.format("memory").queryName("feed_v2_c")
        .option("checkpointLocation", tmp() + "/badck").start()
    }
    assert(e.getMessage.contains("streamed reading") ||
      e.getMessage.contains("MICRO_BATCH_READ"))
  }

  test("bounded change reads fail past retention; the stream drains the published feed") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Seq(Seq((1L, 10), (2L, 20)), Seq((3L, 30), (4L, 40))).zipWithIndex
      .foreach { case (rows, b) =>
        Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 1,
          changeFeed = true)(rows.toDF("k", "v"), b.toLong)
      }
    // v_0 was swept: its slice survives only as published feed/ links,
    // which a bounded read must not answer from
    def retentionError(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("beyond the retention")))
    assert(retentionError(intercept[IllegalArgumentException](
      Ingest.readTableChanges(spark, dir, 0L, 1L))))
    for (end <- Seq(0L, 1L))
      assert(retentionError(intercept[Exception](
        spark.read.format("graft").option("read", "changes")
          .option("startingBatch", "0").option("endingBatch", end.toString)
          .load(dir).collect())), s"V2 read of batches 0..$end")
    val q = spark.readStream.format("graft").option("read", "changes")
      .load(dir).writeStream.format("memory").queryName("feed_v2_swept")
      .option("checkpointLocation", tmp() + "/sck").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("feed_v2_swept").count() === 4)
  }

  test("maxBatchesPerTrigger bounds stream admission per micro-batch") {
    val dir = tmp() + "/t"
    buildTable(dir) // 2 committed batches
    val q = spark.readStream.format("graft").option("read", "changes")
      .option("maxBatchesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("feed_v2_throttled")
      .option("checkpointLocation", tmp() + "/tck").start()
    try q.processAllAvailable() finally q.stop()
    assert(rows(spark.table("feed_v2_throttled")) ===
      rows(Ingest.readTableChanges(spark, dir, 0L, Long.MaxValue)))
    // two table batches drained one per trigger → ≥ 2 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  /** The V2 scan of `df`, for plan-shape assertions. */
  private def v2Scan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.connector.read.Scan =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.head

  test("pushed aggregates answer from the stats manifest") {
    val dir = tmp() + "/t"
    buildTable(dir)
    val fmt = spark.read.format("graft").load(dir)
    val api = Ingest.readUpsertTable(spark, dir)

    // whole-table COUNT: the scan's output IS the aggregate — zero
    // data columns read, the manifest answers
    val cntDf = fmt.agg(count(lit(1)))
    assert(v2Scan(cntDf).readSchema().fieldNames.toSeq === Seq("count(*)"),
      "COUNT(*) did not push into the scan")
    assert(cntDf.head().getLong(0) === api.count())

    // banded COUNT on the pinned sort column pushes through too
    val bandDf = fmt.filter(col("v") >= 21 && col("v") <= 61)
      .agg(count(lit(1)))
    assert(v2Scan(bandDf).readSchema().fieldNames.toSeq === Seq("count(*)"),
      "banded COUNT did not push into the scan")
    assert(bandDf.head().getLong(0) ===
      api.filter(col("v") >= 21 && col("v") <= 61).count())
    // strict bounds stay exact (boundary rows are re-read, not folded)
    val strictDf = fmt.filter(col("v") > 21 && col("v") < 61)
      .agg(count(lit(1)))
    assert(strictDf.head().getLong(0) ===
      api.filter(col("v") > 21 && col("v") < 61).count())

    // MIN/MAX of the sort column: manifest fold, no data files
    val mmDf = fmt.agg(min("v"), max("v"))
    assert(v2Scan(mmDf).readSchema().fieldNames.toSeq ===
      Seq("min(v)", "max(v)"), "MIN/MAX did not push into the scan")
    val mm = mmDf.head()
    val want = api.agg(min("v"), max("v")).head()
    assert((mm.getInt(0), mm.getInt(1)) === (want.getInt(0), want.getInt(1)))

    // SQL spelling through a catalog table
    spark.sql(s"CREATE TABLE agg_t USING graft OPTIONS (path '$dir')")
    try {
      val sqlDf = spark.sql("SELECT count(*) AS n FROM agg_t")
      assert(v2Scan(sqlDf).readSchema().fieldNames.toSeq === Seq("count(*)"))
      assert(sqlDf.head().getLong(0) === api.count())
    } finally spark.sql("DROP TABLE agg_t")

    // declines: a filter on a NON-stat column keeps the normal scan
    val nfDf = fmt.filter(col("s") === "B").agg(count(lit(1)))
    assert(!v2Scan(nfDf).readSchema().fieldNames.contains("count(*)"),
      "aggregate pushed under a non-stat filter — unsound")
    assert(nfDf.head().getLong(0) === api.filter(col("s") === "B").count())
  }

  test("deletion vectors apply through the V2 read; aggregates decline") {
    import spark.implicits._
    val dir = tmp() + "/dv"
    val b0 = Seq((1L, 10, false), (2L, 20, false), (3L, 30, false),
      (4L, 40, false)).toDF("k", "v", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2, keepVersions = 4,
      deleteCol = Some("_del"), lazyDeletes = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b0, 0L)
    val b1 = Seq((2L, 0, true)).toDF("k", "v", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2, keepVersions = 4,
      deleteCol = Some("_del"), lazyDeletes = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b1, 1L)
    val vDir = Snapshot.resolve(dir).versionDir
    assert(new java.io.File(s"$vDir/_deletes").isDirectory,
      "fixture did not produce a deletion vector")
    val fmt = spark.read.format("graft").load(dir)
    val api = Ingest.readUpsertTable(spark, dir)
    assert(rows(fmt) === rows(api))
    assert(fmt.filter(col("k") === 2L).count() === 0L)
    // pruned projection WITHOUT the keys still anti-filters correctly
    assert(fmt.select("v").collect().map(_.getInt(0)).sorted.toSeq ===
      Seq(10, 30, 40))
    // metadata aggregates are UNSOUND under a vector — declined
    val cntDf = fmt.agg(count(lit(1)))
    assert(!v2Scan(cntDf).readSchema().fieldNames.contains("count(*)"),
      "aggregate pushed over a deletion vector — unsound")
    assert(cntDf.head().getLong(0) === 3L)
  }

  test("column mapping applies through the V2 read") {
    val dir = tmp() + "/cm"
    buildTable(dir)
    Ingest.renameColumn(dir, "v", "val")
    val fmt = spark.read.format("graft").load(dir)
    assert(fmt.columns.toSeq === Ingest.readUpsertTable(spark, dir)
      .columns.toSeq)
    assert(fmt.columns.contains("val") && !fmt.columns.contains("v"))
    assert(rows(fmt) === rows(Ingest.readUpsertTable(spark, dir)))
    // pushdown on the LOGICAL name prunes and filters correctly
    assert(rows(fmt.filter(col("val") >= 21 && col("val") <= 61)) ===
      rows(Ingest.readUpsertTable(spark, dir)
        .filter(col("val") >= 21 && col("val") <= 61)))
    // aggregates answer on the logical name too
    val mmDf = fmt.agg(min("val"), max("val"))
    assert(v2Scan(mmDf).readSchema().fieldNames.length === 2)
    val mm = mmDf.head()
    assert((mm.getInt(0), mm.getInt(1)) === (10, 70))
  }

  /** Every physical node under AQE wrappers (adaptive root, query
    * stages, reused exchanges), for runtime-filter assertions that
    * must see the FINAL executed plan.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(s.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      p +: allNodes(r.child)
    case other => other +: other.children.flatMap(allNodes)
  }

  test("runtime join pruning: broadcast keys shrink the scanned file set") {
    val dir = tmp() + "/rf"
    import spark.implicits._
    // 64 keys, sorted by v, 4 files per bucket → each file covers a
    // narrow disjoint v-range; a one-key dim should touch ~1 file
    val b0 = (1L to 64L).map(k => (k, (k * 10).toInt, s"s$k", false))
      .toDF("k", "v", "s", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2, keepVersions = 2,
      sortCols = Seq("v"), filesPerBucket = 4)(b0, 0L)
    val fact = spark.read.format("graft").load(dir)
    // file-backed dim: a LocalRelation folds the selective filter away
    // and the pruning rule (rightly) sees nothing worth a subquery
    val dimPath = dir + "_dim"
    Seq((40, "hit"), (90, "hit"), (99999, "miss")).toDF("v", "tag")
      .write.parquet(dimPath)
    val joined = fact.join(
      broadcast(spark.read.parquet(dimPath).filter(col("tag") === "hit")),
      Seq("v"))
    assert(joined.collect().map(_.getAs[Long]("k")).toSet === Set(4L, 9L))
    val nodes = allNodes(joined.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().startsWith("graft ") => b
    }.getOrElse(fail("no graft BatchScanExec in the final plan"))
    assert(scan.runtimeFilters.nonEmpty,
      "dynamic pruning injected no runtime filter on the graft scan")
    // effect, not just injection: the scan emitted only the surviving
    // files' rows, a strict subset of the 64-row table
    val out = scan.metrics("numOutputRows").value
    assert(out < 64L, s"runtime filter pruned nothing (scan emitted $out)")
    assert(out >= 2L)
  }

  test("pushed LIMIT truncates the file list to a covering prefix") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val df = (1L to 64L).map(k => (k, k.toInt, s"s$k", false))
      .toDF("k", "v", "s", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 8, keepVersions = 4,
      deleteCol = Some("_del"), changeFeed = false,
      sortCols = Seq("v"))(df, 0L)
    def graftScan(d: org.apache.spark.sql.DataFrame) = {
      d.collect() // materialize so the executed plan is final
      allNodes(d.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("graft ") => b
      }.getOrElse(fail("no graft BatchScanExec in the final plan"))
    }
    def filesOf(b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec): Int =
      b.inputPartitions.map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.length
        case _ => 1
      }.sum

    val full = spark.read.format("graft").load(dir)
    val total = filesOf(graftScan(full))
    assert(total >= 8, s"fixture should spread over many files: $total")

    val limited = spark.read.format("graft").load(dir).limit(5)
    assert(limited.collect().length === 5)
    // still TABLE rows — the truncated scan is a superset of the limit
    val all = full.collect().toSet
    assert(limited.collect().forall(all.contains))
    val b = graftScan(limited)
    assert(b.scan.description().contains("limit: 5"))
    assert(filesOf(b) < total,
      s"limit should truncate the $total-file list, read ${filesOf(b)}")

    // a pushed row-dropping filter makes coverage unprovable: the
    // limit is still accepted as a hint, but truncation must DECLINE
    // (all surviving files read; correctness unchanged)
    val filtered = spark.read.format("graft").load(dir)
      .filter(col("v") >= 1).limit(5)
    assert(filtered.collect().length === 5)
    assert(filesOf(graftScan(filtered)) === total,
      "truncation must decline under a pushed filter")
  }

  test("pushed TopN reads only the files whose bounds can reach the top k") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // v is the sort column AND the stat column; 64 distinct values so
    // the top-k set is deterministic and bucket bounds spread
    val df = (1L to 64L).map(k => (k, k.toInt, s"s$k", false))
      .toDF("k", "v", "s", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 8, keepVersions = 4,
      deleteCol = Some("_del"), changeFeed = false,
      sortCols = Seq("v"))(df, 0L)
    def graftScan(d: org.apache.spark.sql.DataFrame) = {
      d.collect()
      allNodes(d.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("graft ") => b
      }.getOrElse(fail("no graft BatchScanExec in the final plan"))
    }
    def filesOf(b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec): Int =
      b.inputPartitions.map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.length
        case _ => 1
      }.sum
    val total = filesOf(graftScan(spark.read.format("graft").load(dir)))

    // ascending: the 5 smallest v, exactly — truncation is a superset
    val asc = spark.read.format("graft").load(dir)
      .orderBy(col("v"), col("k")).limit(5)
    assert(asc.collect().map(_.getAs[Int]("v")).toSeq === (1 to 5))
    val bAsc = graftScan(asc)
    assert(bAsc.scan.description().contains("topn: v asc 5"),
      bAsc.scan.description())
    assert(filesOf(bAsc) < total,
      s"topN should truncate the $total-file list, read ${filesOf(bAsc)}")

    // descending: the 5 largest
    val desc = spark.read.format("graft").load(dir)
      .orderBy(col("v").desc, col("k")).limit(5)
    assert(desc.collect().map(_.getAs[Int]("v")).toSeq ===
      (60 to 64).reverse)
    assert(filesOf(graftScan(desc)) < total)

    // a NON-stat leading column cannot truncate (still correct)
    val byS = spark.read.format("graft").load(dir)
      .orderBy(col("s"), col("k")).limit(5)
    assert(byS.collect().length === 5)
    assert(filesOf(graftScan(byS)) === total,
      "topN on a non-stat column must decline")
  }

  test("metadata columns: _graft_file/_graft_bucket stamp provenance per row") {
    val dir = tmp() + "/meta"
    buildTable(dir)

    // hidden from SELECT *; resolvable by name
    val plain = spark.read.format("graft").load(dir)
    assert(plain.columns.toSeq === Seq("k", "v", "s"))
    val meta = plain.select(col("k"), col("v"),
      col("_graft_file"), col("_graft_bucket"))
    val got = meta.collect()
    assert(got.length === 6)
    got.foreach { r =>
      val file = r.getAs[String]("_graft_file")
      val bkt = r.getAs[Long]("_graft_bucket")
      assert(file.contains(dir), s"file URI should be in-table: $file")
      assert(file.contains(s"bkt=$bkt/"),
        s"bucket column must match the serving file's path: $file vs $bkt")
    }
    // provenance is consistent: every key maps to the bucket its file
    // lives in, and file-level grouping matches the physical layout
    val perFile = meta.groupBy("_graft_file")
      .agg(count(lit(1)).as("n"), count_distinct(col("_graft_bucket")).as("b"))
      .collect()
    assert(perFile.forall(_.getAs[Long]("b") === 1L))

    // metadata composes with pushed filters (reader re-applies exactly)
    val filtered = plain.filter(col("v") >= 40)
      .select(col("k"), col("_graft_bucket"))
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(4L, 5L, 6L, 7L))

    // metadata-only projection still works (no data column requested)
    assert(plain.select(col("_graft_file")).collect().length === 6)
  }

  test("metadata columns compose with deletion vectors and time travel") {
    import spark.implicits._
    val dir = tmp() + "/metadv"
    val b0 = Seq((1L, 10, false), (2L, 20, false), (3L, 30, false),
      (4L, 40, false)).toDF("k", "v", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2, keepVersions = 4,
      deleteCol = Some("_del"), lazyDeletes = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b0, 0L)
    val b1 = Seq((2L, 0, true)).toDF("k", "v", "_del")
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 2, keepVersions = 4,
      deleteCol = Some("_del"), lazyDeletes = true,
      sortCols = Seq("v"), filesPerBucket = 2)(b1, 1L)

    // DV anti-filter forces key columns into the physical read; the
    // metadata stamp sits on top of the projection back off them
    val rows = spark.read.format("graft").load(dir)
      .select(col("v"), col("_graft_bucket")).collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq === Seq(10, 30, 40),
      "deleted row must not resurface under a metadata projection")
    assert(rows.forall(!_.isNullAt(1)))

    // versionAsOf serves the OLD snapshot's files
    val v0files = spark.read.format("graft").option("versionAsOf", "0")
      .load(dir).select("_graft_file").distinct()
      .collect().map(_.getString(0))
    assert(v0files.forall(_.contains("/v_0/")),
      s"as-of read must stamp v_0 files: ${v0files.toSeq}")
  }
}
