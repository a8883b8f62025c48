package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sources.{Ingest, LocalTableStore, TableStore}

/** Every public table read resolves its snapshot once: one call reads
  * `CURRENT`, `_meta`, `_schema` and `_colmap` at most once each and
  * probes the deletion vector at most once, so it can never mix two
  * versions' metadata. A CURRENT read lists no table root. Operations
  * that walk versions or commit resolve the table through one version
  * index, so their control-plane reads do not grow with the number of
  * versions. The sink commits through the index of the op that calls
  * it: one commit reads each pinned table property once, and an op
  * commits against the version it read, so a competing commit that
  * landed after the op resolved fails it loudly. Counted through a
  * delegating [[CountingStore]].
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Two commits into 4 buckets sorted on `v`; the second tombstones
    * key 2, lazily when `lazyDeletes` (a deletion vector on CURRENT).
    */
  private def table(lazyDeletes: Boolean): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snap")
      .toString + "/t"
    val b0 = (1L to 200L).map(i => (i, (i * 37 % 200).toInt, false))
    Seq(b0, Seq((2L, 0, true))).zipWithIndex.foreach { case (b, i) =>
      Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 4,
        deleteCol = Some("_del"), lazyDeletes = lazyDeletes,
        sortCols = Seq("v"), filesPerBucket = 2)(
        b.toDF("k", "v", "_del"), i.toLong)(LocalTableStore)
    }
    Ingest.createTag(dir, "first", 0L)(LocalTableStore)
    dir
  }

  test("each public read resolves CURRENT, _meta, _schema, _colmap and the vector once") {
    import spark.implicits._
    val repeated = Seq.newBuilder[String]
    for (dv <- Seq(false, true)) {
      val dir = table(lazyDeletes = dv)
      // a CURRENT read lists the table root never; an as-of or tag read
      // (and the two calls that report the retained-version count) once
      def readsOnce(what: String, rootListings: Int = 0)
                   (body: TableStore => Unit): Unit = {
        val s = new CountingStore(LocalTableStore)
        body(s)
        Seq("CURRENT", "_meta", "_schema", "_colmap", "_deletes")
          .filter(s.calls(_) > 1)
          .foreach(n => repeated += s"$what: $n ${s.calls(n)}x")
        if (s.listings(dir) > rootListings)
          repeated += s"$what: root listed ${s.listings(dir)}x"
      }
      val probe: DataFrame = Seq(1L, 2L, 3L).toDF("k")
      val bounds = Seq(("v", 10, 90))
      readsOnce(s"readUpsertTable dv=$dv")(implicit s =>
        Ingest.readUpsertTable(spark, dir))
      readsOnce(s"as-of readUpsertTable dv=$dv", rootListings = 1)(implicit s =>
        Ingest.readUpsertTable(spark, dir, Some(0L)))
      readsOnce(s"readUpsertTableAtTag dv=$dv", rootListings = 1)(implicit s =>
        Ingest.readUpsertTableAtTag(spark, dir, "first"))
      readsOnce(s"readUpsertTableWhere dv=$dv")(implicit s =>
        Ingest.readUpsertTableWhere(spark, dir, bounds))
      readsOnce(s"countWhere dv=$dv")(implicit s =>
        Ingest.countWhere(spark, dir, bounds))
      readsOnce(s"minMaxMeta dv=$dv")(implicit s =>
        Ingest.minMaxMeta(spark, dir))
      readsOnce(s"lookupUpsertTable dv=$dv")(implicit s =>
        Ingest.lookupUpsertTable(spark, dir, probe))
      readsOnce(s"as-of lookupUpsertTable dv=$dv", rootListings = 1)(implicit s =>
        Ingest.lookupUpsertTable(spark, dir, probe, Some(0L)))
      readsOnce(s"describeDetailUpsertTable dv=$dv", rootListings = 1)(implicit s =>
        Ingest.describeDetailUpsertTable(spark, dir))
      readsOnce(s"maintenancePlan dv=$dv", rootListings = 1)(implicit s =>
        Ingest.maintenancePlan(spark, dir))
      // the answers stand: key 2 is gone either way
      assert(Ingest.countWhere(spark, dir)(LocalTableStore).count === 199L)
      assert(Ingest.lookupUpsertTable(spark, dir, probe)(LocalTableStore)
        .count() === 2L)
    }
    assert(repeated.result() === Nil)
  }

  test("a deletion-vector read names its files and logs no ignored path") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = table(lazyDeletes = true)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-snapshot-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try assert(Ingest.readUpsertTable(spark, dir)(LocalTableStore)
      .count() === 199L)
    finally { root.removeAppender(capture); capture.stop() }
    // other suites may log concurrently: only this table's paths count
    val ignored = seen.toArray.map(_.toString)
      .filter(m => m.contains("All paths were ignored") && m.contains(dir))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  /** A 4-bucket change-feed table keeping every version, with `n`
    * committed batches: each upserts two fresh keys and updates key 1.
    */
  private def feedTable(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-versions")
      .toString + "/t"
    (0 until n).foreach(b => commit(dir, b.toLong)(LocalTableStore))
    dir
  }

  private def commit(dir: String, b: Long)(implicit s: TableStore): Unit = {
    import spark.implicits._
    Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 100,
      changeFeed = true)(
      Seq((1L, b.toInt), (10 * b + 2, 0), (10 * b + 3, 0)).toDF("k", "v"), b)
  }

  /** A 4-bucket change-feed table in quarantine mode under a pinned
    * constraint, with 3 committed batches: the first diverts one
    * violating row, the last lazily deletes key 3, so CURRENT carries a
    * deletion vector.
    */
  private def quarantineFeedTable(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-qfeed")
      .toString + "/t"
    Seq(Seq((1L, 1, false), (2L, 2, false), (3L, 3, false), (4L, -1, false)),
      Seq((1L, 10, false), (5L, 5, false)),
      Seq((3L, 0, true))).zipWithIndex.foreach { case (rows, b) =>
      Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 100,
        deleteCol = Some("_del"), lazyDeletes = true, changeFeed = true,
        constraints = Seq("v_nonneg" -> "v >= 0"), quarantine = true)(
        rows.toDF("k", "v", "_del"), b.toLong)(LocalTableStore)
    }
    dir
  }

  /** Index reads: at most one each per op, the commit included. */
  private val IndexReads = Seq("CURRENT", "_meta", "_schema", "_colmap")
  /** Per-snapshot and per-property reads a commit makes once. */
  private val CommitReads = Seq("_deletes", "_nbuckets", "_constraints", "_cdf")

  /** The control-plane counts of one call on table `dir`. */
  private def counted(dir: String)(body: TableStore => Unit): Map[String, Int] = {
    val s = new CountingStore(LocalTableStore)
    body(s)
    ((IndexReads ++ CommitReads).map(n => n -> s.calls(n)) ++
      Seq("_commits", "_empty").map(n => n -> s.logs(n)) :+
      ("root listing" -> s.listings(dir))).toMap
  }

  test("range walks and write-side ops resolve the table once, whatever its version count") {
    def budgets(n: Int): Seq[(String, Map[String, Int])] = {
      val dir = feedTable(n)
      val changes = counted(dir)(implicit s =>
        Ingest.readTableChanges(spark, dir, 0L, n - 1L).collect())
      // every batch's snapshot lists its own vector and bucket count
      val history = counted(dir)(implicit s =>
        Ingest.describeUpsertTable(spark, dir).collect()) -- CommitReads
      assert(Ingest.describeUpsertTable(spark, dir)(LocalTableStore)
        .filter("retained").count() === n)
      val plain = counted(dir)(implicit s => commit(dir, n.toLong))
      val delete = counted(dir)(implicit s =>
        Ingest.deleteWhere(spark, dir, "k = 2", keepVersions = 100))
      val restore = counted(dir)(implicit s =>
        Ingest.restoreUpsertTable(spark, dir, 0L, keepVersions = 100))
      Seq("readTableChanges" -> changes, "describeUpsertTable" -> history,
        "commit" -> plain, "deleteWhere" -> delete,
        "restoreUpsertTable" -> restore)
    }
    val small = budgets(2)
    val large = budgets(6)
    // what a table's version count must not move
    assert(small === large)
    val q = quarantineFeedTable()
    val update = counted(q)(implicit s =>
      assert(Ingest.updateWhere(spark, q, Seq("v" -> "v + 1"), "k = 1",
        keepVersions = 100).map(_._2) === Some(1L)))
    val merge = counted(q)(implicit s => {
      import spark.implicits._
      assert(Ingest.mergeInto(spark, q, Seq((2L, 20), (6L, 6)).toDF("k", "v"),
        Seq(Ingest.MatchedUpdate(None, Seq("v" -> "s.v")),
          Ingest.NotMatchedInsert(None)), keepVersions = 100)
        .map(_._2) === Some(2L))
    })
    // the commits landed on top of the lazy delete and the quarantine
    locally {
      import spark.implicits._
      assert(Ingest.readUpsertTable(spark, q)(LocalTableStore)
        .as[(Long, Int)].collect().toMap ===
        Map(1L -> 11, 2L -> 20, 5L -> 5, 6L -> 6))
    }
    val all = large :+ ("updateWhere" -> update) :+ ("mergeInto" -> merge)
    val got = all.toMap
    all.foreach { case (op, c) =>
      info(s"$op: ${c.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString(", ")}")
    }
    Seq("CURRENT", "root listing", "_commits").foreach(k =>
      assert(got("readTableChanges")(k) <= 1, s"readTableChanges $k"))
    got("describeUpsertTable").foreach { case (k, c) =>
      assert(c <= 1, s"describeUpsertTable $k ${c}x") }
    // a plain commit: one root listing (the post-commit sweep and the
    // feed publish share it); the pointer is read by the commit's index
    // (the replay check and the CAS base) and by the sweep's
    val plain = got("commit")
    assert(plain("root listing") === 1)
    Map("CURRENT" -> 2, "_meta" -> 1, "_schema" -> 1, "_colmap" -> 1,
      "_commits" -> 2).foreach { case (k, c) =>
      assert(plain(k) <= c, s"commit $k ${plain(k)}x") }
    val ops = Seq("deleteWhere", "restoreUpsertTable", "updateWhere", "mergeInto")
    // an op's index is its commit's: no more index reads than a plain
    // commit; an as-of op lists the root (and reads `_empty`) once more
    for (op <- ops; (k, c) <- got(op) if !CommitReads.contains(k)) {
      val allowed = if (IndexReads.contains(k)) plain(k) else plain(k) + 1
      assert(c <= allowed, s"$op $k ${c}x (commit ${plain(k)}x)")
    }
    // each pinned property once per commit, and each resolved snapshot
    // lists its vector and reads its bucket count once (a restore
    // resolves the target version too)
    for (op <- "commit" +: ops; k <- CommitReads) {
      val snaps = if (op == "restoreUpsertTable" && k != "_constraints" &&
        k != "_cdf") 2 else 1
      assert(got(op)(k) === snaps, s"$op $k ${got(op)(k)}x")
    }
  }

  test("an op whose table gains a competing commit after it resolved fails loudly") {
    import spark.implicits._
    val dir = feedTable(2)
    // the competitor commits batch 2 — the id deleteWhere mints from the
    // index it read — on the sink's first store call
    var raced = false
    val racing = new CountingStore(LocalTableStore) {
      override def mkdirs(p: String): Unit = {
        if (p == dir && !raced) { raced = true; commit(dir, 2L)(LocalTableStore) }
        super.mkdirs(p)
      }
    }
    intercept[java.util.ConcurrentModificationException] {
      Ingest.deleteWhere(spark, dir, "k = 2", keepVersions = 100)(racing)
    }
    assert(raced)
    // nothing of the delete is durable: the competitor's batch 2 is the
    // table's state and its change slice
    implicit val store: TableStore = LocalTableStore
    assert(Ingest.committedBatchIds(dir) === Set(0L, 1L, 2L))
    assert(Ingest.readUpsertTable(spark, dir).as[(Long, Int)].collect().toMap ===
      Map(1L -> 2, 2L -> 0, 3L -> 0, 12L -> 0, 13L -> 0, 22L -> 0, 23L -> 0))
    assert(Ingest.readTableChanges(spark, dir, 2L, 2L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet ===
      Set((1L, "update_preimage"), (1L, "update_postimage"), (22L, "insert"),
        (23L, "insert")))
    // the op re-run against the new head deletes as batch 3
    assert(Ingest.deleteWhere(spark, dir, "k = 2", keepVersions = 100) ===
      Some((3L, 1L)))
  }
}
