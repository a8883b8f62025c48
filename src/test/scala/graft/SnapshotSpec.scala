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
  * versions. Counted through a delegating [[CountingStore]].
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

  /** The control-plane counts of one call on table `dir`. */
  private def counted(dir: String)(body: TableStore => Unit): Map[String, Int] = {
    val s = new CountingStore(LocalTableStore)
    body(s)
    (Seq("CURRENT", "_meta", "_schema", "_colmap").map(n => n -> s.calls(n)) ++
      Seq("_commits", "_empty").map(n => n -> s.logs(n)) :+
      ("root listing" -> s.listings(dir))).toMap
  }

  test("range walks and write-side ops resolve the table once, whatever its version count") {
    def budgets(n: Int): Seq[(String, Map[String, Int])] = {
      val dir = feedTable(n)
      val changes = counted(dir)(implicit s =>
        Ingest.readTableChanges(spark, dir, 0L, n - 1L).collect())
      val history = counted(dir)(implicit s =>
        Ingest.describeUpsertTable(spark, dir).collect())
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
    val got = large.toMap
    large.foreach { case (op, c) =>
      info(s"$op: ${c.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString(", ")}")
    }
    Seq("CURRENT", "root listing", "_commits").foreach(k =>
      assert(got("readTableChanges")(k) <= 1, s"readTableChanges $k"))
    got("describeUpsertTable").foreach { case (k, c) =>
      assert(c <= 1, s"describeUpsertTable $k ${c}x") }
    // a plain commit: one root listing (the post-commit sweep and the
    // feed publish share it); the pointer is read for the replay check,
    // the CAS base and the sweep
    val plain = got("commit")
    assert(plain("root listing") === 1)
    Map("CURRENT" -> 3, "_meta" -> 1, "_schema" -> 1, "_colmap" -> 2,
      "_commits" -> 2).foreach { case (k, c) =>
      assert(plain(k) <= c, s"commit $k ${plain(k)}x") }
    // an op resolves once on top of the commit it makes
    for (op <- Seq("deleteWhere", "restoreUpsertTable"); (k, c) <- got(op))
      assert(c <= plain(k) + 1, s"$op $k ${c}x (commit ${plain(k)}x)")
  }
}
