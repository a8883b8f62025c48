package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sources.{Ingest, LocalTableStore, TableStore}

/** Every public table read resolves its snapshot once: one call reads
  * `CURRENT`, `_meta`, `_schema` and `_colmap` at most once each and
  * probes the deletion vector at most once, so it can never mix two
  * versions' metadata. Counted through a delegating [[TableStore]].
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Counts control-object reads per name, and every probe
    * (`exists` / `isDirectory` / `listNames`) of a deletion vector.
    */
  private final class CountingStore(d: TableStore) extends TableStore {
    val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    private def probe(p: String): Unit =
      if (baseName(p) == "_deletes") calls("_deletes") += 1
    override def exists(p: String): Boolean = { probe(p); d.exists(p) }
    override def isDirectory(p: String): Boolean = { probe(p); d.isDirectory(p) }
    override def listNames(p: String): Seq[String] = { probe(p); d.listNames(p) }
    override def read(p: String): Option[String] = {
      calls(baseName(p)) += 1; d.read(p)
    }
    override def lastModified(p: String): Long = d.lastModified(p)
    override def readLog(p: String): Seq[String] = d.readLog(p)
    override def mkdirs(p: String): Unit = d.mkdirs(p)
    override def writeAtomic(dir: String, n: String, b: String): Unit =
      d.writeAtomic(dir, n, b)
    override def putConditional(dir: String, n: String,
                                e: Option[String], b: String): Boolean =
      d.putConditional(dir, n, e, b)
    override def appendLog(p: String, l: String): Unit = d.appendLog(p, l)
    override def linkOrCopy(s: String, t: String): Unit = d.linkOrCopy(s, t)
    override def delete(p: String): Unit = d.delete(p)
    override def deleteTree(p: String): Unit = d.deleteTree(p)
  }

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
    def readsOnce(what: String)(body: TableStore => Unit): Unit = {
      val s = new CountingStore(LocalTableStore)
      body(s)
      Seq("CURRENT", "_meta", "_schema", "_colmap", "_deletes")
        .filter(s.calls(_) > 1)
        .foreach(n => repeated += s"$what: $n ${s.calls(n)}x")
    }
    for (dv <- Seq(false, true)) {
      val dir = table(lazyDeletes = dv)
      val probe: DataFrame = Seq(1L, 2L, 3L).toDF("k")
      val bounds = Seq(("v", 10, 90))
      readsOnce(s"readUpsertTable dv=$dv")(implicit s =>
        Ingest.readUpsertTable(spark, dir))
      readsOnce(s"as-of readUpsertTable dv=$dv")(implicit s =>
        Ingest.readUpsertTable(spark, dir, Some(0L)))
      readsOnce(s"readUpsertTableAtTag dv=$dv")(implicit s =>
        Ingest.readUpsertTableAtTag(spark, dir, "first"))
      readsOnce(s"readUpsertTableWhere dv=$dv")(implicit s =>
        Ingest.readUpsertTableWhere(spark, dir, bounds))
      readsOnce(s"countWhere dv=$dv")(implicit s =>
        Ingest.countWhere(spark, dir, bounds))
      readsOnce(s"minMaxMeta dv=$dv")(implicit s =>
        Ingest.minMaxMeta(spark, dir))
      readsOnce(s"lookupUpsertTable dv=$dv")(implicit s =>
        Ingest.lookupUpsertTable(spark, dir, probe))
      readsOnce(s"as-of lookupUpsertTable dv=$dv")(implicit s =>
        Ingest.lookupUpsertTable(spark, dir, probe, Some(0L)))
      readsOnce(s"describeDetailUpsertTable dv=$dv")(implicit s =>
        Ingest.describeDetailUpsertTable(spark, dir))
      readsOnce(s"maintenancePlan dv=$dv")(implicit s =>
        Ingest.maintenancePlan(spark, dir))
      // the answers stand: key 2 is gone either way
      assert(Ingest.countWhere(spark, dir)(LocalTableStore).count === 199L)
      assert(Ingest.lookupUpsertTable(spark, dir, probe)(LocalTableStore)
        .count() === 2L)
    }
    assert(repeated.result() === Nil)
  }
}
