package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.GraftTestAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, Snapshot, TableStore}
import java.nio.file.Files

/** The stats manifest (`_stats`) as every read consumes it: V2
  * pushdown (filtered COUNT, LIMIT, TopN), the pruned library read and
  * the metadata aggregates. Pins the Spark-job cost of each read, and
  * the behaviour on manifests without row counts and on library
  * bounds whose type differs from the stats column's.
  */
class StatsManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private implicit val store: TableStore = TableStore.local

  private def tmp(): String =
    Files.createTempDirectory("graft-stats").toString

  /** Two commits into 4 buckets, sorted on `v` (2 files per bucket). */
  private def sortedTable(dir: String, b0: DataFrame, b1: DataFrame): Unit =
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      Ingest.upsertParquet(dir, Seq("k"), nBuckets = 4, keepVersions = 4,
        sortCols = Seq("v"), filesPerBucket = 2)(b, i.toLong)
    }

  private def intTable(): String = {
    import spark.implicits._
    val dir = tmp() + "/t"
    sortedTable(dir,
      (1L to 2000L).map(i => (i, (i * 7919 % 2000).toInt)).toDF("k", "v"),
      (1L to 2000L by 5).map(i => (i, (i * 3).toInt)).toDF("k", "v"))
    dir
  }

  private def graft(dir: String): DataFrame = spark.read.format("graft").load(dir)

  /** Data files the executed plan's graft scan reads. */
  private def scannedFiles(df: DataFrame): Int = {
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).map {
        case fp: FilePartition => fp.files.length
        case _ => 1
      }.sum
  }

  private def aggPushed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.exists(_.readSchema().fieldNames.exists(_.startsWith("count(")))

  test("manifest-served reads stay within their Spark job budget") {
    import spark.implicits._
    val dir = tmp() + "/t"
    sortedTable(dir,
      (1L to 2000L).map(i => (i, (i * 7919 % 2000).toDouble)).toDF("k", "v"),
      (1L to 2000L by 5).map(i => (i, i + 0.5)).toDF("k", "v"))
    val all = Ingest.readUpsertTable(spark, dir).collect()
    def band(v: Double): Boolean = v >= 100.0 && v <= 500.0
    def jobs(what: String, budget: Int)(body: => Unit): Unit = {
      val js = GraftTestAccess.jobsOf(spark.sparkContext)(body)
      assert(js.size <= budget, s"$what ran ${js.size} jobs: " +
        js.map(_.stage).mkString(", "))
    }

    jobs("V2 filtered COUNT", 2) {
      val n = graft(dir).filter(col("v").between(100.0, 500.0))
        .agg(count(lit(1))).head().getLong(0)
      assert(n === all.count(r => band(r.getDouble(1))))
    }
    jobs("V2 limit(5)", 2) {
      assert(graft(dir).limit(5).collect().length === 5)
    }
    jobs("V2 orderBy(v, k).limit(5)", 2) {
      val top = graft(dir).orderBy("v", "k").limit(5).collect()
        .map(r => (r.getDouble(1), r.getLong(0))).toSeq
      assert(top === all.map(r => (r.getDouble(1), r.getLong(0))).sorted.take(5))
    }
    jobs("readUpsertTableWhere", 2) {
      val got = Ingest.readUpsertTableWhere(spark, dir,
        Seq(("v", 100.0, 500.0))).collect()
      assert(got.filter(r => band(r.getDouble(1))).toSet ===
        all.filter(r => band(r.getDouble(1))).toSet)
    }
    jobs("minMaxMeta", 1) {
      val r = Ingest.minMaxMeta(spark, dir).get.head()
      assert(r.getDouble(0) === all.map(_.getDouble(1)).min)
      assert(r.getDouble(1) === all.map(_.getDouble(1)).max)
    }
  }

  test("a manifest without n_rows declines aggregate and LIMIT pushdown; answers stay exact") {
    val dir = intTable()
    val total = Ingest.readUpsertTable(spark, dir).inputFiles.length
    assert(aggPushed(graft(dir).agg(count(lit(1)))))
    assert(scannedFiles(graft(dir).limit(5)) < total)

    // rewrite the current version's manifest part without n_rows
    val manDir = s"${Snapshot.resolve(dir).versionDir}/_stats"
    val m = spark.read.parquet(manDir).drop("n_rows")
    val rows = m.collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(manDir))
    spark.createDataFrame(rows.asJava, m.schema).coalesce(1)
      .write.parquet(manDir)

    val want = Ingest.readUpsertTable(spark, dir)
    val declined = graft(dir).agg(count(lit(1)))
    assert(!aggPushed(declined))
    assert(declined.head().getLong(0) === want.count())
    val limited = graft(dir).limit(5)
    assert(scannedFiles(limited) === total)
    assert(limited.collect().length === 5)

    val mc = Ingest.countWhere(spark, dir, Seq(("v", 100, 900)))
    assert(mc.metaFiles === 0L)
    assert(mc.count === want.filter(col("v").between(100, 900)).count())
  }

  test("mixed-type library bounds prune and count like the Spark predicate") {
    import spark.implicits._
    val dir = intTable()
    val full = Ingest.readUpsertTable(spark, dir)
    def check(lo: Any, hi: Any): Unit = {
      val pred = col("v") >= lit(lo) && col("v") <= lit(hi)
      val want = full.filter(pred).collect().toSet
      assert(want.nonEmpty)
      assert(Ingest.countWhere(spark, dir, Seq(("v", lo, hi))).count ===
        want.size.toLong, s"countWhere [$lo, $hi]")
      val got = Ingest.readUpsertTableWhere(spark, dir, Seq(("v", lo, hi)))
        .collect().toSet
      assert(want.subsetOf(got), s"readUpsertTableWhere [$lo, $hi]")
    }
    // Long bounds on an INT column; a fractional Double bound on one
    check(100L, 900L)
    check(99.5, 900.5)

    // Timestamp bounds on an INT96 sort column
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val ts = tmp() + "/ts"
      def batch(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("k", "sec")
        .select(col("k"), timestamp_seconds(col("sec")).as("v"))
      sortedTable(ts, batch((1L to 500L).map(i => (i, i * 3600))),
        batch((1L to 500L by 7).map(i => (i, i * 7200))))
      val tsFull = Ingest.readUpsertTable(spark, ts)
      val (lo, hi) = (new java.sql.Timestamp(100L * 3600 * 1000),
        new java.sql.Timestamp(300L * 3600 * 1000))
      val want = tsFull.filter(col("v") >= lit(lo) && col("v") <= lit(hi))
        .collect().toSet
      assert(want.nonEmpty)
      assert(Ingest.countWhere(spark, ts, Seq(("v", lo, hi))).count ===
        want.size.toLong)
      assert(want.subsetOf(Ingest.readUpsertTableWhere(spark, ts,
        Seq(("v", lo, hi))).collect().toSet))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("a bound on a column without stats prunes nothing and counts exactly") {
    import spark.implicits._
    val dir = tmp() + "/t"
    def batch(ks: Seq[Long]): DataFrame = ks
      .map(i => (i, (i * 7919 % 2000).toInt, (i * 31 % 97).toInt))
      .toDF("k", "v", "a")
    sortedTable(dir, batch(1L to 2000L), batch(1L to 2000L by 5))
    val full = Ingest.readUpsertTable(spark, dir)
    val total = full.inputFiles.length
    def check(bounds: Seq[(String, Any, Any)]): Unit = {
      val pred = bounds.map { case (c, lo, hi) =>
        col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
      val want = full.filter(pred).collect().toSet
      assert(want.nonEmpty)
      val got = Ingest.readUpsertTableWhere(spark, dir, bounds)
      assert(want.subsetOf(got.collect().toSet), s"readUpsertTableWhere $bounds")
      val mc = Ingest.countWhere(spark, dir, bounds)
      assert(mc.count === want.size.toLong, s"countWhere $bounds")
      // no file is answered from metadata; every surviving file is read
      assert(mc.metaFiles === 0L)
      assert(mc.scannedFiles === got.inputFiles.length.toLong)
      assert(graft(dir).filter(pred).count() === want.size.toLong)
    }
    check(Seq(("a", 10, 20)))
    check(Seq(("a", 10, 20), ("v", 100, 900)))
    // the non-stats bound keeps every file the stats bound keeps
    assert(Ingest.readUpsertTableWhere(spark, dir, Seq(("a", 10, 20)))
      .inputFiles.length === total)
  }
}
