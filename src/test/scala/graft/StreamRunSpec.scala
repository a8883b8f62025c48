package graft

import graft.operators.StreamRun
import graft.sources.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-row harness's contract: a chunked drain over n chunks
  * is exactly n micro-batches, the session's shuffle sizing comes back
  * and the query is stopped whether the drain returns or its writer
  * throws, and a staging tag cannot be reused with another chunk count.
  */
class StreamRunSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Shuffle = "spark.sql.shuffle.partitions"

  /** A fixture key of its own per test (staged chunks memoize on it),
    * so no two tests share staged chunks.
    */
  private def fixture(name: String): String =
    s"streamrun-spec-$name-${System.nanoTime()}"

  private def rows: DataFrame = spark.range(0, 40).toDF("id")
    .withColumn("v", col("id") * 3)

  /** Run `body` with the session's shuffle sizing set to a value no
    * drain uses, and assert it is back after `body`.
    */
  private def atBatchSizing(body: => Unit): Unit = {
    val prev = spark.conf.get(Shuffle)
    spark.conf.set(Shuffle, "13")
    try {
      body
      assert(spark.conf.get(Shuffle) === "13")
      assert(spark.streams.active.isEmpty, "the drain left a query running")
    } finally spark.conf.set(Shuffle, prev)
  }

  test("chunked over n chunks commits exactly batch ids 0..n-1") {
    atBatchSizing {
      val n = 3
      val run = StreamRun(spark, "spec-chunked")
      val table = s"${run.base}/table"
      val sizing = scala.collection.mutable.Set.empty[String]
      def writer(b: DataFrame, id: Long): Unit = {
        sizing += spark.conf.get(Shuffle)
        Ingest.upsertParquet(table, Seq("id"), nBuckets = 2)(b, id)
      }
      run.chunked(fixture("ok"), "spec-ok", rows.schema, n)(i =>
        rows.filter(col("id") % n === i))(src =>
        Ingest.foreachBatchSink(src, run.checkpoint)(writer).start())
      assert(Ingest.committedBatchIds(table) === (0L until n).toSet)
      assert(sizing.toSet === Set("8"), "the writer ran outside stream sizing")
      assert(Ingest.readUpsertTable(spark, table).count() === 40)
    }
  }

  test("a throwing writer: sizing restored, query stopped, error surfaced") {
    atBatchSizing {
      val run = StreamRun(spark, "spec-throws")
      val err = intercept[StreamingQueryException] {
        run.chunked(fixture("throws"), "spec-throws", rows.schema, 2)(i =>
          rows.filter(col("id") % 2 === i))(src =>
          Ingest.foreachBatchSink(src, run.checkpoint) { (_, id) =>
            if (id == 1L) throw new IllegalStateException("writer failed")
          }.start())
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(causes.exists(_.contains("writer failed")), err.toString)
    }
  }

  test("a chunk that fails to land stops the running query") {
    atBatchSizing {
      val dir = fixture("vanished")
      val parts = StreamRun.stagedChunks(spark, dir, "spec-vanished", 2)(i =>
        rows.filter(col("id") % 2 === i))
      java.nio.file.Files.delete(parts(1))
      val run = StreamRun(spark, "spec-vanished")
      intercept[java.nio.file.NoSuchFileException] {
        run.chunked(dir, "spec-vanished", rows.schema, 2)(i =>
          rows.filter(col("id") % 2 === i))(src =>
          Ingest.foreachBatchSink(src, run.checkpoint)((_, _) => ()).start())
      }
    }
  }

  test("toEnd drains the source, restores sizing and stops the query") {
    atBatchSizing {
      val dir = fixture("toend")
      val in = StreamRun.staged(spark, dir, "spec-toend", 2)(i =>
        rows.filter(col("id") % 2 === i))
      val run = StreamRun(spark, "spec-toend-run")
      val out = s"${run.base}/out"
      StreamRun.toEnd(spark)(Ingest.foreachBatchSink(
        spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$in/*.parquet"),
        run.checkpoint)((b, id) =>
        Ingest.upsertParquet(out, Seq("id"), nBuckets = 2)(b, id)))
      assert(Ingest.committedBatchIds(out) === Set(0L, 1L))
      assert(Ingest.readUpsertTable(spark, out).count() === 40)
    }
  }

  test("reusing a staging tag with a different chunk count throws") {
    val dir = fixture("tag")
    StreamRun.stagedChunks(spark, dir, "spec-tag", 2)(i =>
      rows.filter(col("id") % 2 === i))
    intercept[IllegalArgumentException] {
      StreamRun.stagedChunks(spark, dir, "spec-tag", 3)(i =>
        rows.filter(col("id") % 3 === i))
    }
  }
}
