package graft.operators

import graft.sources.Ingest
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one way a streaming row drives a stream. A run owns a fresh
  * scratch dir (`base`, unique per call: a checkpoint binds to one
  * source history, so reps never share one), the file source's input
  * dir `in/` under it and the query's checkpoint `ck/`. Chunks are
  * staged once per (session, fixture, tag) and copied into `in/` per
  * run.
  *
  * Two drains:
  *   - [[chunked]]: start the query, then land chunk i and
  *     `processAllAvailable`, so chunk i is micro-batch i;
  *   - [[StreamRun.toEnd]]: `AvailableNow` over whatever the source
  *     holds, then wait for the query to end.
  * Both run at [[StreamRun.withStreamSizing]] and stop the query on
  * every exit.
  */
private[graft] final class StreamRun private (spark: SparkSession,
                                              val base: String) {
  val checkpoint: String = s"$base/ck"

  /** The file source's input dir, created on first use. */
  lazy val in: String = { new java.io.File(s"$base/in").mkdirs(); s"$base/in" }

  /** Land staged chunk `i` in [[in]] as `c<i>.parquet`. */
  def land(parts: IndexedSeq[Path], i: Int): Unit = {
    Files.copy(parts(i), Paths.get(s"$in/c$i.parquet"),
      StandardCopyOption.REPLACE_EXISTING); ()
  }

  /** Stage `n` chunks under `tag` (see [[StreamRun.stagedChunks]]),
    * start `start` over a parquet file stream of [[in]] read with
    * `schema`, then land chunk i and drain it as micro-batch i, for
    * i = 0 until n. Date- or key-range chunks drained one at a time
    * make cross-batch order exactly chunk order.
    */
  def chunked(dir: String, tag: String, schema: StructType, n: Int)
             (chunk: Int => DataFrame)
             (start: DataFrame => StreamingQuery): Unit = {
    val src = Ingest.readStreamFiles(spark, s"$in/*.parquet", schema,
      basePath = Some(in))
    StreamRun.withStreamSizing(spark) {
      val parts = StreamRun.stagedChunks(spark, dir, tag, n)(chunk)
      val q = start(src)
      try parts.indices.foreach { i => land(parts, i); q.processAllAvailable() }
      finally q.stop()
    }
  }
}

private[graft] object StreamRun {

  /** A run over a fresh `Scratch.dir(tag)`. */
  def apply(spark: SparkSession, tag: String): StreamRun =
    new StreamRun(spark, graft.Scratch.dir(tag))

  /** Stateful-stage parallelism for the streaming rows. A streaming
    * query pins one state-store instance per shuffle partition, and
    * EVERY micro-batch pays per-store commit I/O whether or not the
    * partition holds state — so state partitions must be sized to state
    * VOLUME (here: 150 users / a few thousand windows), not to core
    * count. 32 stores over this state ran the stream-stream join at
    * 9.3 s; 8 runs it at ~3.9 s, same result. On a cluster the same
    * sizing rule holds in the other direction: state partitions grow
    * with keyspace (and the store moves to RocksDB), independent of the
    * batch side's shuffle sizing, and the number is fixed at first
    * start because it is baked into the checkpoint.
    */
  private val StreamStatePartitions = 8

  /** Run `body` at streaming-state shuffle sizing, restoring the
    * session's batch sizing after, also when `body` throws. The conf
    * is read when a query STARTS (it defines the state layout for the
    * checkpoint's lifetime), and the sink's merge jobs inside a
    * `foreachBatch` writer plan per batch on the caller's session — so
    * a drain holds the sizing for the stream's whole lifetime. The
    * sink's batch folds outside a stream use it too: their merge jobs
    * are batch-sized, not corpus-sized.
    */
  def withStreamSizing[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The `toEnd` drain: start `writer` with `Trigger.AvailableNow`,
    * wait for it to end and stop it.
    */
  def toEnd(spark: SparkSession)(writer: => DataStreamWriter[Row]): Unit =
    withStreamSizing(spark) {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }

  private val stagedChunksMemo =
    graft.Memo[(SparkSession, String, String), IndexedSeq[Path]]()

  /** Stage `n` one-file parquet chunks ONCE per (session, fixture,
    * tag) and return the chunk part files: each run drains a fresh
    * source dir and checkpoint, and that isolation needs a per-run COPY
    * of each staged file, not a per-run REWRITE of the chunking query.
    * `chunk(i)` must be deterministic in (fixture, i), and a tag must
    * uniquely determine the chunking: the memo key omits `n` and
    * `chunk`, so a reuse with another `n` fails.
    */
  def stagedChunks(spark: SparkSession, dir: String, tag: String, n: Int)
                  (chunk: Int => DataFrame): IndexedSeq[Path] = {
    val staged = stagedChunksMemo.getOrElseUpdate((spark, dir, tag), {
      val stage = graft.Scratch.dir(s"$tag-chunks")
      (0 until n).map { i =>
        val tmp = s"$stage/stage_$i"
        chunk(i).coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head.toPath
      }
    })
    require(staged.length == n,
      s"stagedChunks: tag '$tag' was first staged with n=${staged.length}, " +
        s"now requested with n=$n — tags must uniquely determine the chunking")
    staged
  }

  /** A fresh input dir holding all `n` staged chunks of `tag`, for a
    * `toEnd` drain with `maxFilesPerTrigger = 1` (one micro-batch per
    * chunk).
    */
  def staged(spark: SparkSession, dir: String, tag: String, n: Int)
            (chunk: Int => DataFrame): String = {
    val run = StreamRun(spark, tag)
    val parts = stagedChunks(spark, dir, tag, n)(chunk)
    parts.indices.foreach(run.land(parts, _))
    run.in
  }

  /** The events fixture as `n` raw-schema chunks by `event_id mod n`,
    * for streaming rows that need real cross-batch STATE.
    */
  def stageEventChunks(spark: SparkSession, dir: String, n: Int): String = {
    val raw = spark.read.schema(graft.sources.Tables.eventsRaw)
      .parquet(s"$dir/events.parquet")
    staged(spark, dir, s"stream-chunks-$n", n)(i =>
      raw.filter(pmod(col("event_id"), lit(n)) === i))
  }
}
