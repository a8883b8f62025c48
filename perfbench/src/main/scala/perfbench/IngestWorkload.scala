package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.sources.Ingest
import perfbench.Main.{Args, Ctx, Workload}

/** `ingest_mixed`: a streamed upsert table under a mix of commits,
  * reads and maintenance, driven by the operation log `gen.py ingest`
  * wrote for the seed.
  *
  * Set-up bootstraps the table from fixture `orders` (batch 0) and
  * starts a streaming query that feeds `Ingest.upsertParquet` with
  * `changeFeed = true`. A commit lands one micro-batch file and returns
  * when `processAllAvailable()` does and the batch is in the ledger.
  * After every commit come four reads — a keyed point lookup, a
  * manifest-pruned range read, a time-travel read of the previous batch
  * and a change-feed read — and after every cycle's commits one
  * `compactUpsertTable`, one `mergeInto` and one `deleteWhere`.
  */
object IngestWorkload {
  /** Per-layer metrics read from table listings of the traced cycle. */
  val TracedExtras = Seq("ingest.files_per_commit", "ingest.write_amp",
    "ingest.read_prune_ratio", "ingest.compact_bytes_rewritten")
}

final class IngestWorkload(args: Args) extends Workload {
  private val dir = args.fixture
  private val root = s"${args.work}/ingest"
  private val table = s"$root/table"
  private val in = s"$root/in"
  private val Keys = Seq("o_orderkey")
  private val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val Schema = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, " +
      "_deleted BOOLEAN")
  private val log = new ObjectMapper().readTree(new java.io.File(s"${args.batches}/ops.json"))
  private val ops: IndexedSeq[JsonNode] = log.get("ops").elements().asScala.toIndexedSeq
  private val OpsPerCycle = ops.size / log.get("cycles").asInt

  @volatile private var pending = -1L
  private var query: StreamingQuery = _
  private val liveAfter = mutable.Map.empty[Long, Long]
  private var lastFeed = 0L
  private val feedSeen = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val done = mutable.ArrayBuffer.empty[JsonNode]
  // traced-schedule extras, from table listings taken outside the ops
  private val commitFiles = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val compactBytes = mutable.ArrayBuffer.empty[Long]
  private val pruneRatios = mutable.ArrayBuffer.empty[Double]

  private def sink(batch: DataFrame): Unit =
    Ingest.upsertParquet(table, Keys, nBuckets = 4, keepVersions = 4,
      deleteCol = Some("_deleted"), changeFeed = true,
      sortCols = Seq("o_totalprice"))(batch, pending)

  def setup(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    Main.rm(new java.io.File(root))
    new java.io.File(in).mkdirs()
    val t0 = System.nanoTime()
    val orders = graft.sources.Tables.load(spark, dir, "orders")
      .withColumn("_deleted", lit(false))
    liveAfter(0L) = orders.count()
    pending = 0L
    sink(orders)
    query = Ingest.foreachBatchSink(
      Ingest.readStreamFiles(spark, s"$in/*.parquet", Schema, basePath = Some(in)),
      s"$root/ck")((b, _) => sink(b)).start()
    Map("ingest.bootstrap_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  def release(ctx: Ctx): Unit = {
    if (query != null) query.stop()
    query = null
  }

  private def dataFiles(): Map[String, Long] =
    if (!new java.io.File(table).exists()) Map.empty
    else Files.walk(Paths.get(table)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap

  def schedule(ctx: Ctx, n: Int): Seq[Span] = {
    val spark = ctx.spark
    import spark.implicits._
    val traced = args.trace && n == 1
    require((n + 1) * OpsPerCycle <= ops.size,
      s"operation log holds ${ops.size / OpsPerCycle} cycles; generate more")
    ops.slice(n * OpsPerCycle, (n + 1) * OpsPerCycle).flatMap { o =>
      val kind = o.get("op").asText
      val batch = if (o.has("batch")) Some(o.get("batch").asLong) else None
      val before = if (traced) dataFiles() else Map.empty[String, Long]
      val spans = mutable.ArrayBuffer.empty[Span]
      kind match {
        case "commit" =>
          val b = batch.get
          val file = o.get("file").asText
          spans += ctx.op("commit", file, batch) { _ =>
            pending = b
            val tmp = Paths.get(in, s".$file.tmp")
            Files.copy(Paths.get(args.batches, file), tmp,
              StandardCopyOption.REPLACE_EXISTING)
            Files.move(tmp, Paths.get(in, file), StandardCopyOption.ATOMIC_MOVE)
            query.processAllAvailable()
            Ingest.committedBatchIds(table).contains(b)
          }
          if (traced) {
            val added = dataFiles() -- before.keySet
            commitFiles += ((added.size.toLong, added.values.sum,
              Files.size(Paths.get(args.batches, file))))
          }
          val r = o.get("reads")
          liveAfter(b) = r.get("live").asLong
          val probe = r.get("lookup").elements().asScala.map(_.asLong).toSeq
          spans += ctx.op("read", "lookup") { _ =>
            val got = Ingest.lookupUpsertTable(spark, table, probe.toDF("o_orderkey"))
              .collect().map(_.getAs[Long]("o_orderkey"))
            got.length == r.get("lookup_hits").asInt &&
              got.distinct.length == got.length && got.forall(probe.contains)
          }
          val Seq(lo, hi) = r.get("range").elements().asScala.map(_.asDouble).toSeq
          spans += ctx.op("read", "range") { _ =>
            // the manifest prunes whole files only, so the rows are
            // filtered here; the count and key sum the log implies catch
            // a pruning that drops files holding rows in range
            val got = Ingest.readUpsertTableWhere(spark, table,
              Seq(("o_totalprice", lo, hi)))
              .filter(col("o_totalprice").between(lo, hi)).collect()
              .map(_.getAs[Long]("o_orderkey"))
            got.length == r.get("range_rows").asLong &&
              got.sum == r.get("range_keysum").asLong &&
              got.distinct.length == got.length
          }
          if (traced) Layers.harness(spark) {
            val pruned = Ingest.readUpsertTableWhere(spark, table,
              Seq(("o_totalprice", lo, hi))).inputFiles.length
            val full = Ingest.readUpsertTable(spark, table).inputFiles.length
            if (full > 0) pruneRatios += 1.0 - pruned.toDouble / full
          }
          spans += ctx.op("read", "time-travel") { _ =>
            val fp = Fingerprint.of(Ingest.readUpsertTable(spark, table, Some(b - 1)))
            fp.rows == liveAfter(b - 1)
          }
          spans += ctx.op("read", "change-feed") { _ =>
            val got = Ingest.readTableChanges(spark, table, lastFeed + 1, b)
              .collect().groupBy(_.getAs[String]("_change_type"))
              .map { case (k, v) => k -> v.length.toLong }
            val want = expectedFeed(lastFeed + 1, b)
            got.foreach { case (k, v) => feedSeen(k) += v }
            lastFeed = b
            want.forall { case (k, v) => got.getOrElse(k, 0L) == v } &&
              got.keySet.subsetOf(want.keySet)
          }
        case "compact" =>
          spans += ctx.op("maint", "compact") { _ =>
            Ingest.compactUpsertTable(spark, table, filesOver = 1)
            true
          }
          if (traced) compactBytes += (dataFiles() -- before.keySet).values.sum
        case "merge" =>
          val b = batch.get
          spans += ctx.op("maint", "merge", batch) { _ =>
            val src = spark.read.parquet(s"${args.batches}/${o.get("file").asText}")
            val set = Cols.filterNot(Keys.contains).map(c => c -> s"s.$c")
            Ingest.mergeInto(spark, table, src,
              Seq(Ingest.MatchedUpdate(None, set), Ingest.NotMatchedInsert(None)),
              keepVersions = 4, asBatch = Some(b)) match {
              case Some((id, _)) => id == b
              case None => false
            }
          }
          liveAfter(b) = o.get("live").asLong
        case "delete" =>
          val b = batch.get
          spans += ctx.op("maint", "delete", batch) { _ =>
            Ingest.deleteWhere(spark, table, o.get("predicate").asText,
              keepVersions = 4) match {
              case Some((id, k)) => id == b && k == o.get("delete").asLong
              case None => o.get("delete").asLong == 0
            }
          }
          liveAfter(b) = o.get("live").asLong
      }
      done += o
      spans.toSeq
    }
  }

  /** Change records the log implies for batches `from..to`. */
  private def expectedFeed(from: Long, to: Long): Map[String, Long] = {
    val in = ops.filter(o => o.has("batch") &&
      o.get("batch").asLong >= from && o.get("batch").asLong <= to)
    def sum(k: String) = in.map(_.get(k).asLong).sum
    Map("insert" -> sum("insert"), "update_preimage" -> sum("update"),
      "update_postimage" -> sum("update"), "delete" -> sum("delete"))
      .filter(_._2 > 0)
  }

  /** The plain-Spark last-write-wins reference: every record the
    * executed log wrote, with its batch as sequence number; a DELETE
    * predicate becomes a tombstone for every key seen before it. The
    * final CURRENT must equal the live rows of the reference, and the
    * change counts the feed reads returned must equal the transitions
    * the reference implies.
    */
  def verify(ctx: Ctx): (Int, Int) = {
    val spark = ctx.spark
    val base = graft.sources.Tables.load(spark, dir, "orders").select(Cols.map(col): _*)
    var recs: DataFrame = base.withColumn("_seq", lit(0L)).withColumn("_del", lit(false))
    done.filter(o => o.has("batch")).foreach { o =>
      val b = o.get("batch").asLong
      o.get("op").asText match {
        case "commit" =>
          recs = recs.unionByName(spark.read.parquet(s"${args.batches}/${o.get("file").asText}")
            .withColumn("_seq", lit(b)).withColumnRenamed("_deleted", "_del"))
        case "merge" =>
          recs = recs.unionByName(spark.read.parquet(s"${args.batches}/${o.get("file").asText}")
            .withColumn("_seq", lit(b)).withColumn("_del", lit(false)))
        case "delete" =>
          val victims = recs.filter(col("_seq") < b).filter(expr(o.get("predicate").asText))
            .select("o_orderkey").distinct()
          recs = recs.unionByName(Cols.tail.foldLeft(victims)((d, c) =>
            d.withColumn(c, lit(null).cast(base.schema(c).dataType)))
            .withColumn("_seq", lit(b)).withColumn("_del", lit(true)))
      }
    }
    recs = recs.localCheckpoint()
    val latest = Window.partitionBy("o_orderkey").orderBy(col("_seq").desc)
    val expected = recs.withColumn("_r", row_number().over(latest))
      .filter(col("_r") === 1 && !col("_del")).select(Cols.map(col): _*)
      .orderBy("o_orderkey")
    val actual = Ingest.readUpsertTable(spark, table).select(Cols.map(col): _*)
      .orderBy("o_orderkey")
    val (fe, fa) = (Fingerprint.of(expected), Fingerprint.of(actual))
    val stateOk = fe == fa
    if (!stateOk) ctx.note(s"final CURRENT $fa != reference $fe")
    val prev = Window.partitionBy("o_orderkey").orderBy("_seq")
    val kinds = recs
      .withColumn("_was", coalesce(lag(!col("_del"), 1).over(prev), lit(false)))
      .filter(col("_seq") >= 1 && col("_seq") <= lastFeed)
      .select(
        when(!col("_del") && !col("_was"), "insert")
          .when(!col("_del") && col("_was"), "update")
          .when(col("_del") && col("_was"), "delete").as("k"))
      .filter(col("k").isNotNull).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("insert" -> kinds.getOrElse("insert", 0L),
      "update_preimage" -> kinds.getOrElse("update", 0L),
      "update_postimage" -> kinds.getOrElse("update", 0L),
      "delete" -> kinds.getOrElse("delete", 0L))
    val feedOk = want.forall { case (k, v) => feedSeen(k) == v }
    if (!feedOk) ctx.note(s"change feed counts ${feedSeen.toMap} != reference $want")
    (2, Seq(stateOk, feedOk).count(!_))
  }

  def report(ctx: Ctx, traced: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    def lat(kind: String) = ctx.spans.filter(s => s.kind == kind && s.ok).map(_.latMs).toSeq
    val commits = ctx.spans.filter(s => s.kind == "commit" && s.ok)
    val rows = commits.map(s => ops.find(o => o.has("batch") &&
      Some(o.get("batch").asLong) == s.batch).map(_.get("rows").asLong).getOrElse(0L)).sum
    // bytes under the table, hard links counted once, against a plain
    // parquet copy of CURRENT
    val seen = mutable.Set.empty[Any]
    val tableBytes = Files.walk(Paths.get(table)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(p => seen.add(Files.getAttribute(p, "unix:ino")))
      .map(Files.size).sum
    val plain = s"$root/plain"
    Ingest.readUpsertTable(spark, table).write.mode("overwrite").parquet(plain)
    val plainBytes = Files.walk(Paths.get(plain)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).sum
    val m = Map(
      "commit_p50_ms" -> Stats.pct(lat("commit"), 50),
      "commit_p90_ms" -> Stats.pct(lat("commit"), 90),
      "ingest_rows_per_s" -> rows / math.max(1e-9, lat("commit").sum / 1000),
      "read_p50_ms" -> Stats.pct(lat("read"), 50),
      "read_p90_ms" -> Stats.pct(lat("read"), 90),
      "maint_p50_ms" -> Stats.pct(lat("maint"), 50),
      "space_amp" -> tableBytes.toDouble / math.max(1L, plainBytes),
      "batch_rows" -> ops.head.get("rows").asDouble)
    if (!traced) m
    else m ++ Map(
      "ingest.files_per_commit" -> Stats.median(commitFiles.map(_._1.toDouble).toSeq),
      "ingest.write_amp" -> commitFiles.map(_._2).sum.toDouble /
        math.max(1L, commitFiles.map(_._3).sum),
      "ingest.read_prune_ratio" -> Stats.median(pruneRatios.toSeq),
      "ingest.compact_bytes_rewritten" -> Stats.median(compactBytes.map(_.toDouble).toSeq))
  }
}
