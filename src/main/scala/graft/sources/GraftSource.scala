package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The graft table format as a REGISTERED Spark data source — the
  * spelling that makes the format usable from every standard Spark
  * surface, not just the library API (the reference platform's users
  * reach its MySQL tier through stock connectors,
  * `openshift_resources/db-templates/mysql-persistent-template.json`;
  * the analytics replacement owes its users the same: stock Spark
  * verbs against the lake format):
  *
  * {{{
  * // batch read — snapshot, time travel, change feed, dead letters
  * spark.read.format("graft").load(dir)
  * spark.read.format("graft").option("versionAsOf", 3).load(dir)
  * spark.read.format("graft").option("tag", "prod-2026-08").load(dir)
  * spark.read.format("graft").option("read", "changes")
  *   .option("startingBatch", 2).load(dir)
  * spark.read.format("graft").option("read", "quarantine").load(dir)
  *
  * // SQL registration — the relation IS a catalog table
  * spark.sql(s"CREATE TABLE t USING graft OPTIONS (path '$dir')")
  * spark.sql("SELECT ... FROM t WHERE d BETWEEN ...")  // pruned scan
  * spark.sql("INSERT INTO t SELECT ...")               // upsert batch
  *
  * // batch write — create (keys pin the layout) then upsert
  * df.write.format("graft").option("keys", "k").mode("append").save(dir)
  *
  * // streaming sink — exactly-once by (writer, micro-batch id)
  * src.writeStream.format("graft").option("checkpointLocation", ck)
  *   .start(dir)
  *
  * // streaming SOURCE — the change feed as a real V2 MicroBatchStream
  * // (offsets = committed batch ids; maxBatchesPerTrigger admission)
  * spark.readStream.format("graft").option("read", "changes").load(dir)
  * }}}
  *
  * Every read — `format("graft")`, `CREATE TABLE … USING graft` and the
  * catalog — resolves through [[getTable]] to the V2 [[GraftTable]]
  * scan: pushed-down range/equality filters on the table's pinned sort
  * columns become stats-manifest FILE-LIST skipping before any data
  * I/O ([[GraftSourceOptions.boundsFromFilters]]) and are re-applied
  * row-exactly inside the reader, and the scan's statistics report
  * the served snapshot's physical bytes so Catalyst's broadcast-join
  * threshold sees a small dimension table as small. The V1
  * [[GraftRelation]] below serves only the write verbs.
  *
  * The streaming SOURCE is the V2 `MicroBatchStream` in
  * [[GraftTable]] (r16 — the V1 `StreamSourceProvider` could not
  * spell it without internal streaming-frame constructors):
  * ledger-batch offsets, slice-file micro-batches, admission control.
  * [[Ingest.changeFeedStream]] (file-stream over the published feed)
  * remains as the library-API spelling with FILE-atomic slices.
  */
final class GraftSource extends DataSourceRegister
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft"

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    new GraftRelation(ctx, GraftSourceOptions(parameters))

  // ---- DataSource V2 (TableProvider) ---------------------------------
  //
  // Implementing TableProvider moves READS (batch + micro-batch) and
  // catalog resolution (CREATE TABLE USING graft / INSERT INTO) to the
  // V2 table in GraftTable.scala; the WRITE verbs above keep their V1
  // semantics because the table deliberately declares no BATCH_WRITE /
  // STREAMING_WRITE — Spark's writer resolution then falls back to
  // CreatableRelationProvider / StreamSinkProvider (verified against
  // 4.1.2). INSERT INTO cannot fall back (the catalog path is
  // V2-only), so the table declares V1_BATCH_WRITE and routes into the
  // same upsert sink.

  /** The user-facing (LOGICAL) schema of the addressed read surface;
    * EMPTY for a table that does not exist yet — the write path also
    * resolves the provider before creating the table, and an empty
    * schema yields a capability-less table every write verb falls
    * back through.
    */
  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    val opts = GraftSourceOptions(
      scala.jdk.CollectionConverters.MapHasAsScala(options.asCaseSensitiveMap)
        .asScala.toMap)
    implicit val store: TableStore = opts.store
    if (!store.exists(store.child(opts.path, "_meta"))) new StructType()
    else opts.readMode match {
      case "changes" =>
        val v = Versions.read(opts.path)
        val phys = v.changeSchema
        val dead = v.colMap.filterNot(_._3).map(_._1).toSet
        Ingest.toLogicalSchema(v.colMap,
          StructType(phys.fields.filterNot(f => dead(f.name)).toSeq))
      case "quarantine" =>
        Ingest.readQuarantine(
          org.apache.spark.sql.SparkSession.active, opts.path).schema
      case _ =>
        val v = Versions.read(opts.path)
        Ingest.toLogicalSchema(v.colMap, Ingest.physicalDataSchema(v))
    }
  }

  override def getTable(schema: StructType,
                        partitioning: Array[
                          org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table =
    new GraftTable(GraftSourceOptions(
      scala.jdk.CollectionConverters.MapHasAsScala(properties)
        .asScala.toMap), schema)

  /** Catalog tables pass their stored (create-time) schema back in —
    * standard catalog staleness semantics, accepted.
    */
  override def supportsExternalMetadata(): Boolean = true

  /** `df.write.format("graft")` — SaveMode semantics, honestly mapped
    * to a format whose history is part of its contract:
    *
    *   - Append: upsert the frame as the next committed batch
    *     (creates the table when the dir is fresh — `keys` required).
    *   - ErrorIfExists (the default): create; refuse if the table
    *     already exists.
    *   - Ignore: create, or silently no-op if the table exists.
    *   - Overwrite: REFUSED. Silent truncation would orphan the
    *     ledger, tags, and feed consumers; the deliberate spellings
    *     are GRAFT DML / MERGE (row-level), RESTORE (history), or a
    *     fresh dir.
    */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val opts = GraftSourceOptions(parameters)
    implicit val store: TableStore = opts.store
    val exists = store.exists(store.child(opts.path, "_meta"))
    mode match {
      case SaveMode.Overwrite =>
        throw new IllegalArgumentException(
          "graft: SaveMode.Overwrite is not supported — truncating an " +
            "upsert table would orphan its ledger/tags/feed consumers. " +
            "Use GRAFT DML / MERGE, RESTORE, or a fresh directory.")
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"graft: table already exists at ${opts.path} " +
            "(mode('append') to upsert into it)")
      case SaveMode.Ignore if exists => // no-op
      case _ =>
        Ingest.upsertInto(ctx.sparkSession, opts.path, data,
          keys = opts.keys, nBuckets = opts.buckets,
          deleteCol = opts.deleteCol, keepVersions = opts.keepVersions)
    }
    createRelation(ctx, parameters)
  }

  /** `writeStream.format("graft")` — every micro-batch is one
    * committed upsert batch, deduped by (writer identity, micro-batch
    * id) recorded atomically with the commit (see [[GraftSink]]), so a
    * crash-replayed batch no-ops off the ledger: end-to-end
    * exactly-once from any replayable source, with no sink-side
    * dedupe state. Append and Update modes both mean "merge by the
    * table's pinned keys" (the format has no append-only mode);
    * Complete is refused — replaying a full result table as an
    * upsert would never delete shrunk-away keys.
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Complete(),
      "graft sink: Complete mode is not supported — an upsert merge " +
        "cannot retract keys that left the result; use Update/Append")
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported — the table's layout " +
        "is its pinned hash-bucket scheme")
    new GraftSink(GraftSourceOptions(parameters))
  }
}

/** Parsed, lower-cased options of one `format("graft")` call. */
private[graft] final case class GraftSourceOptions(
    path: String, store: TableStore, readMode: String,
    versionAsOf: Option[Long], tag: Option[String],
    startingBatch: Option[Long], endingBatch: Option[Long],
    keys: Seq[String], buckets: Int, deleteCol: Option[String],
    keepVersions: Int, txnAppId: Option[String],
    checkpointLocation: Option[String],
    maxBatchesPerTrigger: Option[Long])

private[graft] object GraftSourceOptions {
  def apply(parameters: Map[String, String]): GraftSourceOptions = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft: 'path' is required (.load(dir) / OPTIONS (path '...'))"))
    val store = p.getOrElse("store", "local") match {
      case "local" => TableStore.local
      case "hadoop" => new HadoopTableStore()
      case other => throw new IllegalArgumentException(
        s"graft: unknown store '$other' (local | hadoop)")
    }
    val readMode = p.getOrElse("read", "snapshot")
    require(Set("snapshot", "changes", "quarantine").contains(readMode),
      s"graft: unknown read mode '$readMode' (snapshot|changes|quarantine)")
    val asOf = p.get("versionasof").map(_.toLong)
    val tag = p.get("tag")
    require(asOf.isEmpty || tag.isEmpty,
      "graft: versionAsOf and tag are mutually exclusive")
    // CREATE TABLE … USING graft qualifies the path option to a URI
    // (file:/tmp/x); the POSIX store speaks plain paths — unqualify
    // for it, pass through verbatim for URI-speaking stores
    val normPath =
      if (store == LocalTableStore && path.startsWith("file:"))
        Option(new java.net.URI(path).getPath).filter(_.nonEmpty)
          .getOrElse(path.stripPrefix("file:"))
      else path
    GraftSourceOptions(normPath, store, readMode, asOf, tag,
      p.get("startingbatch").map(_.toLong),
      p.get("endingbatch").map(_.toLong),
      p.get("keys").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      p.get("buckets").map(_.toInt).getOrElse(16),
      p.get("deletecol"),
      p.get("keepversions").map(_.toInt).getOrElse(2),
      p.get("txnappid"),
      p.get("checkpointlocation"),
      p.get("maxbatchespertrigger").map(_.toLong))
  }

  /** V1 `Filter`s → stats-manifest bounds: the ONE translation the
    * scan's static pruning and its manifest-answered aggregates share.
    * The filter array is conjunctive and every manifest consumer
    * AND-folds the bounds, so each filter maps independently, to at
    * most one bound — a comparison with a non-NULL value, or
    * `IsNotNull` (the planner adds it beside every comparison; a
    * file's null count classifies it exactly). Filters on non-stat
    * columns, disjunctions, IN-lists: no bound (the scan's reader
    * still re-applies them row-level). `phys` maps a filter's column
    * name onto the manifest's; `statCols` are manifest names.
    */
  def boundsFromFilters(filters: Seq[Filter], statCols: Set[String],
                        phys: String => String = identity)
      : Seq[StatsManifest.Bound] =
    filters.flatMap { f =>
      def bound(c: String, op: String, v: Any): Option[StatsManifest.Bound] =
        Some(phys(c)).filter(p => statCols(p) && (v != null || op == "notnull"))
          .map(StatsManifest.Bound(_, op, v))
      f match {
        case EqualTo(c, v) => bound(c, "=", v)
        case GreaterThan(c, v) => bound(c, ">", v)
        case GreaterThanOrEqual(c, v) => bound(c, ">=", v)
        case LessThan(c, v) => bound(c, "<", v)
        case LessThanOrEqual(c, v) => bound(c, "<=", v)
        case IsNotNull(c) => bound(c, "notnull", null)
        case _ => None
      }
    }
}

/** One graft table (or its change feed / dead-letter area) as a V1
  * relation for the write verbs: the relation `createRelation`
  * returns after a batch write, and the target of `INSERT INTO`
  * (through the sink). Reads never reach it — they resolve to the V2
  * [[GraftTable]].
  */
private[graft] final class GraftRelation(
    ctx: SQLContext, opts: GraftSourceOptions)
    extends BaseRelation with InsertableRelation {

  private implicit val store: TableStore = opts.store
  private def spark = ctx.sparkSession

  override def sqlContext: SQLContext = ctx

  private def base: DataFrame = opts.readMode match {
    case "changes" =>
      Ingest.readTableChanges(spark, opts.path,
        opts.startingBatch.getOrElse(0L),
        opts.endingBatch.getOrElse(Long.MaxValue))
    case "quarantine" => Ingest.readQuarantine(spark, opts.path)
    case _ => opts.tag match {
      case Some(t) => Ingest.readUpsertTableAtTag(spark, opts.path, t)
      case None => Ingest.readUpsertTable(spark, opts.path, opts.versionAsOf)
    }
  }

  override val schema: StructType = base.schema

  /** `INSERT INTO t SELECT …` — one committed upsert batch. INSERT
    * OVERWRITE is refused for the same reason as SaveMode.Overwrite.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!overwrite,
      "graft: INSERT OVERWRITE is not supported — use GRAFT DML / " +
        "MERGE or RESTORE")
    require(opts.readMode == "snapshot" && opts.tag.isEmpty &&
      opts.versionAsOf.isEmpty,
      "graft: INSERT targets the CURRENT snapshot relation only")
    Ingest.upsertInto(spark, opts.path, data, keys = opts.keys,
      nBuckets = opts.buckets, deleteCol = opts.deleteCol,
      keepVersions = opts.keepVersions)
    ()
  }
}

/** The V1 streaming sink: exactly-once by WRITER-SCOPED micro-batch
  * id. Table batch ids are minted like any batch write; the
  * (writerId, microBatchId) token rides the same atomic ledger append
  * as the commit, and a replayed micro-batch no-ops per writer. The
  * writer identity is the stream's queryId, read from the
  * checkpoint's `metadata` file — stable across restarts of the SAME
  * checkpoint (replays dedupe), fresh for a new or recreated one
  * (nothing is silently swallowed: micro-batch ids restart at 0 per
  * checkpoint, and a bare-id ledger would eat every id the previous
  * history already used — the composition "create by batch write,
  * then stream into it" lost its micro-batch 0 exactly that way).
  * `txnAppId` overrides for callers that own their id space
  * (Delta's `txn (appId, version)` spelling of the same idea).
  */
private[graft] final class GraftSink(opts: GraftSourceOptions)
    extends Sink {
  private implicit val store: TableStore = opts.store

  /** queryId from `<checkpoint>/metadata` (a tiny JSON `{"id":"…"}`
    * StreamMetadata file Spark writes at query start — so it exists
    * before the first addBatch). Hadoop FS so any checkpoint scheme
    * works; sanitized to the ledger's token alphabet.
    */
  private def checkpointQueryId(spark: org.apache.spark.sql.SparkSession)
      : Option[String] =
    opts.checkpointLocation.flatMap { ck =>
      try {
        val p = new org.apache.hadoop.fs.Path(ck, "metadata")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString finally in.close()
          """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text)
            .map(_.group(1).filter(c =>
              c.isLetterOrDigit || c == '.' || c == '_' || c == '-'))
            .filter(_.nonEmpty)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val writerId = opts.txnAppId.orElse(checkpointQueryId(spark))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: no writer identity — exactly-once dedupe is scoped " +
          "per writer, and a bare micro-batch id would collide with the " +
          "table's minted batch ids. Pass option(\"checkpointLocation\", …) " +
          "(the stream's queryId becomes the writer) or " +
          "option(\"txnAppId\", …) to name the writer yourself."))
    // The V1 sink contract hands an INCREMENTAL DataFrame whose
    // logical plan still names the streaming scan — any fresh action
    // on it (count, persist, write) fails the batch checker. Rebase
    // the micro-batch onto the one execution the engine prepared
    // (`queryExecution.toRdd`), converted back to external rows: from
    // there it is an ordinary batch frame the upsert sink can evaluate
    // as often as it needs (it persists before its count+merge passes,
    // so the incremental plan runs once). `copy()` because the
    // engine's InternalRows are reused mutable buffers.
    val schema = data.schema
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rowRdd = data.queryExecution.toRdd
      .map(ir => toScala(ir.copy()).asInstanceOf[Row])
    val batch = spark.createDataFrame(rowRdd, schema)
    Ingest.upsertInto(spark, opts.path, batch,
      keys = opts.keys, nBuckets = opts.buckets,
      deleteCol = opts.deleteCol, keepVersions = opts.keepVersions,
      txn = Some((writerId, batchId)))
    ()
  }

  override def toString: String = s"GraftSink[${opts.path}]"
}
