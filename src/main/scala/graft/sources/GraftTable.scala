package graft.sources

import java.util.{Collections, OptionalLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GenericInternalRow, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** The DataSource V2 half of the registered `graft` format: a
  * [[Table]] whose BATCH scan serves every read surface the library
  * API has (snapshot / versionAsOf / tag / bounded changes /
  * quarantine, deletion vectors applied, column mapping applied) and
  * whose MICRO-BATCH stream makes the change feed a REAL
  * `spark.readStream.format("graft").option("read", "changes")`
  * source — the one stock Spark verb the V1 registration could not
  * spell (V1 `Source` must construct internal streaming frames).
  *
  * Division of labor with the V1 interfaces that stay on
  * [[GraftSource]]:
  *
  *   - batch/stream READS resolve here (the table declares
  *     `BATCH_READ` / `MICRO_BATCH_READ`);
  *   - `INSERT INTO` resolves here but executes through the V1 sink
  *     (`V1_BATCH_WRITE` → [[V1Write.toInsertableRelation]] →
  *     [[GraftRelation.insert]]) — the upsert sink's crash protocol,
  *     OCC, constraints and feed publication are one battle-tested
  *     code path, and a parallel V2 `BatchWrite` would be a second;
  *   - `df.write.format("graft")` SaveMode semantics and
  *     `writeStream.format("graft")` fall back to the V1
  *     `CreatableRelationProvider` / `StreamSinkProvider` because the
  *     table deliberately does NOT declare `BATCH_WRITE` /
  *     `STREAMING_WRITE` (Spark's writer resolution falls through to
  *     V1 exactly then — verified against 4.1.2, and the SaveMode
  *     contract, Overwrite refusal included, survives unchanged).
  *
  * Scan shape at 100 TB: planning is control-plane-only (version
  * resolution + a file listing, the same bound the library reads
  * hold); pushed filters prune the stats manifest to a surviving FILE
  * LIST before any data I/O and are re-applied row-exactly inside the
  * reader (so claiming them handled is sound); column pruning reaches
  * the parquet reader as a physical `requiredSchema`; the column
  * mapping costs nothing at read time (InternalRows are positional —
  * the scan reads physical columns and declares logical names over
  * the same positions); a deletion vector applies as a per-task
  * hash-set anti-filter over the table keys (the Delta-style DV
  * trade: O(vector) per task until OPTIMIZE clears the debt).
  * Whole-table COUNT / sortCol MIN/MAX push down into the scan itself
  * ([[SupportsPushDownAggregates]]) and answer from the stats
  * manifest with zero data-file opens — band-bounded COUNTs open
  * only predicate-boundary files.
  */
private[sources] object GraftTable {
  /** Provenance metadata columns every graft scan can serve (the
    * Delta/Iceberg `_metadata` shape): hidden from `SELECT *`,
    * resolvable by name. Values are per-FILE constants stamped by the
    * reader — zero extra I/O.
    */
  val MetaFileCol = "_graft_file"
  val MetaBucketCol = "_graft_bucket"
  val MetaNames: Set[String] = Set(MetaFileCol, MetaBucketCol)
}

private[sources] final class GraftTable(opts: GraftSourceOptions,
                                        tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {
  private implicit def store: TableStore = opts.store

  override def name(): String = s"graft.`${opts.path}`"

  override def schema(): StructType = tableSchema

  /** `_graft_file` (the data file serving the row) and `_graft_bucket`
    * (the upsert bucket parsed from its path; NULL for files outside
    * bucket dirs — quarantine captures, feed slices). A table column
    * with either name shadows the metadata column (Spark's standard
    * conflict rule — `canRenameConflictingMetadataColumns` stays
    * false, so the clash is visible rather than silently renamed).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = GraftTable.MetaFileCol
      override def dataType(): DataType = StringType
      override def isNullable(): Boolean = false
      override def comment(): String = "data file URI serving the row"
    },
    new MetadataColumn {
      override def name(): String = GraftTable.MetaBucketCol
      override def dataType(): DataType = LongType
      override def comment(): String =
        "upsert bucket of the serving file (NULL outside bucket dirs)"
    })

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    if (tableSchema.nonEmpty) {
      caps.add(TableCapability.BATCH_READ)
      caps.add(TableCapability.V1_BATCH_WRITE)
      if (opts.readMode == "changes" && Versions.read(opts.path).changeFeed)
        caps.add(TableCapability.MICRO_BATCH_READ)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(SparkSession.active, opts, tableSchema)

  /** INSERT INTO — the analyzer's AppendData accepts `V1_BATCH_WRITE`
    * and routes the data through the V1 relation's insert: one
    * committed upsert batch, same refusals (INSERT OVERWRITE needs
    * TRUNCATE, which is deliberately not declared).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              new GraftRelation(data.sparkSession.sqlContext, opts)
                .insert(data, overwrite)
          }
      }
    }
}

/** One pushed-down, exactly-servable aggregate call. */
private[sources] sealed trait MetaAgg extends Serializable {
  def outField: StructField
}
private[sources] final case class MetaCountStar()
    extends MetaAgg { def outField = StructField("count(*)", LongType, nullable = false) }
private[sources] final case class MetaCountCol(phys: String)
    extends MetaAgg { def outField = StructField(s"count($phys)", LongType, nullable = false) }
private[sources] final case class MetaMin(phys: String, dt: DataType)
    extends MetaAgg { def outField = StructField(s"min($phys)", dt) }
private[sources] final case class MetaMax(phys: String, dt: DataType)
    extends MetaAgg { def outField = StructField(s"max($phys)", dt) }

/** ScanBuilder with the three pushdowns a lake-format scan owes the
  * planner: filters (claimed only when re-applied row-exactly inside
  * the reader — pruning stays a superset optimization), required
  * columns, and manifest-answered aggregates.
  */
private[sources] final class GraftScanBuilder(spark: SparkSession,
                                              opts: GraftSourceOptions,
                                              tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private implicit def store: TableStore = opts.store

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggs: Option[Seq[MetaAgg]] = None
  private var limit: Option[Int] = None
  private var topn: Option[(String, Boolean, Int)] = None

  /** LIMIT as an I/O hint: the scan keeps a PREFIX of the file list
    * whose manifest row counts already cover the limit (the 100-TB
    * `LIMIT 10` reads one file, not the table). Accepted only on
    * plain snapshot scans; `isPartiallyPushed` stays true, so Spark
    * re-applies its own limit — truncation is a superset
    * optimization, never a row-dropping promise. Soundness gates
    * (filters, DVs, manifest coverage) are re-checked at plan time
    * in [[GraftScan.limitTruncate]].
    */
  override def pushLimit(l: Int): Boolean = {
    if (opts.readMode == "snapshot" && aggs.isEmpty && l > 0) {
      limit = Some(l); true
    } else false
  }

  /** Both limit and topN are accepted as HINTS only — Spark always
    * re-applies its own limit/sort on top (the diamond default from
    * both pushdown traits, made explicit).
    */
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY sortCol LIMIT k as an I/O hint: sort the manifest by
    * the leading order column's file bounds, keep a covering prefix
    * of ≥ k rows, and retain every file whose bound overlaps the
    * prefix's worst kept bound — a strict superset of the top-k rows
    * whatever the later tiebreak columns do (a row ranked above the
    * prefix's k rows would need a leading value past the bound).
    * `isPartiallyPushed` stays true: Spark re-sorts and re-limits.
    * Accepted only when the LEADING sort column is a stat column;
    * soundness gates (filters, DVs, nulls, manifest coverage) are
    * re-checked at plan time in [[GraftScan.topnTruncate]].
    */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (opts.readMode != "snapshot" || aggs.nonEmpty || l <= 0 ||
        orders.isEmpty) return false
    orders.head.expression() match {
      case r: NamedReference if r.fieldNames().length == 1 &&
          tableSchema.fieldNames.contains(r.fieldNames()(0)) =>
        topn = Some((r.fieldNames()(0),
          orders.head.direction() == SortDirection.ASCENDING, l))
        true
      case _ => false
    }
  }

  /** Accept exactly the filters the reader can re-apply row-level
    * (the strict translation — see [[CatalystFilters.translate]]);
    * the rest stay post-scan with Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f =>
      CatalystFilters.translatable(f, tableSchema))
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregates are answerable from the stats manifest when the scan
    * is a CURRENT-or-as-of snapshot with a healthy manifest and no
    * deletion-vector debt, every call is COUNT(*) / COUNT(statCol) /
    * MIN/MAX(statCol), and every pushed filter is a plain bound on a
    * stat column (COUNT only — an extremum under a residual filter
    * needs rows). The decision here is control-plane + one driver
    * footer read; the values come from the manifest at execution,
    * with per-file degrades for carried pre-upgrade rows.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    analyzeAggregation(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    aggs = analyzeAggregation(aggregation)
    aggs.isDefined
  }

  // the served snapshot, resolved once on first use by aggregate
  // analysis or by the scan built here (its manifest loads at most once)
  private lazy val snap: Snapshot =
    Snapshot.resolve(opts.path, opts.versionAsOf, opts.tag)

  private def analyzeAggregation(a: Aggregation): Option[Seq[MetaAgg]] = {
    if (opts.readMode != "snapshot" || opts.tag.nonEmpty) return None
    if (a.groupByExpressions.nonEmpty) return None
    if (a.aggregateExpressions.isEmpty) return None
    val s =
      try snap
      catch { case scala.util.control.NonFatal(_) => return None }
    if (s.hasDeletes) return None
    val m = s.manifest(spark).getOrElse(return None)
    if (!m.records("n_rows")) return None
    val statCols = s.layout.sortCols.toSet.filter(c => m.records(s"nulls_$c"))
    def physOf(r: NamedReference): Option[String] = r.fieldNames() match {
      case Array(one) => Some(s.physicalName(one))
      case _ => None
    }
    // pushed filters must ALL be stat-column bounds (the manifest can
    // then classify every file); Spark only offers aggregate pushdown
    // when every filter was claimed, so `pushed` is the full set
    if (GraftSourceOptions.boundsFromFilters(pushed, statCols,
        s.physicalName).length != pushed.length) return None
    val calls: Seq[Option[MetaAgg]] = a.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(MetaCountStar())
      case c: Count if !c.isDistinct =>
        c.column() match {
          case r: NamedReference => physOf(r)
            .filter(statCols.contains).map(MetaCountCol.apply)
          case _ => None
        }
      case m: Min if pushed.isEmpty =>
        m.column() match {
          case r: NamedReference => physOf(r).filter(statCols.contains)
            .map(p => MetaMin(p, fieldType(r)))
          case _ => None
        }
      case m: Max if pushed.isEmpty =>
        m.column() match {
          case r: NamedReference => physOf(r).filter(statCols.contains)
            .map(p => MetaMax(p, fieldType(r)))
          case _ => None
        }
      case _ => None
    }
    if (calls.forall(_.isDefined)) Some(calls.map(_.get)) else None
  }

  private def fieldType(r: NamedReference): DataType =
    tableSchema(r.fieldNames()(0)).dataType

  override def build(): Scan =
    new GraftScan(spark, opts, tableSchema, required, pushed.toIndexedSeq,
      aggs, limit, topn, snap)
}

/** V1 `Filter` → bound catalyst expression, by POSITION in the scan's
  * physical read schema — the exact row-level re-application that
  * makes claiming a pushed filter sound.
  */
private[sources] object CatalystFilters {
  import org.apache.spark.sql.sources._

  def translatable(f: Filter, schema: StructType): Boolean =
    toExpression(f, schema.fieldNames.zipWithIndex.toMap, schema,
      exact = true).isDefined

  /** Bound expression over `readSchema` positions; `exact = true` is
    * the only mode offered — a filter that cannot be translated in
    * full is left with Spark.
    */
  def predicateExpression(filters: Seq[Filter], readSchema: StructType)
      : Option[Expression] = {
    val ord = readSchema.fieldNames.zipWithIndex.toMap
    val es = filters.map(toExpression(_, ord, readSchema, exact = true))
    if (es.exists(_.isEmpty)) None
    else es.flatten.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And(_, _))
  }

  private def toExpression(f: Filter, ord: Map[String, Int],
                           schema: StructType, exact: Boolean)
      : Option[Expression] = {
    def ref(c: String): Option[BoundReference] = ord.get(c).map { i =>
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    def lit(c: String, v: Any): Option[Literal] =
      ord.get(c).map(i => Literal.create(v, schema(i).dataType))
    def bin(c: String, v: Any,
            mk: (Expression, Expression) => Expression): Option[Expression] =
      if (v == null) None
      else for (r <- ref(c); l <- lit(c, v)) yield mk(r, l)
    f match {
      case EqualTo(c, v) => bin(c, v, CEqualTo.apply)
      case EqualNullSafe(c, v) =>
        for (r <- ref(c); l <- lit(c, v)) yield CEqualNullSafe(r, l)
      case GreaterThan(c, v) => bin(c, v, CGreaterThan.apply)
      case GreaterThanOrEqual(c, v) => bin(c, v, CGreaterThanOrEqual.apply)
      case LessThan(c, v) => bin(c, v, CLessThan.apply)
      case LessThanOrEqual(c, v) => bin(c, v, CLessThanOrEqual.apply)
      case In(c, vs) =>
        if (vs.contains(null)) None
        else for (r <- ref(c)) yield
          org.apache.spark.sql.catalyst.expressions.In(r,
            vs.toIndexedSeq.map(v => Literal.create(v, r.dataType)))
      case IsNull(c) => ref(c).map(
        org.apache.spark.sql.catalyst.expressions.IsNull.apply)
      case IsNotNull(c) => ref(c).map(
        org.apache.spark.sql.catalyst.expressions.IsNotNull.apply)
      case StringStartsWith(c, v) =>
        for (r <- ref(c); l <- lit(c, v)) yield
          org.apache.spark.sql.catalyst.expressions.StartsWith(r, l)
      case StringEndsWith(c, v) =>
        for (r <- ref(c); l <- lit(c, v)) yield
          org.apache.spark.sql.catalyst.expressions.EndsWith(r, l)
      case StringContains(c, v) =>
        for (r <- ref(c); l <- lit(c, v)) yield
          org.apache.spark.sql.catalyst.expressions.Contains(r, l)
      case And(l, r) =>
        for (a <- toExpression(l, ord, schema, exact);
             b <- toExpression(r, ord, schema, exact)) yield
          org.apache.spark.sql.catalyst.expressions.And(a, b)
      case Or(l, r) =>
        for (a <- toExpression(l, ord, schema, exact);
             b <- toExpression(r, ord, schema, exact)) yield
          org.apache.spark.sql.catalyst.expressions.Or(a, b)
      case Not(child) =>
        toExpression(child, ord, schema, exact = true).map(
          org.apache.spark.sql.catalyst.expressions.Not.apply)
      case _ => None
    }
  }
}

/** The scan: per read mode a FILE LIST plus per-task transforms.
  * Batch and micro-batch share the reader factory; aggregates swap
  * the partitions for a manifest-classified single-task plan.
  */
private[sources] final class GraftScan(spark: SparkSession,
                                       opts: GraftSourceOptions,
                                       tableSchema: StructType,
                                       required: StructType,
                                       pushed: Seq[Filter],
                                       aggs: Option[Seq[MetaAgg]],
                                       limit: Option[Int],
                                       topn: Option[(String, Boolean, Int)],
                                       snap: => Snapshot)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  private implicit def store: TableStore = opts.store
  private def root = opts.path

  // ---- schemas --------------------------------------------------------
  // `required` speaks LOGICAL names; files speak physical. Positional
  // identity makes the mapping free: read physical columns in the
  // required order, declare logical names over the same positions.
  /** The version index every read mode's schemas and the change read
    * resolve through.
    */
  private lazy val index = Versions.read(root)
  private def cm = index.colMap
  private def physName(logical: String): String =
    Ingest.toPhysicalName(cm, logical)

  /** Full PHYSICAL schema of the scanned files (reader's dataSchema). */
  private lazy val physDataSchema: StructType = opts.readMode match {
    case "changes" => index.changeSchema
    case "quarantine" =>
      // quarantined batches carry the schema of their own era —
      // driver-side union (mergeSchema), exactly the V1 read's rule
      val fs = Ingest.quarantineFiles(root)
      if (fs.isEmpty) quarantineFallbackSchema
      else spark.read.option("mergeSchema", "true").parquet(fs: _*).schema
    case _ => Ingest.physicalDataSchema(index)
  }

  private def quarantineFallbackSchema: StructType = StructType(
    Ingest.physicalDataSchema(index).fields.toSeq ++ Seq(
      StructField(Ingest.QuarantineReasonCol,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      StructField(Ingest.QuarantineBatchCol, LongType)))

  /** Positions in `required` served as METADATA (per-file constants),
    * unless a real table column shadows the name (Spark's conflict
    * rule: data wins).
    */
  private lazy val metaPositions: Seq[(Int, String)] =
    required.fields.zipWithIndex.collect {
      case (f, i) if GraftTable.MetaNames(f.name) &&
        !tableSchema.fieldNames.contains(f.name) => (i, f.name)
    }.toSeq

  /** Physical projection of the REQUIRED data columns, positionally
    * aligned with `readSchema()` minus the metadata positions.
    */
  private lazy val physRequired: StructType =
    StructType(required.fields.zipWithIndex
      .filterNot { case (_, i) => metaPositions.exists(_._1 == i) }
      .map { case (f, _) => physDataSchema.fields
        .find(pf => Ingest.toLogicalName(cm, pf.name) == f.name)
        .getOrElse(f.copy(name = physName(f.name))) }.toSeq)

  override def readSchema(): StructType = aggs match {
    case Some(as) => StructType(as.map(_.outField))
    case None => required
  }

  override def toBatch: Batch = this

  override def description(): String =
    s"graft ${opts.readMode} ${opts.path}" +
      (if (pushed.nonEmpty) s", pushed: ${pushed.mkString(", ")}" else "") +
      (aggs.fold("")(a => s", aggregates: ${a.map(_.outField.name).mkString(", ")}")) +
      (limit.fold("")(l => s", limit: $l")) +
      (topn.fold("")(t =>
        s", topn: ${t._1} ${if (t._2) "asc" else "desc"} ${t._3}"))

  // ---- statistics -----------------------------------------------------
  /** Physical bytes of the served snapshot so the broadcast-join
    * planner prices a small dim as small (without it every graft scan
    * defaults to "huge" and a 10 MB dim joins by shuffle). Non-snapshot
    * modes and stores the Hadoop API can't reach report no size, the
    * conservative default (never wrongly broadcast).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      if (opts.readMode != "snapshot") OptionalLong.empty()
      else try {
        val hp = new Path(snap.versionDir)
        OptionalLong.of(hp.getFileSystem(
          spark.sparkContext.hadoopConfiguration).getContentSummary(hp)
          .getLength)
      } catch { case scala.util.control.NonFatal(_) => OptionalLong.empty() }
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // ---- file resolution ------------------------------------------------
  private lazy val dataFilePaths: Seq[String] =
    opts.readMode match {
      case "changes" =>
        index.changeSliceFiles(
          opts.startingBatch.getOrElse(0L),
          opts.endingBatch.getOrElse(Long.MaxValue))
      case "quarantine" => Ingest.quarantineFiles(root)
      case _ =>
        // stats pruning: pushed bounds → surviving-file list, a strict
        // SUPERSET of the matching rows (the reader re-applies exactly)
        val bounds = GraftSourceOptions.boundsFromFilters(pushed, statCols,
          physName)
        if (bounds.isEmpty) snap.dataFiles
        else manifest.fold(snap.dataFiles)(m =>
          StatsManifest.retain(snap.dataFiles, m.surviving(bounds)))
    }

  private def manifest: Option[StatsManifest.Manifest] = snap.manifest(spark)

  /** The snapshot's stats columns (physical; stats columns cannot be
    * dropped, so each is live).
    */
  private lazy val statCols: Set[String] = snap.layout.sortCols.toSet

  /** Rewrite a pushed filter's column names logical → physical for the
    * parquet reader's pushed filters and the row-level re-application.
    */
  private def translatePhysical(f: Filter): Filter = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => EqualTo(physName(c), v)
      case GreaterThan(c, v) => GreaterThan(physName(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(physName(c), v)
      case LessThan(c, v) => LessThan(physName(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(physName(c), v)
      case other => other
    }
  }

  private def listWithSizes(paths: Seq[String]): Seq[PartitionedFile] = {
    if (paths.isEmpty) return Nil
    val conf = spark.sparkContext.hadoopConfiguration
    // one listStatus per parent dir, not one RPC per file
    paths.groupBy(p => new Path(p).getParent).toSeq.flatMap {
      case (parent, ps) =>
        val fs = parent.getFileSystem(conf)
        val wanted = ps.map(p => new Path(p).getName).toSet
        fs.listStatus(parent).toSeq
          .filter(st => wanted.contains(st.getPath.getName))
          .map(st => PartitionedFile(InternalRow.empty,
            SparkPath.fromPath(st.getPath), 0L, st.getLen,
            Array.empty[String], st.getModificationTime, st.getLen,
            Map.empty))
    }
  }

  private def packPartitions(files: Seq[PartitionedFile])
      : Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.length).sum)
    FilePartition.getFilePartitions(spark, files.sortBy(-_.length), maxSplit)
      .toArray[InputPartition]
  }

  // ---- runtime (join-driven) file pruning -----------------------------
  // Spark's dynamic-pruning rule hands the scan the build side's
  // collected join keys at EXECUTION time (an `In` over the broadcast
  // values — bounded by the broadcast threshold by construction); the
  // manifest turns them into a tighter surviving-file list the same way
  // static pushed bounds do. Pruning whole files is the only action —
  // rows are never dropped here (the join re-filters), so an
  // untranslatable runtime filter degrades to "no extra pruning",
  // never to wrong results.
  @volatile private var runtimeFilters: Seq[Filter] = Nil

  override def filterAttributes(): Array[NamedReference] =
    if (opts.readMode != "snapshot" || aggs.nonEmpty) Array.empty
    else snap.sortCols
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.toIndexedSeq

  private def runtimePruned(files: Seq[String]): Seq[String] = {
    if (runtimeFilters.isEmpty || opts.readMode != "snapshot") return files
    val m = manifest.getOrElse(return files)
    import org.apache.spark.sql.sources.{EqualTo, In}
    runtimeFilters.foldLeft(files) { (fs, f) =>
      f match {
        case In(c, vs) if statCols.contains(physName(c)) &&
          !vs.contains(null) && vs.nonEmpty =>
          StatsManifest.retain(fs, m.survivingIn(physName(c), vs.toIndexedSeq))
        case EqualTo(c, v) if statCols.contains(physName(c)) && v != null =>
          StatsManifest.retain(fs, m.survivingIn(physName(c), Seq(v)))
        case _ => fs
      }
    }
  }

  // ---- limit-driven file-list truncation ------------------------------
  /** Keep a deterministic PREFIX of the file list whose manifest row
    * counts already cover the pushed limit — a pure I/O optimization
    * (Spark re-applies the limit; the prefix is a superset of what it
    * keeps). Declines to truncate — returning the full list — unless
    * every soundness gate holds: no pushed or runtime filter may drop
    * rows (coverage would be unprovable), no deletion vector may owe
    * deletes (manifest counts are raw, live rows could be fewer), and
    * EVERY candidate file must be manifest-covered
    * ([[StatsManifest.Manifest.limitPrefix]]).
    */
  private def limitTruncate(files: Seq[String]): Seq[String] = limit match {
    case Some(l) if pushed.isEmpty && runtimeFilters.isEmpty &&
        opts.readMode == "snapshot" &&
        !snap.hasDeletes =>
      manifest.fold(files)(_.limitPrefix(files, l))
    case _ => files
  }

  /** TopN truncation ([[StatsManifest.Manifest.topnPrefix]]) on the
    * leading sort column. Declines — full list — under the same gates
    * as [[limitTruncate]] and when the column is not a stats column.
    */
  private def topnTruncate(files: Seq[String]): Seq[String] = topn match {
    case Some((logical, asc, k)) if pushed.isEmpty &&
        runtimeFilters.isEmpty && opts.readMode == "snapshot" &&
        statCols.contains(physName(logical)) &&
        !snap.hasDeletes =>
      manifest.fold(files)(_.topnPrefix(files, physName(logical), asc, k))
    case _ => files
  }

  // ---- batch ----------------------------------------------------------
  override def planInputPartitions(): Array[InputPartition] = aggs match {
    case Some(as) => Array(planAggPartition(as))
    case None => packPartitions(listWithSizes(
      topnTruncate(limitTruncate(runtimePruned(dataFilePaths)))))
  }

  override def createReaderFactory(): PartitionReaderFactory = aggs match {
    case Some(_) => new GraftAggReaderFactory()
    case None => readerFactory(streaming = false)
  }

  private[sources] def readerFactory(streaming: Boolean)
      : PartitionReaderFactory = {
    val dvFiles =
      if (streaming || opts.readMode != "snapshot") Nil else snap.deletionVector
    // the table's keys (physical), force-read when the vector must
    // anti-filter rows the projection would not otherwise carry
    lazy val physKeys = snap.layout.keys
    // the DV anti-filter needs the key columns and the claimed filters
    // need their referenced columns even when the projection pruned
    // them away — extend the physical read, project back off after
    val physFilters = pushed.map(translatePhysical)
    val missingKeys = if (dvFiles.isEmpty) Nil
      else physKeys.filterNot(physRequired.fieldNames.contains)
        .map(k => physDataSchema(k))
    val missingFilterCols = physFilters.flatMap(_.references).distinct
      .filterNot(c => physRequired.fieldNames.contains(c) ||
        missingKeys.exists(_.name == c))
      .flatMap(c => physDataSchema.fields.find(_.name == c))
    val physRead = StructType(
      physRequired.fields.toSeq ++ missingKeys ++ missingFilterCols)
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema = physDataSchema, partitionSchema = new StructType(),
      requiredSchema = physRead, filters = physFilters,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    val predicate = CatalystFilters.predicateExpression(
      physFilters.toIndexedSeq, physRead)
    val dvSpec = if (dvFiles.isEmpty) None else {
      val keySchema = StructType(physKeys.map(k => physDataSchema(k)))
      val dvRead = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, dataSchema = keySchema, partitionSchema = new StructType(),
        requiredSchema = keySchema, filters = Nil, options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
      Some(DvSpec(listWithSizes(dvFiles), dvRead, keySchema,
        physKeys.map(k => physRead.fieldIndex(k))))
    }
    new GraftReaderFactory(readFunc, physRead, predicate, dvSpec,
      physRequired.length, metaPositions, required.length)
  }

  // ---- pushed aggregates ----------------------------------------------
  /** Classify every manifest file against the pushed bounds
    * ([[StatsManifest.Manifest.classify]], driver-side — the manifest
    * is O(files) tiny rows): fully-inside healthy files fold into
    * partials from METADATA; boundary files, and inside files missing
    * a stat the fold needs, become the partition's data reads.
    */
  private def planAggPartition(as: Seq[MetaAgg]): InputPartition = {
    val m = manifest.getOrElse(throw new IllegalStateException(
      "graft aggregate pushdown accepted a scan without a manifest — " +
        "planner bug"))
    val bounds = GraftSourceOptions.boundsFromFilters(pushed, statCols,
      physName)
    require(bounds.length == pushed.length,
      "graft aggregate pushdown accepted a non-bound filter — planner bug")
    val (inside, boundary) = m.classify(bounds)
    val (meta, unhealthy) = inside.partition(r => m.nRows(r).exists(n =>
      as.forall {
        case MetaCountStar() => true
        case MetaCountCol(p) => m.nulls(r, p).isDefined
        case MetaMin(p, _) =>
          !r.isNullAt(r.fieldIndex(s"min_$p")) || m.nulls(r, p).contains(n)
        case MetaMax(p, _) =>
          !r.isNullAt(r.fieldIndex(s"max_$p")) || m.nulls(r, p).contains(n)
      }))
    def extreme(p: String, dt: DataType, v: Any): Option[(String, Any)] =
      Option(v).map(x => p -> org.apache.spark.sql.catalyst
        .CatalystTypeConverters.createToCatalystConverter(dt)(x))
    val countCol = as.collect { case MetaCountCol(p) =>
      p -> meta.map(r => m.nRows(r).get - m.nulls(r, p).get).sum }.toMap
    val minVal = as.collect { case MetaMin(p, dt) =>
      extreme(p, dt, m.least(meta, p)) }.flatten.toMap
    val maxVal = as.collect { case MetaMax(p, dt) =>
      extreme(p, dt, m.greatest(meta, p)) }.flatten.toMap
    val degrade = boundary ++ unhealthy.map(m.file)
    // degrade reads need the agg + filter columns
    val degradeSchema = StructType(
      (bounds.map(_.col) ++ as.collect {
        case MetaCountCol(p) => p
        case MetaMin(p, _) => p
        case MetaMax(p, _) => p
      }).distinct.map(p => physDataSchema(p)))
    val degradeRead =
      if (degrade.isEmpty) None
      else Some(new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, dataSchema = physDataSchema,
        partitionSchema = new StructType(), requiredSchema = degradeSchema,
        filters = pushed.map(translatePhysical), options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)))
    val predicate = CatalystFilters.predicateExpression(
      pushed.map(translatePhysical), degradeSchema)
    GraftAggPartition(as, meta.flatMap(m.nRows).sum, countCol, minVal,
      maxVal, listWithSizes(degrade), degradeRead, predicate, degradeSchema)
  }

  // ---- micro-batch stream ---------------------------------------------
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    require(opts.readMode == "changes",
      "graft streaming read serves the CHANGE FEED — spell it " +
        "spark.readStream.format(\"graft\").option(\"read\", \"changes\")" +
        ".load(dir)")
    index.requireChangeFeed()
    new GraftMicroBatchStream(this, opts, root)
  }

  private[sources] def streamSlicePartitions(fromExcl: Long, toIncl: Long)
      : Array[InputPartition] = {
    // a fresh index per micro-batch: the ledger grows between triggers
    packPartitions(listWithSizes(Versions.read(root)
      .changeSliceFiles(fromExcl + 1, toIncl, published = true)))
  }
}

/** The change feed as a REAL V2 streaming source: offsets are
  * COMMITTED BATCH IDS (the ledger is the source of truth — a slice
  * is complete the moment its batch id is committed, by the sink's
  * write-then-swap-then-append protocol), each micro-batch reads the
  * slice files of the batches in `(start, end]`, and replay is
  * deterministic because committed versions are immutable. Offsets
  * restart from the consumer's checkpoint; `startingBatch` seeds the
  * first run, `maxBatchesPerTrigger` bounds admission per trigger.
  */
private[sources] final class GraftMicroBatchStream(scan: GraftScan,
                                                   opts: GraftSourceOptions,
                                                   root: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  private implicit def store: TableStore = opts.store

  private def ledgerMax: Long =
    Versions.read(root).committed.reduceOption(_ max _).getOrElse(-1L)

  // Trigger.AvailableNow: pin the drain target at query start so the
  // run processes exactly the history committed by then (batches a
  // concurrent writer lands mid-run wait for the next run) and keeps
  // triggering until the target is reached even under admission caps.
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ledgerMax)

  override def initialOffset(): Offset =
    GraftStreamOffset(opts.startingBatch.getOrElse(0L) - 1L)

  override def latestOffset(): Offset = GraftStreamOffset(ledgerMax)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(ledgerMax)
    val from = start.asInstanceOf[GraftStreamOffset].batch
    val cap = opts.maxBatchesPerTrigger
      .map(n => math.min(target, from + n)).getOrElse(target)
    GraftStreamOffset(math.max(from, cap))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] =
    scan.streamSlicePartitions(
      start.asInstanceOf[GraftStreamOffset].batch,
      end.asInstanceOf[GraftStreamOffset].batch)

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory(streaming = true)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(
      """"batch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"not a graft stream offset: $json")))

  override def commit(end: Offset): Unit = () // feed pruning is the consumer's

  override def stop(): Unit = ()

  override def toString: String = s"GraftFeed[$root]"
}

private[sources] final case class GraftStreamOffset(batch: Long)
    extends Offset {
  override def json(): String = s"""{"batch":$batch}"""
}

/** Deletion-vector spec shipped to tasks: the vector's own parquet
  * files plus a reader for them; each task loads the deleted-key set
  * once and anti-filters by the keys' ordinals in the read schema.
  */
private[sources] final case class DvSpec(
    files: Seq[PartitionedFile],
    read: PartitionedFile => Iterator[InternalRow],
    keySchema: StructType,
    keyOrdinals: Seq[Int]) extends Serializable

/** Executor-side reader: Spark's own parquet reader (vectorized
  * batches unrolled to rows), then — in order — the exact re-applied
  * filter, the DV anti-filter, the projection back to the pruned
  * schema when the DV forced extra key columns into the read, and the
  * per-file METADATA stamp (`_graft_file`/`_graft_bucket`) when the
  * query asked for provenance columns.
  */
private[sources] final class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    physRead: StructType,
    predicate: Option[Expression],
    dvSpec: Option[DvSpec],
    outColumns: Int,
    metaOut: Seq[(Int, String)] = Nil,
    totalOut: Int = -1) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[FilePartition].files.toSeq
    val pred = predicate.map(Predicate.create)
    val deleted: Option[mutable.HashSet[Seq[Any]]] = dvSpec.map { dv =>
      val set = mutable.HashSet.empty[Seq[Any]]
      val n = dv.keySchema.length
      dv.files.foreach { f =>
        dv.read(f).asInstanceOf[Iterator[Any]].foreach {
          case cb: ColumnarBatch => cb.rowIterator().asScala.foreach { r =>
            val c = r.copy(); set += (0 until n).map(i =>
              c.get(i, dv.keySchema(i).dataType))
          }
          case r: InternalRow =>
            val c = r.copy(); set += (0 until n).map(i =>
              c.get(i, dv.keySchema(i).dataType))
        }
      }
      set
    }
    val project: Option[UnsafeProjection] =
      if (physRead.length == outColumns) None
      else Some(UnsafeProjection.create(
        (0 until outColumns).map(i =>
          BoundReference(i, physRead(i).dataType, physRead(i).nullable))))
    // data rows of one file, fully transformed (filter, DV, projection)
    def fileRows(f: PartitionedFile): Iterator[InternalRow] = {
      val base = readFunc(f).asInstanceOf[Iterator[Any]].flatMap {
        case cb: ColumnarBatch => cb.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }
      val filtered = pred.fold(base)(p => base.filter(p.eval))
      val undeleted = deleted.fold(filtered) { set =>
        val dv = dvSpec.get
        filtered.filterNot(r => set.contains(dv.keyOrdinals.zipWithIndex
          .map { case (ord, i) => r.get(ord, dv.keySchema(i).dataType) }))
      }
      project.fold(undeleted)(p => undeleted.map(p.apply))
    }
    val out: Iterator[InternalRow] =
      if (metaOut.isEmpty) files.iterator.flatMap(fileRows)
      else {
        // per-file constants rearranged into the declared positions;
        // rows are copied out of the reader's reused buffers first
        val dataDts = physRead.fields.take(outColumns).map(_.dataType)
        val dataPos = (0 until totalOut)
          .filterNot(i => metaOut.exists(_._1 == i))
        files.iterator.flatMap { f =>
          val path = f.filePath.toString
          val pathU = UTF8String.fromString(path)
          val bucket: Any =
            "(?:^|/)bkt=(\\d+)/".r.findFirstMatchIn(path) match {
              case Some(m) => m.group(1).toLong
              case None => null
            }
          fileRows(f).map { r =>
            val c = r.copy()
            val row = new GenericInternalRow(totalOut)
            metaOut.foreach { case (i, n) =>
              row.update(i,
                if (n == GraftTable.MetaFileCol) pathU else bucket)
            }
            dataPos.zipWithIndex.foreach { case (i, j) =>
              row.update(i,
                if (c.isNullAt(j)) null else c.get(j, dataDts(j)))
            }
            row
          }
        }
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { cur = out.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** A pushed-aggregate partition: manifest-folded partials plus the
  * boundary/degraded files ONE task finishes off with exact reads.
  */
private[sources] final case class GraftAggPartition(
    aggs: Seq[MetaAgg],
    countStar: Long,
    countCol: Map[String, Long],
    minVal: Map[String, Any],
    maxVal: Map[String, Any],
    degradeFiles: Seq[PartitionedFile],
    degradeRead: Option[PartitionedFile => Iterator[InternalRow]],
    predicate: Option[Expression],
    degradeSchema: StructType) extends InputPartition

private[sources] final class GraftAggReaderFactory()
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftAggPartition]
    var countStar = p.countStar
    val countCol = mutable.Map(p.countCol.toSeq: _*)
    val minVal = mutable.Map(p.minVal.toSeq: _*)
    val maxVal = mutable.Map(p.maxVal.toSeq: _*)
    if (p.degradeFiles.nonEmpty) {
      val read = p.degradeRead.get
      val pred = p.predicate.map(Predicate.create)
      val ordBy = p.degradeSchema.fieldNames.zipWithIndex.toMap
      val rows = p.degradeFiles.iterator.flatMap(f =>
        read(f).asInstanceOf[Iterator[Any]].flatMap {
        case cb: ColumnarBatch => cb.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      })
      rows.filter(r => pred.forall(_.eval(r))).foreach { r =>
        countStar += 1L
        p.aggs.foreach {
          case MetaCountStar() => ()
          case MetaCountCol(c) =>
            if (!r.isNullAt(ordBy(c)))
              countCol(c) = countCol.getOrElse(c, 0L) + 1L
          case MetaMin(c, dt) =>
            val i = ordBy(c)
            if (!r.isNullAt(i)) {
              val v = copyOf(r.get(i, dt))
              val ord = TypeUtils.getInterpretedOrdering(dt)
              minVal(c) = minVal.get(c)
                .map(cur => if (ord.lt(v, cur)) v else cur).getOrElse(v)
            }
          case MetaMax(c, dt) =>
            val i = ordBy(c)
            if (!r.isNullAt(i)) {
              val v = copyOf(r.get(i, dt))
              val ord = TypeUtils.getInterpretedOrdering(dt)
              maxVal(c) = maxVal.get(c)
                .map(cur => if (ord.gt(v, cur)) v else cur).getOrElse(v)
            }
        }
      }
    }
    val values: Array[Any] = p.aggs.map {
      case MetaCountStar() => countStar
      case MetaCountCol(c) => countCol.getOrElse(c, 0L)
      case MetaMin(c, _) => minVal.get(c).orNull
      case MetaMax(c, _) => maxVal.get(c).orNull
    }.toArray
    val out = Iterator.single(
      new GenericInternalRow(values): InternalRow)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { cur = out.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  private def copyOf(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
    case other => other
  }
}
