package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** File-level min/max data skipping — the manifest layer every
  * lakehouse table format (Delta/Iceberg/Hudi) puts between the query
  * and the file listing, and the consumer of the tight per-file value
  * ranges that [[graft.operators.Layout]]'s Z-order write produces.
  *
  * Why it exists at 100 TB: parquet row-group stats prune WITHIN a
  * file, but the reader still has to open every footer — a
  * 100 TB table is millions of files, and footer-open round trips
  * (object-store GETs) dominate a selective query. A manifest holds
  * one row per file with min/max per stats column, so planning prunes
  * the FILE LIST before any footer is touched: a 2-D range probe over
  * a Z-clustered table goes from "open every footer" to "open the few
  * files whose bounding box overlaps the probe".
  *
  * The manifest is derived, not authoritative — it is rebuilt from the
  * data on write, lives under `_stats/` inside the table dir
  * (underscore-prefixed, so Spark's file listing never surfaces it to
  * snapshot reads), and a lost manifest degrades to a full scan, never
  * a wrong answer (pruning is sound: a file is skipped only when its
  * min/max range provably misses the predicate).
  *
  * Reading it is ONE loader: [[load]] collects a version's manifest
  * once, and every consumer asks the loaded [[Manifest]] — bound
  * pruning ([[prunedScan]], `Ingest.readUpsertTableWhere`, the V2
  * scan's pushed filters), runtime join pruning, LIMIT / TopN
  * truncation, and the metadata aggregates (the V2 aggregate fold,
  * `Ingest.countWhere`, `Ingest.minMaxMeta`). A V2 scan loads it at
  * most once. Only the writers' carry of the previous version's rows
  * reads the part files otherwise.
  */
object StatsManifest {

  val ManifestDir = "_stats"

  /** Resolve a recorded data-file path onto the manifest's OWN
    * location. The manifest's `file` column holds `input_file_name()`
    * URIs from the original write — but a table tree may legitimately
    * move under the format's own contracts (the r16 fixture
    * link-copies; a future table relocation), and a recorded absolute
    * path would then point a pruned read at the ORIGINAL tree: the
    * basePath-keyed readers fail loudly, the set-membership consumers
    * ([[graft.sources.GraftTable]]'s pruning) would silently intersect
    * to an EMPTY file list — dropped rows, not a superset. The suffix
    * below the version-dir segment is location-independent, so rebase
    * every recorded path at the LAST occurrence of the version dir's
    * name (deepest match — partition dirs are `bkt=N`/`col=val` and
    * can never collide with it). A path without the marker (e.g. a
    * clone's renamed version dir) passes through unchanged — exactly
    * the pre-rebase behavior.
    */
  private[sources] def rebase(manifestDir: String, f: String)
                             (implicit store: TableStore): String = {
    val vDir =
      if (manifestDir.endsWith("/" + ManifestDir))
        manifestDir.dropRight(ManifestDir.length + 1)
      else manifestDir
    // r17: new manifests record VERSION-RELATIVE paths ([[relFile]]) —
    // no marker search needed, resolution is direct child-of-vDir
    if (!f.startsWith("/") && !f.contains(":/")) return store.child(vDir, f)
    val marker = "/" + store.baseName(vDir) + "/"
    val i = f.lastIndexOf(marker)
    if (i >= 0) store.child(vDir, f.substring(i + marker.length)) else f
  }

  /** Version-RELATIVE `file` expression for manifest WRITERS: the
    * suffix of `input_file_name()` below the named version dir
    * (`bkt=N/part-….parquet`). Written relative, a relocated or
    * link-copied tree's manifest resolves with zero path surgery —
    * the whole `input_file_name()`-URI failure class the r16
    * rebase-at-read fix papered over is gone at the source; [[rebase]]
    * keeps serving absolute paths from manifests written before this
    * (and a clone's renamed version dir, which passes through).
    */
  def relFile(versionDirName: String): Column =
    regexp_replace(input_file_name(),
      ".*/" + java.util.regex.Pattern.quote(versionDirName) + "/", "")

  /** The per-file manifest row's aggregate list: `min_<c>` / `max_<c>`
    * per stats column — the skipping index — plus `n_rows` and
    * `nulls_<c>`, which upgrade the manifest from a skipping index to
    * an AGGREGATION source ([[graft.sources.Ingest.countWhere]] /
    * [[graft.sources.Ingest.minMaxMeta]]): a file whose value range
    * lies strictly inside a predicate and whose bound columns hold no
    * NULLs contributes its row count from metadata alone, no data I/O.
    * One definition shared by every manifest writer (the plain-dir
    * [[writeWithStats]] path and the table format's sink / optimize /
    * rebucket rewrites) so manifests stay schema-compatible across the
    * carry/union paths.
    */
  def statsAggs(statsCols: Seq[String]): Seq[Column] =
    statsCols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))) :+
      count(lit(1)).as("n_rows")

  /** The manifest's row schema over a table's data schema: `file`,
    * then `min_<c>` / `max_<c>` (the column's own type) and
    * `nulls_<c>` per stats column, then `n_rows` — the shape
    * [[statsAggs]] produces and [[footerManifestRows]] builds. Readers
    * of an existing manifest pass it to `spark.read.schema` so no
    * schema-inference job runs. `None` when a stats column is not in
    * `schema`.
    */
  def manifestSchema(statsCols: Seq[String],
                     schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val fields = statsCols.map(c => schema.fields.find(_.name == c))
    if (fields.exists(_.isEmpty)) None
    else Some(StructType(
      StructField("file", StringType, nullable = false) +:
      fields.flatten.flatMap(f => Seq(
        StructField(s"min_${f.name}", f.dataType),
        StructField(s"max_${f.name}", f.dataType),
        StructField(s"nulls_${f.name}", LongType))) :+
      StructField("n_rows", LongType, nullable = false)))
  }

  /** Bounded daemon pool for the footer reads ([[mapFooters]]): one
    * footer read is a small independent round trip, so a commit's
    * footers are read concurrently rather than one after another.
    */
  private lazy val footerEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(16,
        (r: Runnable) => {
          val t = new Thread(r, "graft-footer-read")
          t.setDaemon(true)
          t
        }))

  /** Footer-derived manifest rows for freshly written parquet files —
    * the zero-rescan path behind every manifest writer (r17, guide §6):
    * the min/max/null-count/row-count a manifest row needs is already
    * in each file's parquet footer, so deriving it there replaces a
    * full re-read of the just-written data (a second pass over every
    * rewritten byte — at 100 TB, a second scan of the commit's output)
    * with one footer read per file, the same metadata pass Delta and
    * Iceberg do at write time. The footers are read concurrently.
    *
    * Returns `None` — callers MUST fall back to the scan-based
    * derivation — unless every stats column in every file yields EXACT
    * statistics. Exactness matters beyond pruning: [[Ingest.minMaxMeta]]
    * answers MIN/MAX *aggregates* from these rows, so an approximate
    * bound (parquet truncates/omits long BINARY stats) would be a wrong
    * answer, not a missed skip. Hence only fixed-width physical types
    * are accepted (int32/int64/float/double/boolean, date, timestamp
    * micros/millis) — their footer stats are attained values by format
    * contract; strings, decimals and INT96 timestamps decline to the
    * scan. Footers are read through the same Hadoop FS the data plane
    * writes through, so any [[TableStore]] whose parquet Spark can read
    * serves footers too.
    *
    * @param files (absolutePath, manifestRelativePath) per data file
    * @param schema the table's data schema (stats columns resolved here)
    */
  def footerManifestRows(spark: SparkSession,
                         files: Seq[(String, String)],
                         statsCols: Seq[String],
                         schema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] =
    footerFileStats(spark, files.map(_._1), statsCols, schema).map(stats =>
      spark.createDataFrame(
        java.util.Arrays.asList(files.zip(stats).map { case ((_, rel), st) =>
          org.apache.spark.sql.Row.fromSeq(rel +: st) }: _*),
        manifestSchema(statsCols, schema).get))

  /** [[footerManifestRows]]'s values on the driver: per file (in the
    * order of `files`), min/max/null count per stats column, then the
    * row count. `None` unless every file yields exact statistics for
    * every stats column — all or nothing.
    */
  private[sources] def footerFileStats(spark: SparkSession, files: Seq[String],
                                       statsCols: Seq[String],
                                       schema: org.apache.spark.sql.types.StructType)
      : Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.types._
    val fields = statsCols.flatMap(c => schema.fields.find(_.name == c))
    val supported = fields.size == statsCols.size &&
      fields.forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | BooleanType | DateType | TimestampType => true
        case _ => false
      })
    if (!supported || files.isEmpty) return None
    val stats = mapFooters(spark, files)(footerStats(_, fields))
    if (stats.exists(_.isEmpty)) None else Some(stats.flatten)
  }

  /** `f` over the footer of each parquet file, the footers read
    * concurrently; the results in the order of `files`. The static
    * footer read parses only the footer: opening a `ParquetFileReader`
    * costs ~15 ms more per file.
    */
  private def mapFooters[T](spark: SparkSession, files: Seq[String])
                           (f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T)
      : Seq[T] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map(p => scala.concurrent.Future(f(
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
        new org.apache.hadoop.fs.Path(p),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER))
    )(footerEc)).map(scala.concurrent.Await.result(_,
      scala.concurrent.duration.Duration.Inf))
  }

  /** One file's manifest row values after `file` — min/max/null count
    * per stats column, then the row count — from its footer; `None`
    * when any stats column lacks exact statistics in any row group.
    */
  private def footerStats(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
                          fields: Seq[org.apache.spark.sql.types.StructField])
      : Option[Seq[Any]] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // decode one footer Statistics value into the Spark-external value
    // the scan-based agg would have produced; None = unusable stats
    def decode(v: Any, dt: DataType,
               pt: org.apache.parquet.schema.PrimitiveType): Option[Any] =
      (dt, pt.getPrimitiveTypeName) match {
        case (ByteType, INT32) => Some(v.asInstanceOf[Int].toByte)
        case (ShortType, INT32) => Some(v.asInstanceOf[Int].toShort)
        case (IntegerType, INT32) => Some(v.asInstanceOf[Int])
        case (LongType, INT64) => Some(v.asInstanceOf[Long])
        case (FloatType, FLOAT) => Some(v.asInstanceOf[Float])
        case (DoubleType, DOUBLE) => Some(v.asInstanceOf[Double])
        case (BooleanType, BOOLEAN) => Some(v.asInstanceOf[Boolean])
        case (DateType, INT32) =>
          Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
        case (TimestampType, INT64) =>
          pt.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              val raw = v.asInstanceOf[Long]
              val micros = t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                case _ => return None // nanos: not TimestampType-exact
              }
              Some(java.time.Instant.ofEpochSecond(
                Math.floorDiv(micros, 1000000L),
                Math.floorMod(micros, 1000000L) * 1000L))
            case _ => None
          }
        case _ => None // INT96 timestamps and any other mismatch
      }
    val blocks = footer.getBlocks.asScala.toSeq
    val perCol: Seq[Seq[Any]] = fields.map { fld =>
      var mn: Any = null
      var mx: Any = null
      var nulls = 0L
      blocks.foreach { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == fld.name).getOrElse(return None)
        val st = cc.getStatistics
        if (st == null || st.isEmpty || !st.isNumNullsSet) return None
        nulls += st.getNumNulls
        if (st.hasNonNullValue) {
          val lo = decode(st.genericGetMin, fld.dataType,
            cc.getPrimitiveType).getOrElse(return None)
          val hi = decode(st.genericGetMax, fld.dataType,
            cc.getPrimitiveType).getOrElse(return None)
          def lt(a: Any, b: Any): Boolean =
            a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
          if (mn == null || lt(lo, mn)) mn = lo
          if (mx == null || lt(mx, hi)) mx = hi
        } else if (st.getNumNulls != b.getRowCount) {
          // no min/max but not provably all-NULL either (INT96
          // writes exactly this shape: numNulls=0, no values) —
          // treating it as all-null would give the file NULL
          // bounds and pruned reads would SKIP live rows. Bail.
          return None
        }
      }
      Seq(mn, mx, nulls)
    }
    Some(perCol.flatten :+ blocks.map(_.getRowCount).sum)
  }

  /** Write `df` as parquet at `path` — the caller controls layout
    * (partitioning/sorting decide how tight the per-file ranges are;
    * a Z-clustered input gives multi-column-tight boxes) — then build
    * the per-file manifest for `statsCols`: one row per data file with
    * `min_<c>` / `max_<c>` for each stats column.
    *
    * The stats pass re-reads ONLY the stats columns of the
    * just-written files (column pruning makes this a narrow columnar
    * scan) and reduces per file via one hash agg on
    * `input_file_name()` — fully distributed, no driver-side footer
    * walk. The upsert table format's manifests take the same numbers
    * straight out of the parquet footers instead
    * ([[footerManifestRows]]); deriving them from the data keeps this
    * plain-directory path engine-portable and exact for every type.
    */
  def writeWithStats(df: DataFrame, path: String,
                     statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "writeWithStats: no stats columns")
    df.write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    val written = spark.read.parquet(path)
      .select(statsCols.map(col): _*)
    val aggs = statsAggs(statsCols)
    val dirName = path.replaceAll("/+$", "").split('/').last
    written
      .groupBy(relFile(dirName).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // one manifest row per data file — manifest is tiny
      .write.mode("overwrite").parquet(s"$path/$ManifestDir")
  }

  /** Scan `path` reading ONLY the files whose manifest range can
    * contain a row matching every `(column, lo, hi)` bound — file-list
    * pruning from the manifest, before any data (or footer) I/O. The
    * returned frame still holds all rows OF THOSE FILES: callers apply
    * their row-level predicate on top (skipping is a superset
    * guarantee, like partition pruning). An empty survivor set returns
    * a typed empty scan.
    */
  def prunedScan(spark: SparkSession, path: String,
                 bounds: Seq[(String, Any, Any)])
                (implicit store: TableStore): DataFrame = {
    val files = load(spark, store.child(path, ManifestDir), None)
      .getOrElse(throw new IllegalArgumentException(
        s"no stats manifest under $path/$ManifestDir — write the table " +
          "with writeWithStats"))
      .surviving(bounds.flatMap { case (c, lo, hi) => Bound.closed(c, lo, hi) })
    if (files.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else
      spark.read.option("basePath", path).parquet(files: _*)
  }

  /** One bound of a file-skipping probe: `col op value`, `op` one of
    * `=`, `>=`, `>`, `<=`, `<`, or `notnull` (no value). `col` names
    * the manifest's (physical) stats column. `value` is an external
    * Scala value compared through `lit`, so it coerces against the
    * stats column exactly as a Spark predicate would (a `Long` on an
    * INT column, a `Timestamp` on an INT96 one).
    */
  final case class Bound(col: String, op: String, value: Any = null)

  object Bound {
    /** `lo <= c <= hi`. */
    def closed(c: String, lo: Any, hi: Any): Seq[Bound] =
      Seq(Bound(c, ">=", lo), Bound(c, "<=", hi))

    /** [[closed]] with OPEN ends: `None` leaves that side unbounded
      * (`c >= lo` alone still skips every file whose max is below lo).
      */
    def open(c: String, lo: Option[Any], hi: Option[Any]): Seq[Bound] =
      lo.map(Bound(c, ">=", _)).toSeq ++ hi.map(Bound(c, "<=", _))
  }

  /** Load the manifest under `manifestDir`: ONE collect of its rows,
    * each `file` rebased onto the manifest's own location ([[rebase]])
    * here, once. Given `schema` ([[manifestSchema]] over the table's
    * pinned schema) no schema-inference job runs; a column a part file
    * lacks then reads NULL, exactly like a row carried from an older
    * manifest generation. `None` when no manifest exists.
    */
  def load(spark: SparkSession, manifestDir: String,
           schema: Option[StructType])
          (implicit store: TableStore): Option[Manifest] = {
    // the manifest dir is underscore-prefixed so TABLE reads never see
    // it; reading it back therefore names its part files explicitly
    val parts = store.listNames(manifestDir)
      .filter(_.endsWith(".parquet")).map(store.child(manifestDir, _))
    if (parts.isEmpty) None
    else {
      val df = schema.fold(spark.read)(spark.read.schema(_)).parquet(parts: _*)
      val sch = StructType(df.schema.fields.map(_.copy(nullable = true)))
      val fi = sch.fieldIndex("file")
      Some(new Manifest(spark, sch, df.collect().toSeq.map { r =>
        val vs = r.toSeq.toArray
        vs(fi) = rebase(manifestDir, r.getString(fi))
        new GenericRowWithSchema(vs, sch): Row
      }))
    }
  }

  /** `files` restricted to `keep`, compared in normalized path space (a
    * recorded path may be a URI where the store lists plain paths).
    */
  def retain(files: Seq[String], keep: Seq[String]): Seq[String] = {
    val k = keep.map(key).toSet
    files.filter(f => k(key(f)))
  }

  private def key(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Driver ordering of a stats column's external values. */
  private def ordering(dt: DataType): Ordering[Any] =
    Ordering.by[Any, Any](CatalystTypeConverters
      .createToCatalystConverter(dt))(TypeUtils.getInterpretedOrdering(dt))

  /** One version's manifest, loaded once ([[load]]): every pruning,
    * truncation and metadata-aggregate question a scan asks is answered
    * from these rows on the driver — one row per data file. Bound
    * predicates run as Column expressions over the rows as a local
    * relation: Spark folds a Filter/Project over a LocalRelation on the
    * driver, so no job runs, and a bound coerces exactly as a Spark
    * predicate would.
    *
    * Soundness: a file is skipped only when its stats prove no row
    * matches, and answered from metadata only when they prove every
    * row does. The min/max of every stats column are always recorded;
    * null counts and row counts arrived with later manifest
    * generations, so a file without them ([[nRows]] / [[nulls]]
    * `None`) is never answered from metadata.
    */
  final class Manifest private[StatsManifest] (spark: SparkSession,
                                               val schema: StructType,
                                               val rows: Seq[Row]) {
    private val idx = schema.fieldNames.zipWithIndex.toMap

    /** The rows as a local relation. */
    private lazy val frame: DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    def file(r: Row): String = r.getString(idx("file"))

    def files: Seq[String] = rows.map(file)

    private def count(r: Row, name: String): Option[Long] =
      idx.get(name).filterNot(r.isNullAt).map(r.getLong)

    def nRows(r: Row): Option[Long] = count(r, "n_rows")

    def nulls(r: Row, c: String): Option[Long] = count(r, s"nulls_$c")

    /** Whether any file records the count column `name`. */
    def records(name: String): Boolean = rows.exists(count(_, name).isDefined)

    private def countCol(name: String): Column =
      if (idx.contains(name)) col(name) else lit(null)

    /** The ONE overlap/inside test of a bound against a file's stats:
      * `(overlaps, inside)`. NULL min/max mean the file holds no
      * non-NULL value in the column, which no comparison matches; an
      * unrecorded null count never proves inside. A bound on a column
      * the manifest keeps no stats for overlaps every file and proves
      * none inside: it prunes nothing and leaves each file to be read.
      */
    private def test(b: Bound): (Column, Column) = {
      if (!idx.contains(s"min_${b.col}")) return (lit(true), lit(false))
      val (mn, mx) = (col(s"min_${b.col}"), col(s"max_${b.col}"))
      val nl = countCol(s"nulls_${b.col}")
      val v = lit(b.value)
      val noNulls = nl === 0L
      val (overlaps, inside) = b.op match {
        case "=" => (mn <= v && mx >= v, mn === v && mx === v && noNulls)
        case ">=" => (mx >= v, mn >= v && noNulls)
        case ">" => (mx > v, mn > v && noNulls)
        case "<=" => (mn <= v, mx <= v && noNulls)
        case "<" => (mn < v, mx < v && noNulls)
        case "notnull" => (!(nl === countCol("n_rows")), noNulls)
      }
      (coalesce(overlaps, lit(b.op == "notnull")), coalesce(inside, lit(false)))
    }

    private def all(cs: Seq[Column]): Column =
      cs.reduceOption(_ && _).getOrElse(lit(true))

    private def filesWhere(keep: Column): Seq[String] =
      frame.filter(keep).select("file").collect().map(_.getString(0)).toSeq

    /** The files whose stats can hold a row matching every bound. */
    def surviving(bounds: Seq[Bound]): Seq[String] =
      if (bounds.isEmpty) files else filesWhere(all(bounds.map(test(_)._1)))

    /** The files whose `[min_c, max_c]` can hold ANY of `values` — the
      * point-set test runtime join pruning ships its broadcast keys to
      * (tighter than the values' envelope when the set is sparse).
      */
    def survivingIn(c: String, values: Seq[Any]): Seq[String] =
      filesWhere(values.map(v => test(Bound(c, "=", v))._1)
        .reduceOption(_ || _).getOrElse(lit(false)))

    /** Every file classified against all of `bounds`: the rows of the
      * files wholly INSIDE (every row matches — metadata answers them)
      * and the BOUNDARY files that must be read. Excluded files are in
      * neither. With no bounds every file is inside.
      */
    def classify(bounds: Seq[Bound]): (Seq[Row], Seq[String]) = {
      val tests = bounds.map(test)
      val flags = frame.select(all(tests.map(_._1)), all(tests.map(_._2)))
        .collect()
      val (inside, boundary) = rows.zip(flags)
        .filter(_._2.getBoolean(0)).partition(_._2.getBoolean(1))
      (inside.map(_._1), boundary.map(p => file(p._1)))
    }

    /** LIMIT coverage: the sorted prefix of `files` whose row counts
      * reach `l`; all of `files` when a file on the way has no manifest
      * row or no row count.
      */
    def limitPrefix(files: Seq[String], l: Long): Seq[String] = {
      val counts = rows.map(r => key(file(r)) -> nRows(r)).toMap
      val keep = Seq.newBuilder[String]
      var acc = 0L
      val it = files.sorted.iterator
      while (it.hasNext && acc < l) {
        val f = it.next()
        counts.get(key(f)).flatten match {
          case Some(n) => keep += f; acc += n
          case None => return files
        }
      }
      keep.result()
    }

    /** ORDER BY c LIMIT k coverage: order the `files` by their leading
      * bound (min ascending / max descending), take the prefix whose
      * row counts reach k, and keep every file whose bound can still
      * beat the prefix's worst — a superset of the top-k rows whatever
      * the later tiebreak columns do. All of `files` unless each has a
      * manifest row with min, max and a ZERO null count in `c` (NULL
      * ordering would put unknown rows at one end). An unrecorded row
      * count adds nothing to the prefix, which only lengthens it.
      */
    def topnPrefix(files: Seq[String], c: String, asc: Boolean,
                   k: Long): Seq[String] = {
      val (mn, mx) = (idx.get(s"min_$c"), idx.get(s"max_$c")) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => return files
      }
      val wanted = files.map(key).toSet
      val cand = rows.filter(r => wanted(key(file(r))))
      if (cand.isEmpty || cand.size != wanted.size || cand.exists(r =>
          r.isNullAt(mn) || r.isNullAt(mx) || !nulls(r, c).contains(0L)))
        return files
      val ord = ordering(schema(mn).dataType)
      val lead = if (asc) mn else mx
      val sorted = cand.sortBy(_.get(lead))(if (asc) ord else ord.reverse)
      var before = 0L
      val prefix = sorted.takeWhile { r =>
        val short = before < k
        before += nRows(r).getOrElse(0L)
        short
      }
      val keep =
        if (asc) {
          val b = prefix.map(_.get(mx)).max(ord)
          cand.filter(r => ord.lteq(r.get(mn), b))
        } else {
          val b = prefix.map(_.get(mn)).min(ord)
          cand.filter(r => ord.gteq(r.get(mx), b))
        }
      retain(files, keep.map(file))
    }

    /** The least `min_<c>` / greatest `max_<c>` over `rs`, NULLs
      * skipped; NULL when no file holds a non-NULL value (SQL MIN/MAX).
      */
    def least(rs: Seq[Row], c: String): Any = extreme(rs, s"min_$c", _.min(_))

    def greatest(rs: Seq[Row], c: String): Any = extreme(rs, s"max_$c", _.max(_))

    private def extreme(rs: Seq[Row], name: String,
                        pick: (Seq[Any], Ordering[Any]) => Any): Any = {
      val i = idx(name)
      val vs = rs.filterNot(_.isNullAt(i)).map(_.get(i))
      if (vs.isEmpty) null else pick(vs, ordering(schema(i).dataType))
    }
  }
}
