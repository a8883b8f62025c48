package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** One resolved snapshot of an [[Ingest.upsertParquet]] table: the
  * version a read serves and the control-plane state it is read
  * through, each read ONCE by [[Snapshot.resolve]] — the version dir
  * (its batch id and generation), the pinned `_meta` layout, the
  * version's own bucket count, the pinned `_schema`, the `_colmap`
  * column mapping and the merge-on-read deletion-vector files. The
  * data-file listing and the `_stats` manifest are loaded on first
  * use, at most once. Every table reader takes one of these, so a call
  * can never mix two versions' metadata.
  */
final class Snapshot private (val root: String,
                              val name: String,
                              val batch: Long,
                              val gen: Int,
                              private[sources] val layout: Ingest.TableLayout,
                              val buckets: Int,
                              val schema: Option[StructType],
                              private[sources] val colMap: Seq[(String, String, Boolean)])
                             (implicit store: TableStore) {
  /** Full path of the served version dir. */
  val versionDir: String = store.child(root, name)

  /** The vector's dir; the sink never writes an empty one. */
  private val dvDir = store.child(versionDir, "_deletes")

  /** The deletion vector's parquet files (keys the scan anti-joins
    * away), empty when the version carries no delete debt.
    */
  val deletionVector: Seq[String] = store.listNames(dvDir)
    .filter(_.endsWith(".parquet")).map(store.child(dvDir, _))

  def hasDeletes: Boolean = deletionVector.nonEmpty

  /** The version's data files (`bkt=*` / `part-*.parquet`). */
  lazy val dataFiles: Seq[String] =
    store.listNames(versionDir)
      .filter(_.startsWith(s"${Ingest.UpsertBucketCol}="))
      .map(store.child(versionDir, _))
      .flatMap(d => store.listNames(d)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .map(store.child(d, _)))

  private var loaded: Option[Option[StatsManifest.Manifest]] = None

  /** The version's `_stats` manifest ([[StatsManifest.load]], one job),
    * read with the schema the table pins on the first call only;
    * `None` when the version keeps none.
    */
  def manifest(spark: SparkSession): Option[StatsManifest.Manifest] =
    synchronized {
      if (loaded.isEmpty)
        loaded = Some(StatsManifest.load(spark,
          store.child(versionDir, StatsManifest.ManifestDir),
          schema.flatMap(StatsManifest.manifestSchema(layout.sortCols, _))))
      loaded.get
    }

  /** logical → physical for a live column name. */
  def physicalName(logical: String): String =
    Ingest.toPhysicalName(colMap, logical)

  /** The pinned keys in logical names. */
  def keys: Seq[String] = layout.keys.map(Ingest.toLogicalName(colMap, _))

  /** The pinned sort (stats) columns in logical names. */
  def sortCols: Seq[String] =
    layout.sortCols.map(Ingest.toLogicalName(colMap, _))

  /** The snapshot's live rows in PHYSICAL names, bucket column kept:
    * the version read through the pinned schema (so a snapshot with no
    * data files is still a typed empty frame), anti-joined against the
    * deletion vector. `paths` narrows the read to a pruned or
    * bucket-scoped subset of files or bucket dirs; an empty subset
    * reads nothing. The vector join is left to the planner rather than
    * force-broadcast: the vector is churn-bounded, so size stats
    * normally broadcast it, but unbounded delete debt degrades to a
    * shuffle join instead of a driver OOM.
    */
  private[sources] def scan(spark: SparkSession,
                            paths: Option[Seq[String]] = None): DataFrame = {
    val base = schema.fold(spark.read)(spark.read.schema(_))
      .option("basePath", versionDir)
    val rows = paths match {
      case None => base.parquet(versionDir)
      case Some(Nil) => base.parquet(versionDir).filter(lit(false))
      case Some(ps) => base.parquet(ps: _*)
    }
    if (!hasDeletes) rows
    else rows.join(spark.read.parquet(dvDir).select(layout.keys.map(col): _*),
      layout.keys, "left_anti")
  }

  /** [[scan]] as the user sees it: bucket column dropped, column
    * mapping applied.
    */
  def read(spark: SparkSession, paths: Option[Seq[String]] = None): DataFrame =
    Ingest.logicalView(colMap)(scan(spark, paths).drop(Ingest.UpsertBucketCol))
}

object Snapshot {
  /** Resolve the snapshot a read serves, in one of three modes:
    *
    *   - CURRENT (no `asOfBatch`, no `tag`): the version the `CURRENT`
    *     pointer names. The pointer is swapped atomically and only ever
    *     names a fully built version.
    *   - as of a batch (`asOfBatch = Some(b)`): the highest RETAINED
    *     COMMITTED snapshot with batch id ≤ `b`, its newest complete
    *     generation. Candidate `v_*` dirs are intersected with the
    *     `_commits` ledger (a dir without a commit record is a crashed
    *     partial build) and with [[Ingest.genComplete]]. A batch older
    *     than retention fails loudly rather than serving a newer state.
    *   - at a tag (`tag = Some(name)`): as of the batch the tag pins
    *     ([[Ingest.tagBatch]], loud when the tag is absent). A tag wins
    *     over `asOfBatch`.
    */
  def resolve(root: String, asOfBatch: Option[Long] = None,
              tag: Option[String] = None)
             (implicit store: TableStore): Snapshot = {
    val at = tag.map(Ingest.tagBatch(root, _)).orElse(asOfBatch)
    val cur = Ingest.readCurrentName(root)
    require(cur.nonEmpty, s"upsert table has no CURRENT pointer: $root")
    val name = at.fold(cur.get)(versionAsOf(root, cur, _))
    val (batch, gen) = Ingest.parseVersion(name).get
    val layout = Ingest.tableLayout(root)
    new Snapshot(root, name, batch, gen, layout,
      Ingest.versionBuckets(store.child(root, name)).getOrElse(layout.buckets),
      Ingest.pinnedSchema(root), Ingest.colMap(root))
  }

  /** The version dir NAME an as-of read at batch `b` serves. */
  private def versionAsOf(root: String, cur: Option[String], b: Long)
                         (implicit store: TableStore): String = {
    val committed = Ingest.readLedger(root)
    val vds = Ingest.versionDirs(root)
    val complete = vds.filter { case (n, bb, g) =>
      committed.contains(bb) && Ingest.genComplete(root, n, g, cur) }
    val have = complete.map(_._2).distinct
    val eligible = have.filter(_ <= b)
    require(eligible.nonEmpty,
      s"upsert table has no retained committed snapshot at or before " +
        s"batch $b (retained: ${have.sorted.mkString(",")}) — raise keepVersions")
    val best = eligible.max
    // a COMMITTED batch in (best, b] — whether its dir still
    // exists but is incomplete (mid-sweep: the `_sweeping` marker
    // survived a crash mid-delete) or the dir has VANISHED
    // entirely (a crash after a middle version's delete completed,
    // before older ones were swept) — was, a moment earlier, the
    // snapshot this read would rightfully serve; silently
    // answering with the older `best` state would be wrong data
    // with no error. Fail loudly. The ascending sweep order in
    // [[Ingest.cleanupStale]] makes the vanished case unreachable in a
    // healthy table (retained batches stay a suffix of the
    // ledger), so this is defense-in-depth against out-of-band
    // deletion and pre-fix crash debris. Once a re-run cleanup
    // completes, the read gives the documented fallback or the
    // beyond-retention error. Zero-row batches (`_empty` ledger)
    // commit WITHOUT minting a version dir, so a healthy table
    // legitimately has committed batches with no snapshot — they
    // never shadow `best` (their snapshot state IS the previous
    // version's) and must not trip the guard.
    val shadowed =
      committed.filter(bb => bb > best && bb <= b) -- Ingest.emptyBatchIds(root)
    // a TAG pin legitimately breaks the suffix shape: retention can
    // sweep batches between a pinned old snapshot and the retained
    // suffix, leaving `best` = the pin for this as-of range. That
    // is a healthy beyond-retention state, not corruption — refuse
    // with the retention error (serving the pin as-of `b` would be
    // stale data), not the corruption one.
    if (shadowed.nonEmpty && Ingest.tagPinnedBatches(root).contains(best))
      throw new IllegalArgumentException(
        s"upsert table has no retained committed snapshot at batch $b " +
          s"— the nearest older snapshot (batch $best) survives only " +
          "via a tag pin and the batches between were retention-swept; " +
          "raise keepVersions or tag the batch you need")
    require(shadowed.isEmpty, {
      val (midSweep, vanished) =
        shadowed.partition(bb => vds.exists(_._2 == bb))
      s"as-of read of $root at batch $b cannot safely fall back to " +
        s"batch $best: committed batch(es) " +
        (if (midSweep.nonEmpty)
          s"${midSweep.toSeq.sorted.mkString(",")} are mid-sweep " +
            "(interrupted retention/vacuum delete)" else "") +
        (if (midSweep.nonEmpty && vanished.nonEmpty) " and " else "") +
        (if (vanished.nonEmpty)
          s"${vanished.toSeq.sorted.mkString(",")} have no snapshot dir " +
            "while an older one survives (non-suffix deletion)" else "") +
        " — re-run the cleanup (any commit or vacuum) and retry"
    })
    // the newest complete generation of `best` (a maintenance rewrite
    // holds the same state laid out better)
    complete.filter(_._2 == best).maxBy(_._3)._1
  }
}
