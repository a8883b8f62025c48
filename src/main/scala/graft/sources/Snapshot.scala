package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** One resolved snapshot of an [[Ingest.upsertParquet]] table: the
  * version a read serves and the control-plane state it is read
  * through. [[Versions.snapshot]] builds it from one version index,
  * which reads the `CURRENT` pointer, the pinned `_meta` layout, the
  * pinned `_schema` and the `_colmap` column mapping at most once. When
  * built, the snapshot reads its version's own bucket count and lists
  * its merge-on-read deletion vector; the data-file listing and the
  * `_stats` manifest are loaded on first use, at most once. Every table
  * reader takes one of these, so a call can never mix two versions'
  * metadata.
  */
final class Snapshot private[sources] (versions: Versions, val name: String)
                                      (implicit store: TableStore) {
  val root: String = versions.root
  val (batch: Long, gen: Int) = Ingest.parseVersion(name).get
  private[sources] val layout: Ingest.TableLayout = versions.layout
  val schema: Option[StructType] = versions.schema
  private[sources] val colMap: Seq[(String, String, Boolean)] = versions.colMap

  /** Full path of the served version dir. */
  val versionDir: String = store.child(root, name)

  /** The version's own bucket count (a retained pre-rebucket version
    * keeps its original one).
    */
  val buckets: Int = Ingest.versionBuckets(versionDir).getOrElse(layout.buckets)

  /** The vector's dir; the sink never writes an empty one. */
  private val dvDir = store.child(versionDir, "_deletes")

  /** The deletion vector's parquet files (keys the scan anti-joins
    * away), empty when the version carries no delete debt.
    */
  val deletionVector: Seq[String] = store.listNames(dvDir)
    .filter(_.endsWith(".parquet")).map(store.child(dvDir, _))

  def hasDeletes: Boolean = deletionVector.nonEmpty

  /** The deletion vector's rows (keys + bucket), from its listed files. */
  private[sources] def deletes(spark: SparkSession): Option[DataFrame] =
    if (hasDeletes) Some(spark.read.parquet(deletionVector: _*)) else None

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
  def keys: Seq[String] = versions.keys

  /** The pinned sort (stats) columns in logical names. */
  def sortCols: Seq[String] = versions.sortCols

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
    deletes(spark).fold(rows)(dv =>
      rows.join(dv.select(layout.keys.map(col): _*), layout.keys, "left_anti"))
  }

  /** [[scan]] as the user sees it: bucket column dropped, column
    * mapping applied.
    */
  def read(spark: SparkSession, paths: Option[Seq[String]] = None): DataFrame =
    Ingest.logicalView(colMap)(scan(spark, paths).drop(Ingest.UpsertBucketCol))
}

object Snapshot {
  /** The snapshot a read serves, from a fresh [[Versions]] index: see
    * [[Versions.snapshot]] for the three modes.
    */
  def resolve(root: String, asOfBatch: Option[Long] = None,
              tag: Option[String] = None)
             (implicit store: TableStore): Snapshot =
    Versions.read(root).snapshot(asOfBatch, tag)
}

/** One table's version index, read once per table operation. Building
  * it ([[Versions.read]]) reads the `CURRENT` pointer and nothing else;
  * every pinned table property (the `_meta` layout, `_schema`,
  * `_colmap`, `_constraints` and the `_cdf` change-feed marker), the
  * `_commits` ledger, the `_empty` log, the `_tags` log, the listing of
  * the table root and that of its dead-letter area are each read on
  * first use, at most once. A CURRENT-snapshot read therefore reads no
  * ledger and lists no root.
  *
  * It owns the one rule "which version dir serves committed batch b"
  * ([[servable]]), which the as-of resolver, the change feed, the
  * retention sweep and the feed publisher all answer through. The
  * index is a point-in-time view: the sink checks and commits against
  * the index of the op that calls it ([[Ingest.upsertParquet]] reads
  * one per attempt), and an op reads a new one when it needs the state
  * after its commit.
  */
final class Versions private (val root: String, val current: Option[String])
                             (implicit store: TableStore) {
  /** The raw pinned `_meta` text; `None` before the first commit. */
  private[sources] lazy val meta: Option[String] =
    store.read(store.child(root, "_meta"))
  /** The pinned `_meta` layout. */
  private[sources] lazy val layout: Ingest.TableLayout =
    Ingest.TableLayout.parse(meta.getOrElse(
      throw new IllegalArgumentException(
        s"not an upsert table (no _meta): $root")))
  /** The pinned `_schema`: the table's DATA schema in physical names,
    * bucket column included.
    */
  lazy val schema: Option[StructType] =
    store.read(store.child(root, "_schema"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
  /** Column-mapping state (`_colmap`): `(physical, logical, live)` per
    * NON-identity column. Physical names are immutable once written
    * into parquet files and the pinned `_schema`; logical names are the
    * user-facing surface ([[Ingest.renameColumn]] / [[Ingest.dropColumn]]
    * rewrite only this object — zero data I/O). A column absent from
    * the map is identity-mapped and live. A dead entry is a DROP: the
    * physical column stays in history, reads project it out, and a
    * later re-add of the logical name mints a FRESH physical name, so
    * dropped data is never resurrected (a rename refuses targets that
    * collide with any pinned physical name, so lookup is unambiguous).
    */
  private[sources] lazy val colMap: Seq[(String, String, Boolean)] =
    store.read(store.child(root, "_colmap")).toSeq
      .flatMap(_.split('\n')).map(_.trim).filter(_.nonEmpty).map { l =>
        val p = l.split('\t')
        require(p.length == 3, s"$root/_colmap: torn entry '$l'")
        (p(0), p(1), p(2) == "1")
      }
  /** Does the table record a change feed (the `_cdf` marker)? */
  lazy val changeFeed: Boolean = store.exists(store.child(root, "_cdf"))
  /** A WAP branch's lineage, `_branch_base`'s `key=value` lines
    * (`src`, the fork `batch`); `None` off a branch.
    */
  lazy val lineage: Option[Map[String, String]] =
    store.read(store.child(root, "_branch_base")).map(_.split('\n')
      .map(_.trim).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
  /** The pinned CHECK constraints `(name, expression)`, in pin order:
    * `_constraints` holds one `name=expr` entry per line.
    */
  lazy val constraints: Seq[(String, String)] =
    store.read(store.child(root, "_constraints")).toSeq
      .flatMap(_.linesIterator).filter(_.nonEmpty)
      .map(_.split("=", 2)).collect { case Array(n, e) => n -> e }
  /** The `_commits` ledger, parsed once. */
  private lazy val ledger: Seq[Versions.Commit] = Versions.readLedger(root)
  /** The committed batch ids. */
  lazy val committed: Set[Long] = ledger.map(_.batch).toSet
  /** batch id → commit wall-clock millis, for the commits that carry
    * the `ts=` annotation.
    */
  lazy val commitTimes: Map[Long, Long] =
    ledger.flatMap(c => c.ts.map(c.batch -> _)).toMap
  /** Streaming writer transactions: writerId → (highest recorded
    * micro-batch id, the TABLE batch id it committed as), which the
    * replay no-op path heals feed publication with.
    */
  lazy val txns: Map[String, (Long, Long)] =
    ledger.flatMap(c => c.txn.map { case (w, mb) => w -> (mb, c.batch) })
      .groupMapReduce(_._1)(_._2)((a, b) => if (b._1 > a._1) b else a)
  /** Batch ids committed with ZERO rows (`_empty` appends): batches
    * that minted no version dir, whose snapshot state is identical to
    * the preceding snapshot's.
    */
  lazy val empties: Set[Long] = store.readLog(store.child(root, "_empty"))
    .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toSet
  /** The live tags, in creation order. */
  lazy val tags: Seq[(String, Long)] = Ingest.listTags(root)
  /** Every version dir under the root as (name, batch id, generation):
    * one listing, and a directory probe for the `v_*` names only.
    */
  lazy val dirs: Seq[(String, Long, Int)] = store.listNames(root)
    .flatMap(n => Ingest.parseVersion(n).map { case (b, g) => (n, b, g) })
    .filter(d => store.isDirectory(store.child(root, d._1)))

  /** Fails unless the table records a change feed. */
  def requireChangeFeed(): Unit =
    require(changeFeed,
      s"$root is not a change-feed table — write it with changeFeed=true")

  /** The committed dead-letter dirs (`_quarantine/b_<batch>`, full
    * paths). A dir a crashed prune left mid-delete (its `_sweeping`
    * marker) must never serve a silently PARTIAL set of letters; the
    * next prune finishes it.
    */
  lazy val quarantined: Seq[String] = {
    val qRoot = store.child(root, Ingest.QuarantineDir)
    store.listNames(qRoot)
      .filter(n => n.startsWith("b_") && scala.util.Try(n.drop(2).toLong)
        .toOption.exists(committed.contains))
      .map(store.child(qRoot, _))
      .filterNot(d => store.exists(store.child(d, "_sweeping")))
  }

  /** The batch id CURRENT serves. */
  val currentBatch: Option[Long] = current.flatMap(Ingest.parseVersion).map(_._1)

  /** The pinned keys in logical names. */
  def keys: Seq[String] = layout.keys.map(Ingest.toLogicalName(colMap, _))

  /** The pinned sort (stats) columns in logical names. */
  def sortCols: Seq[String] =
    layout.sortCols.map(Ingest.toLogicalName(colMap, _))

  private val completeness =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Is this listed dir a COMPLETE snapshot? Probed at most once per
    * dir. Gen 0 completeness is the ledger's job (callers intersect
    * with it); a gen ≥ 1 dir is complete iff CURRENT names it or its
    * `_gen_commit` marker exists (written after data + feed + metadata,
    * before the pointer swap), so a crashed maintenance rewrite is
    * never servable. A dir carrying the `_sweeping` marker is NEVER
    * complete whatever its generation: a sweep died mid-delete, so the
    * dir may be missing arbitrary files, and serving it would return
    * silently partial data (the one as-of crash window the marker
    * closes).
    */
  private[sources] def complete(name: String, gen: Int): Boolean =
    completeness.getOrElseUpdate(name, {
      val dir = store.child(root, name)
      !store.exists(store.child(dir, "_sweeping")) &&
        (gen == 0 || current.contains(name) ||
          store.exists(store.child(dir, "_gen_commit")))
    })

  /** The version dir NAME that serves committed batch `b`: the one
    * CURRENT names for the current batch, else the batch's newest
    * complete generation (a maintenance rewrite holds the same state
    * laid out better). `None` when no complete dir of `b` is left: the
    * batch was swept, or it was a zero-row batch.
    */
  def servable(b: Long): Option[String] =
    if (currentBatch.contains(b)) current
    else dirs.collect { case (n, `b`, g) if complete(n, g) => (n, g) }
      .sortBy(-_._2).headOption.map(_._1)

  /** The committed batch a tag names; loud when the tag is absent. */
  def tagBatch(name: String): Long =
    tags.collectFirst { case (`name`, b) => b }.getOrElse(
      throw new IllegalArgumentException(
        s"tag '$name' does not exist on $root"))

  /** Resolve the snapshot a read serves, in one of three modes:
    *
    *   - CURRENT (no `asOfBatch`, no `tag`): the version the `CURRENT`
    *     pointer names. The pointer is swapped atomically and only ever
    *     names a fully built version.
    *   - as of a batch (`asOfBatch = Some(b)`): the highest RETAINED
    *     COMMITTED snapshot with batch id ≤ `b`, served by its
    *     [[servable]] dir. Candidate `v_*` dirs are intersected with the
    *     `_commits` ledger (a dir without a commit record is a crashed
    *     partial build) and with [[complete]]. A batch older
    *     than retention fails loudly rather than serving a newer state.
    *   - at a tag (`tag = Some(name)`): as of the batch the tag pins
    *     ([[tagBatch]], loud when the tag is absent). A tag wins over
    *     `asOfBatch`.
    *
    * The layout, schema and column map are read here (once per index),
    * so the snapshot never mixes two versions' metadata. The CURRENT
    * snapshot is built once per index, so an op and the sink it commits
    * through share its bucket count and deletion vector.
    */
  def snapshot(asOfBatch: Option[Long] = None,
               tag: Option[String] = None): Snapshot =
    tag.map(tagBatch).orElse(asOfBatch) match {
      case None => head
      case Some(b) => requireCurrent(); new Snapshot(this, asOf(b))
    }

  private lazy val head: Snapshot = { requireCurrent(); new Snapshot(this, current.get) }

  private def requireCurrent(): Unit =
    require(current.nonEmpty, s"upsert table has no CURRENT pointer: $root")

  /** The version dir NAME an as-of read at batch `b` serves. */
  private def asOf(b: Long): String = {
    val have = dirs.collect {
      case (n, bb, g) if committed.contains(bb) && complete(n, g) => bb
    }.distinct
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
    val shadowed = committed.filter(bb => bb > best && bb <= b) -- empties
    // a TAG pin legitimately breaks the suffix shape: retention can
    // sweep batches between a pinned old snapshot and the retained
    // suffix, leaving `best` = the pin for this as-of range. That
    // is a healthy beyond-retention state, not corruption — refuse
    // with the retention error (serving the pin as-of `b` would be
    // stale data), not the corruption one.
    if (shadowed.nonEmpty && tags.exists(_._2 == best))
      throw new IllegalArgumentException(
        s"upsert table has no retained committed snapshot at batch $b " +
          s"— the nearest older snapshot (batch $best) survives only " +
          "via a tag pin and the batches between were retention-swept; " +
          "raise keepVersions or tag the batch you need")
    require(shadowed.isEmpty, {
      val (midSweep, vanished) =
        shadowed.partition(bb => dirs.exists(_._2 == bb))
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
    servable(best).get
  }

  /** The change-record schema of a change-feed table: the pinned data
    * schema (bucket column dropped) plus `_change_type` / `_batch_id`,
    * so a zero-change range reads as a typed empty frame and file
    * column order never matters.
    */
  def changeSchema: StructType = {
    val data = schema.getOrElse(
      throw new IllegalArgumentException(s"$root has no _schema file"))
    StructType(
      data.fields.filterNot(_.name == Ingest.UpsertBucketCol).toSeq ++ Seq(
        StructField("_change_type", StringType),
        StructField("_batch_id", LongType)))
  }

  /** The change-slice parquet files of the committed batches in
    * `[from, to]`, in batch order: the one resolver behind every
    * change-feed read, and the one place its retention contract lives.
    *
    *   - A batch whose version is retained serves its [[servable]]
    *     dir's `_changes` files (a rebucketed version carries its feed
    *     forward, hard-linked into the new generation). No `_changes`
    *     means the batch committed zero changes.
    *   - A zero-row batch (`_empty`) is provably change-free.
    *   - BOUNDED reads ([[Ingest.readTableChanges]], the V2
    *     `read=changes` batch scan; `published = false`) answer from
    *     the ledger and the retained versions alone, so a range has one
    *     right answer whatever the feed's consumers have pruned: any
    *     other batch is beyond retention and the read FAILS rather than
    *     return a hole.
    *   - The STREAMING source (`published = true`) additionally falls
    *     back to the batch's published `feed/` links
    *     ([[Ingest.changeFeedStream]]'s surface), which outlive
    *     retention until the consumers prune them; it fails only when
    *     a non-empty batch is both swept and unpublished.
    *
    * A table without the `_cdf` marker fails at once: it never recorded
    * changes.
    */
  def changeSliceFiles(from: Long, to: Long,
                       published: Boolean = false): Seq[String] = {
    requireChangeFeed()
    def parts(dir: String, prefix: String): Seq[String] =
      store.listNames(dir)
        .filter(n => n.startsWith(prefix) && n.endsWith(".parquet"))
        .map(store.child(dir, _))
    lazy val feed = parts(store.child(root, "feed"), "b")
    committed.filter(b => b >= from && b <= to).toSeq.sorted.flatMap { b =>
      servable(b) match {
        case Some(n) =>
          parts(store.child(store.child(root, n), "_changes"), "part-")
        case None =>
          val linked =
            if (!published) Nil
            else feed.filter(f => store.baseName(f).startsWith(s"b$b-part-"))
          if (linked.nonEmpty || empties.contains(b)) linked
          else throw new IllegalArgumentException(
            s"change feed for batch $b of $root is beyond the retention " +
              "window (its version was swept" +
              (if (published) " and its slice is unpublished) — raise " +
                "keepVersions or start the stream from a later startingBatch"
              else ") — raise keepVersions/graceMs or consume the feed " +
                "before it ages out"))
      }
    }
  }
}

object Versions {
  /** A fresh index of `root`: reads `CURRENT` now, everything else on
    * first use.
    */
  def read(root: String)(implicit store: TableStore): Versions =
    new Versions(root, Ingest.readCurrentName(root))

  /** One `_commits` entry: `<batchId>[ txn=<writerId>:<microBatchId>]
    * ts=<epochMillis>`. The writer token rides the same atomic append
    * as the batch id, so a commit never exists without its dedupe
    * record; `ts=` powers TIMESTAMP AS OF (older commits lack it).
    */
  private final case class Commit(batch: Long, txn: Option[(String, Long)],
                                  ts: Option[Long])

  private val TxnToken = """txn=([A-Za-z0-9._\-]+):(\d+)""".r
  private val TsToken = """\bts=(\d+)\b""".r

  /** Parse the ledger. A torn line from a crash mid-append degrades to
    * "uncommitted" (the merge is idempotent), never a hard failure; one
    * torn after its batch id loses only its annotations (that one
    * micro-batch becomes at-least-once). A `v_*` dir whose batch id is
    * missing is a crashed partial build, never served.
    */
  private def readLedger(root: String)(implicit store: TableStore): Seq[Commit] =
    store.readLog(store.child(root, "_commits")).flatMap { l =>
      val toks = l.trim.split("\\s+")
      scala.util.Try(toks(0).toLong).toOption.map(b => Commit(b,
        toks.lift(1).collect { case TxnToken(w, mb) =>
          scala.util.Try(w -> mb.toLong).toOption }.flatten,
        TsToken.findFirstMatchIn(l)
          .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)))
    }
}
