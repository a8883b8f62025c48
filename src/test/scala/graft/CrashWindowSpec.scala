package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{HadoopTableStore, Ingest, LocalTableStore, ObjectTableStore, TableStore}
import java.nio.file.Files

/** EXHAUSTIVE crash-window sweep of the upsert-table protocols: a
  * delegating [[TableStore]] dies just before its k-th mutating
  * control-plane op, for EVERY k until the operation completes
  * uninjected — so every between-steps window of the real protocol
  * order (meta pins, schema write, partial-build delete, bucket
  * links, pointer CAS, ledger append, retention sweep incl. the
  * `_sweeping` marker, feed publish links; for maintenance: the
  * `_nbuckets` stamps, `_gen_commit`, generation swap, `_meta` sync,
  * superseded-generation sweep) is exercised, not just the
  * hand-picked ones. Swept against BOTH control-plane semantics —
  * POSIX and the strict object-store double — because the windows
  * differ (no tmp files, per-entry ledgers, copy-based links).
  *
  * After each crash the spec asserts the durable guarantees the
  * format's scaladoc argues in prose: the crashed table serves a
  * committed snapshot (exactly pre- or post-op, never torn, never a
  * half-deleted version's surviving fraction), and re-running the
  * same operation converges to the exact final state — rows, ledger,
  * published feed, layouts all healed.
  *
  * Data-plane writes (Spark parquet jobs) are not failpointed; their
  * crash story is the unreferenced-partial-build argument, which the
  * partial-delete windows here do exercise on replay.
  */
class CrashWindowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Throws BEFORE the k-th mutating op (reads always pass through). */
  private final class FailpointStore(d: TableStore) extends TableStore {
    var limit: Int = Int.MaxValue
    var count: Int = 0
    private def gate(): Unit = {
      count += 1
      if (count > limit) throw new InjectedCrash
    }
    override def exists(p: String): Boolean = d.exists(p)
    override def isDirectory(p: String): Boolean = d.isDirectory(p)
    override def listNames(p: String): Seq[String] = d.listNames(p)
    override def lastModified(p: String): Long = d.lastModified(p)
    override def read(p: String): Option[String] = d.read(p)
    override def readLog(p: String): Seq[String] = d.readLog(p)
    override def mkdirs(p: String): Unit = { gate(); d.mkdirs(p) }
    override def writeAtomic(dir: String, n: String, b: String): Unit = {
      gate(); d.writeAtomic(dir, n, b)
    }
    override def putConditional(dir: String, n: String,
                                e: Option[String], b: String): Boolean = {
      gate(); d.putConditional(dir, n, e, b)
    }
    override def appendLog(p: String, l: String): Unit = { gate(); d.appendLog(p, l) }
    override def linkOrCopy(s: String, t: String): Unit = { gate(); d.linkOrCopy(s, t) }
    override def delete(p: String): Unit = { gate(); d.delete(p) }
    override def deleteTree(p: String): Unit = { gate(); d.deleteTree(p) }
  }

  private def withSmallShuffle[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Sweep the SINK protocol (merge + commit + sweep + feed publish)
    * for one delegate semantics; returns windows swept. `stride > 1`
    * samples every stride-th window — the fast default-lane smoke
    * (full coverage still reaches the protocol's end: exhaustion is
    * detected whenever k first exceeds the op count).
    */
  private def sweepSink(delegate: () => TableStore, stride: Int = 1): Int = {
    import spark.implicits._
    val s0 = Map(1L -> 1.0, 2L -> 2.0)
    val s1 = Map(1L -> 11.0, 3L -> 3.0) // update 1, insert 3, delete 2
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash").toString + "/t"
      def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
          keepVersions = 1, deleteCol = Some("_del"), changeFeed = true)(
          rows.toDF("user_id", "value", "_del"), id)
      def state(): Map[Long, Double] =
        Ingest.readUpsertTable(spark, table)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      up(0, (1L, 1.0, false), (2L, 2.0, false)) // uninjected seed commit
      store.count = 0; store.limit = k
      val crashed =
        try { up(1, (1L, 11.0, false), (3L, 3.0, false), (2L, 0.0, true)); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true // k exceeded the protocol's op count
      else {
        windows += 1
        // 1. crashed state is committed — pre OR post, never torn
        val mid = state()
        assert(mid == s0 || mid == s1, s"window $k served a torn state: $mid")
        // 2. replay converges to the exact final state
        up(1, (1L, 11.0, false), (3L, 3.0, false), (2L, 0.0, true))
        assert(state() == s1, s"window $k replay diverged")
        val committed = store.readLog(store.child(table, "_commits"))
          .flatMap(l => scala.util.Try(l.trim.split("\\s+")(0).toLong).toOption).toSet
        assert(committed == Set(0L, 1L), s"window $k ledger: $committed")
        // 3. batch 1's change feed is complete (pre+post for 1, insert
        // for 3, delete for 2) and both slices were published
        assert(Ingest.readTableChanges(spark, table, 1, 1).count() === 4,
          s"window $k feed incomplete")
        val feed = store.listNames(store.child(table, "feed"))
        assert(Seq(0L, 1L).forall(b => feed.exists(_.startsWith(s"b$b-"))),
          s"window $k published feed not healed: $feed")
        LocalTableStore.deleteTree(table)
      }
      k += stride
    }
    assert(exhausted, "sweep never ran past the protocol's op count")
    windows
  }

  /** Sweep the MAINTENANCE protocol (rebucket generation rewrite) and
    * a VACUUM pass; returns (rebucket windows, vacuum windows).
    */
  private def sweepMaintenance(delegate: () => TableStore): (Int, Int) =
    (sweepRebucket(delegate), sweepVacuum(delegate))

  /** Sweep the rebucket generation rewrite; returns windows swept.
    * `stride` samples every stride-th window, as in [[sweepSink]].
    */
  private def sweepRebucket(delegate: () => TableStore, stride: Int = 1): Int = {
    import spark.implicits._
    val want = Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0)
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash-rb").toString + "/t"
      def upAt(id: Long, buckets: Int, rows: (Long, Double)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = buckets,
          keepVersions = 4, changeFeed = true)(
          rows.toDF("user_id", "value"), id)
      def up(id: Long, rows: (Long, Double)*): Unit = upAt(id, 4, rows: _*)
      def state(): Map[Long, Double] =
        Ingest.readUpsertTable(spark, table)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      up(0, (1L, 1.0), (2L, 2.0))
      up(1, (2L, 22.0), (3L, 3.0))
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.rebucketUpsertTable(spark, table, 16); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // same state whatever generation serves it; as-of intact too
        assert(state() == want, s"rebucket window $k torn state")
        assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
          .count() === 2, s"rebucket window $k as-of broken")
        // completing the interrupted rebucket is idempotent
        Ingest.rebucketUpsertTable(spark, table, 16)
        assert(state() == want, s"rebucket window $k completion diverged")
        // lookups prune with the NEW count and still find their rows
        assert(Ingest.lookupUpsertTable(spark, table, Seq(2L).toDF("user_id"))
          .select("value").as[Double].head() === 22.0)
        // a writer at the new count proceeds; feed range still reads
        upAt(2, 16, (4L, 4.0))
        assert(Ingest.readTableChanges(spark, table, 0, 2).count() >= 5)
        LocalTableStore.deleteTree(table)
      }
      k += stride
    }
    assert(exhausted, "rebucket sweep never ran past the protocol")
    windows
  }

  /** VACUUM: crash anywhere in the audited sweep; re-run completes.
    * Returns windows swept.
    */
  private def sweepVacuum(delegate: () => TableStore): Int = {
    import spark.implicits._
    var kv = 0
    var vExhausted = false
    var vWindows = 0
    while (!vExhausted && kv < 100) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash-vac").toString + "/t"
      def up(id: Long, rows: (Long, Double)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
          keepVersions = 8, changeFeed = true)(
          rows.toDF("user_id", "value"), id)
      (0 to 3).foreach(i => up(i.toLong, (i.toLong, i.toDouble)))
      store.count = 0; store.limit = kv
      val crashed =
        try {
          Ingest.vacuumUpsertTable(spark, table, keepVersions = 1,
            feedBeforeBatch = Some(3L)).count(); false
        } catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) vExhausted = true
      else {
        vWindows += 1
        // CURRENT read unaffected by a half-done vacuum
        assert(Ingest.readUpsertTable(spark, table).count() === 4,
          s"vacuum window $kv broke the current read")
        // as-of reads NEVER silently serve older state: each batch
        // added one distinct key, so a successful asOf(b) must hold
        // exactly b+1 rows — a half-swept batch fails loudly instead
        (0L to 3L).foreach { b =>
          scala.util.Try(
            Ingest.readUpsertTable(spark, table, Some(b)).count()) match {
            case scala.util.Success(n) =>
              assert(n === b + 1,
                s"vacuum window $kv: asOf($b) served older state ($n rows)")
            case scala.util.Failure(_) => () // loud failure is correct
          }
        }
        // re-run finishes the job; retained state intact
        Ingest.vacuumUpsertTable(spark, table, keepVersions = 1,
          feedBeforeBatch = Some(3L)).count()
        assert(Ingest.readUpsertTable(spark, table).count() === 4)
        assert(Ingest.readTableChanges(spark, table, 3, 3).count() === 1)
        LocalTableStore.deleteTree(table)
      }
      kv += 1
    }
    assert(vExhausted, "vacuum sweep never ran past the protocol")
    vWindows
  }

  /** Sweep VACUUM against a TAG PIN: the pinned snapshot must survive
    * every crash window AND the completed sweep (pins are consulted
    * per sweep, so no window can have deleted a pinned version), the
    * as-of-tag read stays green throughout, and dropping the tag
    * releases the version at the next sweep. Returns windows swept.
    */
  private def sweepTaggedVacuum(delegate: () => TableStore): Int = {
    import spark.implicits._
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 100) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash-tagvac").toString + "/t"
      def up(id: Long, rows: (Long, Double)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
          keepVersions = 8)(rows.toDF("user_id", "value"), id)
      (0 to 3).foreach(i => up(i.toLong, (i.toLong, i.toDouble)))
      Ingest.createTag(table, "keep", 1L)
      store.count = 0; store.limit = k
      val crashed =
        try {
          Ingest.vacuumUpsertTable(spark, table, keepVersions = 1)
            .count(); false
        } catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // the pinned snapshot is green in EVERY window — a pin that a
        // crash could half-honor would be no pin at all
        assert(Ingest.readUpsertTableAtTag(spark, table, "keep")
          .count() === 2, s"tagged-vacuum window $k lost the pin")
        assert(Ingest.readUpsertTable(spark, table).count() === 4,
          s"tagged-vacuum window $k broke the current read")
        // re-run completes; pin still held
        Ingest.vacuumUpsertTable(spark, table, keepVersions = 1).count()
        assert(Ingest.readUpsertTableAtTag(spark, table, "keep")
          .count() === 2, s"tagged-vacuum window $k completion lost the pin")
        assert(Ingest.readUpsertTable(spark, table).count() === 4)
        // dropping the tag releases the version at the next sweep
        Ingest.dropTag(table, "keep")
        Ingest.vacuumUpsertTable(spark, table, keepVersions = 1).count()
        assert(scala.util.Try(Ingest.readUpsertTableAtTag(
          spark, table, "keep")).isFailure,
          s"tagged-vacuum window $k: dropped tag still resolves")
        LocalTableStore.deleteTree(table)
      }
      k += 1
    }
    assert(exhausted, "tagged-vacuum sweep never ran past the protocol")
    windows
  }

  /** Sweep the OPTIMIZE protocol (same-count generation rewrite that
    * applies pending merge-on-read deletion vectors and restores the
    * sort layout); returns windows swept. The table carries REAL
    * vector debt going in, so every window also proves the
    * merge-on-read read path (state must exclude the lazily-deleted
    * key whatever instant the crash froze) and the completed optimize
    * proves debt clearance.
    */
  private def sweepOptimize(delegate: () => TableStore): Int = {
    import spark.implicits._
    val want = Map(1L -> 1.0, 3L -> 3.0)
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash-opt").toString + "/t"
      def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
          keepVersions = 4, deleteCol = Some("_del"), lazyDeletes = true,
          changeFeed = true, sortCols = Seq("user_id"))(
          rows.toDF("user_id", "value", "_del"), id)
      def state(): Map[Long, Double] =
        Ingest.readUpsertTable(spark, table)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      up(0, (1L, 1.0, false), (2L, 2.0, false), (3L, 3.0, false))
      up(1, (2L, 0.0, true)) // lazy delete: vector debt, no rewrite
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.optimizeUpsertTable(spark, table); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // merge-on-read stays honest mid-crash: the lazily-deleted key
        // never reappears, whichever generation serves
        assert(state() == want, s"optimize window $k torn state")
        assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
          .count() === 3, s"optimize window $k as-of broken")
        // completing the interrupted optimize is idempotent and
        // CLEARS the vector debt in the served generation
        Ingest.optimizeUpsertTable(spark, table)
        assert(state() == want, s"optimize window $k completion diverged")
        val cur = store.read(store.child(table, "CURRENT")).get.trim
        assert(!store.exists(
            store.child(store.child(table, cur), "_deletes")),
          s"optimize window $k left vector debt after completion")
        // a later writer proceeds; the feed still reads end-to-end
        up(2, (4L, 4.0, false))
        assert(Ingest.readTableChanges(spark, table, 0, 2).count() >= 5)
        LocalTableStore.deleteTree(table)
      }
      k += 1
    }
    assert(exhausted, "optimize sweep never ran past the protocol")
    windows
  }

  /** Sweep the selective-COMPACT protocol (debt-driven generation
    * rewrite: only the deletion vector's buckets rewrite, the rest
    * carry as links). Crash recovery differs from optimize in one way
    * worth pinning: a post-CAS crash leaves the vector already
    * drained, so the re-run must be a clean NO-OP (not a second
    * rewrite), while a pre-CAS crash leaves the debt standing and the
    * re-run must drain it — either way the table converges to the
    * same debt-free state and a further pass mints no generation.
    * `stride` samples every stride-th window, as in [[sweepSink]].
    */
  private def sweepCompact(delegate: () => TableStore, stride: Int = 1): Int = {
    import spark.implicits._
    val want = Map(1L -> 1.0, 3L -> 3.0)
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash-cmp").toString + "/t"
      def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
          keepVersions = 4, deleteCol = Some("_del"), lazyDeletes = true,
          changeFeed = true, sortCols = Seq("user_id"))(
          rows.toDF("user_id", "value", "_del"), id)
      def state(): Map[Long, Double] =
        Ingest.readUpsertTable(spark, table)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      up(0, (1L, 1.0, false), (2L, 2.0, false), (3L, 3.0, false))
      up(1, (2L, 0.0, true)) // lazy delete: vector debt, no rewrite
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.compactUpsertTable(spark, table, filesOver = 8); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // merge-on-read stays honest whichever generation serves
        assert(state() == want, s"compact window $k torn state")
        assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
          .count() === 3, s"compact window $k as-of broken")
        // the re-run converges: drains standing debt OR no-ops on an
        // already-swapped generation — never tears
        Ingest.compactUpsertTable(spark, table, filesOver = 8)
        assert(state() == want, s"compact window $k completion diverged")
        val cur = store.read(store.child(table, "CURRENT")).get.trim
        assert(!store.exists(
            store.child(store.child(table, cur), "_deletes")),
          s"compact window $k left vector debt after completion")
        assert(Ingest.compactUpsertTable(spark, table, filesOver = 8)
            .isEmpty,
          s"compact window $k not converged: third pass found work")
        // a later writer proceeds; the feed still reads end-to-end
        up(2, (4L, 4.0, false))
        assert(Ingest.readTableChanges(spark, table, 0, 2).count() >= 5)
        LocalTableStore.deleteTree(table)
      }
      k += stride
    }
    assert(exhausted, "compact sweep never ran past the protocol")
    windows
  }

  /** Sweep the FEED-FOLD protocol: a derived table (secondary-index
    * shape — per-key net-keep folded from each base batch's feed
    * slice) maintained on the failpointed store while the BASE table
    * lives on a clean one. The sink windows inside the fold's upsert
    * are the sink sweep's; what this pins is the FOLD's own replay
    * contract — a consumer that crashed anywhere mid-fold re-runs the
    * same slice and must converge on exactly the state a clean
    * end-to-end fold produces, with no slice lost, double-applied, or
    * torn across the index's ledger.
    */
  private def sweepFeedFold(delegate: () => TableStore): Int = {
    import spark.implicits._
    // base table: clean POSIX store, 2 feed batches
    val baseDir = Files.createTempDirectory("graft-crash-base").toString + "/b"
    locally {
      implicit val clean: TableStore = LocalTableStore
      Ingest.upsertParquet(baseDir, Seq("user_id"), nBuckets = 2,
        keepVersions = 8, deleteCol = Some("_del"), changeFeed = true)(
        Seq((1L, 1.0, false), (2L, 2.0, false)).toDF("user_id", "value", "_del"), 0L)
      Ingest.upsertParquet(baseDir, Seq("user_id"), nBuckets = 2,
        keepVersions = 8, deleteCol = Some("_del"), changeFeed = true)(
        Seq((1L, 11.0, false), (3L, 3.0, false), (2L, 0.0, true))
          .toDF("user_id", "value", "_del"), 1L)
    }
    def foldSlice(idx: String, b: Long)(implicit st: TableStore): Unit = {
      import org.apache.spark.sql.functions.{col, max, when}
      val entries = Ingest.readTableChanges(spark, baseDir, b, b)(
          graft.sources.TableStore.local)
        .groupBy("user_id")
        .agg(max(when(col("_change_type")
            .isin("insert", "update_postimage"), 1).otherwise(0)).as("keep"),
          max(when(col("_change_type").isin("insert", "update_postimage"),
            col("value"))).as("value"))
        .select(col("user_id"), col("value"),
          (col("keep") === 0).as("_del"))
      Ingest.upsertParquet(idx, Seq("user_id"), nBuckets = 2,
        keepVersions = 1, deleteCol = Some("_del"))(entries, b)
    }
    // the clean reference: what an uninterrupted end-to-end fold serves
    val wantState: Map[Long, Double] = {
      implicit val clean: TableStore = LocalTableStore
      val ref = Files.createTempDirectory("graft-crash-ref").toString + "/i"
      (0L to 1L).foreach(b => foldSlice(ref, b))
      val m = Ingest.readUpsertTable(spark, ref)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      LocalTableStore.deleteTree(ref)
      m
    }
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val idx = Files.createTempDirectory("graft-crash-fold").toString + "/i"
      foldSlice(idx, 0L) // uninjected first fold
      store.count = 0; store.limit = k
      val crashed =
        try { foldSlice(idx, 1L); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // the index's ledger is torn-free: it holds slice 0, and holds
        // slice 1 only if the state already reflects it
        val committed = store.readLog(store.child(idx, "_commits"))
          .flatMap(l => scala.util.Try(l.trim.split("\\s+")(0).toLong).toOption).toSet
        assert(committed.contains(0L), s"fold window $k lost slice 0")
        // replaying the crashed slice converges on the clean reference
        foldSlice(idx, 1L)
        val got = Ingest.readUpsertTable(spark, idx)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
        assert(got == wantState, s"fold window $k diverged: $got")
        LocalTableStore.deleteTree(idx)
      }
      k += 1
    }
    LocalTableStore.deleteTree(baseDir)
    assert(exhausted, "feed-fold sweep never ran past the protocol")
    windows
  }

  /** Sweep the TWO-WRITER OCC matrix: writer A dies just before its
    * k-th control-plane op, writer B then commits through the SAME
    * control plane (occ mode, so B's post-commit cleanup runs with the
    * in-flight shield armed), and A finally replays its batch with
    * retries armed. For EVERY window both batches must be durable —
    * the lost-update guarantee the OCC scaladoc argues, pinned against
    * a crash at every instant of A's protocol rather than the one
    * hand-picked interleaving IngestSpec races.
    */
  private def sweepOccWriters(delegate: () => TableStore): Int = {
    import spark.implicits._
    val want = Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      val shared = delegate() // ONE control plane for both writers
      val table = Files.createTempDirectory("graft-crash-occ").toString + "/t"
      def up(id: Long, rows: (Long, Double)*)(implicit st: TableStore): Unit =
        Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
          keepVersions = 10, occRetries = 2)(
          rows.toDF("user_id", "value"), id)
      locally {
        implicit val st: TableStore = shared
        up(0, (1L, 1.0))
      }
      val aStore = new FailpointStore(shared)
      aStore.count = 0; aStore.limit = k
      val crashed =
        try { up(1, (2L, 2.0))(aStore); false }
        catch { case _: InjectedCrash => true }
      aStore.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        implicit val st: TableStore = shared
        up(7, (3L, 3.0)) // writer B commits over A's wreckage
        up(1, (2L, 2.0)) // A replays its batch
        val got = Ingest.readUpsertTable(spark, table)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
        assert(got == want, s"occ window $k lost an update: $got")
        val committed = shared.readLog(shared.child(table, "_commits"))
          .flatMap(l => scala.util.Try(l.trim.split("\\s+")(0).toLong).toOption).toSet
        assert(committed == Set(0L, 1L, 7L), s"occ window $k ledger: $committed")
        LocalTableStore.deleteTree(table)
      }
      k += 1
    }
    assert(exhausted, "occ sweep never ran past the protocol")
    windows
  }

  /** Sweep the CLONE protocol ([[Ingest.cloneUpsertTable]]): the
    * source is seeded uninjected, then the clone is failpointed at
    * every control-plane op. Per window: a half-built clone must NOT
    * be readable (`CURRENT` is written last, so anything interrupted
    * is not-a-table, never a partial snapshot), the SOURCE must be
    * untouched, and re-running the clone must complete to the exact
    * source state.
    */
  private def sweepClone(delegate: () => TableStore): Int = {
    import spark.implicits._
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 200) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val base = Files.createTempDirectory("graft-crash-clone").toString
      val src = s"$base/s"
      val dst = s"$base/d"
      def state(t: String): Map[Long, Double] =
        Ingest.readUpsertTable(spark, t)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      Ingest.upsertParquet(src, Seq("user_id"), nBuckets = 4,
        keepVersions = 1)(
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("user_id", "value"), 0L)
      val want = state(src)
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.cloneUpsertTable(spark, src, dst); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        // CURRENT is the protocol's last op, so a crashed clone can
        // never read as a table — a Success here means some op ran
        // after the pointer write, a protocol-order regression
        assert(scala.util.Try(state(dst)).isFailure,
          s"clone window $k left a readable partial clone")
        assert(state(src) == want, s"clone window $k mutated the source")
        Ingest.cloneUpsertTable(spark, src, dst) // re-run completes
        assert(state(dst) == want, s"clone window $k re-run diverged")
        LocalTableStore.deleteTree(base)
      }
      k += 1
    }
    assert(exhausted, "clone sweep never ran past the protocol's op count")
    windows
  }

  /** Sweep the WAP PUBLISH protocol: branch + the audited branch write
    * run uninjected, then `publishUpsertTable` is failpointed at every
    * store op. The data-path invariants are the sink protocol's
    * (already swept); what is NEW and pinned here is convergence — the
    * source serves either the pre-publish or the audited state (never
    * torn), the re-run lands the audited state, and however the crash
    * fell the source gains EXACTLY ONE publish batch (a crash after
    * the commit must re-run as a no-op, not a duplicate).
    */
  private def sweepPublish(delegate: () => TableStore): Int = {
    import spark.implicits._
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 400) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val base = Files.createTempDirectory("graft-crash-pub").toString
      val src = s"$base/s"
      val br = s"$base/b"
      def up(t: String, id: Long, rows: (Long, Double, Boolean)*): Unit =
        Ingest.upsertParquet(t, Seq("user_id"), nBuckets = 2,
          keepVersions = 4, deleteCol = Some("_del"))(
          rows.toDF("user_id", "value", "_del"), id)
      def state(t: String): Map[Long, Double] =
        Ingest.readUpsertTable(spark, t)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      up(src, 0, (1L, 1.0, false), (2L, 2.0, false), (3L, 3.0, false))
      Ingest.branchUpsertTable(spark, src, br)
      up(br, 1, (2L, 20.0, false), (3L, 0.0, true), (4L, 4.0, false))
      val pre = Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
      val audited = Map(1L -> 1.0, 2L -> 20.0, 4L -> 4.0)
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.publishUpsertTable(spark, br, keepVersions = 4); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        val mid = state(src)
        assert(mid == pre || mid == audited,
          s"publish window $k torn source state: $mid")
        Ingest.publishUpsertTable(spark, br, keepVersions = 4)
        assert(state(src) == audited, s"publish window $k re-run diverged")
        assert(Ingest.committedBatchIds(src) == Set(0L, 1L),
          s"publish window $k duplicated the publish batch: " +
            s"${Ingest.committedBatchIds(src)}")
        // converged: a third publish mints nothing
        assert(Ingest.publishUpsertTable(spark, br).isEmpty,
          s"publish window $k not converged")
        LocalTableStore.deleteTree(base)
      }
      k += 1
    }
    assert(exhausted, "publish sweep never ran past the protocol")
    windows
  }

  /** Sweep the row-level DML ops (UPDATE then DELETE, failpointed at
    * every store op). Like publish, DML decides "nothing to do" from
    * the CURRENT state — so the killer window is a crash between the
    * sink's pointer CAS and the ledger append: the re-run's change set
    * is empty against the already-swapped state, and without the
    * dangling-commit heal the version would stay uncommitted forever.
    * Per window: state is pre or post (never torn), the re-run
    * converges, and the ledger holds each DML batch exactly once.
    */
  private def sweepDml(delegate: () => TableStore): Int = {
    import spark.implicits._
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 400) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val t = Files.createTempDirectory("graft-crash-dml").toString + "/t"
      def state(): Map[Long, Double] =
        Ingest.readUpsertTable(spark, t)
          .select("user_id", "value").as[(Long, Double)].collect().toMap
      Ingest.upsertParquet(t, Seq("user_id"), nBuckets = 2,
        keepVersions = 6)(
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("user_id", "value"), 0L)
      val pre = Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
      val postU = Map(1L -> 1.0, 2L -> 20.0, 3L -> 30.0)
      val postD = Map(1L -> 1.0, 2L -> 20.0)
      store.count = 0; store.limit = k
      val crashed =
        try {
          Ingest.updateWhere(spark, t, Seq("value" -> "value * 10"),
            "value >= 2.0", keepVersions = 6)
          Ingest.deleteWhere(spark, t, "value >= 30.0", keepVersions = 6)
          false
        } catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        val mid = state()
        assert(mid == pre || mid == postU || mid == postD,
          s"DML window $k torn state: $mid")
        // the re-run converges: each statement lands exactly once
        Ingest.updateWhere(spark, t, Seq("value" -> "value * 10"),
          "value >= 2.0 AND value < 10.0", keepVersions = 6)
        Ingest.deleteWhere(spark, t, "value >= 30.0", keepVersions = 6)
        assert(state() == postD, s"DML window $k re-run diverged: ${state()}")
        assert(Ingest.committedBatchIds(t) == Set(0L, 1L, 2L),
          s"DML window $k ledger wrong: ${Ingest.committedBatchIds(t)}")
        LocalTableStore.deleteTree(t)
      }
      k += 1
    }
    assert(exhausted, "DML sweep never ran past the protocol")
    windows
  }

  /** Sweep the MULTI-TABLE TXN protocol ([[graft.sources.MultiCommit]]):
    * txn 0 seeds two tables uninjected, then txn 1 is failpointed at
    * every control-plane op — coordinator ledger appends AND both
    * tables' full sink protocols run through the same gated store.
    * Per window: the coordinator snapshot must be the txn-0 pair or
    * the txn-1 pair, NEVER torn (one table's new batch visible with
    * the other's old); if it claims txn 1, both tables must really
    * hold batch 1; and re-running the same commit (the documented
    * recovery) must converge on the txn-1 pair with both snapshot
    * reads serving the new states.
    */
  private def sweepMultiCommit(delegate: () => TableStore): Int = {
    import spark.implicits._
    import graft.sources.MultiCommit
    import graft.sources.MultiCommit.TxnPart
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 300) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val base = Files.createTempDirectory("graft-crash-txn").toString
      val (a, b, coord) = (s"$base/a", s"$base/b", s"$base/c")
      def upA(id: Long, rows: (Long, Double)*): Unit =
        Ingest.upsertParquet(a, Seq("k"), nBuckets = 2, keepVersions = 8)(
          rows.toDF("k", "v"), id)
      def upB(id: Long, rows: (Long, Double)*): Unit =
        Ingest.upsertParquet(b, Seq("k"), nBuckets = 2, keepVersions = 8)(
          rows.toDF("k", "v"), id)
      def txn(id: Long): Seq[TxnPart] = Seq(
        TxnPart(a, id, () => upA(id, (10 * id + 1, id + 1.0))),
        TxnPart(b, id, () => upB(id, (10 * id + 2, id + 2.0))))
      MultiCommit.commit(coord, txn(0)) // uninjected seed txn
      store.count = 0; store.limit = k
      val crashed =
        try { MultiCommit.commit(coord, txn(1)); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        val snap0 = Map(a -> 0L, b -> 0L)
        val snap1 = Map(a -> 1L, b -> 1L)
        val mid = MultiCommit.snapshot(coord)
        assert(mid == snap0 || mid == snap1,
          s"txn window $k: torn snapshot $mid")
        if (mid == snap1) {
          assert(Ingest.committedBatchIds(a).contains(1L) &&
            Ingest.committedBatchIds(b).contains(1L),
            s"txn window $k: snapshot claims txn 1 before both committed")
        }
        MultiCommit.commit(coord, txn(1)) // recovery run
        assert(MultiCommit.snapshot(coord) == snap1,
          s"txn window $k: recovery did not land txn 1")
        val gotA = MultiCommit.read(spark, coord, a)
          .select("k", "v").as[(Long, Double)].collect().toMap
        val gotB = MultiCommit.read(spark, coord, b)
          .select("k", "v").as[(Long, Double)].collect().toMap
        assert(gotA == Map(1L -> 1.0, 11L -> 2.0) &&
          gotB == Map(2L -> 2.0, 12L -> 3.0),
          s"txn window $k: recovered pair diverged: $gotA / $gotB")
        LocalTableStore.deleteTree(base)
      }
      k += 1
    }
    assert(exhausted, "multi-commit sweep never ran past the protocol")
    windows
  }

  test("multi-table txn: no crash window tears the coordinator snapshot (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepMultiCommit(() => LocalTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("multi-table txn: the crash matrix holds on the object store", Slow) {
    withSmallShuffle {
      val w = sweepMultiCommit(() => new ObjectTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("clone protocol: no crash window leaves a readable partial clone (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepClone(() => LocalTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("clone protocol: crash windows recover on the object store", Slow) {
    withSmallShuffle {
      val w = sweepClone(() => new ObjectTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("publish protocol: crash windows converge to one audited batch (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepPublish(() => LocalTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("publish protocol: crash windows recover on the object store", Slow) {
    withSmallShuffle {
      val w = sweepPublish(() => new ObjectTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("DML ops: crash windows converge, each statement commits exactly once (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepDml(() => LocalTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("DML ops: the crash matrix holds on the object store", Slow) {
    withSmallShuffle {
      val w = sweepDml(() => new ObjectTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("sink protocol: every crash window serves committed state and replays clean (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepSink(() => LocalTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("sink protocol: every crash window converges under object-store semantics", Slow) {
    withSmallShuffle {
      val w = sweepSink(() => new ObjectTableStore)
      info(s"$w crash windows swept, all converged")
    }
  }

  test("maintenance protocol: rebucket + vacuum crash windows all recover (POSIX)", Slow) {
    withSmallShuffle {
      val (r, v) = sweepMaintenance(() => LocalTableStore)
      info(s"$r rebucket + $v vacuum windows swept, all converged")
    }
  }

  test("maintenance protocol: rebucket + vacuum crash windows recover on the object store", Slow) {
    withSmallShuffle {
      val (r, v) = sweepMaintenance(() => new ObjectTableStore)
      info(s"$r rebucket + $v vacuum windows swept, all converged")
    }
  }

  test("tag pins: vacuum crash windows never lose a pinned snapshot (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepTaggedVacuum(() => LocalTableStore)
      info(s"$w tagged-vacuum windows swept, pin held in all")
    }
  }

  test("tag pins: vacuum crash windows hold on the object store", Slow) {
    withSmallShuffle {
      val w = sweepTaggedVacuum(() => new ObjectTableStore)
      info(s"$w tagged-vacuum windows swept, pin held in all")
    }
  }

  test("optimize protocol: crash windows keep merge-on-read honest and clear debt (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepOptimize(() => LocalTableStore)
      info(s"$w optimize windows swept, all converged")
    }
  }

  test("optimize protocol: crash windows recover on the object store", Slow) {
    withSmallShuffle {
      val w = sweepOptimize(() => new ObjectTableStore)
      info(s"$w optimize windows swept, all converged")
    }
  }

  test("compact protocol: crash windows converge to the drained no-op state (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepCompact(() => LocalTableStore)
      info(s"$w compact windows swept, all converged")
    }
  }

  test("compact protocol: crash windows recover on the object store", Slow) {
    withSmallShuffle {
      val w = sweepCompact(() => new ObjectTableStore)
      info(s"$w compact windows swept, all converged")
    }
  }

  test("feed-fold protocol: a consumer crash at any window replays to the clean fold (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepFeedFold(() => LocalTableStore)
      info(s"$w fold windows swept, all converged")
    }
  }

  test("feed-fold protocol: fold crash windows converge under object-store semantics", Slow) {
    withSmallShuffle {
      val w = sweepFeedFold(() => new ObjectTableStore)
      info(s"$w fold windows swept, all converged")
    }
  }

  test("two-writer OCC: writer A crashing at any window never loses either batch (POSIX)", Slow) {
    withSmallShuffle {
      val w = sweepOccWriters(() => LocalTableStore)
      info(s"$w occ windows swept, both writers durable in each")
    }
  }

  test("two-writer OCC: the crash matrix holds on the object store", Slow) {
    withSmallShuffle {
      val w = sweepOccWriters(() => new ObjectTableStore)
      info(s"$w occ windows swept, both writers durable in each")
    }
  }

  // The Hadoop FileSystem control plane ([[HadoopTableStore]] bound to
  // file:/// — the hdfs:// code path): sweep the sink and the
  // maintenance protocols through its distinct windows (object-per-
  // entry ledger puts, FileContext OVERWRITE renames, copy-based
  // links, marker-last manual tree deletes). The optimize/fold/OCC
  // sweeps exercise the same store ops, so the two protocol families
  // here pin the remaining Hadoop-specific surface without doubling
  // the suite's runtime.
  test("sink protocol: crash windows converge through the Hadoop FileSystem store", Slow) {
    withSmallShuffle {
      val w = sweepSink(() => new HadoopTableStore())
      info(s"$w crash windows swept, all converged")
    }
  }

  test("maintenance protocol: rebucket + vacuum crash windows recover on the Hadoop store", Slow) {
    withSmallShuffle {
      val (r, v) = sweepMaintenance(() => new HadoopTableStore())
      info(s"$r rebucket + $v vacuum windows swept, all converged")
    }
  }

  /** PURGE COLUMNS crash sweep: the rewrite's own windows are the
    * generation protocol's (already swept above); the NEW window is
    * swap → schema-narrowing → colmap-cleaning. A crash anywhere must
    * leave the VIEW untouched (the dropped column hidden, values
    * intact — a wide schema over narrow files reads NULL, the
    * documented soundness argument) and a re-run must complete the
    * narrowing: bytes gone from the current generation, `_colmap`
    * clean.
    */
  private def sweepPurge(delegate: () => TableStore): Int = {
    import spark.implicits._
    var k = 0
    var exhausted = false
    var windows = 0
    while (!exhausted && k < 150) {
      implicit val store: FailpointStore = new FailpointStore(delegate())
      val table = Files.createTempDirectory("graft-crash").toString + "/t"
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 2, keepVersions = 4)(
        Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "v"), 0L)
      Ingest.dropColumn(table, "name")
      store.count = 0; store.limit = k
      val crashed =
        try { Ingest.optimizeUpsertTable(spark, table, purgeColumns = true); false }
        catch { case _: InjectedCrash => true }
      store.limit = Int.MaxValue
      if (!crashed) exhausted = true
      else {
        windows += 1
        val read = Ingest.readUpsertTable(spark, table)
        assert(!read.columns.contains("name"),
          s"window $k resurfaced the dropped column")
        val mid = read.select("k", "v").as[(Long, Double)].collect().toMap
        assert(mid === Map(1L -> 1.0, 2L -> 2.0), s"window $k torn: $mid")
        // replay completes rewrite + narrowing + cleanup
        Ingest.optimizeUpsertTable(spark, table, purgeColumns = true)
        val cur = store.read(store.child(table, "CURRENT")).get.trim
        assert(!spark.read.parquet(store.child(table, cur))
          .columns.contains("name"), s"window $k bytes not purged")
        assert(!store.exists(store.child(table, "_colmap")) ||
          store.read(store.child(table, "_colmap")).get.trim.isEmpty,
          s"window $k colmap not cleaned")
        LocalTableStore.deleteTree(table)
      }
      k += 1
    }
    assert(exhausted, "purge sweep never ran past the protocol's op count")
    windows
  }

  test("PURGE COLUMNS crash windows: view never torn, replay completes the narrowing", Slow) {
    withSmallShuffle {
      val w = sweepPurge(() => LocalTableStore)
      info(s"$w purge windows swept, all converged")
    }
  }

  test("PURGE COLUMNS crash windows hold on the object store", Slow) {
    withSmallShuffle {
      val w = sweepPurge(() => new graft.sources.ObjectTableStore)
      info(s"$w purge windows swept, all converged")
    }
  }

  // Fast default-lane smokes: STRIDED sweeps of the central SINK
  // protocol and of the generation commit (selective compaction,
  // rebucket) on both control-plane semantics (every 5th window, so the
  // whole protocol span is still crossed and exhaustion still checked).
  // The exhaustive batteries above are tagged Slow and excluded from
  // the default `sbt test` lane (build.sbt) so the suite fits the
  // driver's window (VERDICT r16 item 1b); run the full matrices with
  // GRAFT_SLOW_TESTS=1 sbt test.
  test("sink protocol smoke: strided crash windows converge (POSIX)") {
    withSmallShuffle {
      val w = sweepSink(() => LocalTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided crash windows swept, all converged")
    }
  }

  test("sink protocol smoke: strided crash windows converge (object store)") {
    withSmallShuffle {
      val w = sweepSink(() => new ObjectTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided crash windows swept, all converged")
    }
  }

  test("compact protocol smoke: strided crash windows converge (POSIX)") {
    withSmallShuffle {
      val w = sweepCompact(() => LocalTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided compact windows swept, all converged")
    }
  }

  test("compact protocol smoke: strided crash windows converge (object store)") {
    withSmallShuffle {
      val w = sweepCompact(() => new ObjectTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided compact windows swept, all converged")
    }
  }

  test("rebucket protocol smoke: strided crash windows converge (POSIX)") {
    withSmallShuffle {
      val w = sweepRebucket(() => LocalTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided rebucket windows swept, all converged")
    }
  }

  test("rebucket protocol smoke: strided crash windows converge (object store)") {
    withSmallShuffle {
      val w = sweepRebucket(() => new ObjectTableStore, stride = 5)
      assert(w > 0, "strided smoke hit no crash window")
      info(s"$w strided rebucket windows swept, all converged")
    }
  }
}
