package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, Tables}
import java.nio.file.Files

/** Source/sink surface: CSV/JSON strict round-trips, partitioned parquet
  * sink with pruning, streaming file source, idempotent foreachBatch —
  * and the full upsert-table-format battery, PARAMETERIZED over the
  * control-plane [[graft.sources.TableStore]]: [[IngestSpec]] runs it
  * against POSIX semantics, [[IngestObjectStoreSpec]] against the
  * strict object-store double (no append, no rename, no hard links,
  * CAS-only pointer swaps) — the machine check that the format never
  * reaches around the seam or silently relies on a POSIX power.
  */
abstract class IngestSuiteBase extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The control-plane store every format call in this suite runs
    * through (shadows the default `TableStore.local` implicit).
    */
  implicit def store: graft.sources.TableStore

  /** POSIX semantics: version-to-version sharing is hard links (same
    * inode) — false under the object store, where sharing is copies.
    */
  def posixLinks: Boolean

  /** Identity of a data file for rewrite detection: the inode under
    * POSIX (pins the zero-I/O link sharing), a content digest under
    * the object store (a copied file shares bytes, not inodes —
    * bucket-scoping is then "untouched buckets byte-identical").
    */
  def fileId(f: java.io.File): String

  protected def md5(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString
  }

  /** Simulate a crash mid-ledger-append: a torn/garbage trailing
    * record that must parse as "committed or not" without bricking.
    */
  def tearLedger(table: String): Unit

  /** Simulate the swap→append crash window: batchId's commit record is
    * lost from the ledger (CURRENT already names its version).
    */
  def dropLedgerEntry(table: String, batchId: Long): Unit

  private def tmp(): String = Files.createTempDirectory("graft-ingest").toString

  test("CSV round-trip preserves documents") {
    val docs = Tables.load(spark, sf, "documents")
    val dir = tmp() + "/docs_csv"
    Ingest.writeCsv(docs, dir)
    val back = Ingest.readCsv(spark, dir, Tables.documents)
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).count() === 0)
  }

  test("JSON round-trip preserves orders (timestamps included)") {
    val orders = Tables.load(spark, sf, "orders")
    val dir = tmp() + "/orders_json"
    Ingest.writeJson(orders, dir)
    val back = Ingest.readJson(spark, dir, Tables.orders)
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).count() === 0)
  }

  test("malformed CSV fails fast instead of nulling") {
    val dir = tmp() + "/bad_csv"
    val f = new java.io.File(dir); f.mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$dir/part.csv"),
      "doc_id,text,lang,source,n_chars\nnot_a_number,x,en,src0,12\n")
    val ex = intercept[Exception] {
      Ingest.readCsv(spark, dir, Tables.documents).collect()
    }
    assert(ex.getMessage != null)
  }

  test("partitioned parquet sink enables partition pruning") {
    val orders = Tables.load(spark, sf, "orders")
      .withColumn("status", col("o_orderstatus"))
    val dir = tmp() + "/orders_part"
    Ingest.writeParquet(orders, dir, SaveMode.Overwrite, Seq("status"))
    assert(new java.io.File(s"$dir/status=F").isDirectory)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    // physical plan must carry partition filters, not a full scan + filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"), plan.take(500))
    assert(pruned.count() ===
      Tables.load(spark, sf, "orders").filter(col("o_orderstatus") === "F").count())
  }

  test("streaming file source + AvailableNow parquet sink round-trip") {
    val src = tmp() + "/stream_src"
    val out = tmp() + "/stream_out"
    val ck = tmp() + "/stream_ck"
    Ingest.writeParquet(Tables.load(spark, sf, "documents"), src)
    val stream = Ingest.readStreamFiles(spark, src, Tables.documents)
    val q = Ingest.streamToParquet(stream, out, ck).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.schema(Tables.documents).parquet(out).count() === 500)
  }

  test("file stream source reads a file glob with explicit basePath") {
    // the non-glob/single-file trap: the source force-sets basePath to
    // the path itself; the explicit basePath option is the directory-
    // layout escape hatch — pin that it works with a part-file glob
    val src = tmp() + "/stream_glob_src"
    val ck = tmp() + "/stream_glob_ck"
    val out = tmp() + "/stream_glob_out"
    Ingest.writeParquet(Tables.load(spark, sf, "documents"), src)
    val stream = Ingest.readStreamFiles(spark, src + "/part-*",
      Tables.documents, basePath = Some(src))
    val q = Ingest.streamToParquet(stream, out, ck).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.schema(Tables.documents).parquet(out).count() === 500)
  }

  test("schema evolution: mergeSchema reads a corpus written in waves") {
    // 100 TB corpora are written over months; later waves add columns.
    // mergeSchema must surface the union schema with NULLs for rows
    // predating the column — no rewrite of the old files.
    import spark.implicits._
    val dir = tmp() + "/evolving"
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.parquet(dir + "/wave=1")
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(dir + "/wave=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang", "wave"))
    val rows = merged.orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("lang") == null) // pre-evolution row
    assert(rows(1).getAs[String]("lang") === "en")
    // and the old column still filters/pushes down across both waves
    assert(merged.filter(org.apache.spark.sql.functions.col("doc_id") > 0).count() === 2)
  }

  test("foreachBatch sink receives batch ids for idempotent upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ck = tmp() + "/fb_ck"
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val stream = MemoryStream[Ev]
    stream.addData(Seq(
      Ev(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(2, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1, "view", 2.0)))
    val q = Ingest.foreachBatchSink(stream.toDF(), ck) { (batch: DataFrame, id: Long) =>
      seen.put(id, batch.count())
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.size() === 1 && seen.values().iterator().next() === 2L)
  }

  test("keyed upsert: replaying a batchId leaves the table byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp()
    val table = base + "/up_table"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // caller-side reduce: one row per key per batch (latest ts wins)
    def writer(b: DataFrame, id: Long): Unit =
      Ingest.upsertParquet(table, Seq("user_id"))(
        b.groupBy("user_id")
          .agg(max_by(struct(col("ts"), col("value")), col("ts")).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"),
            col("m.value").as("value")),
        id)
    val batch0 = Seq(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:01:00"), 2, "view", 2.0))
    val stream = MemoryStream[Ev]
    val q = Ingest.foreachBatchSink(stream.toDF(), base + "/up_ck")(writer).start()
    try {
      stream.addData(batch0)
      q.processAllAvailable()
      stream.addData(Seq(
        Ev(3, ts("2024-01-01 00:02:00"), 2, "view", 9.0), // update user 2
        Ev(4, ts("2024-01-01 00:03:00"), 3, "click", 3.0))) // insert user 3
      q.processAllAvailable()
    } finally q.stop()
    // MERGE semantics: latest value per key, carried-over keys intact
    val got = Ingest.readUpsertTable(spark, table).orderBy("user_id")
      .select("user_id", "value").as[(Long, Double)].collect().toSeq
    assert(got === Seq((1L, 1.0), (2L, 9.0), (3L, 3.0)))
    // the crash-redelivery contract: foreachBatch hands batch 0 over
    // again with the SAME id — every file (data + commit ledger) must
    // come back byte-identical, proven by content digest
    def snapshot(): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(table)).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val d = md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getPath -> d.map("%02x".format(_)).mkString
      }.toMap
    }
    val before = snapshot()
    writer(batch0.toDF(), 0L)
    assert(snapshot() === before, "replayed batchId mutated the table")
    // while a genuinely new batch still lands
    writer(Seq(Ev(5, ts("2024-01-01 00:04:00"), 1, "view", 7.0)).toDF(), 2L)
    assert(Ingest.readUpsertTable(spark, table)
      .filter(col("user_id") === 1).head.getAs[Double]("value") === 7.0)
  }

  private def currentName(table: String): String =
    store.read(store.child(table, "CURRENT")).map(_.trim)
      .getOrElse(fail(s"no CURRENT pointer under $table"))

  private def inodesByBucket(table: String): Map[String, Set[String]] = {
    val root = new java.io.File(table)
    Option(new java.io.File(root, currentName(table)).listFiles())
      .toSeq.flatten
      .filter(_.isDirectory).map { b =>
        b.getName -> Option(b.listFiles()).toSeq.flatten.filter(_.isFile)
          .map(fileId).toSet
      }.toMap
  }

  test("upsert rewrite is bucket-scoped: untouched buckets hard-link, not rewrite") {
    import spark.implicits._
    val table = tmp() + "/cow_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8)(
        rows.toDF("user_id", "value"), id)
    // seed enough keys that several buckets are populated
    up(0, (1L to 40L).map(k => k -> k.toDouble): _*)
    val before = inodesByBucket(table)
    assert(before.size > 1, s"seed landed in one bucket: ${before.keys}")
    // a one-key batch touches exactly that key's bucket
    up(1, 7L -> 700.0)
    val after = inodesByBucket(table)
    val touched = after.keySet.filter(b =>
      before.get(b).forall(_ != after(b)))
    // exactly one bucket rewrote; every other bucket's files are the SAME
    // inodes (hard links into the new version — zero data I/O)
    assert(touched.size === 1, s"touched=$touched")
    (after.keySet - touched.head).foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    // and the merge itself is correct
    val got = Ingest.readUpsertTable(spark, table)
      .filter(col("user_id").isin(7L, 8L))
      .orderBy("user_id").select("value").as[Double].collect().toSeq
    assert(got === Seq(700.0, 8.0))
  }

  test("upsert survives a torn ledger line and a lost commit record") {
    import spark.implicits._
    val table = tmp() + "/crash_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4)(
        rows.toDF("user_id", "value"), id)
    up(0, 1L -> 1.0, 2L -> 2.0)
    // torn/garbage ledger record from a crash mid-append must degrade
    // to "uncommitted", not NumberFormatException-brick the sink
    tearLedger(table)
    up(1, 3L -> 3.0)
    assert(Ingest.readUpsertTable(spark, table).count() === 3)
    // crash window between pointer swap and ledger append: CURRENT names
    // v_1 but the ledger lost the record — replay must just re-commit,
    // not rebuild (inodes unchanged), and the table stays correct
    dropLedgerEntry(table, 1L)
    val before = inodesByBucket(table)
    up(1, 3L -> 999.0) // replayed content is irrelevant; state already has it
    assert(inodesByBucket(table) === before, "lost-commit replay rebuilt data")
    assert(Ingest.readUpsertTable(spark, table)
      .filter(col("user_id") === 3).head.getAs[Double]("value") === 3.0)
    // stale version dirs from crashed builds are swept on the next commit
    val stale = new java.io.File(table, "v_99")
    stale.mkdirs()
    up(2, 4L -> 4.0)
    assert(!stale.exists(), "stale crashed-build version dir survived")
    assert(Ingest.readUpsertTable(spark, table).count() === 4)
  }

  test("upsert retention keeps N snapshots; time travel reads past state") {
    import spark.implicits._
    val table = tmp() + "/tt_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 2)(rows.toDF("user_id", "value"), id)
    up(0, 1L -> 1.0, 2L -> 2.0)
    up(1, 2L -> 22.0)
    up(2, 3L -> 3.0)
    def versions(): Set[String] =
      Option(new java.io.File(table).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v_"))
        .map(_.getName).toSet
    // retention 2: batch 0's snapshot pruned, 1 and 2 retained
    assert(versions() === Set("v_1", "v_2"), versions())
    // current state
    assert(Ingest.readUpsertTable(spark, table)
      .orderBy("user_id").select("value").as[Double].collect().toSeq ===
      Seq(1.0, 22.0, 3.0))
    // time travel to the state after batch 1 (before user 3 existed)
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(1L))
      .orderBy("user_id").select("value").as[Double].collect().toSeq ===
      Seq(1.0, 22.0))
    // asking past the retention window fails loudly
    val ex = intercept[IllegalArgumentException] {
      Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
    }
    assert(ex.getMessage.contains("keepVersions"), ex.getMessage)
  }

  test("retention grace keeps a just-superseded snapshot one more cycle") {
    import spark.implicits._
    val table = tmp() + "/grace_table"
    def up(id: Long, grace: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 1, graceMs = grace)(rows.toDF("user_id", "value"), id)
    def versions(): Set[String] =
      Option(new java.io.File(table).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("v_"))
        .map(_.getName).toSet
    // with a 1h grace, the out-of-retention v_0/v_1 are young (built
    // milliseconds ago) and must survive the later commits' sweeps —
    // a reader that resolved them just before the swap can finish
    up(0, 3600000L, 1L -> 1.0)
    up(1, 3600000L, 2L -> 2.0)
    up(2, 3600000L, 3L -> 3.0)
    assert(versions() === Set("v_0", "v_1", "v_2"), versions())
    // an uncommitted crashed build is swept regardless of grace: under
    // the single-writer contract no reader can hold it
    val crashed = new java.io.File(table, "v_50")
    crashed.mkdirs()
    up(3, 3600000L, 4L -> 4.0)
    assert(!crashed.exists(), "grace must not shield an uncommitted build")
    // grace 0 restores the strict keepVersions-sized window
    up(4, 0L, 5L -> 5.0)
    assert(versions() === Set("v_4"), versions())
    assert(Ingest.readUpsertTable(spark, table).count() === 5)
  }

  test("a half-swept version (sweeping marker present) is never served") {
    import spark.implicits._
    val table = tmp() + "/halfswept_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 2)(rows.toDF("user_id", "value"), id)
    up(0, 1L -> 1.0, 2L -> 2.0)
    up(1, 3L -> 3.0)
    // simulate a retention sweep that died mid-delete: the _sweeping
    // marker was stamped (it is written FIRST and deleted LAST — both
    // stores order it so) and some of v_0's data files are already gone
    store.writeAtomic(store.child(table, "v_0"), "_sweeping", "")
    val v0 = new java.io.File(table, "v_0")
    Option(v0.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .take(1).foreach(b => b.listFiles().foreach(_.delete()))
    // the as-of read must fail loudly as beyond-retention, never serve
    // the surviving fraction of the half-deleted snapshot
    val ex = intercept[IllegalArgumentException] {
      Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L)).count()
    }
    assert(ex.getMessage.contains("keepVersions"), ex.getMessage)
    // CURRENT is unaffected
    assert(Ingest.readUpsertTable(spark, table).count() === 3)
    // and the next commit finishes the interrupted sweep
    up(2, 4L -> 4.0)
    assert(!store.exists(store.child(table, "v_0")),
      "marked dir not re-swept")
  }

  test("as-of never silently serves past a vanished middle snapshot") {
    import spark.implicits._
    val table = tmp() + "/vanish_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 3)(rows.toDF("user_id", "value"), id)
    up(0, 1L -> 1.0); up(1, 2L -> 2.0); up(2, 3L -> 3.0)
    // out-of-band deletion of a MIDDLE committed version (the ascending
    // sweep order makes this unreachable via the format's own cleanup;
    // this is the defense-in-depth guard for external interference and
    // pre-fix crash debris): batch 1's dir vanishes entirely, batch 0
    // survives — an asOf(1) read must fail loudly, never hand back
    // batch-0 state as if it were batch 1's
    store.deleteTree(store.child(table, "v_1"))
    val e = intercept[IllegalArgumentException] {
      Ingest.readUpsertTable(spark, table, asOfBatch = Some(1L)).count()
    }
    assert(e.getMessage.contains("non-suffix"), e.getMessage)
    // reads that don't cross the hole still work
    assert(Ingest.readUpsertTable(spark, table).count() === 3)
    assert(Ingest.readUpsertTable(spark, table, Some(2L)).count() === 3)
    assert(Ingest.readUpsertTable(spark, table, Some(0L)).count() === 1)
  }

  test("time travel never serves an uncommitted crashed build") {
    import spark.implicits._
    val table = tmp() + "/tt_crash_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 3)(rows.toDF("user_id", "value"), id)
    up(0, 1L -> 1.0)
    up(1, 2L -> 2.0)
    // a writer died mid-build: v_99 exists (with a torn parquet) but was
    // never committed — it survives until the NEXT commit's sweep, and a
    // time-travel read in that window must resolve PAST it
    val crashed = new java.io.File(table, "v_99/bkt=0")
    crashed.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(crashed, "part-torn.parquet").toPath,
      Array[Byte](1, 2, 3))
    val got = Ingest.readUpsertTable(spark, table, asOfBatch = Some(99L))
      .orderBy("user_id").select("value").as[Double].collect().toSeq
    assert(got === Seq(1.0, 2.0), "time travel served the crashed build")
    // the current read is unaffected too
    assert(Ingest.readUpsertTable(spark, table).count() === 2)
  }

  test("empty first batch still commits a readable (empty) table") {
    import spark.implicits._
    val table = tmp() + "/empty_first_table"
    // foreachBatch can legitimately deliver an empty batch 0
    Ingest.upsertParquet(table, Seq("user_id"))(
      Seq.empty[(Long, Double)].toDF("user_id", "value"), 0L)
    val empty = Ingest.readUpsertTable(spark, table)
    assert(empty.columns.toSeq === Seq("user_id", "value"))
    assert(empty.count() === 0)
    // and the table proceeds normally afterwards
    Ingest.upsertParquet(table, Seq("user_id"))(
      Seq(1L -> 1.0).toDF("user_id", "value"), 1L)
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
  }

  test("tombstones delete keys; delete replay is idempotent and bucket-scoped") {
    import spark.implicits._
    val table = tmp() + "/del_table"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8,
        deleteCol = Some("_deleted"))(
        rows.toDF("user_id", "value", "_deleted"), id)
    up(0, (1L to 40L).map(k => (k, k.toDouble, false)): _*)
    val before = inodesByBucket(table)
    // one delete + one upsert in the same batch
    up(1, (7L, 0.0, true), (8L, 800.0, false))
    val got = Ingest.readUpsertTable(spark, table)
      .filter(col("user_id").isin(6L, 7L, 8L))
      .orderBy("user_id").select("user_id", "value")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((6L, 6.0), (8L, 800.0)), "tombstone did not delete")
    // the marker column is never written to the table
    assert(!Ingest.readUpsertTable(spark, table).columns.contains("_deleted"))
    // delete-only batches stay bucket-scoped: untouched buckets hard-link
    val after = inodesByBucket(table)
    val untouchedSame = (after.keySet & before.keySet)
      .count(b => after(b) === before(b))
    assert(untouchedSame >= after.size - 2, s"too many buckets rewrote")
    // replaying the delete batch leaves the table byte-identical
    val snap = after
    up(1, (7L, 0.0, true), (8L, 800.0, false))
    assert(inodesByBucket(table) === snap, "delete replay rebuilt data")
    // a key may not appear as both upsert and tombstone in one batch
    val ex = intercept[IllegalArgumentException] {
      up(2, (9L, 9.0, false), (9L, 0.0, true))
    }
    assert(ex.getMessage.contains("pre-reduce"), ex.getMessage)
  }

  test("deleting every key yields a typed empty table, not a read failure") {
    import spark.implicits._
    val table = tmp() + "/del_all_table"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        deleteCol = Some("_deleted"))(
        rows.toDF("user_id", "value", "_deleted"), id)
    up(0, (1L, 1.0, false), (2L, 2.0, false))
    up(1, (1L, 0.0, true), (2L, 0.0, true))
    val empty = Ingest.readUpsertTable(spark, table)
    assert(empty.columns.toSeq === Seq("user_id", "value"))
    assert(empty.count() === 0)
  }

  test("as-of read at / across an empty batch serves the prior snapshot") {
    import spark.implicits._
    // zero-row batches commit to the ledger WITHOUT minting a version
    // dir (only an `_empty` record) — the vanished-middle suffix guard
    // must not mistake them for a swept/corrupted snapshot when an
    // as-of fallback range crosses one
    val table = tmp() + "/asof_empty_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0))
    up(1) // empty middle batch: commits, no version dir
    up(2, (2L, 2.0))
    up(3) // empty trailing batch
    // AT the empty batch: its snapshot state IS the previous version's
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(1L))
      .orderBy("user_id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0)))
    // PAST an empty batch: the fallback range (0, 3] crosses both
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(3L))
      .count() === 2)
    // the bucket-pruned lookup path resolves through the same guard
    assert(Ingest.lookupUpsertTable(spark, table,
      Seq(1L).toDF("user_id"), asOfBatch = Some(1L)).count() === 1)
  }

  test("tags: a named snapshot survives retention until dropped") {
    import spark.implicits._
    val table = tmp() + "/tag_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 1)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, 2.0))
    assert(Ingest.createTag(table, "launch", 0L) === 0L)
    // keepVersions=1 sweeps everything but CURRENT at each commit —
    // the pin must hold batch 0 through the churn
    up(1, (1L, 11.0))
    up(2, (3L, 3.0))
    assert(Ingest.readUpsertTableAtTag(spark, table, "launch")
      .orderBy("user_id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0)))
    assert(Ingest.listTags(table) === Seq("launch" -> 0L))
    // an as-of read BETWEEN the pin and the retained suffix refuses
    // with the retention message, not the corruption one
    val ex = intercept[IllegalArgumentException] {
      Ingest.readUpsertTable(spark, table, asOfBatch = Some(1L)).count()
    }
    assert(ex.getMessage.contains("tag pin"), ex.getMessage)
    // tags are immutable names: duplicate create fails loudly
    intercept[IllegalArgumentException] {
      Ingest.createTag(table, "launch", 2L)
    }
    // drop releases the pin; the next commit's cleanup reclaims it
    Ingest.dropTag(table, "launch")
    assert(Ingest.listTags(table).isEmpty)
    up(3, (4L, 4.0))
    intercept[IllegalArgumentException] {
      Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L)).count()
    }
    // the out-of-band VACUUM honors pins exactly like the sink cleanup
    Ingest.createTag(table, "v3", 3L)
    up(4, (5L, 5.0))
    Ingest.vacuumUpsertTable(spark, table, keepVersions = 1)
    assert(Ingest.readUpsertTableAtTag(spark, table, "v3").count() === 4)
    // a tag cannot name an uncommitted batch
    intercept[IllegalArgumentException] {
      Ingest.createTag(table, "ghost", 99L)
    }
  }

  test("quarantine mode dead-letters violating rows instead of rejecting") {
    import spark.implicits._
    val table = tmp() + "/quarantine_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 4,
        constraints = Seq("value_nonneg" -> "value >= 0",
          "user_pos" -> "user_id > 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, -2.0), (-3L, -3.0))
    // clean rows committed; bad rows dead-lettered with per-row blame
    assert(Ingest.readUpsertTable(spark, table).orderBy("user_id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 1.0)))
    assert(Ingest.readQuarantine(spark, table).orderBy("user_id")
      .select("user_id", "value", Ingest.QuarantineReasonCol,
        Ingest.QuarantineBatchCol)
      .as[(Long, Double, Seq[String], Long)].collect().toSeq === Seq(
      (-3L, -3.0, Seq("value_nonneg", "user_pos"), 0L),
      (2L, -2.0, Seq("value_nonneg"), 0L)))
    // an ALL-violating batch still commits (as an empty batch): the
    // pipeline advances instead of stalling behind one poison batch
    up(1, (4L, -4.0))
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
    assert(Ingest.readQuarantine(spark, table)
      .filter(col(Ingest.QuarantineBatchCol) === 1L).count() === 1)
    up(2, (5L, 5.0))
    assert(Ingest.readUpsertTable(spark, table).count() === 2)
    // replaying a committed batch duplicates neither state nor letters
    up(0, (1L, 1.0), (2L, -2.0), (-3L, -3.0))
    assert(Ingest.readQuarantine(spark, table).count() === 3)
    // tombstones are constraint-exempt: a delete always passes through
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 4, deleteCol = Some("_del"), quarantine = true)(
      Seq((5L, 0.0, true)).toDF("user_id", "value", "_del"), 3L)
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
    assert(Ingest.readQuarantine(spark, table).count() === 3)
    // a NULL delete flag on a VIOLATING row must still fail LOUDLY
    // (neither upsert nor tombstone) — not be silently shorted out of
    // the batch by the quarantine filter's three-valued logic
    val exNull = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 4, deleteCol = Some("_del"), quarantine = true)(
        // 7 is a genuine dead letter (so the quarantine split filter
        // actually runs); 6 carries the NULL flag AND violates
        Seq((6L, -6.0, null.asInstanceOf[java.lang.Boolean]),
          (7L, -7.0, java.lang.Boolean.FALSE))
          .toDF("user_id", "value", "_del"), 4L)
    }
    assert(exNull.getMessage.contains("NULL"), exNull.getMessage)
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
  }

  test("quarantine composes with the change feed: only clean rows enter history") {
    import spark.implicits._
    // a dead-lettered row must never surface downstream — not in the
    // snapshot, not in the CHANGE FEED every consumer (index, MV,
    // replica, ANN fold) is built from
    val table = tmp() + "/quarantine_cdf_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 4, changeFeed = true,
        constraints = Seq("value_nonneg" -> "value >= 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, -2.0))
    up(1, (1L, 11.0), (3L, -3.0))
    val feed = Ingest.readTableChanges(spark, table, 0, 1)
      .select("_batch_id", "_change_type", "user_id", "value")
      .as[(Long, String, Long, Double)].collect().toSeq.sorted
    assert(feed === Seq(
      (0L, "insert", 1L, 1.0),
      (1L, "update_postimage", 1L, 11.0),
      (1L, "update_preimage", 1L, 1.0)).sorted,
      s"feed leaked a dead letter: $feed")
    assert(Ingest.readQuarantine(spark, table)
      .select("user_id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("quarantine prune: retention respects the ledger, orphans sweep, replay stays idempotent") {
    import spark.implicits._
    val table = tmp() + "/quarantine_prune_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 8,
        constraints = Seq("value_nonneg" -> "value >= 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    // three committed batches, each leaving one dead letter
    up(0, (1L, 1.0), (2L, -2.0))
    up(1, (3L, 3.0), (4L, -4.0))
    up(2, (5L, 5.0), (6L, -6.0))
    // fabricate a crashed attempt's orphan: a dead-letter dir whose
    // batch never committed (readQuarantine hides it; before r15
    // nothing ever deleted it)
    Seq((9L, -9.0)).toDF("user_id", "value")
      .write.parquet(s"$table/${Ingest.QuarantineDir}/b_99")
    assert(Ingest.readQuarantine(spark, table).count() === 3)
    // keep the 2 most recent committed batches: b_0 retires, the
    // orphan b_99 sweeps; both come back as audit rows
    val swept = Ingest.pruneQuarantine(table, Some(2))
    assert(swept.toSet === Set(
      "quarantine" -> "b_0", "quarantine_orphan" -> "b_99"), swept.toString)
    assert(Ingest.readQuarantine(spark, table)
      .select(Ingest.QuarantineBatchCol).as[Long].collect().toSet ===
      Set(1L, 2L))
    // DESCRIBE DETAIL's count stays honest after the prune
    assert(Ingest.describeDetailUpsertTable(spark, table)
      .select("quarantined_batches").as[Long].head() === 2L)
    // replaying the PRUNED committed batch is a no-op: the merge
    // returns before the quarantine write, so pruned letters never
    // resurrect (and state is untouched)
    up(0, (1L, 1.0), (2L, -2.0))
    assert(Ingest.readQuarantine(spark, table).count() === 2)
    assert(Ingest.readUpsertTable(spark, table).count() === 3)
    // replaying an UNCOMMITTED batch after its orphan swept rewrites
    // its dead letters from scratch and commits
    up(99, (9L, 9.0), (10L, -10.0))
    assert(Ingest.readQuarantine(spark, table)
      .filter(col(Ingest.QuarantineBatchCol) === 99L)
      .select("user_id").as[Long].collect().toSeq === Seq(10L))
    // VACUUM drives the same sweep: keep 1 batch -> b_1, b_2 retire
    val audit = Ingest.vacuumUpsertTable(spark, table, keepVersions = 8,
      quarantineKeepBatches = Some(1))
      .filter(col("kind").startsWith("quarantine"))
      .as[(String, String)].collect().toSet
    assert(audit === Set("quarantine" -> "b_1", "quarantine" -> "b_2"),
      audit.toString)
    assert(Ingest.readQuarantine(spark, table)
      .select(Ingest.QuarantineBatchCol).as[Long].collect().toSet ===
      Set(99L))
    // keep-all (None) sweeps nothing committed
    assert(Ingest.pruneQuarantine(table, None) === Nil)
  }

  test("OPTIMIZE ZORDER: 2-D box probe prunes strictly more files than the linear layout") {
    import spark.implicits._
    // a 64x64 grid makes the win deterministic: linear (x, y) slices
    // are tight on x and cover ALL of y, so a thin y-band admits every
    // file the x-bound does; the Morton layout's boxes are tight on
    // both dimensions
    val table = tmp() + "/zorder_table"
    val grid = (0L until 4096L)
      .map(i => (i, i % 64, i / 64)).toDF("id", "x", "y")
    Ingest.upsertParquet(table, Seq("id"), nBuckets = 4, keepVersions = 4,
      sortCols = Seq("x", "y"), filesPerBucket = 8)(grid, 0L)
    val bounds = Seq[(String, Any, Any)](("x", 0L, 63L), ("y", 0L, 3L))
    val boxPred = col("x").between(0, 63) && col("y").between(0, 3)
    val lin = Ingest.readUpsertTableWhere(spark, table, bounds)
    val linFiles = lin.inputFiles.length
    val expect = lin.filter(boxPred).select("id").as[Long].collect().toSet
    Ingest.optimizeUpsertTableZorder(spark, table, Seq("x", "y"))
    val z = Ingest.readUpsertTableWhere(spark, table, bounds)
    info(s"2-D box files: linear=$linFiles zorder=${z.inputFiles.length}")
    assert(z.inputFiles.length < linFiles,
      s"expected a strict pruning win ($linFiles -> ${z.inputFiles.length})")
    assert(z.filter(boxPred).select("id").as[Long].collect().toSet ===
      expect)
    // the rewrite is state-preserving and the table stays mergeable
    // afterwards (later merges restore linear slices in their buckets)
    assert(Ingest.readUpsertTable(spark, table).count() === 4096)
    Ingest.upsertParquet(table, Seq("id"), nBuckets = 4, keepVersions = 4,
      sortCols = Seq("x", "y"), filesPerBucket = 8)(
      Seq((9999L, 1L, 1L)).toDF("id", "x", "y"), 1L)
    assert(Ingest.readUpsertTable(spark, table).count() === 4097)
    assert(Ingest.readUpsertTableWhere(spark, table, bounds)
      .filter(boxPred).count() === expect.size + 1)
    // ZORDER BY must match the pinned stats columns
    intercept[IllegalArgumentException] {
      Ingest.optimizeUpsertTableZorder(spark, table, Seq("x", "id"))
    }
  }

  test("quarantine requeue: fixed letters merge, still-violating re-divert, consumed dirs sweep") {
    import spark.implicits._
    val table = tmp() + "/quarantine_requeue_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 8,
        constraints = Seq("value_nonneg" -> "value >= 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, -2.0))
    up(1, (2L, -22.0), (3L, -3.0)) // key 2 letters in BOTH batches
    // requeue with a healing fix: latest letter wins per key (key 2
    // merges from batch 1's -22, not batch 0's -2)
    val (h1, r1) = Ingest.requeueQuarantine(spark, table, 2L,
      fix = _.withColumn("value", abs(col("value"))))
    assert((h1, r1) === (2L, 0L))
    assert(Ingest.readUpsertTable(spark, table).orderBy("user_id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 22.0), (3L, 3.0)))
    assert(Ingest.readQuarantine(spark, table).count() === 0)
    // partial heal: the unfixed letter re-diverts into the requeue's
    // own dead-letter dir instead of poisoning the table
    up(3, (4L, -4.0), (5L, -5.0))
    def fix4(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("value",
        when(col("user_id") === 4L, abs(col("value")))
          .otherwise(col("value")))
    val (h2, r2) = Ingest.requeueQuarantine(spark, table, 4L, fix4)
    assert((h2, r2) === (1L, 1L))
    assert(Ingest.readUpsertTable(spark, table).count() === 4)
    assert(Ingest.readQuarantine(spark, table)
      .select("user_id", Ingest.QuarantineBatchCol)
      .as[(Long, Long)].collect().toSeq === Seq((5L, 4L)))
    // replay after the crash windows: the committed requeue batch is
    // never re-merged, the sweep re-runs idempotently
    val (h3, r3) = Ingest.requeueQuarantine(spark, table, 4L, fix4)
    assert((h3, r3) === (0L, 1L))
    assert(Ingest.readUpsertTable(spark, table).count() === 4)
    // an uncommitted batch id BEHIND the ledger head is refused loudly
    // (the ledger is monotone); letters below it exist, so the guard —
    // not the empty-input early return — must fire
    up(6, (7L, -7.0))
    intercept[IllegalArgumentException] {
      Ingest.requeueQuarantine(spark, table, 5L)
    }
    // a replay with an OLD committed id never consumes (or sweeps)
    // letters from batches newer than itself
    val (h5, r5) = Ingest.requeueQuarantine(spark, table, 4L, fix4)
    assert((h5, r5) === (0L, 1L))
    assert(Ingest.readQuarantine(spark, table)
      .select("user_id").as[Long].collect().toSet === Set(5L, 7L))
    // nothing to consume and a fresh batch id: no batch is minted
    Ingest.pruneQuarantine(table, Some(0))
    val (h4, r4) = Ingest.requeueQuarantine(spark, table, 7L)
    assert((h4, r4) === (0L, 0L))
    assert(!Ingest.committedBatchIds(table).contains(7L))
  }

  test("quarantine requeue on a sorted change-feed table heals into the table and feed") {
    import spark.implicits._
    val table = tmp() + "/quarantine_requeue_sorted_feed"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 8, changeFeed = true, sortCols = Seq("value"),
        filesPerBucket = 2,
        constraints = Seq("value_nonneg" -> "value >= 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, -2.0))
    up(1, (3L, -3.0), (4L, 4.0))
    // the requeue commits under the table's pinned sortCols and feed
    val (healed, rediverted) = Ingest.requeueQuarantine(spark, table, 2L,
      fix = _.withColumn("value", abs(col("value"))))
    assert((healed, rediverted) === (2L, 0L))
    assert(Ingest.readUpsertTable(spark, table).orderBy("user_id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    assert(Ingest.readQuarantine(spark, table).count() === 0)
    assert(Ingest.tableSortColumns(table) === Seq("value"))
    assert(Ingest.readTableChanges(spark, table, 2L, 2L)
      .select("user_id", "value", "_change_type")
      .as[(Long, Double, String)].collect().toSet ===
      Set((2L, 2.0, "insert"), (3L, 3.0, "insert")))
  }

  test("a crashed quarantine prune leaves a refusable half-dir the next prune finishes") {
    import spark.implicits._
    val table = tmp() + "/quarantine_halfswept_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 8,
        constraints = Seq("value_nonneg" -> "value >= 0"),
        quarantine = true)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0), (2L, -2.0))
    up(1, (3L, 3.0), (4L, -4.0))
    // simulate the crash window inside sweepDir: the marker landed,
    // the tree delete did not
    val b0 = store.child(store.child(table, Ingest.QuarantineDir), "b_0")
    store.writeAtomic(b0, "_sweeping", "")
    // a half-swept dir must never serve a silently partial dead-letter
    // set, and must not occupy a retention slot
    assert(Ingest.readQuarantine(spark, table)
      .select(Ingest.QuarantineBatchCol).as[Long].collect().toSeq ===
      Seq(1L))
    assert(Ingest.describeDetailUpsertTable(spark, table)
      .select("quarantined_batches").as[Long].head() === 1L)
    // the next prune finishes the half-delete EVEN inside retention
    val swept = Ingest.pruneQuarantine(table, Some(8))
    assert(swept === Seq("quarantine_halfswept" -> "b_0"), swept.toString)
    assert(!store.exists(b0), "half-swept dir must be gone after prune")
    assert(Ingest.readQuarantine(spark, table)
      .select(Ingest.QuarantineBatchCol).as[Long].collect().toSeq ===
      Seq(1L))
  }

  test("tag create is CAS-strict per name: a same-name race picks exactly one winner") {
    import spark.implicits._
    val table = tmp() + "/tag_race_table"
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 4)(Seq((1L, 1.0)).toDF("user_id", "value"), 0L)
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 4)(Seq((2L, 2.0)).toDF("user_id", "value"), 1L)
    // two concurrent creators of the SAME name, pinning DIFFERENT
    // batches: exactly one may win, the loser must throw the duplicate
    // error having appended nothing — the r14 read-then-append let
    // both append with last-entry-wins (a silently moved pin)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[Throwable, Long]]()
    val threads = Seq(0L, 1L).map { b =>
      new Thread(() => {
        start.await()
        results.add(
          try Right(Ingest.createTag(table, "release", b))
          catch { case e: IllegalArgumentException => Left(e) })
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    val rs = scala.jdk.CollectionConverters.IteratorHasAsScala(
      results.iterator()).asScala.toSeq
    assert(rs.count(_.isRight) === 1, rs.toString)
    assert(rs.count(_.isLeft) === 1, rs.toString)
    rs.collect { case Left(e) =>
      assert(e.getMessage.contains("already exists"), e.getMessage) }
    // the ledger holds exactly the winner's pin — never both entries
    val tags = Ingest.listTags(table)
    assert(tags.map(_._1) === Seq("release"), tags.toString)
    assert(rs.collectFirst { case Right(b) => b }.contains(tags.head._2))
    // drop releases the name; re-creating it works (marker freed)
    Ingest.dropTag(table, "release")
    assert(Ingest.createTag(table, "release", 1L) === 1L)
    assert(Ingest.listTags(table) === Seq("release" -> 1L))
    // a newline-smuggling drop is rejected up front (ADVICE r14): it
    // would append a multi-line entry whose tail drops a DIFFERENT tag
    intercept[IllegalArgumentException] {
      Ingest.dropTag(table, "release\nother")
    }
  }

  test("change feed records inserts, updates, deletes with pre/post images") {
    import spark.implicits._
    val table = tmp() + "/cdf_table"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10, deleteCol = Some("_del"), changeFeed = true)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L, 1.0, false), (2L, 2.0, false))
    up(1, (2L, 22.0, false), (3L, 3.0, false), (9L, 0.0, true)) // 9 absent: no record
    up(2, (1L, 0.0, true)) // delete key 1
    up(3) // empty batch: commits, zero changes
    val ch = Ingest.readTableChanges(spark, table, 0, 3)
      .orderBy("_batch_id", "user_id", "_change_type")
      .select("_batch_id", "_change_type", "user_id", "value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(ch === Seq(
      (0L, "insert", 1L, 1.0), (0L, "insert", 2L, 2.0),
      (1L, "update_postimage", 2L, 22.0), (1L, "update_preimage", 2L, 2.0),
      (1L, "insert", 3L, 3.0),
      (2L, "delete", 1L, 1.0)))
    // replaying a committed batch leaves the feed untouched
    up(1, (2L, 22.0, false), (3L, 3.0, false), (9L, 0.0, true))
    assert(Ingest.readTableChanges(spark, table, 0, 3).count() === 6)
    // a sub-range reads only its batches
    assert(Ingest.readTableChanges(spark, table, 2, 3).count() === 1)
  }

  test("upsert schema evolution: widen-only, nulls backfill history") {
    import spark.implicits._
    val table = tmp() + "/evolve_table"
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 3)(
      Seq((1L, 1.0), (2L, 2.0)).toDF("user_id", "value"), 0L)
    // batch 1 appends a column: old rows surface it as null
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 3)(
      Seq((2L, 22.0, "b"), (3L, 3.0, "c")).toDF("user_id", "value", "tag"), 1L)
    val cur = Ingest.readUpsertTable(spark, table).orderBy("user_id")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(cur === Seq((1L, 1.0, None), (2L, 22.0, Some("b")),
      (3L, 3.0, Some("c"))))
    // time travel reads the PRE-widening snapshot through the table
    // schema too — the schema is a table property, not a version one
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
      .columns.toSeq === Seq("user_id", "value", "tag"))
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
      .filter("tag IS NOT NULL").count() === 0)
    // dropping a pinned column fails loudly
    val exDrop = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4)(
        Seq((4L, "d")).toDF("user_id", "tag"), 2L)
    }
    assert(exDrop.getMessage.contains("widen-only"), exDrop.getMessage)
    // retyping fails loudly
    val exType = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4)(
        Seq((4L, "oops", "d")).toDF("user_id", "value", "tag"), 2L)
    }
    assert(exType.getMessage.contains("retypes"), exType.getMessage)
    // the widened schema sticks for later batches and lookups
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 3)(
      Seq((1L, 10.0, "a")).toDF("user_id", "value", "tag"), 2L)
    assert(Ingest.lookupUpsertTable(spark, table, Seq(1L).toDF("user_id"))
      .as[(Long, Double, Option[String])].head() === ((1L, 10.0, Some("a"))))
  }

  test("bucket-pruned lookup equals full-scan filter and reads fewer files") {
    import spark.implicits._
    val table = tmp() + "/lookup_table"
    val rows = (1L to 200L).map(i => (i, i * 1.5))
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8)(
      rows.toDF("user_id", "value"), 0L)
    val probe = Seq(7L, 42L, 9999L).toDF("user_id") // 9999 absent
    val got = Ingest.lookupUpsertTable(spark, table, probe)
      .orderBy("user_id").as[(Long, Double)].collect().toSeq
    assert(got === Seq(7L -> 10.5, 42L -> 63.0))
    val nPruned = Ingest.lookupUpsertTable(spark, table, probe)
      .inputFiles.length
    val nFull = Ingest.readUpsertTable(spark, table).inputFiles.length
    assert(nPruned < nFull, s"$nPruned vs $nFull")
    // time travel composes: lookup against a past committed snapshot
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8,
      keepVersions = 2)(Seq((7L, 0.0)).toDF("user_id", "value"), 1L)
    assert(Ingest.lookupUpsertTable(spark, table,
      Seq(7L).toDF("user_id"), asOfBatch = Some(0L))
      .select("value").as[Double].head() === 10.5)
    assert(Ingest.lookupUpsertTable(spark, table, Seq(7L).toDF("user_id"))
      .select("value").as[Double].head() === 0.0)
    // a probe missing the key column fails loudly
    val ex = intercept[IllegalArgumentException] {
      Ingest.lookupUpsertTable(spark, table, Seq(1L).toDF("other"))
    }
    assert(ex.getMessage.contains("missing key column"), ex.getMessage)
  }

  test("change feed is a pinned table property and retention-bounded") {
    import spark.implicits._
    val t1 = tmp() + "/cdf_holes"
    Ingest.upsertParquet(t1, Seq("user_id"), nBuckets = 2)(
      Seq((1L, 1.0)).toDF("user_id", "value"), 0L)
    // cannot start the feed mid-history
    val exMid = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(t1, Seq("user_id"), nBuckets = 2,
        changeFeed = true)(Seq((2L, 2.0)).toDF("user_id", "value"), 1L)
    }
    assert(exMid.getMessage.contains("mid-history"), exMid.getMessage)
    // a feed table refuses a feed-less writer (silent hole)
    val t2 = tmp() + "/cdf_strict"
    Ingest.upsertParquet(t2, Seq("user_id"), nBuckets = 2,
      changeFeed = true)(Seq((1L, 1.0)).toDF("user_id", "value"), 0L)
    val exOff = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(t2, Seq("user_id"), nBuckets = 2)(
        Seq((2L, 2.0)).toDF("user_id", "value"), 1L)
    }
    assert(exOff.getMessage.contains("changeFeed=true"), exOff.getMessage)
    // a non-feed table fails the feed read immediately
    val exNot = intercept[IllegalArgumentException] {
      Ingest.readTableChanges(spark, t1, 0, 0)
    }
    assert(exNot.getMessage.contains("not a change-feed"), exNot.getMessage)
    // feed availability is retention-bounded: keepVersions=1 sweeps
    // v_0 at batch 1's commit, so reading batch 0's changes fails loudly
    val t3 = tmp() + "/cdf_retention"
    def up3(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(t3, Seq("user_id"), nBuckets = 2,
        keepVersions = 1, changeFeed = true)(rows.toDF("user_id", "value"), id)
    up3(0, 1L -> 1.0)
    up3(1, 2L -> 2.0)
    val exRet = intercept[IllegalArgumentException] {
      Ingest.readTableChanges(spark, t3, 0, 1)
    }
    assert(exRet.getMessage.contains("retention"), exRet.getMessage)
    assert(Ingest.readTableChanges(spark, t3, 1, 1).count() === 1)
  }

  test("event ts unit is pinned from parquet footers, not per-row magnitude") {
    import spark.implicits._
    // fixture path: the annotated footer agrees with the magnitude
    // fallback (both micros at the current fixture generation)
    val viaFooter = Tables.load(spark, sf, "events")
      .agg(max("ts")).head.getTimestamp(0)
    val viaMagnitude = Tables.withEventTs(
      spark.read.schema(Tables.eventsRaw).parquet(s"$sf/events.parquet"))
      .agg(max("ts")).head.getTimestamp(0)
    assert(viaFooter === viaMagnitude)
    // stats fallback: an UNANNOTATED long column classifies off the
    // footer min/max statistics — micros-magnitude and nanos-magnitude
    // corpora land on the same instant
    val microsOfFixture = viaMagnitude.getTime * 1000L +
      (viaMagnitude.getNanos / 1000L) % 1000L
    def writeRaw(ticks: Long): String = {
      val d = tmp()
      Seq((1L, ticks, 7L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$d/events.parquet")
      d
    }
    val microsDir = writeRaw(microsOfFixture)
    val nanosDir = writeRaw(microsOfFixture * 1000L)
    assert(Tables.load(spark, microsDir, "events")
      .head.getTimestamp(1) === viaMagnitude)
    assert(Tables.load(spark, nanosDir, "events")
      .head.getTimestamp(1) === viaMagnitude)
    // a file whose ts range straddles the ns/µs boundary can only be a
    // corrupt fixture — the read fails loudly instead of shifting rows
    val straddleDir = tmp()
    Seq((1L, microsOfFixture, 7L, "view", 1.0, "{}"),
      (2L, microsOfFixture * 1000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$straddleDir/events.parquet")
    val ex = intercept[IllegalArgumentException] {
      Tables.load(spark, straddleDir, "events").count()
    }
    assert(ex.getMessage.contains("straddles"), ex.getMessage)
  }

  test("upsert pins keys/buckets as immutable table properties") {
    import spark.implicits._
    val table = tmp() + "/meta_table"
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8)(
      Seq(1L -> 1.0).toDF("user_id", "value"), 0L)
    // same properties: fine
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 8)(
      Seq(2L -> 2.0).toDF("user_id", "value"), 1L)
    // different bucket count would scope merges to the wrong buckets
    val ex = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 16)(
        Seq(3L -> 3.0).toDF("user_id", "value"), 2L)
    }
    assert(ex.getMessage.contains("rebucketUpsertTable"), ex.getMessage)
    assert(Ingest.readUpsertTable(spark, table).count() === 2)
  }

  test("rebucket rewrites the snapshot under a new hash; data and lookups intact") {
    import spark.implicits._
    val table = tmp() + "/rb_table"
    def bucketDirs(): Set[String] =
      Option(new java.io.File(table, currentName(table)).listFiles())
        .toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .map(_.getName).toSet
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10)(
      (1L to 40L).map(k => k -> k.toDouble).toDF("k", "v"), 0L)
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10)(
      Seq(7L -> 70.0, 41L -> 41.0).toDF("k", "v"), 1L)
    val before = Ingest.readUpsertTable(spark, table).orderBy("k")
      .as[(Long, Double)].collect().toSeq
    assert(bucketDirs().size <= 4)

    Ingest.rebucketUpsertTable(spark, table, 16)

    // same rows, new layout
    assert(bucketDirs().size > 4)
    val after = Ingest.readUpsertTable(spark, table).orderBy("k")
      .as[(Long, Double)].collect().toSeq
    assert(after === before)
    // point lookup prunes against the NEW hash and finds the row
    val probe = Seq(7L).toDF("k")
    val lk = Ingest.lookupUpsertTable(spark, table, probe)
    assert(lk.inputFiles.length <
      Ingest.readUpsertTable(spark, table).inputFiles.length)
    assert(lk.select("v").head.getDouble(0) === 70.0)
    // time travel to batch 0 prunes with the OLD count: rebucket
    // stamped _nbuckets into the retained pre-rebucket snapshot
    assert(store.exists(store.child(table, "v_0/_nbuckets")))
    val lk0 = Ingest.lookupUpsertTable(spark, table, probe, asOfBatch = Some(0L))
    assert(lk0.select("v").head.getDouble(0) === 7.0)
    // a writer still passing the old count fails loudly...
    val ex = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10)(
        Seq(2L -> 22.0).toDF("k", "v"), 2L)
    }
    assert(ex.getMessage.contains("rebucketUpsertTable"), ex.getMessage)
    // ...and the new count merges against the rebucketed snapshot
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 16, keepVersions = 10)(
      Seq(2L -> 22.0).toDF("k", "v"), 2L)
    val end = Ingest.readUpsertTable(spark, table)
    assert(end.filter(col("k") === 2).head.getDouble(1) === 22.0)
    assert(end.count() === 41)
  }

  test("a crashed rebucket generation is never served and is swept") {
    import spark.implicits._
    val table = tmp() + "/rbc_table"
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10)(
      Seq(1L -> 1.0).toDF("k", "v"), 0L)
    // fake a maintenance rewrite that died mid-build: a higher
    // generation with garbage data and NO _gen_commit marker
    val crashed = new java.io.File(table, "v_0.1/bkt=0")
    crashed.mkdirs()
    Files.writeString(new java.io.File(crashed, "part-garbage.parquet").toPath,
      "NOT A PARQUET FILE")
    // the pointer read and the as-of read both resolve the committed
    // generation, never the partial one
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
      .count() === 1)
    // the next successful commit sweeps it
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10)(
      Seq(2L -> 2.0).toDF("k", "v"), 1L)
    assert(!new java.io.File(table, "v_0.1").exists())
  }

  test("two-table exactly-once: crash between base commit and MV fold replays clean") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/t"
    val mv = s"$base/mv"
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    def upsertBase(rows: Seq[(Long, String, Long)], id: Long): Unit =
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 8,
        changeFeed = true)(rows.toDF("k", "g", "cents"), id)
    def foldMv(id: Long): Unit = {
      val delta = Ingest.readTableChanges(spark, table, id, id)
        .select(col("g"), sign.as("s"), (sign * col("cents")).as("sc"))
        .groupBy("g").agg(sum("s").as("n"), sum("sc").as("cents"))
      val merged =
        if (store.read(store.child(mv, "CURRENT")).isEmpty) delta
        else Ingest.readUpsertTable(spark, mv).unionByName(delta)
          .groupBy("g").agg(sum("n").as("n"), sum("cents").as("cents"))
      Ingest.upsertParquet(mv, Seq("g"), nBuckets = 2)(merged, id)
    }
    def both(rows: Seq[(Long, String, Long)], id: Long): Unit = {
      upsertBase(rows, id); foldMv(id)
    }
    both(Seq((1L, "a", 10L), (2L, "b", 20L)), 0L)
    both(Seq((1L, "a", 15L), (3L, "a", 5L)), 1L) // update k=1, insert k=3
    // CRASH WINDOW: batch 2 commits the base table, then dies before
    // the MV fold
    upsertBase(Seq((2L, "b", 99L)), 2L)
    // redelivery of batch 2: the base no-ops off its ledger, the feed
    // slice is still readable, and the MV folds it exactly once
    both(Seq((2L, "b", 99L)), 2L)
    def mvState(): Map[String, (Long, Long)] =
      Ingest.readUpsertTable(spark, mv).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map("a" -> (2L, 20L), "b" -> (1L, 99L))
    assert(mvState() === want)
    // a full second replay of every batch changes nothing anywhere
    both(Seq((1L, "a", 10L), (2L, "b", 20L)), 0L)
    both(Seq((2L, "b", 99L)), 2L)
    assert(mvState() === want)
    // and the MV equals the recompute from the final snapshot
    val recompute = Ingest.readUpsertTable(spark, table)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mvState() === recompute)
  }

  test("rebucket carries the change feed forward with the version") {
    import spark.implicits._
    val table = tmp() + "/rbf_table"
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10,
      changeFeed = true)(Seq(1L -> 1.0).toDF("k", "v"), 0L)
    Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 10,
      changeFeed = true)(Seq(1L -> 2.0).toDF("k", "v"), 1L)
    Ingest.rebucketUpsertTable(spark, table, 8)
    // batch 0's feed lives in untouched v_0; batch 1's was hard-linked
    // into the new generation — the full range still reads
    val ch = Ingest.readTableChanges(spark, table, 0L, 1L)
      .select("_batch_id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((0L, "insert"),
      (1L, "update_preimage"), (1L, "update_postimage")))
  }

  test("upsert validates key-uniqueness on the batch and blames the batch") {
    import spark.implicits._
    val table = tmp() + "/dup_table"
    val ex = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(table, Seq("user_id"))(
        Seq(1L -> 1.0, 1L -> 2.0).toDF("user_id", "value"), 0L)
    }
    assert(ex.getMessage.contains("batch 0"), ex.getMessage)
    assert(ex.getMessage.contains("pre-reduce"), ex.getMessage)
    // nothing was committed or pointed at
    assert(store.read(store.child(table, "CURRENT")).isEmpty)
  }

  test("published feed: hard-linked at commit, heals crash window, streamable") {
    import spark.implicits._
    val table = tmp() + "/feed_table"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10, deleteCol = Some("_del"), changeFeed = true)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L, 1.0, false), (2L, 2.0, false))
    up(1, (2L, 22.0, false), (3L, 3.0, false))
    up(2, (1L, 0.0, true))
    val feed = new java.io.File(table, "feed")
    def feedFiles(b: Long): Seq[java.io.File] =
      Option(feed.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"b$b-")).toSeq
    assert((0L to 2L).forall(feedFiles(_).nonEmpty), "feed slices not published")
    // published files share the version's _changes content — same inode
    // under POSIX (hard links), same bytes under the object store (copies)
    val v2ch = new java.io.File(table, "v_2/_changes").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(v2ch.map(fileId).toSet === feedFiles(2L).map(fileId).toSet,
      "feed files do not share the version's changes")
    // crash window: commit landed, publish didn't — replay heals it
    feedFiles(1L).foreach(_.delete())
    assert(feedFiles(1L).isEmpty)
    up(1, (2L, 22.0, false), (3L, 3.0, false)) // replay of committed batch
    assert(feedFiles(1L).nonEmpty, "replay did not heal the unpublished slice")
    // the feed is streamable with the pinned change schema, and the
    // streamed content equals the ledger-driven batch read
    val ck = tmp() + "/feed_ck"
    val out = tmp() + "/feed_out"
    val q = Ingest.changeFeedStream(spark, table, maxFilesPerTrigger = Some(2))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("_batch_id", "_change_type", "user_id", "value")
    val ledger = Ingest.readTableChanges(spark, table, 0, 2)
      .select("_batch_id", "_change_type", "user_id", "value")
    assert(streamed.exceptAll(ledger).count() === 0)
    assert(ledger.exceptAll(streamed).count() === 0)
    // consumer-side prune drops exactly the folded prefix
    Ingest.pruneChangeFeed(table, 2L)
    assert(feedFiles(0L).isEmpty && feedFiles(1L).isEmpty && feedFiles(2L).nonEmpty)
    // feed files OUTLIVE snapshot retention: sweeping old versions
    // keeps the published inodes alive (links), so a late consumer can
    // still fold batch 2 even after v_2 ages out of the window
    up(3, (4L, 4.0, false))
  }

  test("lazy deletes: delete-only batch links every bucket and hides rows via the vector") {
    import spark.implicits._
    val table = tmp() + "/mor_table"
    def up(id: Long, lazyDel: Boolean, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10, deleteCol = Some("_del"), lazyDeletes = lazyDel)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, lazyDel = false,
      (1L, 1.0, false), (2L, 2.0, false), (3L, 3.0, false), (4L, 4.0, false))
    def buckets(m: Map[String, Set[String]]): Map[String, Set[String]] =
      m.filter(_._1.startsWith("bkt=")) // ignore the _deletes dir itself
    val before = buckets(inodesByBucket(table))
    // batch 1: pure deletes, lazy — NO bucket may be rewritten
    up(1, lazyDel = true, (2L, 0.0, true), (4L, 0.0, true))
    assert(buckets(inodesByBucket(table)) === before,
      "lazy delete-only batch rewrote bucket data")
    assert(new java.io.File(table, "v_1/_deletes").isDirectory,
      "no deletion vector written")
    // snapshot read applies the vector
    assert(Ingest.readUpsertTable(spark, table)
      .select("user_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // point lookup applies it too
    assert(Ingest.lookupUpsertTable(spark, table, Seq(2L, 3L).toDF("user_id"))
      .select("user_id").as[Long].collect().toSeq === Seq(3L))
    // time travel: the PRE-delete version has no vector and still serves
    // the full table
    assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
      .count() === 4)
    // replaying the lazy batch is a no-op (inodes and vector unchanged)
    up(1, lazyDel = true, (2L, 0.0, true), (4L, 0.0, true))
    assert(buckets(inodesByBucket(table)) === before, "lazy replay rebuilt data")
    assert(Ingest.readUpsertTable(spark, table).count() === 2)
  }

  test("lazy deletes self-compact: a later rewrite of the bucket applies its entries") {
    import spark.implicits._
    val table = tmp() + "/mor_compact"
    def up(id: Long, lazyDel: Boolean, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        keepVersions = 10, deleteCol = Some("_del"), lazyDeletes = lazyDel)(
        rows.toDF("user_id", "value", "_del"), id)
    // find two keys in the SAME bucket and one in the other
    val hash = (k: Long) => { // mirror pmod(xxhash64(user_id), 2)
      val df = Seq(k).toDF("user_id")
        .select(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("user_id")),
          lit(2L)).as("b"))
      df.head().getLong(0)
    }
    val ks = (1L to 20L).groupBy(hash)
    val b0 = ks.values.head.take(2) // two keys, same bucket
    val other = ks.values.last.head
    up(0, lazyDel = false,
      (b0.head, 1.0, false), (b0(1), 2.0, false), (other, 3.0, false))
    up(1, lazyDel = true, (b0.head, 0.0, true)) // vector entry in b0's bucket
    assert(new java.io.File(table, "v_1/_deletes").isDirectory)
    // batch 2 upserts the OTHER key of the same bucket: the rewrite must
    // apply the pending entry and the new version must carry NO vector
    up(2, lazyDel = true, (b0(1), 22.0, false))
    assert(!new java.io.File(table, "v_2/_deletes").exists(),
      "vector entry for a rewritten bucket was carried instead of applied")
    val rows = Ingest.readUpsertTable(spark, table)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(!rows.contains(b0.head) && rows(b0(1)) === 22.0 && rows(other) === 3.0)
    // rebucket also compacts: add fresh lazy debt, then rebucket
    up(3, lazyDel = true, (other, 0.0, true))
    assert(new java.io.File(table, "v_3/_deletes").isDirectory)
    Ingest.rebucketUpsertTable(spark, table, 4)
    val cur = new java.io.File(table, currentName(table))
    assert(!new java.io.File(cur, "_deletes").exists(),
      "rebucket carried the vector instead of applying it")
    assert(Ingest.readUpsertTable(spark, table)
      .select("user_id").as[Long].collect().toSeq === Seq(b0(1)))
  }

  test("lazy deletes and the change feed: pre-images honest, re-upsert is an insert") {
    import spark.implicits._
    val table = tmp() + "/mor_cdf"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10, deleteCol = Some("_del"), changeFeed = true,
        lazyDeletes = true)(rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L, 1.0, false), (2L, 2.0, false))
    up(1, (1L, 0.0, true)) // lazy delete: bucket not rewritten
    up(2, (1L, 10.0, false)) // re-upsert of the lazily-deleted key
    val ch = Ingest.readTableChanges(spark, table, 0, 2)
      .orderBy("_batch_id", "user_id", "_change_type")
      .select("_batch_id", "_change_type", "user_id", "value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(ch === Seq(
      (0L, "insert", 1L, 1.0), (0L, "insert", 2L, 2.0),
      (1L, "delete", 1L, 1.0),
      (2L, "insert", 1L, 10.0)), s"feed was: $ch")
    assert(Ingest.readUpsertTable(spark, table)
      .select("user_id", "value").as[(Long, Double)].collect().toMap
      === Map(1L -> 10.0, 2L -> 2.0))
  }

  test("pinned sortCols: range-sliced bucket files, carried manifest, pruned reads") {
    import spark.implicits._
    val table = tmp() + "/stats_table"
    def up(id: Long, rows: Seq[(Long, Long, Boolean)]): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        keepVersions = 10, deleteCol = Some("_del"), lazyDeletes = true,
        sortCols = Seq("value"), filesPerBucket = 3)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L to 300L).map(i => (i, i, false)))
    // range-sliced layout: each bucket dir holds MULTIPLE files
    val v0 = new java.io.File(table, "v_0")
    val perBucket = Option(v0.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty && perBucket.forall(_ > 1),
      s"expected range-sliced buckets, got files per bucket: $perBucket")
    assert(new java.io.File(v0, "_stats").isDirectory, "no manifest")
    // pruned read: fewer files, same rows as filter-on-full
    val full = Ingest.readUpsertTable(spark, table)
      .filter(col("value").between(10, 40))
    val pruned = Ingest.readUpsertTableWhere(spark, table,
      Seq(("value", 10L, 40L))).filter(col("value").between(10, 40))
    assert(pruned.inputFiles.length <
      Ingest.readUpsertTable(spark, table).inputFiles.length,
      "stats pruning did not reduce the file list")
    assert(pruned.exceptAll(full).count() === 0)
    assert(full.exceptAll(pruned).count() === 0)
    // a lazy delete-only batch carries the manifest (remapped paths)
    // and the vector applies AFTER pruning
    up(1, Seq((20L, 0L, true)))
    val v1m = new java.io.File(table, "v_1/_stats")
    assert(v1m.isDirectory, "manifest not carried to the linked version")
    val afterDel = Ingest.readUpsertTableWhere(spark, table,
      Seq(("value", 10L, 40L))).filter(col("value").between(10, 40))
    assert(afterDel.select("user_id").as[Long].collect().toSet ===
      (10L to 40L).toSet - 20L)
    // carried manifest rows must point at files that exist — recorded
    // VERSION-RELATIVE (r17), resolved against the manifest's own
    // version dir exactly as every consumer does via rebase
    val carriedFiles = spark.read.parquet(
      Option(v1m.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getPath): _*)
      .select("file").as[String].collect()
    assert(carriedFiles.nonEmpty && carriedFiles.forall(f =>
      !f.startsWith("/") && !f.contains(":/") &&
        new java.io.File(new java.io.File(table, "v_1"), f).exists()),
      "stale or non-relative manifest path")
    // an upsert batch refreshes stats for its rewritten buckets only
    up(2, Seq((10L, 1000L, false)))
    val wide = Ingest.readUpsertTableWhere(spark, table,
      Seq(("value", 999L, 2000L))).filter(col("value") >= 999L)
    assert(wide.select("user_id").as[Long].collect().toSeq === Seq(10L))
    // rebucket preserves the layout properties and rebuilds the manifest
    def rows(): Set[(Long, Long)] = Ingest.readUpsertTable(spark, table)
      .select("user_id", "value").as[(Long, Long)].collect().toSet
    val beforeRebucket = rows()
    Ingest.rebucketUpsertTable(spark, table, 4)
    val cur = new java.io.File(table, currentName(table))
    assert(new java.io.File(cur, "_stats").isDirectory,
      "rebucket dropped the manifest")
    assert(rows() === beforeRebucket)
    // every row sits in the bucket the new count hashes it to
    assert(Ingest.lookupUpsertTable(spark, table,
      (1L to 300L).toDF("user_id")).count() === beforeRebucket.size)
    val again = Ingest.readUpsertTableWhere(spark, table,
      Seq(("value", 10L, 40L))).filter(col("value").between(10, 40))
    assert(again.select("user_id").as[Long].collect().toSet ===
      (11L to 40L).toSet - 20L) // 10 was re-valued to 1000 in batch 2
    assert(again.inputFiles.length <
      Ingest.readUpsertTable(spark, table).inputFiles.length)
    assertManifestMatchesScan(table, Seq("value"))
  }

  /** The CURRENT version's manifest rows against the rows
    * `StatsManifest.statsAggs` derives by scanning that version's data
    * files: equal as multisets, or the test fails with both sides.
    */
  private def assertManifestMatchesScan(table: String,
                                        sortCols: Seq[String]): Unit = {
    val vName = currentName(table)
    val vDir = new java.io.File(table, vName)
    val parts = Option(new java.io.File(vDir, "_stats").listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(parts.nonEmpty, s"$vName has no manifest")
    val manifest = spark.read.parquet(parts: _*)
    val aggs = graft.sources.StatsManifest.statsAggs(sortCols)
    val scan = spark.read.parquet(vDir.getPath)
      .select(sortCols.map(col): _*)
      .groupBy(graft.sources.StatsManifest.relFile(vName).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(manifest.columns.map(col): _*)
    val extra = manifest.exceptAll(scan).collect()
    val missing = scan.exceptAll(manifest).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$vName manifest differs from the scan: manifest-only " +
        s"${extra.mkString(", ")}; scan-only ${missing.mkString(", ")}")
  }

  test("manifest rows equal the scan after full and partial rewrites; " +
    "INT96 sort columns fall back to the scan") {
    import spark.implicits._
    val table = tmp() + "/manifest_eq"
    def up(id: Long, rows: Seq[(Long, Double, Boolean)]): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 4, deleteCol = Some("_del"), changeFeed = true,
        sortCols = Seq("value"), filesPerBucket = 3)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L to 400L).map(i => (i, (i * 37 % 400).toDouble, false)))
    up(1, (1L to 400L by 3).map(i => (i, -i.toDouble, i % 2 == 0)))
    assertManifestMatchesScan(table, Seq("value"))
    // a batch whose keys all hash to one bucket rewrites only that one;
    // the other three carry their rows from the previous manifest
    val oneBucket = (1L to 400L).toDF("user_id")
      .filter(pmod(xxhash64(col("user_id")), lit(4L)) === 0L)
      .as[Long].collect().take(20)
    val before = inodesByBucket(table)
    up(2, oneBucket.map(k => (k, 1000.0 + k, false)))
    val after = inodesByBucket(table)
    assert(after.count { case (b, ids) =>
      b.startsWith("bkt=") && before.get(b).contains(ids) } === 3,
      "expected exactly one rewritten bucket")
    assertManifestMatchesScan(table, Seq("value"))

    // maintenance rewrites build their manifests through the same step:
    // a full compaction, then one of only the bucket a batch refragments
    // (the other three carry their rows), OPTIMIZE and a rebucket
    assert(Ingest.compactUpsertTable(spark, table, filesOver = 1).nonEmpty)
    assertManifestMatchesScan(table, Seq("value"))
    up(3, oneBucket.map(k => (k, 2000.0 + k, false)))
    assert(Ingest.compactUpsertTable(spark, table, filesOver = 1) === Seq(0))
    assertManifestMatchesScan(table, Seq("value"))
    Ingest.optimizeUpsertTable(spark, table)
    assertManifestMatchesScan(table, Seq("value"))
    Ingest.rebucketUpsertTable(spark, table, 2)
    assertManifestMatchesScan(table, Seq("value"))

    // INT96 timestamps carry no usable footer stats: the footer path
    // must decline and the manifest still equal the scan
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val tsTable = tmp() + "/manifest_int96"
      def upTs(id: Long, rows: Seq[(Long, Long)]): Unit =
        Ingest.upsertParquet(tsTable, Seq("user_id"), nBuckets = 2,
          keepVersions = 4, sortCols = Seq("ts"), filesPerBucket = 2)(
          rows.toDF("user_id", "sec")
            .select(col("user_id"), timestamp_seconds(col("sec")).as("ts")),
          id)
      upTs(0, (1L to 100L).map(i => (i, i * 60)))
      upTs(1, (1L to 100L by 7).map(i => (i, i * 3600)))
      val vDir = new java.io.File(tsTable, currentName(tsTable))
      val files = Option(vDir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bkt=")).flatMap(d =>
          d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getPath, s"${d.getName}/${f.getName}")))
      assert(files.nonEmpty)
      assert(graft.sources.StatsManifest.footerManifestRows(spark, files,
        Seq("ts"), Ingest.readUpsertTable(spark, tsTable).schema).isEmpty,
        "INT96 footers must not serve manifest rows")
      assertManifestMatchesScan(tsTable, Seq("ts"))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("a steady-state sorted commit runs at most 10 Spark jobs, all labeled") {
    import spark.implicits._
    val table = tmp() + "/job_budget"
    // batch ids no other suite uses: the sink's side threads carry no
    // job group, so their jobs are matched by their `b=<id>` label
    def up(id: Long, rows: Seq[(Long, Double, Boolean)]): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 4, deleteCol = Some("_del"), changeFeed = true,
        sortCols = Seq("value"))(rows.toDF("user_id", "value", "_del"), id)
    up(7700000L, (1L to 2000L).map(i => (i, (i * 7919 % 2000).toDouble, false)))
    // the first commit after the bootstrap, then the measured one:
    // updates, inserts and deletes in every bucket
    up(7700001L, (1L to 2000L by 5).map(i => (i, i + 0.5, false)))
    val batchId = 7700002L
    val jobs = org.apache.spark.GraftTestAccess.jobsOf(spark.sparkContext,
        alsoMatch = _.endsWith(s" b=$batchId")) {
      up(batchId, (3L to 2000L by 7).map(i => (i, -i.toDouble, i % 3 == 0)) ++
        (2001L to 2200L).map(i => (i, i.toDouble, false)))
    }.map(_.description)
    val label = s"sink:[a-z-]+ b=$batchId".r
    assert(jobs.forall(label.matches), s"unlabeled sink jobs: $jobs")
    assert(jobs.size <= 10, s"${jobs.size} jobs: ${jobs.sorted.mkString(", ")}")
  }

  test("optimizeUpsertTable: same-count generation rewrite clears debt, keeps layout") {
    import spark.implicits._
    val table = tmp() + "/opt_table"
    def up(id: Long, rows: Seq[(Long, Long, Boolean)]): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        keepVersions = 10, deleteCol = Some("_del"), lazyDeletes = true,
        sortCols = Seq("value"), filesPerBucket = 3)(
        rows.toDF("user_id", "value", "_del"), id)
    up(0, (1L to 120L).map(i => (i, i, false)))
    up(1, Seq((7L, 0L, true), (8L, 0L, true))) // lazy: vector debt
    assert(new java.io.File(table, "v_1/_deletes").isDirectory)
    val before = Ingest.readUpsertTable(spark, table)
      .select("user_id", "value").as[(Long, Long)].collect().toSet
    // the slice bounds come from the old files' footer stats, so no job
    // samples the rows for them: vector read, vector broadcast, shuffle,
    // write, manifest (a sampled layout runs 6)
    val jobs = org.apache.spark.GraftTestAccess.jobsOf(spark.sparkContext)(
      Ingest.optimizeUpsertTable(spark, table))
    assert(jobs.size === 5, jobs.mkString(", "))
    def cur(): java.io.File = new java.io.File(table, currentName(table))
    // new generation of the SAME batch: no batchId minted, debt applied
    assert(cur().getName === "v_1.1", cur().getName)
    assert(!new java.io.File(cur(), "_deletes").exists(),
      "optimize did not apply the deletion vector")
    assert(new java.io.File(cur(), "_stats").isDirectory,
      "optimize dropped the stats manifest")
    assert(Ingest.readUpsertTable(spark, table)
      .select("user_id", "value").as[(Long, Long)].collect().toSet === before)
    // pruned reads still work over the optimized layout
    val pruned = Ingest.readUpsertTableWhere(spark, table,
      Seq(("value", 100L, 110L))).filter(col("value").between(100, 110))
    assert(pruned.inputFiles.length <
      Ingest.readUpsertTable(spark, table).inputFiles.length)
    assert(pruned.count() === 11)
    // meta untouched (count and sort layout preserved); writers continue
    up(2, Seq((9L, 900L, false)))
    assert(Ingest.readUpsertTable(spark, table).count() === 118)
    // optimize again: idempotent protocol, next generation
    Ingest.optimizeUpsertTable(spark, table)
    assert(cur().getName === "v_2.1")
  }

  test("pinned CHECK constraints: reject-batch semantics, ANSI null-passes, immutable") {
    import spark.implicits._
    val table = tmp() + "/cons_table"
    val cons = Seq(
      "value_nonneg" -> "value >= 0",
      "name_not_null" -> "name IS NOT NULL")
    def up(id: Long, cs: Seq[(String, String)], rows: (Long, Double, String)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10, constraints = cs)(
        rows.toDF("user_id", "value", "name"), id)
    up(0, cons, (1L, 1.0, "a"), (2L, 2.0, "b"))
    // a violating batch is rejected WHOLE, blamed by name, writes nothing
    val e = intercept[IllegalArgumentException] {
      up(1, Nil, (3L, -3.0, "c"), (4L, 4.0, null))
    }
    assert(e.getMessage.contains("value_nonneg") &&
      e.getMessage.contains("name_not_null"), e.getMessage)
    assert(Ingest.readUpsertTable(spark, table).count() === 2)
    assert(!store.exists(store.child(table, "v_1")), "rejected batch left a version")
    // ANSI CHECK: a NULL value makes "value >= 0" NULL, which PASSES
    // (only definitively-FALSE violates; NOT NULL must be spelled out)
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 10)(
      Seq((5L, None: Option[Double], "e")).toDF("user_id", "value", "name"), 1L)
    up(2, Nil, (6L, 6.0, "f"))
    assert(Ingest.readUpsertTable(spark, table).count() === 4)
    // the SINK cannot introduce constraints: an unpinned name fails
    // loudly (growth is the explicit, data-validating ALTER path —
    // addTableConstraint); a caller passing a SUBSET of the pinned
    // set (the creation-time list after an ALTER grew it) stays valid
    val e2 = intercept[IllegalArgumentException] {
      up(3, Seq("other" -> "value < 100"), (7L, 7.0, "g"))
    }
    assert(e2.getMessage.contains("ADD CONSTRAINT"), e2.getMessage)
    up(3, cons.take(1), (7L, 7.0, "g")) // subset: fine, pinned set screens
    assert(Ingest.readUpsertTable(spark, table).count() === 5)
    // and cannot start mid-history on an unconstrained table
    val t2 = tmp() + "/cons_late"
    Ingest.upsertParquet(t2, Seq("user_id"), nBuckets = 4)(
      Seq((1L, 1.0, "a")).toDF("user_id", "value", "name"), 0L)
    val e3 = intercept[IllegalArgumentException] {
      Ingest.upsertParquet(t2, Seq("user_id"), nBuckets = 4,
        constraints = cons)(
        Seq((2L, 2.0, "b")).toDF("user_id", "value", "name"), 1L)
    }
    assert(e3.getMessage.contains("mid-history"), e3.getMessage)
  }

  test("concurrent writer detection: a moved CURRENT fails the swap loudly") {
    import spark.implicits._
    val table = tmp() + "/occ_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0))
    up(1, (2L, 2.0)) // CURRENT = v_1; this is the state A merges against
    // Writer A: a wide batch whose merge write takes long enough for a
    // competing commit to land mid-flight. The watcher thread waits for
    // A's write job to START (the _temporary dir inside v_2 appears,
    // which is strictly after A recorded its merge base) and then plays
    // writer B: moves CURRENT. A's swap must then detect the motion,
    // throw, and commit nothing.
    val big = spark.range(200000)
      .select((col("id") + 10).as("user_id"), rand(7).as("value"))
    @volatile var sawInFlight = false
    val watcher = new Thread(() => {
      val tmpDir = new java.io.File(table, "v_2/_temporary")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tmpDir.exists() && System.nanoTime() < deadline)
        Thread.sleep(1)
      // only play writer B if A's write was actually observed in flight
      // — a deadline expiry must fail the test below, not corrupt the
      // table with an unconditional pointer write. B commits through
      // the store's own atomic whole-object put, so A never reads a
      // torn pointer mid-write.
      if (tmpDir.exists()) {
        sawInFlight = true
        store.writeAtomic(table, "CURRENT", "v_0")
      }
    })
    watcher.start()
    val attempt = scala.util.Try {
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 10)(big, 2L)
    }
    watcher.join()
    assert(sawInFlight,
      "watcher never observed A's in-flight write within 30s — the race " +
        "was not exercised (nothing was corrupted; A's merge " +
        (if (attempt.isSuccess) "committed cleanly)" else "failed)"))
    assert(attempt.isFailure,
      "A committed despite B's competing commit — OCC detection missed the race")
    val e = attempt.failed.get
    assert(e.isInstanceOf[java.util.ConcurrentModificationException], e)
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // nothing durable from A: ledger has no batch 2
    val ledger = store.readLog(store.child(table, "_commits")).map(_.trim)
    assert(!ledger.contains("2"), ledger)
    // the surviving pointer still serves a complete committed snapshot
    assert(Ingest.readUpsertTable(spark, table).count() === 1)
  }

  test("occRetries: two interleaved writers both commit, no lost update") {
    import spark.implicits._
    val table = tmp() + "/occ_retry"
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 10)(Seq((1L, 1.0)).toDF("user_id", "value"), 0L)
    // Writer A: a wide batch whose merge write is slow enough for a
    // competing commit to land mid-flight. Writer B: a legitimate
    // second writer committing through the sink while A's write runs.
    // With occRetries, whichever writer loses the pointer CAS re-merges
    // against the winner's snapshot and commits — BOTH batches must
    // land, in either order, with no lost update.
    val big = spark.range(100000)
      .select((col("id") + 100).as("user_id"), rand(11).as("value"))
    @volatile var bErr: Option[Throwable] = None
    @volatile var sawInFlight = false
    val writerB = new Thread(() => {
      try {
        val tmpDir = new java.io.File(table, "v_1/_temporary")
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!tmpDir.exists() && System.nanoTime() < deadline)
          Thread.sleep(1)
        if (tmpDir.exists()) {
          sawInFlight = true
          Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
            keepVersions = 10, occRetries = 2)(
            Seq((2L, 2.0)).toDF("user_id", "value"), 7L)
        }
      } catch { case t: Throwable => bErr = Some(t) }
    })
    writerB.start()
    Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
      keepVersions = 10, occRetries = 2)(big, 1L)
    writerB.join()
    assert(sawInFlight,
      "writer B never observed A's in-flight write — race not exercised")
    assert(bErr.isEmpty, s"writer B failed: $bErr")
    // both commits durable: ledger holds both ids, state holds both rows
    val ledger = store.readLog(store.child(table, "_commits"))
      .map(_.trim.split("\\s+")(0))
    assert(ledger.toSet === Set("0", "1", "7"), ledger)
    val state = Ingest.readUpsertTable(spark, table)
    assert(state.count() === 100002)
    assert(state.filter(col("user_id") === 2L).select("value")
      .as[Double].head() === 2.0)
  }

  test("vacuumUpsertTable: audited sweep of versions, feed slices, scratch") {
    import spark.implicits._
    val table = tmp() + "/vac_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        keepVersions = 10, changeFeed = true)(
        rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0)); up(1, (2L, 2.0)); up(2, (1L, 1.5)); up(3, (3L, 3.0))
    // a crashed partial build and an orphaned pointer tmp to reclaim
    new java.io.File(table, "v_9").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$table/CURRENT.tmp"), "junk")
    // consumers acknowledged through batch 1 → prune feed strictly below 2
    val audit = Ingest.vacuumUpsertTable(spark, table, keepVersions = 2,
      feedBeforeBatch = Some(2L))
      .as[(String, String)].collect().toSet
    assert(audit.contains(("version", "v_9")), audit) // crashed build
    assert(audit.contains(("version", "v_0")) &&
      audit.contains(("version", "v_1")), audit) // beyond retention
    assert(audit.contains(("scratch", "CURRENT.tmp")), audit)
    assert(audit.exists { case (k, n) => k == "feed" && n.startsWith("b0-") }, audit)
    assert(audit.exists { case (k, n) => k == "feed" && n.startsWith("b1-") }, audit)
    // nothing at or above the consumer watermark was touched
    assert(!audit.exists { case (k, n) => k == "feed" && n.startsWith("b2-") }, audit)
    assert(!audit.exists { case (k, n) => k == "feed" && n.startsWith("b3-") }, audit)
    // the table still serves CURRENT and every retained as-of
    assert(Ingest.readUpsertTable(spark, table).count() === 3)
    assert(Ingest.readUpsertTable(spark, table, Some(2L)).count() === 2)
    // change availability for the un-vacuumed suffix is intact
    assert(Ingest.readTableChanges(spark, table, 2, 3)
      .select("_batch_id").distinct().count() === 2)
    // and the pruned prefix fails LOUDLY, never returns a hole
    val e = intercept[IllegalArgumentException] {
      Ingest.readTableChanges(spark, table, 0, 3).collect()
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
    // a second vacuum is a no-op: the audit is empty
    assert(Ingest.vacuumUpsertTable(spark, table, keepVersions = 2,
      feedBeforeBatch = Some(2L)).count() === 0)
  }

  test("describeUpsertTable: ledger-complete history, -1 for swept snapshots") {
    import spark.implicits._
    val table = tmp() + "/hist_table"
    def up(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 2,
        keepVersions = 1)(rows.toDF("user_id", "value"), id)
    up(0, (1L, 1.0))
    up(1, (2L, 2.0))
    up(2, (3L, 3.0))
    val h = Ingest.describeUpsertTable(spark, table)
      .orderBy("batch_id")
      .as[(Long, Boolean, Long, Boolean)].collect().toSeq
    assert(h === Seq(
      (0L, false, -1L, false), // committed, version aged out: history kept
      (1L, false, -1L, false),
      (2L, true, 3L, true)))
  }

  test("RESTORE: new commit equals the as-of snapshot, feed records the " +
    "diff, history and later snapshots stay readable") {
    import spark.implicits._
    val table = tmp() + "/restore_table"
    def up(id: Long, rows: (Long, String, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 8,
        deleteCol = Some("_del"), changeFeed = true)(
        rows.toDF("k", "g", "v", "_del"), id)
    up(0, (1L, "a", 10.0, false), (2L, "b", 20.0, false),
      (3L, "c", 30.0, false))
    up(1, (2L, "b", 25.0, false), (4L, "d", 40.0, false))
    up(2, (1L, "a", 0.0, true), (5L, "e", 50.0, false)) // delete 1, add 5
    def state(asOf: Option[Long] = None): Set[(Long, Double)] =
      Ingest.readUpsertTable(spark, table, asOf)
        .select("k", "v").as[(Long, Double)].collect().toSet
    val at1 = state(Some(1L))
    assert(at1 === Set((1L, 10.0), (2L, 25.0), (3L, 30.0), (4L, 40.0)))
    val preRestore = state()

    val b = Ingest.restoreUpsertTable(spark, table, 1L, keepVersions = 8)
    assert(b === 3L)
    assert(state() === at1, "post-restore CURRENT must equal the target")
    // the feed slice is exactly the diff: re-insert key 1, delete key 5
    val slice = Ingest.readTableChanges(spark, table, b, b)
    val ups = slice
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select("k", "v").as[(Long, Double)].collect().toSet
    val dels = slice.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet
    assert(ups === Set((1L, 10.0)))
    assert(dels === Set(5L))
    // history survives: all four batches described, pre-restore state
    // still time-travelable
    val ids = Ingest.describeUpsertTable(spark, table)
      .select("batch_id").as[Long].collect().toSet
    assert(ids === Set(0L, 1L, 2L, 3L))
    assert(state(Some(2L)) === preRestore)

    // the restore WRITE rides the diff: the only touched buckets are
    // key 1's (re-insert) and key 5's (tombstone) — every other
    // bucket's files are carried forward as links/copies, unchanged
    val touched = spark.sql(
      "SELECT pmod(xxhash64(CAST(1 AS BIGINT)), 4), " +
        "pmod(xxhash64(CAST(5 AS BIGINT)), 4)")
      .head().toSeq.map(_.asInstanceOf[Long]).toSet
    assert(touched.size < 4, "fixture degenerated: every bucket touched")
    (0 until 4).filterNot(bk => touched.contains(bk.toLong)).foreach { bk =>
      val pre = new java.io.File(s"$table/v_2/bkt=$bk")
      val post = new java.io.File(s"$table/v_3/bkt=$bk")
      if (post.exists()) {
        val preIds = Option(pre.listFiles()).getOrElse(Array())
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> fileId(f)).toMap
        Option(post.listFiles()).getOrElse(Array())
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            assert(preIds.get(f.getName).contains(fileId(f)),
              s"untouched bucket $bk was rewritten by the restore")
          }
      }
    }

    // restoring the CURRENT state = empty diff = an EMPTY batch commit
    // (feed contiguity preserved, no hole)
    val b2 = Ingest.restoreUpsertTable(spark, table, 3L, keepVersions = 8)
    assert(b2 === 4L)
    assert(state() === at1)
    assert(Ingest.readTableChanges(spark, table, b2, b2).count() === 0L)

    // a never-committed batch fails loudly
    intercept[IllegalArgumentException] {
      Ingest.restoreUpsertTable(spark, table, 99L)
    }
  }

  test("CLONE: zero-copy snapshot sharing, then full independence") {
    import spark.implicits._
    val src = tmp() + "/clone_src"
    def up(table: String, id: Long, rows: (Long, String, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = 2,
        deleteCol = Some("_del"), lazyDeletes = true, changeFeed = true,
        constraints = Seq("v_nonneg" -> "v >= 0"))(
        rows.toDF("k", "g", "v", "_del"), id)
    up(src, 0, (1L, "a", 10.0, false), (2L, "b", 20.0, false),
      (3L, "c", 30.0, false), (4L, "d", 40.0, false))
    up(src, 1, (2L, "b", 25.0, false), (3L, "c", 0.0, true)) // lazy-delete 3
    val dst = tmp() + "/clone_dst"
    Ingest.cloneUpsertTable(spark, src, dst)
    def state(t: String): Set[(Long, Double)] =
      Ingest.readUpsertTable(spark, t)
        .select("k", "v").as[(Long, Double)].collect().toSet
    // state carried exactly, INCLUDING the pending merge-on-read
    // deletion vector (key 3 stays hidden in the clone)
    val want = Set((1L, 10.0), (2L, 25.0), (4L, 40.0))
    assert(state(src) === want)
    assert(state(dst) === want)
    // zero-copy: every clone data file shares identity (inode under
    // POSIX, content under copy-based stores) with a source file of
    // the same name
    // same part NAME recurs across bucket dirs of one write job, so
    // identity is (parent-dir name, file name) relative to the version
    def rel(f: java.io.File) = s"${f.getParentFile.getName}/${f.getName}"
    val srcFiles = walkFiles(new java.io.File(src))
      .filter(_.getName.endsWith(".parquet"))
      .groupBy(rel)
    val dstData = walkFiles(new java.io.File(dst, "v_0"))
      .filter(_.getName.endsWith(".parquet"))
    assert(dstData.nonEmpty)
    dstData.foreach { f =>
      val cands = srcFiles.getOrElse(rel(f),
        fail(s"clone file ${rel(f)} has no source counterpart"))
      assert(cands.exists(s => fileId(s) == fileId(f)), s"${rel(f)} not shared")
    }
    // clone writes carry NO feed flag (the clone is feed-less)
    def upClone(id: Long, rows: (Long, String, Double, Boolean)*): Unit =
      Ingest.upsertParquet(dst, Seq("k"), nBuckets = 4, keepVersions = 2,
        deleteCol = Some("_del"), lazyDeletes = true)(
        rows.toDF("k", "g", "v", "_del"), id)
    // independence 1: writing the clone leaves the source untouched
    upClone(1, (5L, "e", 50.0, false))
    assert(state(dst) === want + ((5L, 50.0)))
    assert(state(src) === want)
    // independence 2: the source moving on (and sweeping the cloned
    // version under keepVersions=2 pressure) never corrupts the clone
    up(src, 2, (6L, "f", 60.0, false))
    up(src, 3, (7L, "g", 70.0, false))
    assert(state(dst) === want + ((5L, 50.0)))
    // pinned constraints travel: the clone rejects a violating batch
    val e = intercept[IllegalArgumentException] {
      upClone(2, (9L, "x", -1.0, false))
    }
    assert(e.getMessage.contains("v_nonneg"), e.getMessage)
    // the change feed does NOT travel (a feed cannot start mid-history
    // on a zero-copy batch 0) — reading it fails loudly
    intercept[IllegalArgumentException] {
      Ingest.readTableChanges(spark, dst, 0L, 0L)
    }
    // a second clone onto an existing table fails loudly
    intercept[IllegalArgumentException] {
      Ingest.cloneUpsertTable(spark, src, dst)
    }
  }

  test("WAP: branch, audit on the branch, publish the diff; conflicts " +
    "detected, force merges, republish is a no-op") {
    import spark.implicits._
    val src = tmp() + "/wap_src"
    // the source is feed-bearing; branches are feed-less (clone
    // semantics: a feed cannot start on a zero-copy batch 0)
    def upAs(feed: Boolean)(table: String, id: Long, keep: Int,
                            rows: (Long, String, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("k"), nBuckets = 4, keepVersions = keep,
        deleteCol = Some("_del"), changeFeed = feed,
        constraints = Seq("v_nonneg" -> "v >= 0"))(
        rows.toDF("k", "g", "v", "_del"), id)
    def up(table: String, id: Long, keep: Int,
           rows: (Long, String, Double, Boolean)*): Unit =
      upAs(feed = true)(table, id, keep, rows: _*)
    def upBr(table: String, id: Long, keep: Int,
             rows: (Long, String, Double, Boolean)*): Unit =
      upAs(feed = false)(table, id, keep, rows: _*)
    up(src, 0, 8, (1L, "a", 10.0, false), (2L, "b", 20.0, false),
      (3L, "c", 30.0, false))
    up(src, 1, 8, (4L, "d", 40.0, false))
    def state(t: String): Set[(Long, Double)] =
      Ingest.readUpsertTable(spark, t)
        .select("k", "v").as[(Long, Double)].collect().toSet

    val br = tmp() + "/wap_branch"
    assert(Ingest.branchUpsertTable(spark, src, br) === 1L)
    // publishing an untouched branch mints nothing
    assert(Ingest.publishUpsertTable(spark, br).isEmpty)
    assert(Ingest.committedBatchIds(src) === Set(0L, 1L))

    // the risky batch lands on the BRANCH: update 2, delete 3, insert 5
    upBr(br, 1, 8, (2L, "b", 25.0, false), (3L, "c", 0.0, true),
      (5L, "e", 50.0, false))
    // pinned constraints traveled with the branch: the audit gate is
    // already screening branch writes
    intercept[IllegalArgumentException] { upBr(br, 2, 8, (9L, "x", -1.0, false)) }
    val audited = state(br)
    assert(audited === Set((1L, 10.0), (2L, 25.0), (4L, 40.0), (5L, 50.0)))
    assert(state(src) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)),
      "branch writes must not leak into the source")

    // publish: exactly one new committed batch; source == audited state
    assert(Ingest.publishUpsertTable(spark, br, keepVersions = 8)
      === Some(2L))
    assert(state(src) === audited)
    // the source's feed slice for the publish batch is exactly the diff
    val slice = Ingest.readTableChanges(spark, src, 2L, 2L)
    assert(slice.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("k", "v").as[(Long, Double)].collect().toSet
      === Set((2L, 25.0), (5L, 50.0)))
    assert(slice.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet === Set(3L))
    // re-publish converges: no duplicate batch
    assert(Ingest.publishUpsertTable(spark, br).isEmpty)
    assert(Ingest.committedBatchIds(src) === Set(0L, 1L, 2L))

    // conflict: the source advances after the fork → publish refuses
    val br2 = tmp() + "/wap_branch2"
    assert(Ingest.branchUpsertTable(spark, src, br2) === 2L)
    upBr(br2, 1, 8, (1L, "a", 11.0, false), (4L, "d", 0.0, true))
    up(src, 3, 8, (6L, "f", 60.0, false), (1L, "a", 12.0, false))
    intercept[java.util.ConcurrentModificationException] {
      Ingest.publishUpsertTable(spark, br2, keepVersions = 8)
    }
    // force = MERGE: the branch's own changes win on contested keys
    // (1: branch 11.0 over src 12.0; 4: branch delete), the source's
    // concurrent uncontested key 6 survives
    assert(Ingest.publishUpsertTable(spark, br2, keepVersions = 8,
      force = true) === Some(4L))
    assert(state(src) ===
      Set((1L, 11.0), (2L, 25.0), (5L, 50.0), (6L, 60.0)))

    // a plain clone is not publishable; a forced publish of an
    // untouched conflicted branch is a no-op
    val dst = tmp() + "/wap_clone"
    Ingest.cloneUpsertTable(spark, src, dst)
    intercept[IllegalArgumentException] {
      Ingest.publishUpsertTable(spark, dst)
    }
    val br3 = tmp() + "/wap_branch3"
    Ingest.branchUpsertTable(spark, src, br3)
    up(src, 5, 8, (7L, "g", 70.0, false))
    assert(Ingest.publishUpsertTable(spark, br3, force = true).isEmpty)
  }

  test("DML: deleteWhere tombstones matches, updateWhere rewrites " +
    "changed rows only, no-ops mint nothing, key assignment refused") {
    import spark.implicits._
    val t = tmp() + "/dml_table"
    def up(id: Long, rows: (Long, String, Double)*): Unit =
      Ingest.upsertParquet(t, Seq("k"), nBuckets = 4, keepVersions = 8,
        changeFeed = true)(rows.toDF("k", "g", "v"), id)
    up(0, (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
    def state(): Map[Long, (String, Double)] =
      Ingest.readUpsertTable(spark, t)
        .select("k", "g", "v").as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

    // UPDATE: only matched rows change; the minted batch is exactly one
    val u = Ingest.updateWhere(spark, t,
      Seq("v" -> "v * 2"), "g = 'a'", keepVersions = 8)
    assert(u === Some((1L, 2L)))
    val ub = u.get._1
    assert(state() === Map(1L -> ("a", 20.0), 2L -> ("b", 20.0),
      3L -> ("a", 60.0), 4L -> ("c", 40.0)))
    // the feed slice carries exactly the two updated keys
    val uSlice = Ingest.readTableChanges(spark, t, ub, ub)
    assert(uSlice.filter(col("_change_type") === "update_postimage")
      .select("k").as[Long].collect().toSet === Set(1L, 3L))

    // a no-op UPDATE (assignments produce current values) mints NOTHING
    assert(Ingest.updateWhere(spark, t,
      Seq("v" -> "v * 1"), "g = 'a'", keepVersions = 8).isEmpty)
    assert(Ingest.committedBatchIds(t) === Set(0L, 1L))
    // ...and neither does an UPDATE matching no rows
    assert(Ingest.updateWhere(spark, t,
      Seq("v" -> "v * 2"), "g = 'zzz'", keepVersions = 8).isEmpty)

    // key columns cannot be assigned
    intercept[IllegalArgumentException] {
      Ingest.updateWhere(spark, t, Seq("k" -> "k + 100"), "true")
    }

    // DELETE: tombstones ride the sink; the feed records them
    val d = Ingest.deleteWhere(spark, t, "v >= 40.0", keepVersions = 8)
    assert(d === Some((2L, 2L)))
    val db = d.get._1
    assert(state() === Map(1L -> ("a", 20.0), 2L -> ("b", 20.0)))
    assert(Ingest.readTableChanges(spark, t, db, db)
      .filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet === Set(3L, 4L))
    // nothing matches → nothing minted
    assert(Ingest.deleteWhere(spark, t, "v > 1e9").isEmpty)
    assert(Ingest.committedBatchIds(t) === Set(0L, 1L, 2L))

    // history: pre-DML state stays time-travelable
    assert(Ingest.readUpsertTable(spark, t, Some(0L)).count() === 4)
  }

  test("selective COMPACT rides the debt: only fragmented/debt buckets rewrite") {
    import spark.implicits._
    val t = tmp() + "/compact_table"
    // bucket assignment the sink will use (pmod(xxhash64(k), 8))
    val bucketOfKey: Map[Long, Int] = spark.range(0, 400)
      .select(col("id"), pmod(xxhash64(col("id")), lit(8L)).cast("int").as("b"))
      .as[(Long, Int)].collect().toMap
    val byBucket = bucketOfKey.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
    // two DENSE buckets (many keys → many range slices), one SPARSE
    // bucket with a single key (1 file, will carry), rest empty
    val denseB = byBucket.filter(_._2.size >= 30).keys.toSeq.sorted.take(2)
    val sparseB = byBucket.keys.toSeq.sorted
      .filterNot(denseB.contains).head
    val dense = denseB.flatMap(b => byBucket(b).take(30))
    val sparseKey = byBucket(sparseB).head
    def up(id: Long, rows: Seq[(Long, Double, Boolean)]): Unit =
      Ingest.upsertParquet(t, Seq("k"), nBuckets = 8, keepVersions = 2,
        deleteCol = Some("_del"), lazyDeletes = true,
        sortCols = Seq("k"), filesPerBucket = 4)(
        rows.toDF("k", "v", "_del"), id)
    up(0, (dense :+ sparseKey).map(k => (k, k * 1.0, false)))
    // delete-only batch: the vector takes the debt, no bucket rewrite
    up(1, Seq((sparseKey, 0.0, true)))

    def filesPerBucket(v: String): Map[Int, Seq[java.io.File]] =
      (0 until 8).flatMap { b =>
        val d = new java.io.File(s"$t/$v/bkt=$b")
        Option(d.listFiles()).map(fs => b ->
          fs.filter(_.getName.endsWith(".parquet")).toSeq)
      }.toMap
    val before = filesPerBucket("v_1")
    val fragmented = before.collect { case (b, fs) if fs.size > 2 => b }.toSet
    assert(fragmented.nonEmpty, s"premise: no fragmented bucket in " +
      before.view.mapValues(_.size).toMap.toString)
    val carriedExpected = before.keySet -- fragmented - sparseB
    assert(carriedExpected.nonEmpty || before(sparseB).size <= 2,
      "premise: nothing left to carry")
    val expectRewrite = (fragmented + sparseB).toSeq.sorted

    val rewritten = Ingest.compactUpsertTable(spark, t, filesOver = 2)
    assert(rewritten === expectRewrite)
    // each rewritten bucket collapses to exactly one file; the sparse
    // bucket's only key was deleted, so it keeps none
    val compacted = filesPerBucket("v_1.1")
    fragmented.foreach(b => assert(compacted.get(b).map(_.size) === Some(1),
      s"bucket $b: ${compacted.get(b).map(_.map(_.getName))}"))
    assert(compacted.get(sparseB).forall(_.isEmpty))
    // state: all dense keys live, the deleted key stays gone
    val got = Ingest.readUpsertTable(spark, t)
      .select("k").as[Long].collect().toSet
    assert(got === dense.toSet)
    // the vector drained PHYSICALLY: no _deletes in the new generation
    assert(!new java.io.File(s"$t/v_1.1/_deletes").exists())
    // carried buckets share file identity; rewritten ones are fresh
    carriedExpected.foreach { b =>
      val pre = before(b).map(f => f.getName -> fileId(f)).toMap
      filesPerBucket("v_1.1")(b).foreach { f =>
        assert(pre.get(f.getName).contains(fileId(f)),
          s"carried bucket $b was rewritten")
      }
    }
    // the manifest covers exactly the new generation's data files
    val manDir = s"$t/v_1.1/${graft.sources.StatsManifest.ManifestDir}"
    val manFiles = spark.read.parquet(manDir)
      .select("file").as[String].collect().toSet
    val diskFiles = filesPerBucket("v_1.1").values.flatten
      .map(_.getAbsolutePath).toSet
    // fresh rows recorded version-relative at write; carried rows
    // remapped onto the new version segment (both resolve under v_1.1)
    assert(manFiles.map(f =>
        new java.io.File(s"$t/v_1.1", f).getAbsolutePath) === diskFiles,
      "manifest out of sync with the compacted generation")
    // nothing left to do: a second pass is a true no-op (no new gen)
    assert(Ingest.compactUpsertTable(spark, t, filesOver = 2) === Nil)
    assert(new java.io.File(s"$t/v_1.1").exists())
    assert(!new java.io.File(s"$t/v_1.2").exists())
  }

  test("multi-table txn: snapshot reads are all-or-nothing; recovery rolls forward") {
    import spark.implicits._
    import graft.sources.MultiCommit
    import graft.sources.MultiCommit.TxnPart
    val base = tmp()
    val (a, b, coord) = (s"$base/a", s"$base/b", s"$base/coord")
    def upA(id: Long, rows: (Long, Double)*): Unit =
      Ingest.upsertParquet(a, Seq("k"), nBuckets = 2, keepVersions = 8)(
        rows.toDF("k", "v"), id)
    def upB(id: Long, rows: (Long, String)*): Unit =
      Ingest.upsertParquet(b, Seq("k"), nBuckets = 2, keepVersions = 8)(
        rows.toDF("k", "s"), id)
    def stateA(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.select("k", "v").as[(Long, Double)].collect().toMap

    val t0 = MultiCommit.commit(coord, Seq(
      TxnPart(a, 0L, () => upA(0, (1L, 1.0))),
      TxnPart(b, 0L, () => upB(0, (1L, "x")))))
    assert(MultiCommit.snapshot(coord) === Map(a -> 0L, b -> 0L))
    assert(stateA(MultiCommit.read(spark, coord, a)) === Map(1L -> 1.0))

    // txn 1 tears: A commits, then B's write dies before committing
    val boom = intercept[RuntimeException] {
      MultiCommit.commit(coord, Seq(
        TxnPart(a, 1L, () => upA(1, (2L, 2.0))),
        TxnPart(b, 1L, () => throw new RuntimeException("crash before B"))))
    }
    assert(boom.getMessage.contains("crash before B"))
    // direct read of A is read-committed (sees the new batch)…
    assert(stateA(Ingest.readUpsertTable(spark, a)) ===
      Map(1L -> 1.0, 2L -> 2.0))
    // …but the coordinator snapshot still serves the pre-txn pair
    assert(MultiCommit.snapshot(coord) === Map(a -> 0L, b -> 0L))
    assert(stateA(MultiCommit.read(spark, coord, a)) === Map(1L -> 1.0))

    // recovery = re-running the same txn: adopts the SAME txn id,
    // A's part no-ops (already committed), B's fills the gap
    val t1 = MultiCommit.commit(coord, Seq(
      TxnPart(a, 1L, () => upA(1, (2L, 2.0))),
      TxnPart(b, 1L, () => upB(1, (2L, "y")))))
    assert(t1 === t0 + 1)
    assert(MultiCommit.snapshot(coord) === Map(a -> 1L, b -> 1L))
    assert(stateA(MultiCommit.read(spark, coord, a)) ===
      Map(1L -> 1.0, 2L -> 2.0))
    assert(MultiCommit.read(spark, coord, b).count() === 2L)

    // a part that returns without committing its batch is miswired
    val e = intercept[IllegalArgumentException] {
      MultiCommit.commit(coord, Seq(TxnPart(a, 7L, () => ())))
    }
    assert(e.getMessage.contains("miswired"), e.getMessage)
    // an uncovered table fails loudly at snapshot read
    intercept[IllegalArgumentException] {
      MultiCommit.read(spark, coord, s"$base/nope")
    }
  }

  private def walkFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) walkFiles(f) else Seq(f)
    }
}

/** The battery against POSIX control-plane semantics (today's exact
  * production path): O_APPEND ledgers, tmp+rename pointer swaps,
  * hard-link version sharing — inode identity pins the zero-I/O
  * sharing contract.
  */
class IngestSpec extends IngestSuiteBase {
  implicit def store: graft.sources.TableStore = graft.sources.LocalTableStore

  test("compaction carries each linked file's checksum sidecar") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-ingest").toString + "/compact_crc"
    def up(id: Long, rows: Seq[(Long, Double, Boolean)]): Unit =
      Ingest.upsertParquet(t, Seq("k"), nBuckets = 4, keepVersions = 2,
        deleteCol = Some("_del"), lazyDeletes = true, sortCols = Seq("k"))(
        rows.toDF("k", "v", "_del"), id)
    up(0, (1L to 200L).map(k => (k, k.toDouble, false)))
    // a lazy delete leaves debt in one bucket: compaction rewrites it and
    // carries the other three by link
    up(1, Seq((7L, 0.0, true)))
    def parts(v: String): Map[String, Seq[java.io.File]] =
      Option(new java.io.File(t, v).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bkt=")).map(d => d.getName ->
          d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))).toMap
    def sidecar(f: java.io.File): java.io.File =
      new java.io.File(f.getParentFile, s".${f.getName}.crc")
    assert(parts("v_1").values.flatten.forall(sidecar(_).isFile),
      "premise: the writer left no checksum sidecars")
    val rewritten = Ingest.compactUpsertTable(spark, t, filesOver = 100)
    assert(rewritten.size === 1)
    val carried = parts("v_1.1") -- rewritten.map(b => s"bkt=$b")
    assert(carried.size === 3)
    carried.values.flatten.foreach(f =>
      assert(sidecar(f).isFile, s"carried $f lost its checksum sidecar"))
    assert(Ingest.readUpsertTable(spark, t).count() === 199)
  }
  def posixLinks: Boolean = true
  def fileId(f: java.io.File): String =
    java.nio.file.Files.getAttribute(f.toPath, "unix:ino").toString
  def tearLedger(table: String): Unit = {
    // a crash mid-append leaves a torn trailing line (no newline); the
    // NEXT append concatenates onto it — both must parse defensively
    val ledger = java.nio.file.Paths.get(table, "_commits")
    java.nio.file.Files.writeString(ledger,
      java.nio.file.Files.readString(ledger) + "9",
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
  }
  def dropLedgerEntry(table: String, batchId: Long): Unit = {
    val ledger = java.nio.file.Paths.get(table, "_commits")
    val kept = new java.util.ArrayList[String]()
    java.nio.file.Files.readAllLines(ledger)
      .forEach(l =>
        if (l.trim.split("\\s+")(0) != batchId.toString) kept.add(l))
    java.nio.file.Files.write(ledger, kept)
  }
}

/** The same battery against the STRICT object-store double
  * ([[graft.sources.ObjectTableStore]]): control objects live only in
  * memory (a seam bypass reads nothing and fails loudly), ledgers are
  * one object per entry, pointer swaps are conditional puts, version
  * sharing is server-side copies. Green here = the format's
  * crash-safety and sharing semantics survive losing every POSIX
  * crutch — the S3/HDFS portability claim, machine-checked.
  */
class IngestObjectStoreSpec extends IngestSuiteBase {
  private val objStore = new graft.sources.ObjectTableStore
  implicit def store: graft.sources.TableStore = objStore
  def posixLinks: Boolean = false
  def fileId(f: java.io.File): String = md5(f)
  def tearLedger(table: String): Unit =
    // no append on an object store — the torn-line analogue is a
    // foreign/garbage ledger OBJECT, which must parse as "uncommitted"
    objStore.appendLog(objStore.child(table, "_commits"), "torn#garbage")
  def dropLedgerEntry(table: String, batchId: Long): Unit =
    objStore.dropLogEntries(objStore.child(table, "_commits"),
      batchId.toString)
}
/** The same battery through [[graft.sources.HadoopTableStore]] — the
  * REAL-WIRE remote control plane (Hadoop `FileSystem` API: the exact
  * code path an `hdfs://` production deployment runs), bound here to
  * `file:///` because the sandbox has no network: URI resolution,
  * FileContext OVERWRITE renames, object-per-entry ledgers and the
  * marker-last manual tree delete are all exercised for real; only
  * the `FileSystem` implementation behind the API differs in
  * production. Copy-based sharing ⇒ the object-store (`posixLinks =
  * false`, content-digest file identity) regime.
  */
class IngestHadoopSpec extends IngestSuiteBase {
  private val hStore = new graft.sources.HadoopTableStore()
  implicit def store: graft.sources.TableStore = hStore
  def posixLinks: Boolean = false
  def fileId(f: java.io.File): String = md5(f)
  def tearLedger(table: String): Unit =
    // object-per-entry ledger: the torn-line analogue is a garbage
    // entry object, which must parse as "uncommitted"
    hStore.appendLog(hStore.child(table, "_commits"), "torn#garbage")
  def dropLedgerEntry(table: String, batchId: Long): Unit =
    hStore.dropLogEntries(hStore.child(table, "_commits"),
      batchId.toString)
}

/** The upsert format against a REAL remote filesystem over the wire —
  * env-gated like the MySQL smoke: set GRAFT_REMOTE_FS_URL to a
  * Spark-readable directory URL on a live cluster filesystem
  * (e.g. hdfs://namenode:8020/tmp/graft-smoke) and the smoke runs the
  * format end-to-end through [[graft.sources.HadoopTableStore]] with
  * BOTH planes remote: control objects (pointer CAS, per-entry
  * ledger, meta) and Spark parquet data land on the same remote
  * scheme. Without the env var (this container has zero egress) the
  * test CANCELS — skipped, never failed. The full battery
  * ([[IngestHadoopSpec]]) already exercises the identical code path
  * bound to file://; this smoke is the wire-level lights-on check.
  */
class IngestRemoteFsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("upsert format over a remote FileSystem (env-gated: GRAFT_REMOTE_FS_URL)") {
    import spark.implicits._
    val urlOpt = sys.env.get("GRAFT_REMOTE_FS_URL")
    assume(urlOpt.nonEmpty,
      "GRAFT_REMOTE_FS_URL not set — no remote filesystem in this environment")
    val url = urlOpt.get.stripSuffix("/")
    implicit val store: graft.sources.TableStore =
      new graft.sources.HadoopTableStore(
        spark.sparkContext.hadoopConfiguration)
    val table = s"$url/t${System.nanoTime()}"
    def up(id: Long, rows: (Long, Double, Boolean)*): Unit =
      Ingest.upsertParquet(table, Seq("user_id"), nBuckets = 4,
        keepVersions = 2, deleteCol = Some("_del"), changeFeed = true)(
        rows.toDF("user_id", "value", "_del"), id)
    try {
      up(0, (1L, 1.0, false), (2L, 2.0, false))
      up(1, (1L, 11.0, false), (3L, 3.0, false), (2L, 0.0, true))
      val state = Ingest.readUpsertTable(spark, table)
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(state === Map(1L -> 11.0, 3L -> 3.0))
      assert(Ingest.readUpsertTable(spark, table, asOfBatch = Some(0L))
        .count() === 2)
      assert(Ingest.readTableChanges(spark, table, 1, 1).count() === 4)
      // replay is a no-op over the wire too
      up(1, (1L, 11.0, false), (3L, 3.0, false), (2L, 0.0, true))
      assert(Ingest.readUpsertTable(spark, table).count() === 2)
    } finally store.deleteTree(table)
  }
}
