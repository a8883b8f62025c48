package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables

/** Connected-components cluster collapse: known-graph results,
  * idempotence of keepRepresentative, and pipeline invariants on the
  * fixture near-dup graph.
  */
class DedupClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def pairsDf(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.toDF("doc1", "doc2")
  }

  test("components of path, triangle, and disjoint edges") {
    // path 1-2-3-4, triangle 10-11-12 (as edges), isolated edge 20-21
    val pairs = pairsDf((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain converges (pointer jumping beats O(diameter))") {
    // a 64-node path needs 64 rounds under plain propagation; pointer
    // jumping must close it within the default maxIters=25 (~log2)
    val pairs = pairsDf((0L until 63L).map(i => (i, i + 1)): _*)
    val comps = Dedup.connectedComponents(pairs).collect()
    assert(comps.length === 64)
    assert(comps.forall(_.getLong(1) == 0L))
  }

  test("CC job count stays bounded (no per-iteration job storm)") {
    // the r2 implementation issued ~5 materializing actions per round
    // plus per-jump probes (a job storm that was ~1/3 of bench time);
    // the rewrite's contract is ONE job per round + setup/resolution.
    // Guard it with a listener so a regression fails loudly.
    // scoped to this test's job group: sbt may run other suites
    // concurrently on the shared session, and their jobs must not
    // inflate the count
    val jobs = org.apache.spark.GraftTestAccess.jobsOf(spark.sparkContext) {
      // 32-node path: adversarial chain shape, ~log rounds
      val pairs = pairsDf((0L until 31L).map(i => (i, i + 1)): _*)
      val comps = Dedup.connectedComponents(pairs)
      assert(comps.count() === 32)
    }
    // budget: 1 initial count + <=rounds counts + resolution rounds +
    // final checkpoint + the consuming count; a path of 32 closes in
    // ~4 rounds with 2 jumps/round, so 20 is generous — the r2 storm
    // was 35+ on this shape
    assert(jobs.size <= 20, s"jobs=${jobs.size}")
  }

  test("durable checkpointing changes nothing but the lineage") {
    // the cluster posture (SCALE.md): checkpoint edges every few rounds
    // so executor loss late in the fixpoint replays a bounded number of
    // rounds. The knob must be a pure performance/durability choice —
    // identical labels with it on, on an adversarial (deep) graph that
    // actually crosses several checkpoint boundaries.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toFile
    try {
      val pairs = pairsDf(((0L until 63L).map(i => (i, i + 1)) ++
        Seq((100L, 101L), (101L, 102L))): _*)
      val plain = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ckpt = Dedup.connectedComponents(pairs,
          checkpointEvery = 2, checkpointDir = Some(dir.getAbsolutePath))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ckpt === plain)
      // the checkpoint ran (the context created its run dir under ours)
      // and the run's edge snapshots were deleted once the result
      // materialized — durable storage must not grow per dedup build
      def anyFiles(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFiles))
      assert(Option(dir.listFiles()).exists(_.nonEmpty),
        "checkpointEvery=2 never initialized a checkpoint dir")
      assert(!anyFiles(dir),
        "checkpoint snapshots were not cleaned up after the fixpoint")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("null-endpoint pairs are dropped, not an executor NPE") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None),
      (Some(4L), Some(5L))).toDF("doc1", "doc2")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 appears only in a null edge → not in the graph at all
    assert(comps === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("CC matches a union-find reference on randomized graphs") {
    // fixed-graph tests pin known shapes; this pins the general
    // contract on 20 seeded-random graphs (deterministic seeds — no
    // flaky reruns) against an in-memory union-find ground truth
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = 2 + rng.nextInt(60)
      val nEdges = rng.nextInt(2 * n)
      val edges = Seq.fill(nEdges)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // union-find with min-id labels
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        val got = Dedup.connectedComponents(pairsDf(edges: _*))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"trial $trial: n=$n edges=$edges")
      }
    }
  }

  test("keepRepresentative keeps min-id per cluster plus all singletons") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"d$i")).toDF("doc_id", "payload")
    val pairs = pairsDf((2L, 3L), (3L, 5L), (7L, 8L))
    val kept = Dedup.keepRepresentative(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    // clusters {2,3,5}→keep 2, {7,8}→keep 7; singletons 1,4,6 survive
    assert(kept === Array(1L, 2L, 4L, 6L, 7L))
  }

  test("keepRepresentative is idempotent on the fixture near-dup graph") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "lang")
    val pairs = TextOps.jaccardPairs(spark, sf, 0.9).select("doc1", "doc2")
      .localCheckpoint()
    val kept = Dedup.keepRepresentative(docs, pairs).localCheckpoint()
    // every surviving pair would need both endpoints kept — but each
    // cluster keeps exactly one endpoint, so the restricted graph is empty
    val keptIds = kept.select(col("doc_id").as("k"))
    val survivingPairs = pairs
      .join(keptIds, pairs("doc1") === col("k")).drop("k")
      .join(keptIds, pairs("doc2") === col("k"))
    assert(survivingPairs.isEmpty)
    // second application with the (empty) restricted pair graph = no-op
    val again = Dedup.keepRepresentative(kept, survivingPairs.select("doc1", "doc2"))
    assert(again.count() === kept.count())
    // and cluster count + singletons = kept count
    val comps = Dedup.connectedComponents(pairs)
    val nClusters = comps.select("comp").distinct().count()
    val nInPairs = comps.count()
    val nDocs = docs.count()
    assert(kept.count() === nDocs - nInPairs + nClusters)
  }
}
