package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Properties of the near-dup / similarity operators that have no SQL
  * oracle: minhash estimates Jaccard, LSH recalls brute-force topk.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("minhash signature estimates jaccard within 0.2 on sampled pairs") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), array_distinct(split(trim(col("text")), " +")).as("toks"))
    val sigs = TextOps.minhashSignatures(docs)
    // exact jaccard for a fixed set of pairs
    val exact = TextOps.jaccardPairs(spark, sf, 0.0)
      .filter(col("doc1") < 10 && col("doc2") < 30)
    val est = exact
      .join(sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1")), Seq("doc1"))
      .join(sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2")), Seq("doc2"))
      .withColumn("est",
        aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x)
          .cast("double") / TextOps.numHashes)
      .select("jaccard", "est").collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2,
        s"jaccard=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
  }

  test("minhash LSH candidates recall pairs with jaccard >= 0.9") {
    val strong = TextOps.jaccardPairs(spark, sf, 0.9)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = TextOps.qMinhashLsh.run(spark, sf)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 bands × 8 rows: P(candidate | s=0.9) = 1-(1-0.9^8)^8 ≈ 0.99;
    // require 85% recall of strong pairs (deterministic given fixed data)
    if (strong.nonEmpty) {
      val recall = strong.count(cands.contains).toDouble / strong.size
      assert(recall >= 0.85, s"LSH recall $recall over ${strong.size} strong pairs")
    }
  }

  test("simhash: identical docs get identical signatures; signature deterministic") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), array_distinct(split(trim(col("text")), " +")).as("toks"))
    val s1 = TextOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = TextOps.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 === s2)
    assert(s1.size === docs.count())
  }

  test("cosine: self-similarity is 1, symmetric") {
    val e = Tables.load(spark, sf, "embeddings").limit(20)
    val self = e.select(round(VectorOps.cosine(col("embedding"), col("embedding")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("ab"),
        VectorOps.cosine(col("b.embedding"), col("a.embedding")).as("ba"))
      .collect()
    pairs.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("LSH topk: bucketing only ever removes candidates (sim ⊆ brute force universe)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val brute = VectorOps.topK(emb.filter(col("vec_id") < 10), emb, 5)
      .select("probe_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = VectorOps.topKLsh(emb, col("vec_id") < 10, 5).collect()
    // every LSH result's sim must equal the brute-force sim for that pair
    lsh.foreach { r =>
      val key = (r.getLong(r.fieldIndex("probe_id")), r.getLong(r.fieldIndex("neighbor_id")))
      brute.get(key).foreach(s => assert(math.abs(s - r.getDouble(r.fieldIndex("sim"))) < 1e-9))
    }
    assert(lsh.nonEmpty)
  }

  test("shingles are order-sensitive where token sets are not") {
    import spark.implicits._
    // same token multiset, different order: set jaccard = 1, shingle
    // jaccard < 1 — the property that makes shingle minhash the right
    // unit for copy-paste-with-edits corpora
    val df = Seq((1L, "a b c d e f"), (2L, "f e d c b a")).toDF("doc_id", "text")
      .select(col("doc_id"),
        array_distinct(split(trim(col("text")), " +")).as("toks"))
    val sh = df.select(col("doc_id"),
      array_distinct(TextOps.shingles(col("toks"))).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sh(1L).intersect(sh(2L)).isEmpty) // reversed order: no common 3-shingle
    // short doc (< w tokens) yields one whole-document shingle, not empty
    val short = Seq((3L, "x y")).toDF("doc_id", "text")
      .select(array_distinct(TextOps.shingles(
        split(trim(col("text")), " +"))).as("sh")).first().getSeq[String](0)
    assert(short === Seq("x y"))
  }

  test("shingle minhash estimates exact shingle jaccard within 0.2") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(
          split(trim(col("text")), " +"))).as("sh"))
    val sigs = TextOps.minhashSignatures(docs.withColumnRenamed("sh", "toks"))
    // exact shingle jaccard for a small fixed pair set, computed from
    // the same shingle arrays the signatures hash
    val a = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("doc1"), col("sh").as("sh1"))
    val b = docs.filter(col("doc_id") < 30)
      .select(col("doc_id").as("doc2"), col("sh").as("sh2"))
    val exact = a.join(b, col("doc1") < col("doc2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
    val est = exact
      .join(sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1")), Seq("doc1"))
      .join(sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2")), Seq("doc2"))
      .withColumn("est",
        aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / TextOps.numHashes)
      .select("jac", "est").collect()
    assert(est.nonEmpty)
    est.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2,
        s"jac=${r.getDouble(0)} est=${r.getDouble(1)}"))
  }

  test("fused LshSignature expression = functional composition, bit for bit") {
    val emb = Tables.load(spark, sf, "embeddings")
    val cmp = emb.select(
      VectorOps.lshSignature(col("embedding"), 8).as("fused"),
      VectorOps.lshSignatureReference(col("embedding"), 8).as("ref"))
    assert(cmp.filter(col("fused") =!= col("ref")).count() === 0)
    assert(cmp.count() > 0)
  }

  test("banded simhash pairs = brute-force hamming pairs (recall exactly 1)") {
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), array_distinct(split(trim(col("text")), " +")).as("toks"))
    val sh = TextOps.simhash(docs)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"), col("hamming"))
    val banded = TextOps.simhashPairs(docs)
    // pigeonhole: hamming<=3 over 4 chunks forces >=1 equal chunk, so the
    // banded candidate set loses NOTHING vs brute force — exact equality
    assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty)
    assert(brute.count() === banded.count())
  }

  test("banded exact cosine pairs = all-pairs baseline, and pruning prunes") {
    val emb = Tables.load(spark, sf, "embeddings")
    // identity of the RESULT SET with the quadratic baseline, in-engine
    // (the oracle checks it too, but at one threshold/planing — pin a
    // second threshold AND a different plane count so the contract is
    // neither fixture-threshold- nor cell-granularity-specific; planes=4
    // also drives the generalized LshSignature plane-count argument
    // through the whole pipeline)
    for ((t, planes) <- Seq((0.3, 8), (0.6, 8), (0.6, 4))) {
      val banded = VectorOps.embedNearDupBanded(emb, t, numPlanes = planes)
        .select("id1", "id2", "sim")
      val brute = {
        val e = emb
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("sim", round(graft.functions.GraftFunctions.cosineSim(
            col("a.embedding"), col("b.embedding")), 6))
          .filter(col("sim") >= t)
          .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"), col("sim"))
      }
      assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
        s"banded != brute at threshold $t, planes $planes")
    }
    // the ball-cover bound must actually cut cell pairs, not just
    // reshuffle the same quadratic work behind bucket keys
    val cells = VectorOps.embedCells(emb).cache()
    try {
      val perLabel = cells.groupBy("label").agg(count(lit(1)).as("k"))
        .agg(sum(col("k") * (col("k") + 1) / 2)).collect()(0)
        .getDouble(0).toLong
      val kept = VectorOps.embedCellPairs(cells, 0.6).count()
      assert(kept < perLabel,
        s"pruning kept all $kept of $perLabel same-label cell pairs")
    } finally { cells.unpersist(); () }
  }

  test("int8 quantization: zero vector stays zero, sims within bound") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),          // degenerate: must not 0/0
      (2L, Array(0.5f, -0.25f, 0.125f)),
      (3L, Array(1e-4f, 2e-4f, -3e-4f))        // tiny magnitudes still scale
    ).toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(df, "embedding", "qv")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(q(1L).forall(_ == 0.0f))
    assert(q(2L) === Seq(127.0f, -64.0f, 32.0f)) // exact powers of two
    // per-vector scaling: max |component| always hits ±127
    assert(q(3L).map(math.abs).max === 127.0f)
  }

  test("multiprobe LSH: widening the Hamming radius only ever adds pairs") {
    val e = Tables.load(spark, sf, "embeddings")
    val counts = Seq(0, 1, 8).map(r =>
      r -> VectorOps.embedNearDupLshPairs(e, 0.3, radius = r).count())
    counts.sliding(2).foreach { case Seq((r1, c1), (r2, c2)) =>
      assert(c1 <= c2, s"radius $r1 found $c1 pairs but radius $r2 found $c2")
    }
    // radius = numPlanes is exhaustive: equals the unblocked all-pairs join
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(graft.functions.GraftFunctions.cosineSim(
        col("a.embedding"), col("b.embedding")), 6))
      .filter(col("sim") >= 0.3).count()
    assert(counts.last._2 == brute)
  }

  test("MMR rerank: diversifies, stays in the shortlist, degenerates at lambda=1") {
    val emb = Tables.load(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // the one shared JVM-local cosine (VERDICT r14 item 8) — the spec
    // recomputes redundancy with the same math the greedy uses
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      graft.functions.CosineSimilarity.local(a, b)
    def byProbe(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.orderBy("probe_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val plain = byProbe(VectorOps.topK(probes, emb, 5))
    val mmr = byProbe(VectorOps.topKMmr(probes, emb, 5, 50, lambda = 0.5))
    val shortIds = byProbe(VectorOps.topK(probes, emb, 50))
    def avgPairSim(ids: Seq[Long]): Double = {
      val pairs = for {
        i <- ids.indices; j <- (i + 1) until ids.length
      } yield cos(vecs(ids(i)), vecs(ids(j)))
      pairs.sum / pairs.length
    }
    mmr.foreach { case (p, ids) =>
      // containment: MMR only picks within the exact shortlist
      assert(ids.toSet.subsetOf(shortIds(p).toSet), s"probe $p not ⊆ shortlist")
      // the first pick is always the plain top-1 (no redundancy yet)
      assert(ids.head == plain(p).head, s"probe $p first pick")
    }
    // diversification: across the probe set, MMR's average intra-result
    // similarity is not higher than plain top-k's (strictly lower when
    // any probe's top-5 was redundant)
    val meanPlain = plain.keys.map(p => avgPairSim(plain(p))).sum / plain.size
    val meanMmr = plain.keys.map(p => avgPairSim(mmr(p))).sum / plain.size
    info(f"intra-result sim: topk=$meanPlain%.4f mmr(0.5)=$meanMmr%.4f")
    assert(meanMmr <= meanPlain + 1e-12,
      s"MMR must not be MORE redundant ($meanPlain -> $meanMmr)")
    // lambda=1 degenerates to plain top-k exactly
    val degen = byProbe(VectorOps.topKMmr(probes, emb, 5, 50, lambda = 1.0))
    assert(degen == plain, "lambda=1 must equal plain top-k")
  }

  test("ANN-retrieve + MMR-rerank composition: index shortlist at all cells degenerates to brute top-k") {
    // the production pipeline shape (retrieve `shortlist` through the
    // persisted index, diversify to k with the standalone rerank):
    // probing ALL cells makes the index shortlist exhaustive, so
    // lambda=1 over it must equal brute-force top-k bit-for-bit — the
    // same exactness discipline as every _exact twin, here pinning
    // searchShortlist's cell-pruned vector fetch (no candidate lost or
    // mis-fetched on the way to the greedy)
    import graft.operators.Ivf
    val emb = Tables.load(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val path = Ivf.ensureIndex(spark, sf)
    val centroids = spark.read.parquet(s"$path/centroids")
    val cells = spark.read.parquet(s"$path/cells")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "sim", "rk")
        .orderBy("probe_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
    val short = Ivf.searchShortlist(centroids, cells, probes, 50,
      nProbe = 16)
    val brute = rows(VectorOps.topK(probes, emb, 5))
    assert(rows(VectorOps.mmrRerank(short, 5, lambda = 1.0)) === brute)
    // at a diversifying lambda the picks stay inside the shortlist
    val shortIds = short.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mmr = VectorOps.mmrRerank(short, 5, lambda = 0.5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mmr.forall(shortIds.contains))
  }

  test("exact dedup keeps exactly one row per (lang, source)") {
    val kept = TextOps.qDedupExact.run(spark, sf)
    val keys = Tables.load(spark, sf, "documents").select("lang", "source").distinct().count()
    assert(kept.count() === keys)
  }

  test("substringSpans df-cap drops only the over-cap boilerplate span") {
    import spark.implicits._
    // 6 docs share a 4-token boilerplate header (df 6); docs 1 and 2
    // additionally share a unique 4-token span (df 2). Body tails are
    // distinct so no other window repeats.
    val header = "terms of service apply"
    val dup = "quick brown foxes jump"
    val docs = (1L to 6L).map { i =>
      val tail = s"tail$i a$i b$i c$i d$i"
      val extra = if (i <= 2) s"$dup " else ""
      (i, s"$header $extra$tail")
    }.toDF("doc_id", "text")
    def spans(cap: Int) =
      TextOps.substringSpans(docs, w = 4, minDocs = 2, dfCap = cap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val uncapped =
      TextOps.substringSpans(docs, w = 4, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // cap 6 admits every fp (header df = 6): hardened path ≡ list path
    assert(spans(6) === uncapped)
    assert(uncapped.contains((3L, 1, 4))) // header alone, merged w-window
    // docs 1-2: header run extends through the 4 bridging windows into
    // the shared span — positions 1..5 merge to one 8-token span
    assert(uncapped.contains((1L, 1, 8)))
    // cap 5 excludes the header fp; the bridging windows (df 2) keep
    // the docs 1-2 span, now starting at position 2
    val capped = spans(5)
    assert(capped === Set((1L, 2, 7), (2L, 2, 7)),
      s"expected only the df-2 span, got $capped")
  }
}
