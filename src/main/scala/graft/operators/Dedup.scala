package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup cluster collapse (SURVEY.md §2.11: "MinHash over shingles,
  * LSH banding, connected components"): pair emission (jaccardPairs /
  * qMinhashLsh) is only half a dedup pipeline — this module turns the
  * pair graph into clusters and keeps one representative per cluster.
  *
  * Algorithm: star contraction with bounded pointer jumping — the
  * log-round connected-components map-reduce family (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"), run at the RDD
  * layer with a pinned HashPartitioner (the GraphX/Pregel pattern; see
  * [[connectedComponents]] for why not DataFrames). Each round is a
  * narrow reduceByKey + co-partitioned joins over a monotonically
  * SHRINKING edge set — no driver-side graph state, no `collect`; the
  * only per-round ACTION is the contracted-edge count, which doubles as
  * the termination probe.
  *
  * Determinism: the fixpoint labels every node with the MINIMUM id in
  * its component — engine-independent, so the result is oracle-checkable
  * (DuckDB twin: recursive-CTE transitive closure).
  */
object Dedup {

  /** Connected components over an undirected pair list, by star
    * contraction: each round merges every super-node into
    * `least(self, min neighbour)`, pointer-jumps the merge map, folds it
    * into the node labels, and CONTRACTS the edge set through the map
    * (self-loops drop). The edge set shrinks monotonically — a
    * near-clique dedup cluster collapses to zero edges in one round, a
    * path halves per round — so the expensive per-round join runs over
    * a vanishing graph, unlike fixed-edge-set label propagation which
    * pays full edge volume every round. Termination is the contracted
    * edge count carried out of the round's one materializing job.
    *
    * The surviving super-node of a component is its minimum id (the min
    * never merges outward), so labels are engine-deterministic.
    *
    * @param pairs edge list; endpoints in `src`/`dst` columns
    * @return (id, comp) for every node that appears in a pair, where
    *         comp = min node id of the component
    */
  /** Callers need NOT pre-deduplicate or direction-normalize the pair
    * list: the partition-local union-find contraction absorbs duplicate
    * and reversed edges for free. (A `pairsDistinct` flag used to
    * document pre-deduped inputs; it never changed the plan and was
    * removed — r6 ADVICE — so call sites cannot assume it does.)
    */
  /** @param checkpointEvery &gt; 0 → truncate the edge RDD's lineage to
    *   durable storage every N rounds via `RDD.checkpoint()` (requires
    *   `sparkContext.setCheckpointDir`, set here from `checkpointDir` if
    *   given). On a cluster this is what bounds recovery cost: without
    *   it, losing a cached partition in round k replays all k rounds
    *   of contraction. 0 (default) = cache-only, fine for short jobs.
    */
  def connectedComponents(pairs: DataFrame, src: String = "doc1",
                          dst: String = "doc2", maxIters: Int = 25,
                          jumpsPerRound: Int = 2,
                          checkpointEvery: Int = 0,
                          checkpointDir: Option[String] = None): DataFrame = {
    // The iterative fixpoint runs at the RDD layer, NOT on DataFrames —
    // a deliberate exception to the DataFrame-first rule, for the same
    // reason GraphX is RDD-based: Catalyst re-analyzes, re-optimizes and
    // re-estimates statistics on EVERY iteration's checkpoint/action
    // (measured r3: a 64-node path graph spent >13 min of driver CPU in
    // BasicStatsPlanVisitor before any executor work), and DataFrames
    // cannot pin a partitioner across iterations. With a HashPartitioner
    // reused for edges and merge maps, the per-round reduceByKey and the
    // edge⋈merge-map join are NARROW; each round costs exactly ONE job
    // (the contracted-edge count, which doubles as the termination
    // probe), and there is no planner in the loop.
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    // contract: endpoints are integral ids (the long fast path is what
    // keeps round shuffles 16 bytes/row). The TYPE is checked at plan
    // time — a string-id caller gets this error, not an executor error
    // mid-job; NULL endpoints are row-level and filtered below (a null
    // id cannot join anything, so dropping the edge is the only
    // semantics that makes sense — and it keeps getLong NPE-free).
    Seq(src, dst).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents: column '$c' must be an integral id type, " +
          s"got ${dt.simpleString}")
    }
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val doCheckpoint = checkpointEvery > 0
    require(!doCheckpoint || spark.sparkContext.getCheckpointDir.nonEmpty,
      "connectedComponents: checkpointEvery > 0 needs a checkpoint dir " +
        "(pass checkpointDir or call sparkContext.setCheckpointDir)")
    val persisted = scala.collection.mutable.ListBuffer.empty[RDD[_]]
    val checkpointed = scala.collection.mutable.ListBuffer.empty[RDD[_]]
    def keep[T](r: RDD[T]): RDD[T] = {
      persisted += r.persist(StorageLevel.MEMORY_AND_DISK); r
    }
    // normalize to u<v (canonical direction; doubling happens after the
    // local contraction below — the two directions are disjoint by
    // construction, so the doubled set never needs a distinct)
    val norm0 = pairs
      .select(col(src).cast("long"), col(dst).cast("long")).rdd
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => if (a <= b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }
    // Partition-local union-find contraction: each partition's edge
    // multiset collapses to a path-compressed spanning forest — at most
    // one (root, node) edge per non-root node — which preserves the
    // partition subgraph's connectivity exactly, hence the global
    // components. Two things fall out: (1) dense graphs collapse BEFORE
    // the first distributed round — the sf0.1 minhash candidate graph
    // is 1.0 M edges over 3.4 k nodes (near-cliques), and the forest
    // carries < 3% of that volume into the fixpoint; (2) the
    // norm0.distinct() shuffle the non-deduped path needed is subsumed,
    // since union-find absorbs duplicate edges for free. The
    // per-partition map is bounded by 2× the partition's edge count —
    // the same order as the buffers the per-round reduceByKey already
    // implies — so input-split sizing governs it at 100 TB.
    val forest = keep(norm0.mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var r = x0
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x0
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent.update(c, r); c = n
        }
        r
      }
      val seen = scala.collection.mutable.LongMap.empty[Unit]
      it.foreach { case (a, b) =>
        seen.update(a, ()); seen.update(b, ())
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
      seen.keysIterator.flatMap { x =>
        val r = find(x)
        if (r != x) Iterator((r, x)) else Iterator.empty
      }
    })
    val normK = forest
    var edgeCount = 2L * normK.count()
    // size the pinned round partitioner from the measured edge count
    // (~100k edges per partition): a fixture-scale graph runs 4-task
    // stages instead of defaultParallelism-wide ones (scheduling, not
    // data, dominates tiny iterations), while a 100 TB pair graph still
    // fans out to the cluster's full width
    val part = new HashPartitioner(
      math.max(4, math.min(spark.sparkContext.defaultParallelism,
        (edgeCount / 100000L).toInt + 4)))
    var edges = keep(normK
      .flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .partitionBy(part))
    var labels: RDD[(Long, Long)] = edges.keys.distinct().map(x => (x, x))
    var iter = 0
    while (edgeCount > 0L && iter < maxIters) {
      // merge map over current super-nodes: x → min(x, min neighbour).
      // c(x) <= x, so merge chains strictly decrease — acyclic. Narrow:
      // edges are already hash-partitioned by u.
      var c = keep(edges
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapPartitions(_.map { case (x, m) => (x, math.min(x, m)) },
          preservesPartitioning = true))
      // BOUNDED pointer jumping c := c(c) — `jumpsPerRound` lazy passes,
      // no per-jump action (vs r2's adaptive loop at one localCheckpoint
      // + isEmpty job per jump). Partial closure is safe: contraction
      // through a partially-jumped map still strictly shrinks the edge
      // set, later rounds finish the merges, and the final resolution
      // pass below chases any stale intermediate pointers to the
      // component minimum.
      for (_ <- 0 until jumpsPerRound) {
        val lookup = c
        c = keep(c
          .map { case (x, cx) => (cx, x) }
          .join(lookup, part) // right side co-partitioned: narrow
          .map { case (_, (x, ccx)) => (x, ccx) }
          .partitionBy(part))
      }
      // fold into node labels: comp := c(comp) where defined. Lazy — the
      // chain is narrow maps + joins over persisted merge maps, computed
      // once by the resolution pass at the end.
      val cc = c
      labels = labels
        .map { case (id, comp) => (comp, id) }
        .leftOuterJoin(cc, part)
        .map { case (comp, (id, cOpt)) => (id, cOpt.getOrElse(comp)) }
      // contract the graph through the merge map: the edge set shrinks
      // every round (cliques vanish immediately, local-minima count at
      // least halves), which is what keeps round cost falling. Both
      // directions of the doubled edge set contract in one pass.
      edges = keep(edges
        .join(cc, part) // narrow: both sides partitioned by `part`
        .map { case (_, (v, cu)) => (v, cu) }
        .join(cc, part)
        .map { case (_, (cu, cv)) => (cu, cv) }
        .filter { case (a, b) => a != b }
        .distinct()
        .partitionBy(part))
      // durable checkpoint every N rounds (opt-in): marked BEFORE the
      // round's action so the checkpoint job that follows it reads the
      // just-cached partitions (no recompute of the round), truncating
      // lineage so losing an executor late in the fixpoint replays at
      // most `checkpointEvery` rounds, not all of them
      if (doCheckpoint && (iter + 1) % checkpointEvery == 0) {
        edges.checkpoint(); checkpointed += edges
      }
      // ONE action per round — the contracted-edge count / termination probe
      edgeCount = edges.count()
      iter += 1
    }
    // Final resolution: pointer-jump the labels over themselves until
    // fixpoint. Every comp value is itself a node id with a labels row,
    // and chasing strictly decreases toward the component minimum (which
    // is its own fixpoint), so this terminates in O(log depth) rounds —
    // typically 1–2 because the per-round jumps above did most of the
    // work. One job per resolution round, only at the very end.
    var resolved = labels
    var moving = 1L
    var rIter = 0
    while (moving > 0L && rIter < maxIters) {
      val base = keep(resolved.partitionBy(part))
      val j = keep(base
        .map { case (id, comp) => (comp, (id, comp)) }
        .leftOuterJoin(base, part)
        .map { case (_, ((id, old), ccOpt)) => (id, old, ccOpt.getOrElse(old)) })
      moving = j.filter(t => t._2 != t._3).count()
      resolved = j.map(t => (t._1, t._3))
      rIter += 1
    }
    // one eager checkpoint of the (small) result — a single shallow
    // Catalyst plan, NOT in the loop — makes the returned frame
    // self-contained so every intermediate RDD can be dropped (no cache
    // leak per invocation)
    val outDf = resolved.toDF("id", "comp").localCheckpoint()
    persisted.foreach(_.unpersist(blocking = false))
    // the result above is self-contained, so this run's durable edge
    // snapshots are dead weight: delete them (Spark only auto-cleans
    // checkpoint files when cleanCheckpoints is on AND the RDD is GC'd
    // — repeated dedup builds would otherwise grow storage unboundedly)
    checkpointed.foreach { r =>
      r.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
    outDf
  }

  /** Collapse a near-dup pair graph to one kept row per cluster: the
    * representative is the minimum-id member; rows in no pair survive
    * untouched. Output schema = input schema.
    */
  def keepRepresentative(df: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame =
    keepRepresentativeWith(df, connectedComponents(pairs), idCol)

  /** Collapse with a precomputed (id, comp) cluster map — the shared
    * implementation behind every keep-one path (so the representative
    * rule lives in exactly one place).
    */
  def keepRepresentativeWith(df: DataFrame, comps: DataFrame,
                             idCol: String = "doc_id"): DataFrame =
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")

  // DuckDB oracle twin: undirected transitive closure by recursive CTE,
  // over the same exact-jaccard >= 0.9 pair graph as q_ngram_jaccard.
  private val jaccardPairsCte =
    """t AS (SELECT doc_id, lang,
      |    list_distinct(regexp_split_to_array(trim(text), ' +')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2
      |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
      |edges AS (
      |  SELECT doc1 AS src, doc2 AS dst FROM pairs
      |  UNION SELECT doc2, doc1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS comp
      |  FROM reach GROUP BY src)""".stripMargin

  /** Session-lifetime memo of the jaccard cluster map per (session,
    * dir, threshold) — the cluster map is an index artifact exactly like
    * the persisted IVF index: derive once, consume from many queries.
    * The memoized frame is localCheckpoint'd, so reuse costs a cached
    * scan, not a recompute of candidate generation + CC rounds.
    */
  private val clusterMemo =
    graft.Memo[(org.apache.spark.sql.SparkSession, String, Double), DataFrame]()

  /** (id, comp) for the exact-jaccard near-dup graph of `dir`. */
  def jaccardClusters(spark: org.apache.spark.sql.SparkSession, dir: String,
                      threshold: Double): DataFrame =
    clusterMemo.getOrElseUpdate((spark, dir, threshold), {
      val pairs = TextOps.jaccardPairs(spark, dir, threshold)
        .select("doc1", "doc2")
      // PPJoin pairs are doc1<doc2 and deduplicated by construction;
      // the result frame is already checkpointed by connectedComponents
      connectedComponents(pairs,
        checkpointEvery = defaultCheckpointEvery(spark))
    })

  /** Production posture: cluster deploys set
    * `spark.graft.dedup.checkpointEvery` (plus a context checkpoint dir)
    * and the CC fixpoints in the dedup pipelines checkpoint their edge
    * set every N rounds — replay after executor loss is bounded without
    * any per-call opt-in. Gated on an EXPLICIT session conf, not on
    * `getCheckpointDir` being set: the checkpoint dir is hidden global
    * state that tests and unrelated libraries may touch, and silently
    * changing job structure off it would make behavior order-dependent.
    */
  private def defaultCheckpointEvery(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.dedup.checkpointEvery", "0").toInt

  private val minhashClusterMemo =
    graft.Memo[(org.apache.spark.sql.SparkSession, String, Double), DataFrame]()

  /** (id, comp) for the MinHash+LSH near-dup graph of `dir` at estimated
    * similarity ≥ `minSim` — memoized like [[jaccardClusters]]: the
    * cluster map is a derive-once index artifact consumed by the dedup
    * query and the bench setup alike.
    */
  def minhashClusters(spark: org.apache.spark.sql.SparkSession, dir: String,
                      minSim: Double): DataFrame =
    minhashClusterMemo.getOrElseUpdate((spark, dir, minSim), {
      val pairs = TextOps.minhashPairs(spark, dir)
        .filter(col("est_sim") >= minSim)
        .select("doc1", "doc2")
      // LSH candidate pairs are doc1<doc2 and deduplicated by
      // construction; result frame checkpointed by connectedComponents
      connectedComponents(pairs,
        checkpointEvery = defaultCheckpointEvery(spark))
    })

  /** Cluster ids over the exact-jaccard near-dup graph. */
  val qDedupCluster: QuerySpec = QuerySpec(
    "q_dedup_cluster",
    Some(s"""WITH RECURSIVE $jaccardPairsCte
      SELECT doc_id, comp,
        CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
      FROM comp ORDER BY doc_id"""),
    (spark, dir) => {
      jaccardClusters(spark, dir, 0.9)
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("comp")))
        .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
        .orderBy("doc_id")
    })

  /** The dedup pipeline end-to-end: documents minus non-representative
    * near-dup cluster members.
    */
  val qDedupKeepRep: QuerySpec = QuerySpec(
    "q_dedup_keep_rep",
    Some(s"""WITH RECURSIVE $jaccardPairsCte
      SELECT d.doc_id, d.lang, d.source FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.doc_id
      WHERE c.comp IS NULL OR c.comp = d.doc_id
      ORDER BY d.doc_id"""),
    (spark, dir) => {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select("doc_id", "lang", "source")
      keepRepresentativeWith(docs, jaccardClusters(spark, dir, 0.9))
        .orderBy("doc_id")
    })

  /** The 100 TB dedup path end-to-end: MinHash signatures → LSH banding
    * → candidate pairs (est_sim ≥ 0.9) → connected components → keep
    * min-id representative. Rows-only (minhash is engine-specific
    * hashing); the oracle-checked q_dedup_keep_rep proves the identical
    * collapse logic on the exact-jaccard graph, and DedupSimilaritySpec
    * ties minhash estimates to true jaccard.
    */
  val qMinhashDedup: QuerySpec = QuerySpec(
    "q_minhash_dedup",
    None,
    (spark, dir) => {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .select("doc_id", "lang")
      keepRepresentativeWith(docs, minhashClusters(spark, dir, 0.9))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    })

  /** Embedding-space dedup end-to-end: cosine near-dup pairs (the
    * oracle-green q_embed_neardup graph) → connected components → keep
    * min-id representative. A SECOND independently-oracle-checked
    * consumer of the CC engine, on a graph with completely different
    * shape/density than the token-jaccard one.
    */
  val qEmbedDedup: QuerySpec = QuerySpec(
    "q_embed_dedup",
    Some("""WITH RECURSIVE e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.6),
      edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      comp AS (
        SELECT src AS vec_id, least(src, min(dst)) AS comp
        FROM reach GROUP BY src)
      SELECT em.label, count(*) AS n_kept,
        CAST(min(em.vec_id) AS BIGINT) AS first_vec
      FROM e em LEFT JOIN comp c ON em.vec_id = c.vec_id
      WHERE c.comp IS NULL OR c.comp = em.vec_id
      GROUP BY em.label ORDER BY em.label"""),
    (spark, dir) => {
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
      val pairs = e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("sim", round(graft.functions.GraftFunctions.cosineSim(
          col("a.embedding"), col("b.embedding")), 6))
        .filter(col("sim") >= 0.6)
        .select(col("a.vec_id").as("doc1"), col("b.vec_id").as("doc2"))
      // a.vec_id < b.vec_id over distinct rows → pairs unique by construction
      keepRepresentative(e.select("vec_id", "label"), pairs, idCol = "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), min("vec_id").as("first_vec"))
        .orderBy("label")
    })

  /** The embedding dedup composed over the SUBQUADRATIC pair path:
    * identical semantics to [[qEmbedDedup]] (it shares that oracle), but
    * pair generation goes through the triangle-inequality-pruned LSH
    * cell join (`VectorOps.embedNearDupBanded`) instead of the
    * within-label all-pairs join — proving the scale path composes with
    * connected components to the same collapse, hash-for-hash. The
    * quadratic variant stays as the verification baseline; this row is
    * the plan a 100 TB corpus would run.
    */
  val qEmbedDedupBanded: QuerySpec = QuerySpec(
    "q_embed_dedup_banded",
    qEmbedDedup.oracle,
    (spark, dir) => {
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
      val pairs = VectorOps.embedNearDupBanded(e, 0.6,
          cells = Some(VectorOps.embedCellsFor(spark, dir)))
        .select(col("id1").as("doc1"), col("id2").as("doc2"))
      // banded pairs are id1<id2 and appear exactly once by construction
      keepRepresentative(e.select("vec_id", "label"), pairs, idCol = "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), min("vec_id").as("first_vec"))
        .orderBy("label")
    })

  /** The LLM-data-curation pipeline end to end, composed from the
    * engine's own operators: alpha-ratio quality gate → near-dup
    * cluster collapse (keep min-id representative) → 80% deterministic
    * portable-hash sample → per-language counts. Every stage is
    * individually oracle-checked elsewhere; this query proves the
    * COMPOSITION matches the oracle too.
    */
  val qPipelineCurate: QuerySpec = QuerySpec(
    "q_pipeline_curate",
    Some(s"""WITH RECURSIVE $jaccardPairsCte
      SELECT lang, count(*) AS n_curated,
        CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM (
        SELECT d.doc_id, d.lang FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.doc_id
        WHERE (c.comp IS NULL OR c.comp = d.doc_id)
          AND CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
              / length(d.text) >= 0.7
          AND CAST(('0x' || substr(md5('graft-sample-v1' || '|' ||
              CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80)
      GROUP BY lang ORDER BY lang"""),
    (spark, dir) => {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
      val qualityOk = docs.filter(
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          length(col("text")) >= 0.7)
      val deduped = keepRepresentativeWith(
        qualityOk.select("doc_id", "lang"), jaccardClusters(spark, dir, 0.9))
      deduped
        .filter(Splits.portableBucket(col("doc_id").cast("string")) < 80)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_curated"), min("doc_id").as("first_doc"))
        .orderBy("lang")
    })

  def specs: Seq[QuerySpec] =
    Seq(qDedupCluster, qDedupKeepRep, qMinhashDedup, qEmbedDedup,
        qEmbedDedupBanded, qPipelineCurate)
}
