package perfbench

import scala.collection.mutable

import perfbench.Main.{Args, Ctx, Workload}

/** `query_fixture` / `query_x10`: a fixed list of read-only
  * `SparkEntry.queries` rows, run one after another in a seeded order.
  *
  * Each op is `QuerySpec.run` followed by a [[Fingerprint]] of the full
  * result, checked against the goldens kept with the benchmark. The
  * derive-once artifacts the rows consume (the persisted IVF index and
  * the memoized minhash clusters) are built in set-up, next to
  * `Tables.analyzeAll`, so no row pays for them. Each set-up first
  * removes the index an earlier set-up or run persisted, so every
  * set-up times the build and every run checks the index this code
  * builds.
  */
object QueryWorkload {
  /** One or more rows per engine module; no table-format or stream rows. */
  val Rows: Seq[String] = Seq(
    "q1_pricing_summary",    // Relational: scan + aggregate
    "q5_region_revenue_sql", // SqlEntry: 6-way join through the parser
    "q_sessionize",          // EventOps: event-time sessions
    "q_pivot",               // Analytic
    "q_heavy_hitters",       // Sketches
    "q_epiweek_curve",       // Epi
    "q_text_quality",        // TextOps
    "q_minhash_dedup",       // Dedup (memoized minhash clusters)
    "q_cosine_topk_ivf",     // Ivf (persisted index)
    "q_pagerank")            // Graph (iterative)
}

final class QueryWorkload(args: Args) extends Workload {
  import QueryWorkload.Rows

  private val dir = args.fixture
  private val rng = new scala.util.Random(args.seed)
  private lazy val specs = graft.SparkEntry.queries
  private val goldens: Map[String, (Long, String)] =
    if (args.record || args.goldens.isEmpty) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(args.goldens)).get("rows")
      Rows.flatMap(r => Option(root.get(r)).map(g =>
        r -> (g.get("rows").asLong, g.get("hash").asText))).toMap
    }
  private val seen = mutable.LinkedHashMap.empty[String, Fingerprint.Fp]

  def setup(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    Main.rm(new java.io.File(graft.operators.Ivf.indexPath(dir)))
    graft.sources.Tables.analyzeAll(spark, dir)
    val t0 = System.nanoTime()
    graft.operators.Ivf.ensureIndex(spark, dir)
    graft.operators.Dedup.minhashClusters(spark, dir, 0.9).count()
    Map("graft.memo_build_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  def release(ctx: Ctx): Unit = ()

  def schedule(ctx: Ctx, n: Int): Seq[Span] =
    rng.shuffle(Rows).map { name =>
      ctx.op("query", name) { built =>
        val df = specs(name)(ctx.spark, dir)
        built()
        val fp = Fingerprint.of(df)
        seen.getOrElseUpdate(name, fp)
        if (args.record) true
        else goldens.get(name) match {
          case Some((rows, hash)) if rows == fp.rows && hash == fp.hex => true
          case g =>
            ctx.note(s"$name: result ${fp.rows} rows ${fp.hex}, golden " +
              g.map { case (r, h) => s"$r rows $h" }.getOrElse("missing"))
            false
        }
      }
    }

  /** In golden-recording mode: cross-check the distributed fingerprint
    * against one computed from `collect()`, dump every result as parquet
    * with its DuckDB oracle SQL (for `validate_goldens.py`) and write the
    * goldens file.
    */
  def verify(ctx: Ctx): (Int, Int) = {
    if (!args.record) return (0, 0)
    val spark = ctx.spark
    val dump = s"${args.work}/dump/${new java.io.File(dir).getName}"
    val oracle = graft.SparkEntry.oracleSql
    var bad = 0
    Rows.foreach { name =>
      val df = specs(name)(spark, dir)
      val local = Fingerprint.ofRows(df.collect().toSeq)
      if (local != seen(name)) {
        ctx.note(s"$name: collect() fingerprint $local != distributed ${seen(name)}")
        bad += 1
      }
      df.write.mode("overwrite").parquet(s"$dump/$name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      Json.render(Rows.flatMap(r => oracle.get(r).map(r -> _)).toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.goldens),
      Json.render(Map("rows" -> seen.map { case (k, fp) =>
        k -> Map("rows" -> fp.rows, "hash" -> fp.hex) })) + "\n")
    (Rows.size, bad)
  }

  def report(ctx: Ctx, traced: Boolean): Map[String, Double] = {
    val q = ctx.spans.filter(s => s.kind == "query" && s.ok).map(_.latMs).toSeq
    Map("query_p50_ms" -> Stats.pct(q, 50), "query_p90_ms" -> Stats.pct(q, 90),
      "query_samples" -> q.size.toDouble)
  }
}
