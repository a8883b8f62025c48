package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Benchmark decontamination (north-star LLM-pipeline surface): flag
  * training documents whose n-grams overlap a held-out benchmark set —
  * the standard "did eval data leak into the training mix" check run
  * before every pre-training job.
  *
  * The unit of overlap is the same 3-token shingle as the near-dup
  * pipeline ([[TextOps.shingles]]) so contamination and dedup agree on
  * what "shared text" means. The benchmark here is fixture-derived
  * (every 50th doc_id — in production it would be a separate table of
  * eval-set documents; the plan is identical).
  *
  * Scale shape: candidate shingles are a narrow per-row explode; the
  * benchmark shingle dictionary is DISTINCT over only the benchmark
  * slice (2% of corpus), and membership is a LEFT SEMI equi-join on the
  * shingle string — hash-shuffled on a uniform key, nothing corpus-sized
  * broadcast, no all-pairs anything. At 100 TB the benchmark dictionary
  * is still eval-set-sized (≪ corpus), so AQE broadcasts it; either
  * join strategy is correct.
  */
object Contamination {

  val qDecontaminate: QuerySpec = QuerySpec(
    "q_decontaminate",
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        FROM documents),
      s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                              FOR i IN range(1, len(toks)-1)]) END AS sh
        FROM t),
      b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0),
      c AS (SELECT doc_id, sh FROM s WHERE doc_id % 50 <> 0),
      e AS (SELECT doc_id, unnest(sh) AS g FROM c),
      h AS (SELECT doc_id, count(*) AS n_hit FROM e
        WHERE g IN (SELECT g FROM b) GROUP BY doc_id)
      SELECT c.doc_id AS doc_id, CAST(len(c.sh) AS BIGINT) AS n_ngrams,
        h.n_hit AS n_hit,
        round(CAST(h.n_hit AS DOUBLE) / len(c.sh), 4) AS contamination
      FROM c JOIN h ON c.doc_id = h.doc_id
      ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      // explode_outer, not explode: InferFiltersFromGenerate would copy
      // the whole shingle expression into a pre-Generate Filter
      // (size(..)>0 AND isnotnull(..)), re-splitting each text ~20× per
      // row and blowing up codegen — measured 17.5 s → this shape is
      // sub-second. Shingles are never empty (docs shorter than the
      // window yield a single whole-doc shingle), so outer ≡ inner here.
      def shingleOf(of: org.apache.spark.sql.DataFrame) =
        of.select(col("doc_id"), explode_outer(
          array_distinct(TextOps.shingles(TextOps.tokens(col("text"))))).as("g"))
      // explicit broadcast: the benchmark dictionary is eval-set-sized
      // by nature (here the 2% slice's distinct shingles), so the
      // corpus-sized exploded frame must never shuffle for this join
      val benchGrams = broadcast(
        shingleOf(docs.filter(col("doc_id") % 50 === 0))
          .select(col("g")).distinct()
          .withColumn("hit", lit(1)))
      // ONE pass over the candidate shingles: left-join marks benchmark
      // membership, a single aggregation yields both the per-doc total
      // and the hit count — the corpus is scanned (and shingled) once,
      // not three times, and the only shuffle is the per-doc aggregate
      shingleOf(docs.filter(col("doc_id") % 50 =!= 0))
        .join(benchGrams, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .filter(col("n_hit") > 0) // only contaminated docs surface
        .withColumn("contamination",
          round(col("n_hit").cast("double") / col("n_ngrams"), 4))
        .orderBy("doc_id")
    })

  def specs: Seq[QuerySpec] = Seq(qDecontaminate)
}
