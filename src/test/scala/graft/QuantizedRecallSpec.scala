package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorOps
import graft.sources.Tables

/** Recall@5 of the quantized cosine top-k operating points against
  * brute-force [[VectorOps.topK]]: 50 probes on the sf0.01 fixture
  * (a ~1.2k-vector corpus). These are the figures the
  * `qCosineTopKSq8` / `qCosineTopKBq` scaladocs quote, asserted as
  * floors, so a change that costs recall fails here.
  */
class QuantizedRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val probes = col("vec_id") < 50
  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
  private lazy val exact = VectorOps.topK(emb.filter(probes), emb, 5)
    .select("probe_id", "neighbor_id").localCheckpoint()

  private def recall(got: DataFrame): Double =
    got.select("probe_id", "neighbor_id")
      .join(exact, Seq("probe_id", "neighbor_id")).count().toDouble /
      exact.count()

  private def checkFloors(name: String, floors: Seq[(Int, Double)])
                         (topK: Int => DataFrame): Unit =
    floors.foreach { case (shortlist, floor) =>
      val r = recall(topK(shortlist))
      info(f"$name shortlist=$shortlist recall@5=$r%.3f")
      assert(r >= floor, s"$name shortlist $shortlist: recall@5 $r < $floor")
    }

  test("SQ8 recall@5 is 1.0 at shortlists 8, 16 and 32") {
    checkFloors("SQ8", Seq(8 -> 1.0, 16 -> 1.0, 32 -> 1.0))(s =>
      VectorOps.topKSq8(emb, probes, 5, Some(s)))
  }

  test("BQ recall@5 is at least 0.276 / 0.432 / 0.628 at shortlists 16 / 32 / 64") {
    checkFloors("BQ", Seq(16 -> 0.276, 32 -> 0.432, 64 -> 0.628))(s =>
      VectorOps.topKBinary(emb, probes, 5, Some(s)))
  }
}
