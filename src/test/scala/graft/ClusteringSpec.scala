package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Clustering

/** k-means: separable clusters recovered, determinism across runs,
  * assignment invariance under partition count.
  */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def corpus = {
    import spark.implicits._
    // two tight cones around orthogonal axes (cosine-separable);
    // ids interleave the groups so the k lowest-id seeds straddle both
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0.05f * (i % 5), 0f)
                 else Array(0f, 1f, 0f, 0.05f * (i % 5))
      (i.toLong, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("two cosine-separable cones split cleanly at k=2") {
    val out = Clustering.kmeansCosine(corpus, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val evens = (0 until 40 by 2).map(i => out(i.toLong)).toSet
    val odds = (1 until 40 by 2).map(i => out(i.toLong)).toSet
    assert(evens.size === 1 && odds.size === 1 && evens != odds)
  }

  test("deterministic across runs and partition counts") {
    val a = Clustering.kmeansCosine(corpus, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val b = Clustering.kmeansCosine(corpus.repartition(7), k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }
}
