package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Baskets, Changes, Funnels}

/** Market-basket rules, blocked record linkage, incremental summary
  * maintenance, and the A/B z statistic — hand-computable cases the
  * fixture oracles don't isolate (known lift values, tie-breaks,
  * merge-equals-direct on a crafted split, a textbook z).
  */
class BasketsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("rules: support/confidence/lift match hand computation") {
    import spark.implicits._
    // 4 baskets; {x,y} together in 2; x in 3, y in 2, z in 1
    val ob = Seq(
      (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "z")).toDF("basket", "item")
    val r = Baskets.rules(ob, minSupport = 1)
      .orderBy("item_a", "item_b").collect()
    val xy = r.find(row => row.getString(0) == "x" && row.getString(1) == "y").get
    assert(xy.getLong(2) === 2L)                 // n_ab
    assert(xy.getDouble(3) === 0.5)              // support 2/4
    assert(xy.getDouble(4) === math.round(2.0 / 3 * 1e6) / 1e6) // conf 2/3
    assert(xy.getDouble(5) === math.round(2.0 * 4 / (3 * 2) * 1e6) / 1e6)
    // pairs below minSupport drop
    assert(Baskets.rules(ob, minSupport = 2).count() === 1)
  }

  test("rules: NULL baskets and NULL items are ignored") {
    import spark.implicits._
    val ob = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("x")), (Some(1L), Some("y")),
      (Some(2L), Some("x")), (Some(2L), Some("y")),
      (Some(3L), Some("x")), (Some(3L), Some("z"))).toDF("basket", "item")
    val withNulls = ob.unionByName(Seq[(Option[Long], Option[String])](
      (None, Some("x")), (None, Some("y")), // a NULL basket holding x and y
      (Some(1L), None),                     // a NULL item in a real basket
      (Some(4L), None)).toDF("basket", "item")) // a basket of only NULL
    def rows(df: org.apache.spark.sql.DataFrame) =
      Baskets.rules(df, minSupport = 1).collect().map(_.toSeq).toSet
    assert(rows(withNulls) === rows(ob))
  }

  test("linkBest: exact match wins; key tie-break on equal scores") {
    import spark.implicits._
    val dirty = Seq((10L, "b1", "martha")).toDF("did", "block", "dname")
    // two clean candidates in the block: the identical string must win
    // over the near-miss; for (20 vs 21) equal-score duplicates the
    // smaller key wins
    val clean = Seq(
      (21L, "b1", "martha"), (20L, "b1", "martha"), (30L, "b1", "marsha"))
      .toDF("ckey", "block", "cname")
    val best = Baskets.linkBest(dirty, clean, threshold = 0.8).collect()
    assert(best.length === 1)
    assert(best.head.getLong(1) === 20L) // tie-break: min key at jw=1.0
    assert(best.head.getDouble(2) === 1.0)
    // below-threshold candidates never link
    val far = Baskets.linkBest(
      Seq((11L, "b2", "zzzzz")).toDF("did", "block", "dname"),
      clean.withColumn("block", lit("b2")), threshold = 0.8)
    assert(far.count() === 0)
  }

  test("incremental summary: merge of any split equals direct") {
    import spark.implicits._
    val rows = Seq(
      (1L, 100L, java.sql.Date.valueOf("2024-01-01")),
      (1L, 250L, java.sql.Date.valueOf("2024-03-01")),
      (1L, 50L, java.sql.Date.valueOf("2024-02-01")),
      (2L, 999L, java.sql.Date.valueOf("2024-05-05")))
      .toDF("o_custkey", "cents", "o_orderdate")
    val direct = Changes.orderSummaryPartial(rows)
    // split unevenly (first row vs rest) and merge the partials
    val merged = Changes.orderSummaryMerge(
      Changes.orderSummaryPartial(rows.limit(1)).unionAll(
        Changes.orderSummaryPartial(rows.except(rows.limit(1)))))
    val d = direct.orderBy("o_custkey").collect().map(_.toSeq)
    val m = merged.orderBy("o_custkey").collect().map(_.toSeq)
    assert(d.toSeq === m.toSeq)
    assert(d.head === Seq(1L, 3L, 400L,
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-03-01")))
  }

  test("abStats: textbook two-proportion z") {
    import spark.implicits._
    // n_a=n_b=100, conv_a=60, conv_b=50 → p=0.55,
    // z = 0.1 / sqrt(0.55*0.45*0.02) ≈ 1.4213
    val users = ((1 to 100).map(i => (0, if (i <= 60) 1 else 0)) ++
      (1 to 100).map(i => (1, if (i <= 50) 1 else 0))).toDF("grp", "conv")
    val r = Funnels.abStats(users).collect().head
    assert(r.getAs[Long]("n_a") === 100L)
    assert(r.getAs[Long]("conv_a") === 60L)
    assert(r.getAs[Double]("rate_a") === 0.6)
    assert(r.getAs[Double]("rate_b") === 0.5)
    val z = 0.1 / math.sqrt(0.55 * 0.45 * (1.0 / 100 + 1.0 / 100))
    assert(r.getAs[Double]("z") === math.round(z * 1e4) / 1e4)
  }
}
