package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rows that share one DuckDB oracle must return the same result: each
  * group below reaches one answer through different engine paths
  * (batch fold, coupled stream, decoupled feed stream, format source),
  * so any two members must agree exactly. Results are compared the way
  * `tools/check.py` compares a row with its oracle: columns sorted by
  * name, rows sorted, exact values (NaN equals NaN, null equals null).
  */
class SharedOracleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def canonical(query: String): (Seq[String], Seq[Seq[Any]]) = {
    val df = SparkEntry.queries(query)(spark, TestSpark.sf)
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq.map(_.toSeq.map {
        case d: Double if d.isNaN => "NaN"
        case f: Float if f.isNaN => "NaN"
        case v => v
      })
    (cols, rows.sortBy(_.map(v => (v == null, String.valueOf(v))).mkString("\u0001")))
  }

  private def sameResult(queries: String*): Unit = {
    val (first, rest) = (queries.head, queries.tail)
    val (cols, rows) = canonical(first)
    assert(rows.nonEmpty, s"$first returned no rows")
    rest.foreach { q =>
      val (qCols, qRows) = canonical(q)
      assert(qCols == cols, s"$q columns differ from $first")
      assert(qRows == rows, s"$q rows differ from $first")
    }
  }

  test("priority MV: batch feed fold, coupled stream, feed stream and format source agree") {
    sameResult("q_cdf_mv", "q_stream_cdf_mv", "q_stream_feed_mv",
      "q_stream_source_format")
  }

  test("latest event per user: foreachBatch sink and format sink agree") {
    sameResult("q_stream_upsert", "q_stream_sink_format")
  }

  test("secondary index: batch-maintained and stream-maintained agree") {
    sameResult("q_secondary_index", "q_stream_index")
  }
}
