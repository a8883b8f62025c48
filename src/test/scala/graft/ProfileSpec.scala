package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of `graft.tools.Profile`, driven through its
  * session-taking entry point on the shared session: the profile of a
  * relational row and of a row that commits to an upsert table carries
  * the job, stage, planning, sink-phase and trigger lines it promises.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def profile(query: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    tools.Profile.profile(spark, TestSpark.sf, query, reps = 1)(out += _)
    out.result().flatMap(_.split('\n')).map(_.trim)
  }

  test("q5_region_revenue: job, stage and planning lines") {
    val out = profile("q5_region_revenue")
    assert(out.exists(_.startsWith("job ")), out.mkString("\n"))
    assert(out.exists(_.startsWith("stage ")), out.mkString("\n"))
    assert(out.exists(l => l.startsWith("plan ") && l.contains("planning=")),
      out.mkString("\n"))
  }

  test("q_stream_upsert: the sink's phase labels and the stream's triggers") {
    val out = profile("q_stream_upsert")
    assert(out.exists(l => l.startsWith("job ") && l.contains("sink:")),
      out.mkString("\n"))
    assert(out.exists(_.startsWith("stage ")), out.mkString("\n"))
    assert(out.exists(l => l.startsWith("trigger ") && l.contains("durationMs")),
      out.mkString("\n"))
  }
}
