package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Memo, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one query row's time goes, layer by layer:
  *
  * {{{
  * SPARK_GRAFT_CPUS=4 sbt 'runMain graft.tools.Profile <sfDir> <query> [reps]'
  * }}}
  *
  * `reps` defaults to 2; `SPARK_GRAFT_CPUS` sets `local[N]` and the
  * shuffle partitions, as in `Bench`. For any `SparkEntry.queries` row
  * it prints the formatted physical plan of the result frame, then for
  * each rep:
  *
  *   - the wall time of building the frame and counting it;
  *   - every Spark job with its duration, the driver gap before it and
  *     its description (the sink labels its jobs `sink:<phase> b=<id>`),
  *     then the summed job time and driver gaps;
  *   - the Catalyst analysis, optimization and planning ms of each
  *     action (`queryExecution.tracker.phases`);
  *   - each streaming trigger the row runs: its `durationMs` breakdown
  *     and the state stores' `commitTimeMs`;
  *
  * and for the last rep each stage's tasks, duration, CPU and run ms,
  * input bytes and shuffle read/write bytes.
  *
  * Each rep runs under its own job group, DataFrame construction
  * included, so eager builds (`localCheckpoint`, memo builds) count
  * toward the rep that ran them. Jobs launched from threads that carry
  * another group (a streaming query's micro-batches, the sink's
  * data-plane pool) count toward the rep they started in. Every number
  * comes from Spark's public listeners.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-profile", cpus)
    try profile(spark, args(0), args(1), args.lift(2).fold(2)(_.toInt))(println)
    finally { Memo.clearAll(); spark.stop() }
  }

  private final case class Job(id: Int, startMs: Long, group: String,
                               sql: String, desc: String, stages: Seq[Int],
                               var endMs: Long = -1L)

  /** Profile `reps` runs of `query` on `sfDir`, writing lines to `out`. */
  def profile(spark: SparkSession, sfDir: String, query: String, reps: Int)
             (out: String => Unit): Unit = {
    val run = SparkEntry.queries(query)
    val jobs = new ConcurrentLinkedQueue[Job]()
    val open = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentHashMap[Int, String]()
    val sqlActions = new ConcurrentHashMap[Long, String]()
    val plans = new ConcurrentLinkedQueue[(Long, String)]()
    val triggers = new ConcurrentLinkedQueue[(Long, String)]()
    val lastEvent = new AtomicLong(System.currentTimeMillis())
    def seen(): Unit = lastEvent.set(System.currentTimeMillis())

    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // unlabelled jobs show their SQL action's call site, else their
        // result stage's (a job over zero partitions has no stage)
        val sql = prop("spark.sql.execution.id")
        val j = Job(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""),
          sql.getOrElse("-"), prop("spark.job.description")
            .orElse(sql.flatMap(id => Option(sqlActions.get(id.toLong))))
            .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("-")(_.name)),
          e.stageIds)
        open.put(j.id, j); jobs.add(j); seen()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(open.remove(e.jobId)).foreach(_.endMs = e.time); seen()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlActions.put(s.executionId, s.description)
        case _ =>
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        val dur = (for (a <- s.submissionTime; b <- s.completionTime)
          yield b - a).getOrElse(-1L)
        stages.put(s.stageId, f"tasks=${s.numTasks}%4d " +
          f"dur=$dur%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
          f"run=${m.executorRunTime}%6dms in=${m.inputMetrics.bytesRead}%10dB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead}%10dB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten}%10dB  ${s.name}")
        seen()
      }
    }
    val planListener = new QueryExecutionListener {
      private def record(action: String, qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
        if (ph.nonEmpty) plans.add(ph.values.map(_.endTimeMs).max ->
          (s"plan $action analysis=${ms("analysis")}ms " +
            s"optimization=${ms("optimization")}ms planning=${ms("planning")}ms"))
        seen()
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(f, qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(f, qe)
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        triggers.add(java.time.Instant.parse(p.timestamp).toEpochMilli ->
          (s"trigger ${Option(p.name).getOrElse(p.id)} batch=${p.batchId} " +
            s"rows=${p.numInputRows} durationMs: $phases " +
            s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).sum}"))
        seen()
      }
    }

    /** Wait until every started job has ended and the listener buses
      * have been quiet for a moment (at most 10 s).
      */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && (!open.isEmpty ||
             System.currentTimeMillis() - lastEvent.get < 300))
        Thread.sleep(50)
    }

    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    try (1 to reps).foreach { r =>
      val group = s"profile-$query-$r"
      // no group description: jobs keep their own label or call site
      sc.setJobGroup(group, null)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val df = try { val d = run(spark, sfDir); d.count(); d }
               finally sc.clearJobGroup()
      val wallMs = (System.nanoTime() - n0) / 1000000
      val t1 = System.currentTimeMillis()
      drain()
      def inRep(t: Long) = t >= t0 && t <= t1
      if (r == 1) {
        out(s"== $query physical plan")
        out(df.queryExecution.explainString(FormattedMode))
      }
      val js = jobs.asScala.toSeq
        .filter(j => j.group == group || inRep(j.startMs))
        .sortBy(j => (j.startMs, j.id))
      out(s"== $query rep $r wall=${wallMs}ms jobs=${js.size}")
      var prevEnd = t0
      var jobMs, gapMs = 0L
      js.foreach { j =>
        val dur = if (j.endMs < 0) -1L else j.endMs - j.startMs
        val gap = math.max(0L, j.startMs - prevEnd)
        jobMs += math.max(0L, dur); gapMs += gap
        out(f"  job ${j.id}%5d dur=$dur%6dms gap=$gap%6dms sql=${j.sql}%-4s ${j.desc}")
        prevEnd = math.max(prevEnd, j.endMs)
      }
      out(s"  sum jobs=${jobMs}ms driver-gaps=${gapMs + math.max(0L, t1 - prevEnd)}ms")
      plans.asScala.toSeq.filter(p => inRep(p._1)).sortBy(_._1)
        .foreach(p => out("  " + p._2))
      triggers.asScala.toSeq.filter(t => inRep(t._1)).sortBy(_._1)
        .foreach(t => out("  " + t._2))
      if (r == reps) {
        out(s"== $query rep $r stages")
        js.flatMap(j => j.stages.map(_ -> j.id)).sortBy(_._1).distinctBy(_._1)
          .foreach { case (s, j) => Option(stages.get(s))
            .foreach(m => out(f"  stage $s%5d job=$j%5d $m")) }
      }
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
  }
}
