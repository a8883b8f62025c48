package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload, in wall-clock milliseconds.
  *
  * `kind` is `query`, `commit`, `read` or `maint`; `batch` is the table
  * batch a commit or DML call mints (sink jobs name it in their
  * `sink:<phase> b=<id>` description); `builtMs` is when `QuerySpec.run`
  * returned its DataFrame (query ops only); `latMs` is the latency
  * measured with the monotonic clock, which is what the end-to-end
  * metrics use.
  */
final case class Span(id: Int, kind: String, name: String, startMs: Long,
                      endMs: Long, latMs: Double, ok: Boolean,
                      batch: Option[Long] = None, builtMs: Long = -1L) {
  def wallMs: Long = endMs - startMs
}

/** Outside-in tracer built only from Spark's public listener APIs.
  *
  * A `SparkListener` records jobs (with their job group and
  * description), stages and tasks; a `QueryExecutionListener` records
  * Catalyst's `tracker.phases`; a `StreamingQueryListener` records each
  * trigger's `durationMs` and state metrics. Nothing is aggregated while
  * the workload runs — the listeners only append to queues, and
  * [[Layers]] attributes the events to [[Span]]s afterwards.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val j = Job(e.jobId, e.time, prop("spark.jobGroup.id"),
        prop("spark.job.description"), e.stageIds)
      open.put(e.jobId, j)
      jobs.add(j)
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(open.remove(e.jobId)).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val i = e.taskInfo
      tasks.add(Task(e.stageId,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        i.successful, i.launchTime, i.finishTime))
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis()
                else ph.values.map(_.endTimeMs).max
      plans.add(Plan(end, ms("analysis"), ms("optimization"), ms("planning")))
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val st = p.stateOperators.toSeq
        triggers.add(Trigger(System.currentTimeMillis(),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          st.map(_.commitTimeMs).sum, st.map(_.numRowsTotal).sum))
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, then detach all three listeners.
    */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
           (!open.isEmpty || System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def jobList: Seq[Job] = jobs.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[Task] = tasks.asScala.toSeq
  def planList: Seq[Plan] = plans.asScala.toSeq
  def triggerList: Seq[Trigger] = triggers.asScala.toSeq
}

object Trace {
  final case class Job(id: Int, startMs: Long, group: String, desc: String,
                       stages: Seq[Int], var endMs: Long = -1L)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, inputBytes: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        ok: Boolean, launchMs: Long, finishMs: Long)
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long)
  final case class Trigger(endMs: Long, durations: Map[String, Long],
                           stateCommitMs: Long, stateRows: Long)
}
