package perfbench

/** Turns the raw listener events of one traced schedule into the
  * per-layer metrics, attributing every job to the [[Span]] it ran for.
  *
  * A job belongs to a span when (in this order) its job group names the
  * span, its `sink:<phase> b=<id>` description names the batch the span
  * commits (jobs on the sink's overlap threads carry no group), or it
  * started inside the span (the streaming thread runs the sink under its
  * own job group). Ops run one at a time, so the time rule is exact for
  * everything the client thread waits on. Jobs the harness itself starts
  * between ops run under [[HarnessGroup]] and are left out; any other job
  * matching none of the rules is counted, never dropped.
  */
object Layers {
  val GroupPrefix = "perfbench-op-"
  val HarnessGroup = "perfbench-harness"

  /** Run harness-side Spark work (not part of any op) under its own group. */
  def harness[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    spark.sparkContext.setJobGroup(HarnessGroup, "harness", interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
  private val SinkDesc = """sink:([a-z-]+) b=(\d+)""".r.unanchored
  val SinkPhases = Seq("summary", "merge-write", "deletion-vector",
    "change-capture", "manifest")

  /** How the traced jobs were matched to spans, and each span's jobs
    * and (for commits) phase self-times, for the run record.
    */
  final case class Attribution(byGroup: Int, bySink: Int, byTime: Int,
                               unattributed: Int,
                               spans: Seq[Map[String, Any]] = Nil)

  def compute(tr: Trace, spans: Seq[Span], cores: Int)
      : (Map[String, Double], Attribution) = {
    val byId = spans.map(s => s.id -> s).toMap
    val byBatch = spans.flatMap(s => s.batch.map(_ -> s)).toMap
    val window = (spans.map(_.startMs).min, spans.map(_.endMs).max)
    var nGroup, nSink, nTime, nNone = 0
    val jobs = tr.jobList.filter(j => j.startMs >= window._1 &&
      j.startMs <= window._2 && j.group != HarnessGroup)
    val owner: Map[Int, Span] = jobs.flatMap { j =>
      val viaGroup =
        if (j.group.startsWith(GroupPrefix))
          j.group.stripPrefix(GroupPrefix).toIntOption.flatMap(byId.get)
        else None
      val viaSink = j.desc match {
        case SinkDesc(_, b) => byBatch.get(b.toLong)
        case _ => None
      }
      val viaTime = spans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
      (viaGroup, viaSink, viaTime) match {
        case (Some(s), _, _) => nGroup += 1; Some(j.id -> s)
        case (_, Some(s), _) => nSink += 1; Some(j.id -> s)
        case (_, _, Some(s)) => nTime += 1; Some(j.id -> s)
        case _ => nNone += 1; None
      }
    }.toMap
    val ownedJobs = jobs.filter(j => owner.contains(j.id))
    // a stage runs its tasks in the first job that lists it
    val stageJob: Map[Int, Int] = ownedJobs.sortBy(-_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasks = tr.taskList.filter(t => stageJob.contains(t.stage))
    val wallMs = spans.map(_.wallMs).sum.toDouble
    def jobsOf(s: Span) = ownedJobs.filter(j => owner(j.id).id == s.id)
    def interval(j: Trace.Job, s: Span): (Long, Long) =
      (math.max(j.startMs, s.startMs),
       math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))
    def covered(ivs: Seq[(Long, Long)]): Long =
      ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
      }._1
    val gapMs = spans.map { s =>
      s.wallMs - covered(jobsOf(s).map(interval(_, s)))
    }.sum.toDouble

    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).flatMap { ts =>
      val d = ts.map(t => t.finishMs - t.launchMs).sorted
      val med = d(d.size / 2)
      if (med > 0) Some(d.last.toDouble / med) else None
    }
    val inSpans = (t: Long) => spans.exists(s => t >= s.startMs && t <= s.endMs)
    val plans = tr.planList.filter(p => inSpans(p.endMs))
    val planMs = plans.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum

    val queries = spans.filter(_.kind == "query")
    val eager = queries.map(s => jobsOf(s).count(_.startMs < s.builtMs)).sum

    val commits = spans.filter(_.kind == "commit")
    val phaseMs = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    val commitPhases = commits.map { s =>
      val self = selfTimes(jobsOf(s).map { j =>
        val label = j.desc match {
          case SinkDesc(p, _) if SinkPhases.contains(p) => p
          case _ => "other"
        }
        (label, interval(j, s))
      }, s)
      self.foreach { case (k, v) => phaseMs(k) += v }
      s.id -> self
    }.toMap
    val nc = math.max(1, commits.size).toDouble
    val reads = spans.filter(_.kind == "read")
    val readPlanMs = tr.planList.filter(p => reads.exists(s =>
      p.endMs >= s.startMs && p.endMs <= s.endMs))
      .map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum
    val trig = tr.triggerList.filter(t => t.endMs >= window._1)
    def trigMean(k: String) =
      if (trig.isEmpty) 0.0 else trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble / trig.size
    val m = Map[String, Double](
      "plans.analysis_ms" -> plans.map(_.analysisMs).sum.toDouble,
      "plans.optimization_ms" -> plans.map(_.optimizationMs).sum.toDouble,
      "plans.planning_ms" -> plans.map(_.planningMs).sum.toDouble,
      "plans.share_of_op" -> (if (wallMs > 0) planMs / wallMs else 0.0),
      "operators.build_ms" -> queries.map(s => s.builtMs - s.startMs).sum.toDouble,
      "operators.eager_jobs" -> eager.toDouble,
      "spark.jobs" -> ownedJobs.size.toDouble,
      "spark.stages" -> tasks.map(_.stage).distinct.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_run_ms" -> tasks.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
      "spark.core_busy_ratio" ->
        (if (wallMs > 0) tasks.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "spark.driver_gap_ms" -> gapMs,
      "spark.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "spark.stage_skew_ratio" ->
        (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "spark.unattributed_jobs" -> nNone.toDouble,
      "ingest.jobs_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(jobsOf(_).size).sum / nc),
      "ingest.phase.swap_ms" -> phaseMs("swap") / nc,
      "ingest.phase.other_ms" -> phaseMs("other") / nc,
      "ingest.phase_coverage" -> (if (commits.isEmpty) 0.0 else
        (SinkPhases.map(phaseMs).sum + phaseMs("gap")) /
          commits.map(_.wallMs).sum),
      "ingest.read_planning_ms" ->
        (if (reads.isEmpty) 0.0 else readPlanMs.toDouble / reads.size),
      "streaming.trigger_ms" -> trigMean("triggerExecution"),
      "streaming.latestOffset_ms" -> trigMean("latestOffset"),
      "streaming.queryPlanning_ms" -> trigMean("queryPlanning"),
      "streaming.addBatch_ms" -> trigMean("addBatch"),
      "streaming.walCommit_ms" -> trigMean("walCommit"),
      "streaming.commitOffsets_ms" -> trigMean("commitOffsets"),
      "streaming.state_commit_ms" ->
        (if (trig.isEmpty) 0.0 else trig.map(_.stateCommitMs).sum.toDouble / trig.size),
      "streaming.state_rows" ->
        (if (trig.isEmpty) 0.0 else trig.map(_.stateRows).sum.toDouble / trig.size)
    ) ++ SinkPhases.map(p => s"ingest.phase.${p}_ms" -> phaseMs(p) / nc)
    val spanRecords = spans.map { s =>
      Map[String, Any]("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "lat_ms" -> s.latMs,
        "ok" -> s.ok, "batch" -> s.batch, "jobs" -> jobsOf(s).map(_.id),
        "phases_ms" -> commitPhases.getOrElse(s.id, Map.empty))
    }
    (m, Attribution(nGroup, nSink, nTime, nNone, spanRecords))
  }

  /** Split one commit's wall time into self-times: every instant goes to
    * the highest-priority phase with a job running then (the merge write
    * first, overlapped side writes last), to `gap` when no job runs.
    * `swap` is the gap after the last sink job: the control-plane swap
    * and the stream's own bookkeeping. The parts sum to the wall time.
    */
  def selfTimes(jobs: Seq[(String, (Long, Long))], s: Span): Map[String, Double] = {
    val prio = Seq("merge-write", "summary", "manifest", "deletion-vector",
      "change-capture", "other")
    val cuts = (jobs.flatMap { case (_, (a, b)) => Seq(a, b) } ++
      Seq(s.startMs, s.endMs)).distinct.sorted
    val lastSink = jobs.filter(_._1 != "other").map(_._2._2)
      .foldLeft(s.startMs)(math.max)
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = jobs.filter { case (_, (x, y)) => x <= a && y >= b && y > x }
        .map(_._1).toSet
      val label = prio.find(active.contains).getOrElse(
        if (a >= lastSink) "swap" else "gap")
      out(label) += (b - a)
      if (label == "swap") out("gap") += (b - a)
    }
    out.toMap
  }
}
