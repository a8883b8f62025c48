package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge to `private[spark]` internals: deterministic listener
  * drain for specs that assert on SparkListener-counted events (the
  * fixed-sleep alternative both undercounts under load and adds latency —
  * ADVICE r3).
  */
object GraftTestAccess {
  /** Block until the listener bus has delivered every queued event, or
    * fail after `timeoutMs`.
    */
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** One Spark job [[jobsOf]] saw: its description and the name of its
    * final stage (the call site, e.g. `collect at Foo.scala:12`).
    */
  final case class Job(description: String, stage: String)

  /** Run `body` under a fresh job group, drain the listener bus, and
    * return every job the group started, in start order. Jobs of other
    * threads carry no job group (sbt may run suites concurrently on the
    * shared session); `alsoMatch` admits such a job by its description.
    */
  def jobsOf(sc: SparkContext, alsoMatch: String => Boolean = _ => false)
            (body: => Unit): Seq[Job] = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String): String = Option(js.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        val desc = prop("spark.job.description")
        if (prop("spark.jobGroup.id") == group || alsoMatch(desc))
          jobs.add(Job(desc,
            js.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft job count")
    try {
      body
      waitUntilListenerBusEmpty(sc, 30000)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }
}
