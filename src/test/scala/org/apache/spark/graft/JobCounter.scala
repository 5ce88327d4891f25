package org.apache.spark.graft

import java.util.{Properties, UUID}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts the Spark jobs, or the stages submitted (a stage whose shuffle
  * output already exists is skipped, not submitted), that a block of code
  * starts. Jobs are tagged with a private job group on the calling thread
  * (subquery and broadcast threads inherit it), so work other threads start
  * is not counted. Lives in `org.apache.spark` to drain the `private[spark]`
  * listener bus before reading the count.
  */
object JobCounter {

  def jobsRun[T](sc: SparkContext)(body: => T): (T, Int) = counted(sc, stages = false)(body)

  def stagesRun[T](sc: SparkContext)(body: => T): (T, Int) = counted(sc, stages = true)(body)

  private def counted[T](sc: SparkContext, stages: Boolean)(body: => T): (T, Int) = {
    val group = s"graft-job-count-${UUID.randomUUID()}"
    val count = new AtomicInteger
    def inGroup(p: Properties): Boolean =
      p != null && p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!stages && inGroup(e.properties)) count.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (stages && inGroup(e.properties)) count.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, count.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
