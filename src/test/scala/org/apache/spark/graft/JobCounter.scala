package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts. Jobs are tagged with a
  * private job group on the calling thread (subquery and broadcast threads
  * inherit it), so jobs other threads start are not counted. Lives in
  * `org.apache.spark` to drain the `private[spark]` listener bus before
  * reading the count.
  */
object JobCounter {

  def jobsRun[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-job-count-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group) {
          jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
