package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts. The block runs under a job
  * group of its own, so jobs from other threads are not counted, and
  * the listener bus — private to Spark, hence this package — is
  * drained before the count is read. */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Waits until every event posted so far has reached the listeners
    * (and so `statusTracker`). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
