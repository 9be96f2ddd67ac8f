package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

import scala.concurrent.Await
import scala.concurrent.duration._

/** Job-tag cancellation that returns only once the scheduler has
  * failed the tag's active jobs. `cancelJobsWithTag` merely posts the
  * request; the waiting form is private to Spark, hence this package. */
object JobTags {
  def cancelAndWait(sc: SparkContext, tag: String, reason: String, timeout: FiniteDuration = 60.seconds): Unit =
    Await.ready(sc.cancelJobsWithTagWithFuture(tag, reason), timeout)
}
