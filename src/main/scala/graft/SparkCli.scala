package graft

import org.apache.spark.sql.SparkSession

/** Shared interactive-CLI session (AskCli / IndexCli): one place for
  * the master-resolution rule and the partition count. */
object SparkCli {
  def session(): SparkSession =
    GraftSession.create(sys.env.getOrElse("SPARK_MASTER", "local[*]"), 32)
}
