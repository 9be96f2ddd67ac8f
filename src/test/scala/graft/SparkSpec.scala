package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4,
    Some(java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
