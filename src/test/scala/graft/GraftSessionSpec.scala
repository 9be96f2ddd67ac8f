package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: every session it builds carries the timed
  * run's settings, whichever harness asked for it. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("the factory session carries every setting of the timed run") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(conf.get("spark.sql.files.minPartitionNum") == "1")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }
}
