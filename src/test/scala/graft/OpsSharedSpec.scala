package graft

import graft.ops.OpsShared
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Memo keys and the two-thunk driver helper. */
class OpsSharedSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("dirKey: fingerprints whose hashCodes collide (\"Aa\"/\"BB\") give different keys") {
    assert("Aa".hashCode == "BB".hashCode)
    val dir = Files.createTempDirectory("graft-dirkey")
    val table = Files.createDirectories(dir.resolve("embeddings.parquet"))
    def keyWith(name: String): String = {
      val f = Files.write(table.resolve(name), Array[Byte](1, 2, 3))
      f.toFile.setLastModified(1700000000000L)
      try OpsShared.dirKey(dir.toString) finally Files.delete(f)
    }
    assert(keyWith("Aa") != keyWith("BB"))
  }

  test("tableSuffix: keys whose hashCodes collide (\"Aa\"/\"BB\") name different tables") {
    assert("Aa".hashCode == "BB".hashCode)
    assert(OpsShared.tableSuffix("Aa") != OpsShared.tableSuffix("BB"))
  }

  test("concurrently: a failing thunk cancels its sibling's running Spark job before rethrowing") {
    val sc = spark.sparkContext
    val group = s"concurrently-${java.util.UUID.randomUUID()}"
    def active(): Seq[Int] = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .filter(id => sc.statusTracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    val slow = udf((x: Long) => { Thread.sleep(60000); x })
    sc.setJobGroup(group, "sibling cancel")
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](OpsShared.concurrently(
        {
          val deadline = System.nanoTime() + 30e9
          while (active().isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("first thunk failed")
        },
        spark.range(0, 4, 1, 2).select(slow(col("id"))).collect()))
      assert(e.getMessage == "first thunk failed")
      JobCounter.drain(sc)
      assert(active().isEmpty, s"jobs still running: ${active()}")
      assert((System.nanoTime() - t0) / 1e9 < 45, "the sibling ran to completion")
    } finally sc.clearJobGroup()
  }
}
