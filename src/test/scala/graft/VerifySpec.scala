package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** `Verify` reports every query that throws instead of swallowing it. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("a query run against a directory with no tables is returned and listed as a failure") {
    val empty = Files.createTempDirectory("graft-verify-empty")
    val out = Files.createTempDirectory("graft-verify-out")
    val failures = Verify.run(spark, empty.toString, out.toString, Some(Set("q01_pricing_summary")))
    assert(failures.map(_._1) == Seq("q01_pricing_summary"))
    assert(failures.head._2.nonEmpty)
    val listed = Files.readString(out.resolve("failures.txt"))
    assert(listed == s"q01_pricing_summary\t${failures.head._2}\n")
    // a clean run over the same dir removes the stale list
    assert(Verify.run(spark, empty.toString, out.toString, Some(Set.empty)).isEmpty)
    assert(!Files.exists(out.resolve("failures.txt")))
    Seq(empty, out).foreach(deleteTree)
  }

  private def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
  }
}
