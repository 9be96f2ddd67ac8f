package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.protocol]] — the cold/warm table every harness times by —
  * names real queries, gives each fit one owner, and leaves each
  * query's owned fits cold and its consumed fits warm. */
class BenchProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("every protocol entry names a registered query") {
    val unknown = Bench.protocol.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"protocol entries with no registered query: ${unknown.mkString(", ")}")
  }

  test("no fit has two owners") {
    val owners = Bench.protocol.toSeq
      .flatMap { case (q, (owns, _)) => owns.map(_ -> q) }
      .groupBy(_._1).map { case (fit, qs) => fit -> qs.map(_._2).sorted }
    val shared = owners.filter(_._2.size > 1)
    assert(shared.isEmpty, s"fits owned by more than one query: $shared")
  }

  test("after setupFor(q), every fit q owns is cold and every fit it consumes is warm") {
    Bench.protocol.toSeq.sortBy(_._1).foreach { case (q, (owns, consumes)) =>
      owns.foreach(_(spark, sf))
      Bench.setupFor(q)(spark, sf)
      owns.foreach(f => assert(!f.isWarm(sf), s"$q: owned fit $f is warm after setup"))
      consumes.foreach(f => assert(f.isWarm(sf), s"$q: consumed fit $f is cold after setup"))
    }
  }
}
