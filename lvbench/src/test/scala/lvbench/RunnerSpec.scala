package lvbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  test("an operation that throws or returns a wrong result counts as failed") {
    val run = new Runner(new Tracer(null, enabled = false))
    run.op("ok", 0)(1)(_ == 1)
    run.op("throws", 1)(throw new IllegalStateException("boom"))((_: Nothing) => true)
    run.op("check throws", 2)(1)(_ => throw new IllegalStateException("boom"))
    run.op("wrong", 3)(2)(_ == 1)
    assert(run.attempted == 4)
    assert(run.failed == 3)
    assert(run.plainMs.map(_._1) == Seq("ok", "check throws", "wrong"))
  }
}
