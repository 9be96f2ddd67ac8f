package graft

import graft.ops.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The fixture loader's env knob. */
class TablesSpec extends AnyFunSuite {
  private val Knob = "SPARK_GRAFT_RESPLIT_MAX_BYTES"

  test("resplit ceiling: 256 MB default, a byte count overrides it") {
    assert(Tables.resplitMaxBytes(Map.empty) == (256L << 20))
    assert(Tables.resplitMaxBytes(Map(Knob -> "1048576")) == 1048576L)
    assert(Tables.resplitMaxBytes(Map(Knob -> " 0 ")) == 0L)
  }

  test("resplit ceiling: a malformed value fails with the variable's name") {
    for (bad <- Seq("256MB", "", "-1", "1e9", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](Tables.resplitMaxBytes(Map(Knob -> bad)))
      assert(e.getMessage.contains(Knob) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
