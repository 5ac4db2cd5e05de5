package graft.util

import graft.SparkSpec

/** MultisetEq's precondition and internal names: a column only one
  * side has is an error, not a silently ignored difference, and input
  * columns named like its internal weight/sum columns compare normally.
  */
class MultisetEqSpec extends SparkSpec {
  import spark.implicits._

  test("equal multisets compare equal whatever the column order; a changed count does not") {
    val a = Seq((1, "x"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(MultisetEq(a, Seq(("y", 2), ("x", 1), ("x", 1)).toDF("v", "k")))
    assert(!MultisetEq(a, Seq((1, "x"), (2, "y")).toDF("k", "v")))
  }

  test("a column only one side carries fails loudly") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((1, "x", 9)).toDF("k", "v", "extra")
    val e1 = intercept[IllegalArgumentException](MultisetEq(a, b))
    assert(e1.getMessage.contains("extra"))
    intercept[IllegalArgumentException](MultisetEq(b, a))
  }

  test("input columns named _w and _s are compared, not overwritten") {
    val a = Seq((1L, 5L, "p"), (2L, 6L, "q")).toDF("_w", "_s", "_w0")
    assert(MultisetEq(a, Seq((2L, 6L, "q"), (1L, 5L, "p")).toDF("_w", "_s", "_w0")))
    assert(!MultisetEq(a, Seq((1L, 5L, "p"), (2L, 7L, "q")).toDF("_w", "_s", "_w0")))
    assert(!MultisetEq(a, Seq((9L, 5L, "p"), (2L, 6L, "q")).toDF("_w", "_s", "_w0")))
  }
}
