package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONE-action multiset equality (r16; guide §1.2 "don't compute things
  * twice"): group the union of `a` weighted +1 and `b` weighted −1 on
  * every column of `a`; every group sum is zero iff `a.exceptAll(b)`
  * AND `b.exceptAll(a)` are both empty (the round-15 lifecycle
  * rebuild-parity pattern, Similarity.scala). The old
  * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` shape ran two
  * jobs, each evaluating BOTH inputs; this evaluates each input once
  * in one job. Null keys group together, exactly as exceptAll compares
  * them.
  *
  * Both inputs must carry the same column set (order may differ): a
  * column only one side has would otherwise be ignored or fail
  * resolution instead of counting as a difference. The weight and sum
  * columns take names no input column has.
  */
object MultisetEq {
  def apply(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    require(cols.toSet == b.columns.toSet && cols.size == b.columns.length,
      s"MultisetEq needs equal column sets: [${cols.mkString(", ")}] vs " +
        s"[${b.columns.mkString(", ")}]")
    def unused(base: String): String =
      Iterator.from(0).map(i => s"$base$i").find(n => !cols.exists(_.equalsIgnoreCase(n))).get
    val (w, s) = (unused("_w"), unused("_s"))
    a.select(cols.map(col): _*).withColumn(w, lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn(w, lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col(w)).as(s))
      .filter(col(s) =!= 0L)
      .isEmpty
  }
}
