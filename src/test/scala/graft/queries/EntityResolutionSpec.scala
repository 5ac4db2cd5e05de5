package graft.queries

import graft.{SparkEntry, SparkSpec}

/** dedup_entity_resolution packs each name trigram into one int, which
  * is injective only for ASCII names: a wider code must fail the query
  * and name the precondition instead of colliding silently.
  */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  private def customers(names: String*): String = {
    val dir = tmpDir("er")
    names.zipWithIndex.map { case (n, i) => (i.toLong + 1, n) }
      .toDF("c_custkey", "c_name")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    dir
  }

  private def run(dir: String) =
    SparkEntry.queries("dedup_entity_resolution")(spark, dir).collect()

  test("a non-ASCII c_name fails the query and names the ASCII precondition") {
    val ascii = run(customers("Customer#000000001", "Customer#000000002"))
    assert(ascii.map(_.getAs[Long]("n_cands")).toSeq === Seq(1L))
    val e = intercept[Exception](run(customers("Customer#000000001", "Customer#00000000é")))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("require an ASCII c_name"), msgs)
  }
}
