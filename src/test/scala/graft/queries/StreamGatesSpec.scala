package graft.queries

import graft.SparkSpec

/** The shared stream-gate scope: an overlapping scope fails loudly,
  * and the failure leaves nothing behind — the conf is restored and a
  * later sequential scope still runs. `drain` returns the stream's
  * output detached from the scope's scratch dir.
  */
class StreamGatesSpec extends SparkSpec {
  private val Key = "spark.sql.shuffle.partitions"

  test("an overlapping scope fails loudly; a later sequential scope still succeeds") {
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, "7")
    try {
      val inner = StreamGates.withStreamTempDir(spark, "graft-scope-a-") { (s, tmp) =>
        assert(java.nio.file.Files.isDirectory(tmp))
        val e = intercept[IllegalArgumentException] {
          StreamGates.withStreamTempDir(s, "graft-scope-b-") { (_, _) => () }
        }
        assert(e.getMessage.contains("concurrent stream gates"))
        s.conf.get(Key)
      }
      assert(inner === StreamGates.StreamPartitions.toString)
      assert(spark.conf.get(Key) === "7", "the scope must restore the conf")
      // The rejected overlap released its claim: sequential scopes run.
      for (_ <- 1 to 2)
        assert(StreamGates.withStreamTempDir(spark, "graft-scope-c-") { (s, _) =>
          s.conf.get(Key)
        } === StreamGates.StreamPartitions.toString)
      // A failing body releases the scope too.
      intercept[IllegalStateException] {
        StreamGates.withStreamTempDir(spark, "graft-scope-d-") { (_, _) =>
          throw new IllegalStateException("gate failed")
        }
      }
      assert(StreamGates.withStreamTempDir(spark, "graft-scope-e-") { (_, _) => 1 } === 1)
      assert(spark.conf.get(Key) === "7")
    } finally spark.conf.set(Key, prev)
  }

  test("drain returns the stream's rows under its own schema, detached from the scope") {
    import spark.implicits._
    val src = tmpDir("graft-drain-src")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag").write.mode("overwrite").parquet(src)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, tag STRING")
    var scratch: java.nio.file.Path = null
    val out = StreamGates.withStreamTempDir(spark, "graft-drain-") { (s, tmp) =>
      scratch = tmp
      StreamGates.drain(s.readStream.schema(schema).parquet(src)
        .filter($"id" > 1L).select($"tag", ($"id" * 10L).as("id10")), tmp)
    }
    assert(!java.nio.file.Files.exists(scratch), "the scope's scratch dir must be gone")
    assert(out.columns.toSeq === Seq("tag", "id10"))
    assert(out.as[(String, Long)].collect().sorted.toSeq === Seq(("b", 20L), ("c", 30L)))
  }
}
