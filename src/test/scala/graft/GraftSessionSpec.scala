package graft

import java.io.File
import java.nio.file.Files

/** One session recipe: no main builds its own SparkSession, and the
  * shared spec session carries the recipe the mains run with.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSession.builder appears in main code only in GraftSession") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val walk = Files.walk(root.toPath)
    val hits =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
          .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
          .map(_.toString).toSeq.sorted
      } finally walk.close()
    assert(hits.isEmpty, s"sessions built outside GraftSession: ${hits.mkString(", ")}")
  }

  test("the shared spec session carries the recipe") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(spark.sql("SELECT simhash64('a b c')").head().getLong(0) ===
      graft.functions.TextKernels.simhash64(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
  }
}
