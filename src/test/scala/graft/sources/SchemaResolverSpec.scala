package graft.sources

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions.{col, lit, map, timestamp_micros}
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkSpec

/** The driver-side schema resolver: [[ParquetGroups.sparkSchema]]
  * returns what `spark.read.parquet` infers without running a job,
  * fails loudly (naming the path) where inference has nothing to read,
  * and [[ParquetGroups.read]] is the only way main code opens parquet.
  */
class SchemaResolverSpec extends SparkSpec {

  test("a Spark-written artifact with a map, a decimal and a timestamp resolves to the inferred schema") {
    val dir = tmpDir("resolver") + "/art"
    // Field metadata survives only through Spark's row-metadata key.
    val note = new MetadataBuilder().putString("comment", "kept by the row key").build()
    spark.range(20).select(
      col("id"),
      map(lit("k"), col("id")).as("m"),
      (col("id") / 7).cast("decimal(12,3)").as("d"),
      timestamp_micros(lit(1700000000000000L) + col("id")).as("ts"),
      col("id").as("noted", note))
      .coalesce(2).write.parquet(dir)
    val (resolved, jobs) = SparkSpec.jobsOf(ParquetGroups.sparkSchema(spark, dir))
    assert(jobs.isEmpty, s"resolution ran Spark jobs: $jobs")
    assert(resolved("noted").metadata === note)
    val inferred = spark.read.parquet(dir)
    val read = ParquetGroups.read(spark, dir)
    assert(read.schema === inferred.schema)
    assert(read.schema.json === inferred.schema.json)
    assert(read.orderBy("id").collect().toSeq === inferred.orderBy("id").collect().toSeq)
  }

  test("the footer is picked by Spark's rule: first data file by path, hidden names skipped") {
    val dir = new File(tmpDir("resolver-pick"), "t")
    dir.mkdirs()
    def place(name: String, cols: String*): Unit = {
      val out = tmpDir("resolver-part") + "/p"
      spark.range(3).selectExpr(cols: _*).coalesce(1).write.parquet(out)
      val part = ParquetGroups.parquetFilesIn(out).head
      Files.move(new File(part).toPath, new File(dir, name).toPath,
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    place(".a-hidden.parquet", "id AS hidden_dot")
    place("_a-hidden.parquet", "id AS hidden_underscore")
    place("b.parquet", "id AS second")
    place("a.parquet", "id AS first", "CAST(id AS STRING) AS s")
    assert(ParquetGroups.sparkSchema(spark, dir.toString).fieldNames.toSeq === Seq("first", "s"))
    assert(ParquetGroups.read(spark, dir.toString).schema ===
      spark.read.parquet(dir.toString).schema)
  }

  test("a directory holding only _SUCCESS fails naming the path") {
    val dir = new File(tmpDir("resolver-empty"), "only-success")
    dir.mkdirs()
    new File(dir, "_SUCCESS").createNewFile(): Unit
    val e = intercept[IllegalArgumentException](ParquetGroups.read(spark, dir.toString))
    assert(e.getMessage.contains(dir.toString), e.getMessage)
  }

  test("a missing path fails naming the path") {
    val missing = tmpDir("resolver-missing") + "/nothing-here"
    val e = intercept[FileNotFoundException](ParquetGroups.sparkSchema(spark, missing))
    assert(e.getMessage.contains(missing), e.getMessage)
  }

  test("main code opens parquet DataFrames only through ParquetGroups.read") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val bare = """read\s*\.\s*parquet\(""".r
    val walk = Files.walk(root.toPath)
    val hits =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "ParquetGroups.scala")
          .filter(p => bare.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
          .map(_.toString).toSeq.sorted
      } finally walk.close()
    assert(hits.isEmpty, s"bare parquet reads (a schema-inference job each): ${hits.mkString(", ")}")
  }
}
