package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat, lit, timestamp_micros, unix_micros, when}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The decoder contract of the store's own files: [[ParquetGroups.readAll]]
  * returns what `spark.read.parquet` returns, row for row, over both
  * timestamp encodings and across a batch boundary, and it is the only
  * parquet decoder in main code.
  */
class ParquetGroupsSpec extends SparkSpec {

  private val Rows = 5000 // > the cursor's 4,096-row batch

  /** One Spark-written parquet file with long, int, string, boolean
    * (each null on some rows) and timestamp columns, the timestamp in
    * `encoding` (`spark.sql.parquet.outputTimestampType`).
    */
  private def writeFile(encoding: String): String = {
    val dir = tmpDir("pgspec") + "/t"
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, encoding)
    try {
      spark.range(Rows).select(
        when(col("id") % 7 =!= 0, col("id") * 1000003L).as("l"),
        when(col("id") % 5 =!= 0, (col("id") * 7919 - 20000).cast("int")).as("i"),
        when(col("id") % 3 =!= 0, concat(lit("row-"), col("id"))).as("s"),
        when(col("id") % 11 =!= 0, col("id") % 2 === 0).as("b"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 123457L).as("ts"))
        .coalesce(1).write.parquet(dir)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    ParquetGroups.parquetFilesIn(dir).head
  }

  private def owned(rows: Iterator[Array[Any]]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case u: UTF8String => u.toString
      case v => v
    }).toSeq

  private def expected(file: String, cols: org.apache.spark.sql.Column*): Seq[Seq[Any]] =
    spark.read.parquet(file).select(cols: _*).collect().map(_.toSeq).toSeq

  private val encodings = Seq(
    "INT96" -> "INT96",
    "TIMESTAMP_MICROS" -> "INT64")

  encodings.foreach { case (encoding, physical) =>
    test(s"readAll equals spark.read.parquet row for row [$encoding timestamps]") {
      val file = writeFile(encoding)
      val footer = ParquetGroups.fileSchema(file)
      assert(footer.getType(footer.getFieldIndex("ts")).asPrimitiveType().getPrimitiveTypeName.toString === physical)
      assert(footer.getType(footer.getFieldIndex("i")).asPrimitiveType().getPrimitiveTypeName.toString === "INT32")

      // A projection naming a column the file lacks reads it as null.
      val withMissing = owned(ParquetGroups.readAll(file,
        Seq("l", "s", "b", "ts", "absent")))
      assert(withMissing.size === Rows)
      assert(withMissing === expected(file,
        col("l"), col("s"), col("b"), unix_micros(col("ts")), lit(null).as("absent")))
      // Strings past the first batch are still the row's own values.
      assert(withMissing(Rows - 1)(1) === s"row-${Rows - 1}")

      // The int column with no declared type decodes as Int.
      val undeclared = owned(ParquetGroups.readAll(file, Seq("i", "s")))
      assert(undeclared === expected(file, col("i"), col("s")))
      assert(undeclared.flatMap(r => Option(r.head)).forall(_.isInstanceOf[java.lang.Integer]))
      assert(undeclared.count(_.head == null) === Rows / 5)

      // Declared LongType, the int column decodes as Long.
      val widened = owned(ParquetGroups.readAll(file, Seq("i", "l"),
        Map("i" -> LongType, "l" -> LongType)))
      assert(widened === expected(file, col("i").cast(LongType), col("l")))
      assert(widened.flatMap(r => Option(r.head)).forall(_.isInstanceOf[java.lang.Long]))

      // Declared IntegerType is served as declared.
      assert(owned(ParquetGroups.readAll(file, Seq("i"), Map("i" -> IntegerType))) ===
        undeclared.map(_.take(1)))
    }
  }

  test("the parquet-mr example Group reader appears nowhere in main code") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val walk = Files.walk(root.toPath)
    val hits =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .filter { p =>
            val src = new String(Files.readAllBytes(p), "UTF-8")
            src.contains("org.apache.parquet.example") || src.contains("GroupReadSupport")
          }
          .map(_.toString).toSeq.sorted
      } finally walk.close()
    assert(hits.isEmpty, s"second parquet decoder in: ${hits.mkString(", ")}")
  }
}
