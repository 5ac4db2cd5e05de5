package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graft.{StagedCommitProtocol, StagedWrite}
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.sources.ParquetGroups

/** Failure paths and on-disk format of the store's staged writer: the
  * job commit removes what no task committed, a failing write leaves
  * the table as it was, every staged file kind keeps the schema the
  * store has always written, and CustomerStore has no other way to
  * write parquet.
  */
class StagedWriteSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long]): DataFrame =
    Ingest.enrich(ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone"))

  private def parquetNames(dir: File): Set[String] =
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  test("the job commit removes a part no committed task names, with its checksum") {
    val dir = new File(tmpDir("staged-orphan"), "t")
    val w = StagedWrite(spark.range(0, 40, 1, 2).toDF("id"), dir, "ins")
    assert(w.rows === 40L && w.files.size === 2)
    assert(parquetNames(dir) === w.files.map(_.name).toSet)
    // The part a failed attempt left behind, checksum sidecar included.
    val kept = w.files.head.name
    val orphan = new File(dir, kept.replace("-part-", "-part-9"))
    Files.copy(new File(dir, kept).toPath, orphan.toPath)
    Files.copy(new File(dir, s".$kept.crc").toPath, new File(dir, s".${orphan.getName}.crc").toPath)
    new StagedCommitProtocol(dir.getAbsolutePath, "ins-x")
      .commitJob(Job.getInstance(), Seq(new TaskCommitMessage(w.files.map(_.name).toList)))
    assert(parquetNames(dir) === w.files.map(_.name).toSet)
    assert(!new File(dir, s".${orphan.getName}.crc").exists())
    assert(!dir.listFiles().exists(f => f.getName.startsWith("_")),
      "a staged write leaves no _temporary dir or _SUCCESS file")
    assert(ParquetGroups.read(spark, dir.toString).count() === 40L)
  }

  test("a write that throws mid-job leaves the table at its prior version, nothing staged") {
    val path = tmpDir("staged-throw") + "/s"
    val store = new CustomerStore(spark, path)
    store.insertNew(batch(1L to 20L)): Unit
    val v0 = store.currentVersion()
    val files0 = store.liveDataFiles()
    val boom = udf((id: Long) => { if (id == 33L) throw new IllegalStateException("boom"); id })
    val bad = batch(30L to 40L).repartition(4).withColumn("id", boom(col("id")))
    intercept[Exception](store.stage(store.appendCommit(bad)))
    assert(store.currentVersion() === v0)
    assert(store.liveDataFiles() === files0)
    assert(!new File(path).listFiles().exists(_.getName.startsWith(CustomerStore.Staging)),
      "the failed commit's staging dir must be gone")
    assert(new CustomerStore(spark, path).all().count() === 20L)
  }

  test("CustomerStore writes parquet only through StagedWrite") {
    val src = new File("src/main/scala/graft/pipeline/CustomerStore.scala")
    assert(src.isFile, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val bare = """\.write\s*\.""".r
    val hits = scala.io.Source.fromFile(src, "UTF-8").getLines().zipWithIndex
      .filter { case (l, _) => bare.findFirstIn(l).nonEmpty }
      .map { case (l, i) => s"${i + 1}: ${l.trim}" }.toList
    assert(hits.isEmpty, s"parquet writes outside StagedWrite: $hits")
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath): Unit

  test("staged data, change-feed, vector and stats files keep the store's schemas and codec") {
    val path = tmpDir("staged-schemas") + "/s"
    val store = new CustomerStore(spark, path)
    store.addColumn("score", LongType)                                   // c1_score
    val captured = new File(tmpDir("staged-schemas-cap"), "c")
    var n = 0
    store.commitPointHook = () => {
      n += 1
      copyTree(new File(path, CustomerStore.Staging), new File(captured, s"c$n"))
    }
    try {
      store.insertNew(batch(1L to 10L).withColumn("score", col("id") % 10)): Unit
      store.delete(Seq("user4@example.com").toDF("email")): Unit
    } finally store.commitPointHook = () => ()
    assert(n === 2)
    import org.apache.spark.sql.types._
    def f(name: String, t: DataType, nullable: Boolean = true) = StructField(name, t, nullable)
    val row = Seq(f("id", LongType, false), f("first_name", StringType), f("last_name", StringType),
      f("email", StringType), f("phone", StringType))
    val ts = Seq(f("created_ts", TimestampType, false), f("modified_ts", TimestampType, false))
    val expected = Map(
      "c1/pending" -> StructType(row ++ ts :+ f("c1_score", LongType)),
      "c1/changelog" -> StructType(Seq(f("commit_version", LongType, false),
        f("change_type", StringType, false)) ++ row ++ (f("uploaded", BooleanType, false) +: ts) :+
        f("c1_score", LongType)),
      "c1/stats" -> StructType(Seq(f("file", StringType, false), f("kind", StringType, false)) ++
        Seq("w", "bits", "nbits", "n_rows", "min_id", "max_id", "min_hb", "max_hb", "s_h", "s_id")
          .map(f(_, LongType)) ++ Seq(f("ecol", StringType), f("min_v", LongType),
          f("max_v", LongType), f("commit_version", LongType, false))),
      "c2/deletes" -> StructType(Seq(f("file", StringType), f("email", StringType))))
    expected.foreach { case (kind, schema) =>
      val files = ParquetGroups.parquetFilesIn(new File(captured, kind).toString)
      assert(files.nonEmpty, s"no staged $kind file")
      files.foreach { file =>
        assert(ParquetGroups.sparkSchema(spark, file) === schema, s"$kind: $file")
        val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(file))
        import scala.jdk.CollectionConverters._
        assert(footer.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet ===
          Set("org.apache.spark.sql.parquet.row.metadata", "org.apache.spark.version"), kind)
        assert(footer.getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec.name).toSet ===
          Set("SNAPPY"), kind)
      }
    }
  }
}
