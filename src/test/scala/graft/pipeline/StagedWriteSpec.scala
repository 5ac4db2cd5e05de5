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
  * the table as it was, no write leaves a 0-row file, every staged file
  * kind keeps the schema the store has always written, and
  * CustomerStore has no other way to write parquet.
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

  test("a part no row reached is deleted with its checksum and left out of the result") {
    val dir = new File(tmpDir("staged-empty"), "t")
    // Four partitions, two of them empty, the first among them.
    val df = spark.range(0, 20, 1, 4).toDF("id").filter(col("id") >= 10L)
    val w = StagedWrite(df, dir, "ins")
    assert(w.rows === 10L && w.files.forall(_.rows > 0L) && w.files.size === 2, s"$w")
    assert(parquetNames(dir) === w.files.map(_.name).toSet)
    assert(dir.listFiles().count(_.getName.endsWith(".crc")) === 2)
    // A job no row reached leaves the directory without a file.
    val none = new File(tmpDir("staged-none"), "t")
    assert(StagedWrite(spark.range(0).toDF("id"), none, "ins").files.isEmpty)
    assert(Option(none.listFiles()).toSeq.flatten.isEmpty)
  }

  /** Each staged target's parquet files, by target, for a captured staging dir. */
  private def stagedParts(dir: File): Map[String, Seq[String]] =
    dir.listFiles().filter(_.isDirectory).map(d =>
      d.getName -> ParquetGroups.parquetFilesIn(d.toString)).toMap.filter(_._2.nonEmpty)

  test("a one-email delete on a 4-file store writes one vector file and one change part") {
    val path = tmpDir("staged-delete") + "/s"
    val store = new CustomerStore(spark, path)
    for (c <- 0 until 4) store.insertNew(batch((1 + c * 50).toLong to ((c + 1) * 50).toLong)): Unit
    assert(store.liveDataFiles().size === 4)
    val captured = new File(tmpDir("staged-delete-cap"), "c")
    store.commitPointHook = () => copyTree(new File(path, CustomerStore.Staging), captured)
    try assert(store.delete(Seq("user60@example.com").toDF("email")) === 1L)
    finally store.commitPointHook = () => ()
    val parts = stagedParts(captured)
    assert(parts.keySet === Set("deletes", "changelog"), s"$parts")
    parts.foreach { case (target, files) =>
      assert(files.size === 1 && ParquetGroups.rowCount(spark, files) === 1L, s"$target: $files")
    }
  }

  test("no staged target holds a 0-row file after any commit kind") {
    val path = tmpDir("staged-kinds") + "/s"
    val store = JobBudgetSpec.fixture(spark, path)
    val captured = new File(tmpDir("staged-kinds-cap"), "c")
    var n = 0
    store.commitPointHook = () => {
      n += 1
      copyTree(new File(path, CustomerStore.Staging), new File(captured, s"c$n"))
    }
    val kinds = JobBudgetSpec.commitKinds(spark, store)
    try kinds.foreach(_._2())
    finally store.commitPointHook = () => ()
    assert(n === kinds.size)
    val empty = (1 to n).flatMap(i => stagedParts(new File(captured, s"c$i")).toSeq.flatMap {
      case (target, files) => files.filter(f => ParquetGroups.rowCount(spark, Seq(f)) == 0L)
        .map(f => s"${kinds(i - 1)._1}/$target/${new File(f).getName}")
    })
    assert(empty.isEmpty, s"0-row staged parts: $empty")
  }

  test("a restore stages its change rows from one projection, in one part") {
    val path = tmpDir("staged-restore") + "/s"
    val store = JobBudgetSpec.fixture(spark, path)
    val kinds = JobBudgetSpec.commitKinds(spark, store)
    kinds.init.foreach(_._2())
    val captured = new File(tmpDir("staged-restore-cap"), "c")
    store.commitPointHook = () => copyTree(new File(path, CustomerStore.Staging), captured)
    try kinds.last._2()
    finally store.commitPointHook = () => ()
    // user11 back, user601 gone, user7-9 reverted: 8 change rows.
    val parts = stagedParts(captured)("changelog")
    assert(parts.size === 1, s"$parts")
    assert(ParquetGroups.read(spark, parts.head).groupBy("change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("insert" -> 1L, "delete_pre" -> 1L, "update_pre" -> 3L, "update" -> 3L))
  }

  test("a feed-silent commit leaves an empty _changelog dir; history reads across it") {
    val path = tmpDir("staged-silent") + "/s"
    val store = new CustomerStore(spark, path)
    store.insertNew(batch(1L to 20L)): Unit                              // v1
    store.delete(Seq("user3@example.com").toDF("email")): Unit          // v2
    store.compact()                                                      // v3, feed-silent
    store.insertNew(batch(21L to 30L)): Unit                             // v4
    def feedDir(v: Long) = new File(path, f"_changelog/commit-$v%09d")
    assert(Seq(1L, 2L, 3L, 4L).forall(feedDir(_).isDirectory))
    assert(ParquetGroups.parquetFilesIn(feedDir(3L).toString).isEmpty,
      "compaction stages no change part, so its feed dir holds no file")
    assert(store.history().filter(col("commit_version") === 3L).head().getLong(3) === 0L)
    assert(Seq(1L, 2L, 3L, 4L).map(store.asOf(_).count()) === Seq(20L, 19L, 19L, 29L))
    assert(store.feedSince(1L, 4L).groupBy("commit_version").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(2L -> 1L, 4L -> 10L))
    assert(store.feedSince(2L, 3L).count() === 0L)
    // The micro-batch stream: one commit per trigger, the silent one empty.
    val sink = tmpDir("staged-silent-sink")
    val q = spark.readStream.format("graft-store").option("path", path)
      .option("feedFrom", 0).option("maxCommitsPerTrigger", 1).load()
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", tmpDir("staged-silent-ckpt")).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0L).toSeq === Seq(20L, 1L, 10L))
    assert(spark.read.schema(store.changeFeed().schema).parquet(sink).count() === 31L)
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
