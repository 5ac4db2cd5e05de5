package graft.pipeline

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Every commit kind survives a crash at its commit point. The table is
  * copied the instant its commit-point rename lands (before promotion —
  * the on-disk image a crash there leaves), the copy is reopened, and
  * what recovery promotes must equal the store that went on to finish:
  * rows, change feed, history, schema, constraints and the txn and
  * ingest registries; no `_staging` may survive the reopen.
  */
class CommitPointCrashSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long]): DataFrame =
    Ingest.enrich(ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone"))

  private def emails(ids: Long*): DataFrame = ids.map(i => s"user$i@example.com").toDF("email")

  /** Two inserts, an ack and a delete: both partitions, vectors, feed. */
  private lazy val fixture: String = {
    val path = tmpDir("crash-kinds") + "/base"
    val s = new CustomerStore(spark, path)
    s.insertNew(batch(1L to 20L)): Unit
    s.insertNew(batch(21L to 30L)): Unit
    s.markUploaded(emails(3L, 22L))
    s.delete(emails(5L)): Unit
    path
  }

  /** A CSV whose rows all duplicate stored rows: COPY INTO registers it
    * with a marker-only commit.
    */
  private lazy val dupCsvDir: String = {
    val dir = tmpDir("crash-kinds-csv")
    Files.write(Paths.get(dir, "dup.csv"),
      ("id,first_name,last_name,email,phone" +: Seq(1L, 2L).map(i =>
        s"$i,F$i,L$i,user$i@example.com,555-$i")).mkString("\n").getBytes("UTF-8")): Unit
    dir
  }

  private val kinds: Seq[(String, CustomerStore => Any)] = Seq(
    "insert" -> (_.insertNew(batch(Seq(100L, 101L)))),
    "ack" -> (_.markUploaded(emails(7L, 8L))),
    "merge" -> (_.merge(batch(Seq(9L, 200L)).withColumn("phone", lit("999")))),
    "delete" -> (_.delete(emails(11L))),
    "compact" -> (_.compact()),
    "restore" -> (_.restore(2L)),
    "purge" -> (_.purgeEmails(Seq("user12@example.com"))),
    "ADD COLUMN" -> (_.addColumn("score", LongType)),
    "ADD CONSTRAINT" -> (_.addCheckConstraint("chk_id", "id > 0")),
    "TXN marker-only" -> (_.txnInsert("app", 1L, batch(Seq(1L)))),
    "COPY INTO marker-only" -> (_.ingestNewFiles(dupCsvDir)))

  private def copyTree(from: File, to: File): Unit = {
    val walk = Files.walk(from.toPath)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.foreach { p =>
        val t = to.toPath.resolve(from.toPath.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t): Unit
      }
    } finally walk.close()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  kinds.foreach { case (kind, op) =>
    test(s"crash at the commit point of $kind: reopening equals the finished commit") {
      val livePath = tmpDir("crash-kind") + "/live"
      new CustomerStore(spark, fixture).cloneTo(livePath): Unit
      val store = new CustomerStore(spark, livePath)
      val image = new File(tmpDir("crash-kind-image"), "store")
      var images = 0
      store.commitPointHook = () => { images += 1; copyTree(new File(livePath), image) }
      val v0 = store.currentVersion()
      try op(store) finally store.commitPointHook = () => ()
      assert(images === 1, s"$kind must pass exactly one commit point")
      assert(store.currentVersion() === v0 + 1)
      assert(new File(image, CustomerStore.Staging).exists(), "the image must be mid-commit")

      val crashed = new CustomerStore(spark, image.toString) // recovery promotes
      assert(!new File(image, CustomerStore.Staging).exists(), "staging survived recovery")
      assert(crashed.currentVersion() === store.currentVersion())
      assert(rows(crashed.all()) === rows(store.all()))
      assert(rows(crashed.changeFeed()) === rows(store.changeFeed()))
      assert(rows(crashed.history()) === rows(store.history()))
      assert(crashed.tableSchema === store.tableSchema)
      assert(crashed.checkConstraints() === store.checkConstraints())
      assert(crashed.latestTxnVersion("app") === store.latestTxnVersion("app"))
      assert(crashed.ingestedFiles() === store.ingestedFiles())
    }
  }
}
