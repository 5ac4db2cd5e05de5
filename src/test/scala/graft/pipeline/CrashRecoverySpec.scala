package graft.pipeline

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** markUploaded's staged commit protocol must never leave a row in both
  * partitions (the UNIQUE contract) or lose a pending row, no matter
  * where a crash lands: before the commit-point rename (discarded),
  * exactly at it (replayed), or mid-promotion (finished idempotently).
  */
class CrashRecoverySpec extends SparkSpec {

  private def seed(path: String, n: Int): CustomerStore = {
    val store = new CustomerStore(spark, path)
    import spark.implicits._
    val rows = (1 to n).map(i =>
      (i.toLong, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone")
    store.insertNew(Ingest.enrich(rows))
    store
  }

  private def ackFrames(store: CustomerStore, emails: Seq[String]) = {
    import spark.implicits._
    val acked = emails.toDF("email").select(col("email").as("_ack"))
    val pending = store.all().filter(!col("uploaded"))
    val moved = pending.join(acked, col("email") === col("_ack"), "left_semi")
      .withColumn("uploaded", lit(true))
      .withColumn("modified_ts", current_timestamp())
      .select(CustomerSchema.tableSchema.fieldNames.map(col): _*)
    val kept = pending.join(acked, col("email") === col("_ack"), "left_anti")
      .select(CustomerSchema.tableSchema.fieldNames.map(col): _*)
    (moved, kept)
  }

  private def ackCommit(store: CustomerStore, emails: Seq[String]) = {
    import spark.implicits._
    store.ackCommit(emails.toDF("email"))
  }

  private def feedAcks(path: String): Long =
    new CustomerStore(spark, path).changeFeed()
      .filter(col("change_type") === "ack").count()

  private def assertConsistent(path: String, nTotal: Int, ackedEmails: Set[String]): Unit = {
    val store = new CustomerStore(spark, path) // constructor runs recovery
    val rows = store.all().collect()
    assert(rows.length === nTotal, "row count changed across crash")
    assert(rows.map(_.getLong(0)).distinct.length === nTotal,
      "duplicate ids after recovery — UNIQUE contract broken")
    val byFlag = rows.groupBy(_.getBoolean(5))
    assert(byFlag.getOrElse(true, Array.empty).map(_.getString(3)).toSet === ackedEmails)
    assert(store.pending().count() === (nTotal - ackedEmails.size))
  }

  test("crash at the commit point: rename done, nothing promoted") {
    val path = tmpDir("crash") + "/c"
    val store = seed(path, 10)
    val acked = (1 to 5).map(i => s"user$i@example.com")
    store.stage(ackCommit(store, acked)) // crash: applyStaged never runs
    assert(new File(path, CustomerStore.Staging).exists())
    assertConsistent(path, 10, acked.toSet)
    assert(!new File(path, CustomerStore.Staging).exists(), "staging not cleaned up")
    // The commit's change-feed rows landed with it, exactly once.
    assert(feedAcks(path) === 5)
  }

  test("crash mid-promotion: pending swapped, done files not yet moved") {
    val path = tmpDir("crash") + "/c"
    val store = seed(path, 8)
    val acked = Seq("user2@example.com", "user7@example.com")
    store.stage(ackCommit(store, acked))
    // Simulate the partial apply: promote only the pending partition.
    val staging = new File(path, CustomerStore.Staging)
    store.promoteStaged(staging, "pending", new File(path, "uploaded=false"))
    // At this instant the acked rows exist only in the staged files.
    assertConsistent(path, 8, acked.toSet)
  }

  test("crash before the commit point: uncommitted staging is discarded") {
    val path = tmpDir("crash") + "/c"
    val store = seed(path, 6)
    val (moved, kept) = ackFrames(store, Seq("user1@example.com"))
    // Write the staging payload but never reach the commit rename.
    val tmp = new File(path, CustomerStore.StagingTmp)
    moved.drop("uploaded").write.parquet(new File(tmp, "done").toString)
    kept.drop("uploaded").write.parquet(new File(tmp, "pending").toString)
    assertConsistent(path, 6, Set.empty) // table untouched, ack never happened
    assert(!tmp.exists(), "uncommitted staging not discarded")
    // No committed ack -> no ack in the feed (seed inserts are there).
    assert(feedAcks(path) === 0)
  }

  test("insert commits are atomic: a committed-but-unpromoted insert lands with its feed rows") {
    val path = tmpDir("crash") + "/c"
    val store = seed(path, 4)
    // Simulate the crash window: re-stage a copy of a finished insert
    // commit (data + changelog) as if the rename happened but the
    // promotion never ran, then reopen.
    import spark.implicits._
    val extra = Ingest.enrich(Seq((99L, "X", "Y", "x99@example.com", "555-99"))
      .toDF("id", "first_name", "last_name", "email", "phone")).localCheckpoint(true)
    store.stage(store.appendCommit(extra))
    val reopened = new CustomerStore(spark, path) // recovery promotes both
    assert(reopened.all().count() === 5, "committed insert must be finished on reopen")
    assert(reopened.changeFeed().filter(col("change_type") === "insert").count() === 5,
      "insert feed rows must land with the data commit")
  }

  test("applyStaged is idempotent under repeated replay") {
    val path = tmpDir("crash") + "/c"
    val store = seed(path, 5)
    val acked = Seq("user3@example.com")
    store.stage(ackCommit(store, acked))
    store.applyStaged()
    store.applyStaged() // replay of a finished commit is a no-op
    assertConsistent(path, 5, acked.toSet)
    assert(feedAcks(path) === 1, "replayed commit duplicated its change-feed rows")
  }
}
