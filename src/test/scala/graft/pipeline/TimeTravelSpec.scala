package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Commit versioning + time travel on the parquet store: every commit
  * stamps its change-feed rows with a monotonically increasing
  * `commit_version` (promoted atomically with the commit), `asOf(v)`
  * reconstructs the exact table state after commit v by feed replay,
  * and the `_pre` retraction rows let a consumer maintain any
  * distributive aggregate incrementally (+1 post, −1 pre).
  */
class TimeTravelSpec extends SparkSpec {

  import spark.implicits._

  private def rows(rs: (Long, String, String, String, String)*): DataFrame =
    Ingest.enrich(rs.toDF("id", "first_name", "last_name", "email", "phone"))

  private def snapshotKey(df: DataFrame): Set[(Long, String, String, Boolean)] =
    df.select(col("id"), col("email"), col("phone"), col("uploaded"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      .toSet

  test("versions advance by one per commit and survive reopen") {
    val path = tmpDir("tt-ver") + "/store"
    val store = new CustomerStore(spark, path)
    assert(store.currentVersion() === 0L)
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit
    assert(store.currentVersion() === 1L)
    store.merge(rows((9L, "Ann2", "A", "ann@example.com", "555-9"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    assert(store.currentVersion() === 2L)
    store.markUploaded(Seq("bob@example.com").toDF("email"))
    assert(store.currentVersion() === 3L)
    assert(new CustomerStore(spark, path).currentVersion() === 3L,
      "version counter must persist across reopen")
    val perCommit = store.changeFeed()
      .groupBy(col("commit_version"))
      .agg(collect_set(col("change_type")).as("kinds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(perCommit(1L) === Set("insert"))
    assert(perCommit(2L) === Set("update", "update_pre", "insert"))
    assert(perCommit(3L) === Set("ack", "ack_pre"))
  }

  test("asOf(v) reconstructs each historical state; asOf(current) == all()") {
    val store = new CustomerStore(spark, tmpDir("tt-asof") + "/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    val snap1 = snapshotKey(store.all())
    store.merge(rows(
      (9L, "Ann2", "A", "ann@example.com", "555-9"), // update (id retained)
      (3L, "Cai", "C", "cai@example.com", "555-3"))): Unit // insert
    val snap2 = snapshotKey(store.all())
    store.markUploaded(Seq("ann@example.com", "cai@example.com").toDF("email"))
    val snap3 = snapshotKey(store.all())

    assert(store.asOf(0L).isEmpty)
    assert(snapshotKey(store.asOf(1L)) === snap1)
    assert(snapshotKey(store.asOf(2L)) === snap2)
    assert(snapshotKey(store.asOf(3L)) === snap3)
    assert(snapshotKey(store.asOf(store.currentVersion())) === snapshotKey(store.all()),
      "asOf(currentVersion) must equal the live table")
    assert(snap2.exists { case (id, email, phone, _) =>
      id == 1L && email == "ann@example.com" && phone == "555-9" },
      "update must retain the stored id in the v2 snapshot")
  }

  test("pre-image retractions maintain a distributive aggregate incrementally") {
    val store = new CustomerStore(spark, tmpDir("tt-ivm") + "/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"),
      (3L, "Cai", "C", "cai@example.com", "555-3"))): Unit
    store.merge(rows(
      (9L, "Ann2", "A", "ann@example.com", "999-1"),
      (4L, "Dee", "D", "dee@example.com", "555-4"))): Unit
    store.markUploaded(Seq("bob@example.com", "dee@example.com").toDF("email"))
    // Incremental view: group by uploaded, count + id_sum, maintained
    // purely from the feed with +1/−1 weights — never scanning the table.
    val mv = store.changeFeed()
      .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
      .groupBy(col("uploaded"))
      .agg(sum(col("w")).as("n"), sum(col("w") * col("id")).as("id_sum"))
      .filter(col("n") =!= 0)
    val batch = store.all()
      .groupBy(col("uploaded"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    assert(mv.exceptAll(batch).isEmpty && batch.exceptAll(mv).isEmpty,
      "feed-maintained view diverged from batch recompute")
  }

  test("asOfTimestamp resolves the last commit at-or-before t; registry survives reopen and vacuum") {
    val path = tmpDir("tt-asofts") + "/store"
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val store = new CustomerStore(spark, path, () => clock.addAndGet(100L))
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit // ts 100
    store.merge(rows((2L, "Bob", "B", "bob@example.com", "555-2"))): Unit     // ts 200
    store.markUploaded(Seq("ann@example.com").toDF("email"))                  // ts 300
    assert(store.commitTimestamps() === Seq(1L -> 100L, 2L -> 200L, 3L -> 300L))
    assert(store.asOfTimestamp(99L).count() === 0L, "before genesis = version 0")
    assert(snapshotKey(store.asOfTimestamp(100L)) === snapshotKey(store.asOf(1L)),
      "at-a-commit-timestamp resolves that commit")
    assert(snapshotKey(store.asOfTimestamp(299L)) === snapshotKey(store.asOf(2L)),
      "between commits resolves the earlier one")
    assert(snapshotKey(store.asOfTimestamp(Long.MaxValue)) === snapshotKey(store.all()),
      "far-future timestamp resolves the head")
    // Registry is durable metadata: reopen, snapshot, vacuum — the
    // timestamps remain, and a pre-horizon timestamp now fails loudly
    // through asOf's retention check instead of returning empty.
    val reopened = new CustomerStore(spark, path)
    assert(reopened.commitTimestamps() === Seq(1L -> 100L, 2L -> 200L, 3L -> 300L))
    reopened.writeSnapshot(): Unit
    assert(reopened.vacuumFeed() === 3)
    assert(snapshotKey(reopened.asOfTimestamp(Long.MaxValue)) === snapshotKey(reopened.all()))
    intercept[IllegalArgumentException] { reopened.asOfTimestamp(250L) }
  }

  test("snapshot checkpoint + vacuum: asOf replays delta only; history retires") {
    val store = new CustomerStore(spark, tmpDir("tt-snap") + "/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    store.markUploaded(Seq("ann@example.com").toDF("email")) // v2
    val snap2 = snapshotKey(store.all())
    assert(store.writeSnapshot() === 2L)
    store.merge(rows((3L, "Cai", "C", "cai@example.com", "555-3"))): Unit // v3
    val snap3 = snapshotKey(store.all())
    // Snapshot-based replay agrees with genesis replay at both versions.
    assert(snapshotKey(store.asOf(2L)) === snap2)
    assert(snapshotKey(store.asOf(3L)) === snap3)
    // Vacuum retires commits 1-2; v2 and v3 still reconstruct (v2 from
    // the snapshot itself), v1 must now fail loudly.
    assert(store.vacuumFeed() === 2)
    assert(snapshotKey(store.asOf(2L)) === snap2)
    assert(snapshotKey(store.asOf(3L)) === snap3)
    intercept[IllegalArgumentException] { store.asOf(1L).collect() }
    // feedSince prunes to the delta directories only.
    assert(store.feedSince(2L, 3L).select("change_type").collect()
      .map(_.getString(0)).toSet === Set("insert"))
  }

  test("vacuumSnapshots keeps the newest checkpoints; older asOf fails loudly") {
    val store = new CustomerStore(spark, tmpDir("tt-snapvac") + "/store")
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit
    assert(store.writeSnapshot() === 1L)
    store.insertNew(rows((2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    assert(store.writeSnapshot() === 2L)
    store.insertNew(rows((3L, "Cai", "C", "cai@example.com", "555-3"))): Unit
    assert(store.writeSnapshot() === 3L)
    // retire the feed behind the newest snapshot FIRST (the usual
    // lifecycle order), then retire all but the last 2 snapshots
    assert(store.vacuumFeed() === 3)
    assert(store.vacuumSnapshots(keepLast = 2) === 1)
    // versions covered by surviving snapshots still reconstruct
    assert(store.asOf(2L).count() === 2L)
    assert(store.asOf(3L).count() === 3L)
    // below the oldest survivor: the feed is vacuumed and snapshot-1 is
    // gone, so reconstruction refuses loudly instead of undercounting
    intercept[IllegalArgumentException] { store.asOf(1L).collect() }
    // the newest snapshot is never removable
    intercept[IllegalArgumentException] { store.vacuumSnapshots(0) }
    assert(store.vacuumSnapshots(1) === 1)
    assert(store.asOf(3L).count() === 3L)
  }

  test("feed low-watermark: vacuumed ranges fail loudly, asOf refuses the silent gap") {
    val path = tmpDir("tt-wm") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit // v1
    assert(store.writeSnapshot() === 1L)
    store.insertNew(rows((2L, "Bob", "B", "bob@example.com", "555-2"))): Unit // v2
    store.insertNew(rows((3L, "Cai", "C", "cai@example.com", "555-3"))): Unit // v3
    assert(store.writeSnapshot() === 3L)
    assert(store.vacuumFeed() === 3)
    assert(store.feedLowWatermark() === 3L)
    // Range reads whose exclusive lower bound predates the horizon are
    // rejected — a catch-up consumer must never silently lose changes.
    intercept[IllegalArgumentException] { store.feedSince(1L, 3L) }
    intercept[IllegalArgumentException] { store.feedDirsIn(0L, 2L) }
    // The silent-gap case: asOf(2) resolves the OLDER snapshot (v1) as
    // its base and would replay the vacuumed (1, 2] delta — it must
    // refuse, not return version-1 state as if it were version 2.
    intercept[IllegalArgumentException] { store.asOf(2L).count() }
    // At or above the horizon (and exactly-at-snapshot reads) still work.
    assert(store.asOf(1L).count() === 1L) // snapshot @1, empty delta
    assert(store.asOf(3L).count() === 3L)
    assert(store.feedSince(3L, 3L).count() === 0L)
    // The connector's CDC options hit the same guard.
    intercept[Exception] {
      spark.read.format("graft-store").option("path", path)
        .option("feedFrom", 1).load().count()
    }
    // A later commit extends the feed above the horizon and reads fine.
    store.insertNew(rows((4L, "Dee", "D", "dee@example.com", "555-4"))): Unit // v4
    assert(store.feedSince(3L, 4L).count() === 1L)
    assert(spark.read.format("graft-store").option("path", path)
      .option("feedFrom", 3).load().count() === 1L)
  }

  test("compact: fewer files, identical content, silent feed, version advances") {
    val path = tmpDir("tt-compact") + "/store"
    val store = new CustomerStore(spark, path)
    (1L to 4L).foreach { i =>
      store.insertNew(rows((i, s"N$i", "X", s"u$i@example.com", s"555-$i"))): Unit
    }
    val before = snapshotKey(store.all())
    val feedBefore = store.changeFeed().count()
    def pendingFiles(): Int = new java.io.File(path, "uploaded=false")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(pendingFiles() >= 4, "4 insert commits should leave >=4 files")
    store.compact()
    assert(pendingFiles() === 1, "compaction must bin-pack the partition to the target")
    assert(snapshotKey(store.all()) === before, "compaction changed table content")
    assert(store.changeFeed().count() === feedBefore, "compaction must not emit changes")
    assert(store.currentVersion() === 5L, "compaction is a commit and takes a version")
    assert(snapshotKey(store.asOf(5L)) === before, "asOf across a silent commit")
  }

  test("update_pre rows carry the replaced rows exactly") {
    val store = new CustomerStore(spark, tmpDir("tt-pre") + "/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    store.merge(rows((7L, "Ann2", "A", "ann@example.com", "999-1"))): Unit
    val pre = store.changeFeed().filter(col("change_type") === "update_pre")
      .select("id", "email", "phone", "uploaded").collect()
    assert(pre.length === 1)
    assert(pre.head.getLong(0) === 1L)
    assert(pre.head.getString(2) === "555-1",
      "pre-image must carry the OLD payload, not the update's")
  }

  test("a store whose first commit is feed-silent time travels from genesis") {
    val path = tmpDir("tt-silent-first") + "/store"
    val store = new CustomerStore(spark, path)
    assert(store.addColumn("tier", org.apache.spark.sql.types.LongType) === 1L) // v1, no feed dir
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit                   // v2
    assert(store.asOf(1L).count() === 0L)
    assert(snapshotKey(store.asOf(2L)) === snapshotKey(store.all()))
    assert(spark.read.format("graft-store").option("path", path)
      .option("versionAsOf", 2L).load().count() === 2L)
    store.insertNew(rows((3L, "Cai", "C", "cai@example.com", "555-3"))): Unit // v3
    assert(store.writeSnapshot() === 3L)
    assert(store.vacuumFeed() === 2)
    // With the snapshot gone, nothing at or below version 2 is left to
    // replay from: the retention horizon, not a missing dir, refuses.
    CustomerStore.deleteRecursively(new java.io.File(path, "_snapshots/v-000000003"))
    val e = intercept[IllegalArgumentException] { store.asOf(2L).count() }
    assert(e.getMessage.contains("cannot reconstruct version 2"), e.getMessage)
  }
}
