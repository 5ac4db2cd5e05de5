package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: tombstones commit without touching
  * data files, every read path applies them, file rewrites cannot
  * resurrect tombstoned rows, and compaction materializes them.
  */
class DeleteSpec extends SparkSpec {

  import spark.implicits._

  private def freshStore(): (CustomerStore, String) = {
    val dir = tmpDir("graft-delete-")
    (new CustomerStore(spark, s"$dir/store"), dir)
  }

  private def rows(ids: Seq[Long]) =
    ids.toDF("id")
      .withColumn("first_name", concat(lit("f"), col("id")))
      .withColumn("last_name", concat(lit("l"), col("id")))
      .withColumn("email", concat(lit("u"), col("id"), lit("@example.com")))
      .withColumn("phone", concat(lit("555-"), col("id")))

  test("delete is merge-on-read: no data file changes, all read paths apply vectors") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 20L)))
    val filesBefore = store.pendingDataFiles().toSet
    val n = store.delete(Seq("u3@example.com", "u7@example.com", "missing@x").toDF("email"))
    assert(n === 2L)
    assert(store.pendingDataFiles().toSet === filesBefore,
      "delete must not add, remove, or rewrite data files")
    assert(store.all().count() === 18L)
    assert(store.pending().filter(col("email") === "u3@example.com").count() === 0L)
    val (found, _, _) = store.pendingPointLookup(Seq("u3@example.com", "u4@example.com"))
    assert(found.collect().map(_.getAs[String]("email")).toSet === Set("u4@example.com"),
      "point lookup must apply deletion vectors")
    // Deleting an already-deleted email is a no-op commit.
    assert(store.delete(Seq("u3@example.com").toDF("email")) === 0L)
  }

  test("file rewrites cannot resurrect tombstoned rows; later inserts of the key are untouched") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 10L)))
    store.delete(Seq("u5@example.com").toDF("email"))
    // Ack a DIFFERENT email living in the same (only) pending file —
    // the file-level rewrite must drop the tombstoned row, not copy it
    // into the replacement file under a fresh name.
    store.markUploaded(Seq("u6@example.com").toDF("email"))
    assert(store.all().filter(col("email") === "u5@example.com").count() === 0L,
      "ack rewrite resurrected a tombstoned row")
    assert(store.all().filter(col("uploaded")).count() === 1L)
    // Re-insert of the deleted email (fresh id) lands in a NEW file:
    // the file-scoped vector must not hide it.
    store.insertNew(Ingest.enrich(rows(Seq(105L))
      .withColumn("email", lit("u5@example.com"))))
    assert(store.all().filter(col("email") === "u5@example.com").count() === 1L,
      "file-scoped vector wrongly suppressed a later insert of the key")
  }

  test("delete emits delete_pre retractions; feed replay equals the table; asOf honors tombstones") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 10L))) // v1
    store.delete(rows(1L to 10L).filter(col("id") % 3 === 0)
      .select(col("email"))) // v2: deletes 3,6,9
    val feed = store.changeFeed()
    assert(feed.filter(col("change_type") === "delete_pre").count() === 3L)
    // +1 post / −1 _pre replay reconstructs the live count with no
    // delete-specific consumer code.
    val weighted = feed
      .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
      .agg(sum(col("w"))).head().getLong(0)
    assert(weighted === store.all().count())
    assert(store.asOf(1).count() === 10L, "pre-delete version must see all rows")
    assert(store.asOf(2).count() === 7L, "post-delete version must apply the tombstones")
    assert(store.asOf(2).filter(col("email") === "u3@example.com").count() === 0L)
  }

  test("compaction materializes the vectors and clears them") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 12L)))
    store.delete(Seq("u2@example.com", "u11@example.com").toDF("email"))
    val (totBefore, liveBefore) = store.deletionVectorStats()
    assert(totBefore === 2L && liveBefore === 2L)
    store.compact()
    val (totAfter, liveAfter) = store.deletionVectorStats()
    assert(totAfter === 0L && liveAfter === 0L,
      "compaction must clear the materialized vectors")
    assert(store.all().count() === 10L)
    assert(store.all().filter(col("email") === "u2@example.com").count() === 0L)
  }

  test("restore is a new commit: pre-restore versions still reconstruct, feed stays consistent") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 6L))) // v1
    store.delete(Seq("u2@example.com").toDF("email")) // v2
    store.restore(1L) // v3: insert u2 back as a diff commit
    assert(store.currentVersion() === 3L)
    assert(store.all().count() === 6L)
    assert(store.asOf(2).count() === 5L, "pre-restore version must still reconstruct")
    assert(store.asOf(3).count() === 6L)
    val weighted = store.changeFeed()
      .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
      .agg(sum(col("w"))).head().getLong(0)
    assert(weighted === 6L, "replay invariant broken by restore")
    // The restore commit's only change is the re-insert of u2.
    val types = store.feedSince(2L, 3L).groupBy("change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types === Map("insert" -> 1L))
  }

  test("crash at the delete commit point: recovery applies the tombstones exactly once") {
    val (store, dir) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 8L)))
    // Stage up to and including the commit-point rename, then "crash"
    // (no promotion). The commit is durable: a fresh open must apply
    // it — rows gone, feed rows present once, version advanced.
    val (n, c) = store.deleteCommit(Seq("u4@example.com", "u6@example.com").toDF("email"))
    c.foreach(store.stage(_): Unit)
    assert(n === 2L)
    val reopened = new CustomerStore(spark, s"$dir/store") // ctor recovers
    assert(reopened.all().count() === 6L)
    assert(reopened.deletionVectorStats()._2 === 2L)
    assert(reopened.currentVersion() === 2L)
    assert(reopened.changeFeed().filter(col("change_type") === "delete_pre").count() === 2L)
    // Recovery again is a no-op (idempotent promotion).
    reopened.recover()
    assert(reopened.all().count() === 6L)
    assert(reopened.changeFeed().filter(col("change_type") === "delete_pre").count() === 2L)
  }
}
