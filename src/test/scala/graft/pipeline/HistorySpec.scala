package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Commit history + table detail (the DESCRIBE HISTORY / DESCRIBE
  * DETAIL faces): every mutation path records its operation label and
  * change-row count in the vacuum-surviving `_commits` registry at
  * promotion, [[CustomerStore.history]] serves them newest-first from
  * registry metadata alone, and the connector exposes both as
  * metadata reads (`option("history"/"detail", true)`).
  */
class HistorySpec extends SparkSpec {

  import spark.implicits._

  private def rows(ids: Seq[Long]) =
    ids.toDF("id")
      .withColumn("first_name", concat(lit("f"), col("id")))
      .withColumn("last_name", concat(lit("l"), col("id")))
      .withColumn("email", concat(lit("u"), col("id"), lit("@example.com")))
      .withColumn("phone", concat(lit("555-"), col("id")))

  private def freshStore(): (CustomerStore, String) = {
    val path = s"${tmpDir("graft-history-")}/store"
    (new CustomerStore(spark, path), path)
  }

  private def historyMap(store: CustomerStore): Map[Long, (String, Long)] =
    store.history().collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap

  test("every mutation kind records its operation and change-row count") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 8L)))                      // v1
    store.markUploaded(Seq("u1@example.com", "u2@example.com")
      .toDF("email"))                                                   // v2
    store.merge(Ingest.enrich(rows(Seq(3L, 100L)))
      .withColumn("phone", concat(lit("999-"), col("id"))))             // v3
    store.delete(Seq("u4@example.com").toDF("email"))                   // v4
    store.optimize()                                                    // v5
    assert(store.addColumn("tier",
      org.apache.spark.sql.types.LongType) === 6L)                      // v6
    assert(store.addCheckConstraint("chk_id", "id < 1000000") === 7L)   // v7
    assert(store.dropCheckConstraint("chk_id") === 8L)                  // v8
    store.restore(4L)                                                   // v9

    val h = store.history().collect()
    assert(h.map(_.getLong(0)).toSeq === (9L to 1L by -1L),
      "history must list every commit, newest first")
    val byV = historyMap(store)
    assert(byV(1L) === (("WRITE", 8L)))
    // an ack emits ack_pre + ack per touched row
    assert(byV(2L) === (("UPDATE", 4L)))
    // merge: update_pre + update for the match, insert for the miss
    assert(byV(3L) === (("MERGE", 3L)))
    assert(byV(4L) === (("DELETE", 1L)))
    assert(byV(5L) === (("OPTIMIZE", 0L)), "layout rewrites are feed-silent")
    assert(byV(6L) === (("ADD COLUMN", 0L)))
    assert(byV(7L) === (("ADD CONSTRAINT", 0L)))
    assert(byV(8L) === (("DROP CONSTRAINT", 0L)))
    assert(byV(9L)._1 === "RESTORE")
    // every commit's recorded count equals its feed row count while
    // the feed is still readable
    (1L to 9L).foreach { v =>
      assert(byV(v)._2 === store.feedSince(v - 1, v).count(),
        s"commit $v row count must match its feed")
    }
    // history timestamps agree with the registry
    val ts = store.commitTimestamps().toMap
    store.history().collect().foreach { r =>
      assert(r.getLong(1) === ts(r.getLong(0)))
    }
  }

  test("history survives vacuumFeed (registry metadata, not feed dirs)") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 5L)))                      // v1
    store.markUploaded(Seq("u1@example.com").toDF("email"))             // v2
    assert(store.writeSnapshot() === 2L)
    store.insertNew(Ingest.enrich(rows(Seq(50L))))                      // v3
    assert(store.vacuumFeed() > 0, "vacuum must retire something")
    intercept[IllegalArgumentException] { store.feedSince(0L, 3L).count() }
    val byV = historyMap(store)
    assert(byV(1L) === (("WRITE", 5L)),
      "a vacuumed commit must still be describable")
    assert(byV(2L) === (("UPDATE", 2L)))
    assert(byV(3L) === (("WRITE", 1L)))
  }

  test("a crash after the commit point still lands the history entry") {
    val path = s"${tmpDir("graft-history-")}/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(Ingest.enrich(rows(1L to 3L)))                      // v1
    store.stage(store.appendCommit(Ingest.enrich(rows(Seq(20L, 21L)))))
    // Crash: promotion never ran; the commit point (rename) is passed.
    assert(new java.io.File(path, CustomerStore.Staging).exists())
    val reopened = new CustomerStore(spark, path) // constructor recovers
    assert(historyMap(reopened)(2L) === (("WRITE", 2L)),
      "recovery must promote the staged operation into the registry")
  }

  test("detail summarizes the table from manifests only") {
    val (store, path) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 6L)))                      // v1
    store.delete(Seq("u2@example.com").toDF("email"))                   // v2
    store.addCheckConstraint("chk_id", "id < 1000000"): Unit            // v3
    store.writeSnapshot(): Unit
    val d = store.detail().head()
    assert(d.getLong(0) === 3L)                       // version
    assert(d.getLong(1) > 0L)                         // n_files
    assert(d.getLong(2) > 0L)                         // size_bytes
    assert((d.getLong(3), d.getLong(4)) === ((1L, 1L))) // dv total/live
    assert(d.getLong(5) === 1L)                       // n_constraints
    assert(d.getLong(6) === 1L)                       // n_snapshots
    assert(d.getLong(7) === 0L)                       // feed_low_watermark
    assert(d.getLong(8) ===
      CustomerSchema.tableSchema.size.toLong)         // n_columns
    // compaction materializes the tombstone: dv counts return to zero
    store.compact()                                                     // v4
    val d2 = new CustomerStore(spark, path).detail().head()
    assert((d2.getLong(3), d2.getLong(4)) === ((0L, 0L)))
    assert(d2.getLong(0) === 4L)
  }

  test("CALL graft_store.history/detail serve the metadata from SQL") {
    spark.conf.set("spark.sql.catalog.graft_store",
      "graft.sources.GraftStoreCatalog")
    val (store, path) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 4L)))                      // v1
    store.delete(Seq("u2@example.com").toDF("email"))                   // v2
    val h = spark.sql(s"CALL graft_store.history('$path')")
    assert(h.columns.toSeq ===
      Seq("commit_version", "commit_ts", "operation", "n_change_rows", "operation_metrics"))
    assert(h.orderBy(col("commit_version")).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq ===
      Seq((1L, "WRITE", 4L), (2L, "DELETE", 1L)))
    val d = spark.sql(s"CALL graft_store.detail('$path')").head()
    assert(d.getLong(0) === 2L)                  // version
    assert((d.getLong(3), d.getLong(4)) === ((1L, 1L))) // dv total/live
  }

  test("the connector serves history and detail as metadata reads") {
    val (store, path) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 4L)))                      // v1
    store.markUploaded(Seq("u3@example.com").toDF("email"))             // v2
    val hist = spark.read.format("graft-store").option("path", path)
      .option("history", true).load()
    assert(hist.columns.toSeq ===
      Seq("commit_version", "commit_ts", "operation", "n_change_rows", "operation_metrics"))
    assert(hist.orderBy(col("commit_version")).collect().toSeq ===
      store.history().orderBy(col("commit_version")).collect().toSeq)
    // column pruning survives the metadata scan
    assert(hist.select("operation").orderBy(col("operation")).as[String]
      .collect().toSeq === Seq("UPDATE", "WRITE"))
    val det = spark.read.format("graft-store").option("path", path)
      .option("detail", true).load()
    assert(det.collect().toSeq === store.detail().collect().toSeq)
    // metadata reads take no data-read options
    intercept[IllegalArgumentException] {
      spark.read.format("graft-store").option("path", path)
        .option("history", true).option("versionAsOf", 1).load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-store").option("path", path)
        .option("history", true).option("detail", true).load()
    }
  }
}
