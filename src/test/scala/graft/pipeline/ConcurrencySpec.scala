package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimistic concurrency at the store's commit point (Delta-style
  * OCC): writers stage into writer-unique `_staging.tmp-<id>` dirs and
  * contend only on the atomic rename onto `_staging`. A loser finishes
  * the winner's promotion, validates its staged commit against the
  * interleaved delta, re-numbers, and retries; a REAL conflict aborts
  * with ConcurrentCommitException leaving only the winner's state —
  * never a torn table.
  */
class ConcurrencySpec extends SparkSpec {

  import spark.implicits._

  private def rows(ids: Seq[Long]) =
    ids.toDF("id")
      .withColumn("first_name", concat(lit("f"), col("id")))
      .withColumn("last_name", concat(lit("l"), col("id")))
      .withColumn("email", concat(lit("u"), col("id"), lit("@example.com")))
      .withColumn("phone", concat(lit("555-"), col("id")))

  private def freshStore(): (CustomerStore, String) = {
    val path = s"${tmpDir("graft-occ-")}/store"
    (new CustomerStore(spark, path), path)
  }

  test("deterministic race: disjoint staged insert retries past a committed rival") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 10L)))                     // v1
    // Rival commits (rename onto _staging) but never promotes — the
    // exact window a concurrent writer's commit attempt lands in.
    store.stage(store.appendCommit(Ingest.enrich(rows(Seq(101L)))))
    // Our commit: keys disjoint from the rival's. commitStaged must
    // promote the rival, re-number (rival took version 2), and land.
    store.stage(store.appendCommit(Ingest.enrich(rows(Seq(202L)))))
    store.recover() // promote our commit
    assert(store.currentVersion() === 3L)
    assert(store.all().count() === 12L)
    assert(store.all().filter(col("id").isin(101L, 202L)).count() === 2L)
    // The feed carries both commits under their FINAL version numbers.
    val byV = store.changeFeed().filter(col("change_type") === "insert")
      .groupBy(col("commit_version")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byV === Map(1L -> 10L, 2L -> 1L, 3L -> 1L))
    // The re-numbered commit's registry entry exists and timestamps
    // stay monotone.
    val ts = store.commitTimestamps()
    assert(ts.map(_._1) === Seq(1L, 2L, 3L))
    assert(ts.map(_._2) === ts.map(_._2).sorted)
  }

  test("conflicting concurrent inserts of the same email: loser aborts, no duplicate") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 5L)))                      // v1
    val dup = Ingest.enrich(rows(Seq(900L))
      .withColumn("email", lit("race@example.com")))
    val dup2 = Ingest.enrich(rows(Seq(901L))
      .withColumn("email", lit("race@example.com")))
    store.stage(store.appendCommit(dup))   // rival wins the commit point (unpromoted)
    val e = intercept[ConcurrentCommitException] { store.stage(store.appendCommit(dup2)) }
    assert(e.getMessage.contains("emails/ids"))
    store.recover()
    // Exactly the winner's row; the loser's staged dir is inert.
    val landed = store.all().filter(col("email") === "race@example.com").collect()
    assert(landed.length === 1 && landed.head.getAs[Long]("id") === 900L)
    assert(store.currentVersion() === 2L)
  }

  test("conflicting concurrent id reuse (distinct emails): loser aborts, UNIQUE(id) holds") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 5L)))                      // v1
    store.stage(store.appendCommit(Ingest.enrich(rows(Seq(700L)))))    // email u700@
    val clash = Ingest.enrich(rows(Seq(700L))
      .withColumn("email", lit("other700@example.com"))) // same id, new email
    intercept[ConcurrentCommitException] { store.stage(store.appendCommit(clash)) }
    store.recover()
    assert(store.all().filter(col("id") === 700L).count() === 1L)
  }

  test("file-level commit aborts when a feed-silent rewrite removed its read set") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 12L)))                     // v1
    val victim = store.pendingDataFilePaths().head // absolute, partition-qualified
    val victimName = victim.substring(victim.lastIndexOf('/') + 1)
    val emptyChanges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType, nullable = false) +:
          CustomerSchema.tableSchema.fields))
    // Rival: a feed-silent data-only rewrite of the victim file
    // (compact/OPTIMIZE shape) — commits, stays unpromoted.
    val rewritten = store.all().limit(0) // replacement may be empty: remove-only
    store.stage(CustomerStore.Commit.partitioned("OPTIMIZE", rewritten)
      .copy(remove = Seq(victim), changes = Some(emptyChanges)))
    // Us: a file-level commit whose remove-list names the same file.
    // Feed-silent rivals leave no key overlap — only the physical
    // read-set check can catch this.
    val e = intercept[ConcurrentCommitException] {
      store.stage(CustomerStore.Commit.partitioned("OPTIMIZE", rewritten)
        .copy(remove = Seq(victim), changes = Some(emptyChanges)))
    }
    assert(e.getMessage.contains(victimName))
    store.recover()
    // Winner's remove landed exactly once; table not torn.
    assert(!store.pendingDataFiles().contains(victimName))
  }

  test("full-table rewrite conflicts with ANY interleaved commit") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 8L)))                      // v1
    // Rival wins the commit point with a disjoint insert.
    store.stage(store.appendCommit(Ingest.enrich(rows(Seq(300L)))))
    val cur = store.all().localCheckpoint(true)
    val emptyChanges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType, nullable = false) +:
          CustomerSchema.tableSchema.fields))
    intercept[ConcurrentCommitException] {
      store.stage(CustomerStore.Commit.partitioned("OPTIMIZE", cur)
        .copy(replaceAll = true, changes = Some(emptyChanges)))
    }
    store.recover()
    assert(store.all().count() === 9L) // base + rival's insert, no tear
  }

  test("true thread race: concurrent disjoint insertNew both land") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 10L)))                     // v1
    val a = Ingest.enrich(rows(1001L to 1005L)).localCheckpoint(true)
    val b = Ingest.enrich(rows(2001L to 2005L)).localCheckpoint(true)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(a, b).map { batch =>
      new Thread(() => {
        try store.insertNew(batch): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing insert threw: ${errs.peek()}")
    store.recover()
    assert(store.currentVersion() === 3L)
    assert(store.all().count() === 20L)
    assert(store.all().filter(col("id") >= 1000L).count() === 10L)
    // recover() idempotence under the new writer-unique staging: a
    // second (and third) replay changes nothing.
    val before = store.all().collect().toSet
    store.recover(); store.recover()
    assert(store.all().collect().toSet === before)
  }

  test("recover() spares young writer-unique staging dirs, sweeps stale ones") {
    val (store, root) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 5L)))
    // A live concurrent stager's half-written dir must survive a
    // rival's recover(); once stale it is reclaimed.
    val live = new java.io.File(root, CustomerStore.StagingTmp + "-livewriter")
    assert(live.mkdirs())
    store.recover()
    assert(live.exists(), "recover() must not sweep a young staging dir")
    assert(live.setLastModified(
      System.currentTimeMillis() - CustomerStore.StaleStagingMs - 1000))
    store.recover()
    assert(!live.exists(), "recover() must reclaim a stale staging dir")
  }
}
