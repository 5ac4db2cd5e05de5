package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Idempotent writer transactions (the Delta txnAppId/txnVersion
  * contract) and the incremental-ingest file registry (COPY INTO):
  * both markers are staged WITH their commit and promoted into their
  * registry (`_txns/`, `_ingested/`) by the same atomic promotion that
  * lands the data — "the data landed" and "the marker is recorded"
  * can never diverge, which is what makes a redelivered foreachBatch
  * batch or a re-run directory ingest exactly-once.
  */
class TxnSpec extends SparkSpec {

  import spark.implicits._

  private def rows(ids: Seq[Long]) =
    ids.toDF("id")
      .withColumn("first_name", concat(lit("f"), col("id")))
      .withColumn("last_name", concat(lit("l"), col("id")))
      .withColumn("email", concat(lit("u"), col("id"), lit("@example.com")))
      .withColumn("phone", concat(lit("555-"), col("id")))

  private def freshStore(): (CustomerStore, String) = {
    val path = s"${tmpDir("graft-txn-")}/store"
    (new CustomerStore(spark, path), path)
  }

  test("txnInsert: replayed version is a no-op; next version lands") {
    val (store, _) = freshStore()
    assert(store.txnInsert("loader", 1L, Ingest.enrich(rows(1L to 10L)))
      === Some(10L))
    assert(store.latestTxnVersion("loader") === Some(1L))
    assert(store.currentVersion() === 1L)
    // Redelivery of the same batch (the foreachBatch restart case):
    // no commit, no rows, no version churn.
    assert(store.txnInsert("loader", 1L, Ingest.enrich(rows(1L to 10L))) === None)
    assert(store.txnInsert("loader", 0L, Ingest.enrich(rows(11L to 12L))) === None)
    assert(store.currentVersion() === 1L && store.all().count() === 10L)
    assert(store.txnInsert("loader", 2L, Ingest.enrich(rows(11L to 15L)))
      === Some(5L))
    assert(store.latestTxnVersion("loader") === Some(2L))
    assert(store.all().count() === 15L)
  }

  test("empty-effect txn still records its version via a feed-silent commit") {
    val (store, _) = freshStore()
    store.txnInsert("app", 1L, Ingest.enrich(rows(1L to 5L))): Unit
    // Every row dedups away against the stored state: no data commit,
    // but the version MUST be recorded or the replay loops forever.
    assert(store.txnInsert("app", 2L, Ingest.enrich(rows(1L to 5L))) === Some(0L))
    assert(store.latestTxnVersion("app") === Some(2L))
    assert(store.currentVersion() === 2L)
    assert(store.feedSince(1L, 2L).isEmpty, "TXN record commit must be feed-silent")
    assert(store.txnInsert("app", 2L, Ingest.enrich(rows(6L to 7L))) === None)
    // history labels the record commit
    val ops = store.history().select("operation").as[String].collect()
    assert(ops.contains("TXN"))
  }

  test("apps are independent; registry survives reopening the store") {
    val (store, path) = freshStore()
    store.txnInsert("a", 7L, Ingest.enrich(rows(1L to 3L))): Unit
    assert(store.txnInsert("b", 1L, Ingest.enrich(rows(4L to 6L))) === Some(3L))
    assert(store.latestTxnVersion("a") === Some(7L))
    assert(store.latestTxnVersion("b") === Some(1L))
    val reopened = new CustomerStore(spark, path)
    assert(reopened.latestTxnVersion("a") === Some(7L))
    assert(reopened.latestTxnVersion("nope") === None)
  }

  test("txnMerge: replay neither re-updates nor re-inserts") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 10L))): Unit
    val batch = Ingest.enrich(
      rows(1L to 3L).withColumn("phone", concat(lit("999-"), col("id")))
        .unionByName(rows(Seq(21L))))
    val r = store.txnMerge("m", 1L, batch)
    assert(r.map(_.nUpdated) === Some(3L) && r.map(_.nInserted) === Some(1L))
    val v = store.currentVersion()
    assert(store.txnMerge("m", 1L, batch) === None)
    assert(store.currentVersion() === v)
    assert(store.all().filter(col("phone").startsWith("999-")).count() === 3L)
    assert(store.all().count() === 11L)
  }

  test("commit-point race: a rival recording the same (app, version) wins; ours skips") {
    val (store, _) = freshStore()
    store.insertNew(Ingest.enrich(rows(1L to 5L))): Unit
    // Rival: committed-but-unpromoted staged insert CARRYING the
    // (app, 9) marker — exactly what another writer's txnInsert looks
    // like the instant after its commit-point rename.
    store.activeTxn.set(Some(("app", 9L)))
    try store.stage(store.appendCommit(Ingest.enrich(rows(Seq(100L))))): Unit
    finally store.activeTxn.remove()
    // Our txnInsert for the SAME (app, 9): the fast-path check sees no
    // registry entry yet (rival unpromoted), but the commit point
    // promotes the rival first and must then skip — not abort, not
    // double-apply.
    assert(store.txnInsert("app", 9L, Ingest.enrich(rows(Seq(200L)))) === None)
    store.recover()
    assert(store.all().filter(col("id") === 100L).count() === 1L)
    assert(store.all().filter(col("id") === 200L).count() === 0L)
    assert(store.latestTxnVersion("app") === Some(9L))
    assert(store.currentVersion() === 2L)
  }

  test("two threads, same (app, version): exactly one lands") {
    val (_, path) = freshStore()
    new CustomerStore(spark, path).insertNew(Ingest.enrich(rows(1L to 5L))): Unit
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(300L, 400L).map { id =>
      new Thread(() => {
        val st = new CustomerStore(spark, path)
        gate.await()
        results.add(
          try st.txnInsert("race", 2L, Ingest.enrich(rows(Seq(id))))
          catch { case _: ConcurrentCommitException => None })
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val landed = results.asScala.toSeq.flatten
    assert(landed.size <= 1, s"both racers landed: $results")
    val st = new CustomerStore(spark, path)
    st.recover()
    assert(st.latestTxnVersion("race") === Some(2L))
    assert(st.all().filter(col("id").isin(300L, 400L)).count() <= 1L)
  }

  test("appId must be filesystem-safe, loudly") {
    val (store, _) = freshStore()
    intercept[IllegalArgumentException] {
      store.txnInsert("bad/app", 1L, Ingest.enrich(rows(Seq(1L))))
    }
    intercept[IllegalArgumentException] { store.latestTxnVersion("") }
  }

  test("SQL procedure last_txn_version reads the registry") {
    spark.conf.set("spark.sql.catalog.graft_store",
      "graft.sources.GraftStoreCatalog")
    val (store, path) = freshStore()
    store.txnInsert("sqlapp", 5L, Ingest.enrich(rows(1L to 3L))): Unit
    val got = spark.sql(
      s"CALL graft_store.last_txn_version('$path', 'sqlapp')")
      .as[Long].collect()
    assert(got.toSeq === Seq(5L))
    val none = spark.sql(
      s"CALL graft_store.last_txn_version('$path', 'other')")
      .as[Long].collect()
    assert(none.toSeq === Seq(-1L))
  }

  // ---- Incremental file ingest (_ingested registry) -------------------

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      ("id,first_name,last_name,email,phone" +: rows).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  private def line(id: Long, email: String = null): String = {
    val e = if (email == null) s"u$id@example.com" else email
    s"$id,f$id,l$id,$e,555-$id"
  }

  test("ingestNewFiles loads each file exactly once across re-runs") {
    val (store, _) = freshStore()
    val in = tmpDir("graft-copyinto-")
    writeCsv(in, "b01.csv", (1L to 5L).map(line(_)))
    writeCsv(in, "b02.csv", (6L to 9L).map(line(_)))
    assert(store.ingestNewFiles(in) === ((2L, 9L, 0L)))
    assert(store.ingestedFiles() === Set("b01.csv", "b02.csv"))
    val v = store.currentVersion()
    // Re-run: nothing new, NO commit.
    assert(store.ingestNewFiles(in) === ((0L, 0L, 0L)))
    assert(store.currentVersion() === v)
    // New arrivals: only they load.
    writeCsv(in, "b03.csv", (10L to 12L).map(line(_)))
    assert(store.ingestNewFiles(in) === ((1L, 3L, 0L)))
    assert(store.all().count() === 12L)
    assert(store.ingestedFiles().size === 3)
  }

  test("quarantined and deduped rows still register their file") {
    val (store, _) = freshStore()
    val in = tmpDir("graft-copyinto-")
    writeCsv(in, "b01.csv", (1L to 4L).map(line(_)))
    store.ingestNewFiles(in): Unit
    // b02: one bad id, one empty email, one clean duplicate of a
    // stored email, one genuinely fresh row.
    writeCsv(in, "b02.csv", Seq(
      "notanint,fx,lx,x@example.com,555-0100",
      "77,fx,lx,,555-0100",
      line(1L),
      line(50L)))
    assert(store.ingestNewFiles(in) === ((1L, 1L, 2L)))
    assert(store.all().count() === 5L)
    // b03: EVERY row dedups away — the file must still register via
    // the marker-only commit, or the next run re-reads it forever.
    writeCsv(in, "b03.csv", Seq(line(1L), line(2L)))
    val v = store.currentVersion()
    assert(store.ingestNewFiles(in) === ((1L, 0L, 0L)))
    assert(store.currentVersion() === v + 1)
    assert(store.feedSince(v, v + 1).isEmpty, "registry-only commit is feed-silent")
    assert(store.ingestNewFiles(in) === ((0L, 0L, 0L)))
    assert(store.ingestedFiles() === Set("b01.csv", "b02.csv", "b03.csv"))
  }

  test("SQL procedure copy_into runs the incremental ingest") {
    spark.conf.set("spark.sql.catalog.graft_store",
      "graft.sources.GraftStoreCatalog")
    val (store, path) = freshStore()
    val in = tmpDir("graft-copyinto-")
    writeCsv(in, "b01.csv", (1L to 4L).map(line(_)))
    val r = spark.sql(s"CALL graft_store.copy_into('$path', '$in')").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 4L, 0L)))
    val again = spark.sql(s"CALL graft_store.copy_into('$path', '$in')").head()
    assert((again.getLong(0), again.getLong(1), again.getLong(2)) === ((0L, 0L, 0L)))
    assert(store.all().count() === 4L)
  }

  test("native streaming sink lands each micro-batch once across a restart") {
    val root = tmpDir("graft-sink-")
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(name: String, ids: Seq[Long]): Unit = {
      val stage = s"$root/stage/$name"
      rows(ids).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(in, s"$name.parquet")))
    }
    land("b0", 1L to 5L); land("b1", 6L to 9L)
    val schema = rows(Seq(1L)).schema
    def run(): Unit =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in)
        .writeStream.format("graft-store")
        .option("path", s"$root/store")
        .option("txnAppId", "sinkspec")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run()
    val store = new CustomerStore(spark, s"$root/store")
    assert(store.all().count() === 9L)
    assert(store.latestTxnVersion("sinkspec") === Some(1L))
    // the engine's redelivery (crash between store commit and
    // checkpoint advance) is a registry-checked no-op
    assert(store.txnInsert("sinkspec", 1L, Ingest.enrich(rows(6L to 9L))) === None)
    land("b2", Seq(20L, 21L))
    run()
    assert(store.all().count() === 11L)
    assert(store.latestTxnVersion("sinkspec") === Some(2L))
    assert(store.currentVersion() === 3L)
    // enrichment applied by the sink: rows land pending with timestamps
    assert(store.all().filter(col("uploaded")).count() === 0L)
    assert(store.all().filter(col("created_ts").isNull).count() === 0L)
  }

  test("native sink: default appId derives from the checkpoint location") {
    val root = tmpDir("graft-sink-")
    val in = s"$root/in"
    rows(1L to 3L).coalesce(1).write.parquet(in)
    spark.readStream.schema(rows(Seq(1L)).schema).parquet(in)
      .writeStream.format("graft-store")
      .option("path", s"$root/store")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val app = "sink-" + java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$root/ckpt".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    val store = new CustomerStore(spark, s"$root/store")
    assert(store.latestTxnVersion(app) === Some(0L))
    assert(store.all().count() === 3L)
  }

  test("native sink merge mode: micro-batches upsert on the email key") {
    val root = tmpDir("graft-sink-")
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$root/stage/$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(in, s"$name.parquet")))
    }
    land("b0", rows(1L to 6L))
    // b1 updates ids 1-3's phone and inserts 10-11 — the upsert batch
    land("b1", rows(1L to 3L).withColumn("phone", concat(lit("999-"), col("id")))
      .unionByName(rows(Seq(10L, 11L))))
    spark.readStream.schema(rows(Seq(1L)).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.format("graft-store")
      .option("path", s"$root/store")
      .option("txnAppId", "upsert")
      .option("merge", true)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val store = new CustomerStore(spark, s"$root/store")
    assert(store.all().count() === 8L)
    assert(store.all().filter(col("phone").startsWith("999-")).count() === 3L)
    assert(store.latestTxnVersion("upsert") === Some(1L))
    // redelivery of the upsert batch is still a no-op
    assert(store.txnMerge("upsert", 1L, Ingest.enrich(rows(1L to 3L))) === None)
  }

  test("native sink mergeSchema: batch columns evolve the store, replay-safe from batch 0") {
    val root = tmpDir("graft-sink-")
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$root/stage/$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(in, s"$name.parquet")))
    }
    // the stream's declared schema carries tier from the start; b0's
    // file itself has it (the store does NOT exist yet — evolution
    // must work on the very first micro-batch)
    land("b0", rows(1L to 4L).withColumn("tier", col("id") % 2))
    def run(): Unit =
      spark.readStream.schema(rows(Seq(1L)).schema
          .add("tier", org.apache.spark.sql.types.LongType))
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.format("graft-store")
        .option("path", s"$root/store")
        .option("txnAppId", "evo")
        .option("merge", true)
        .option("mergeSchema", true)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run()
    val store = new CustomerStore(spark, s"$root/store")
    assert(store.tableSchema.fieldNames.contains("tier"))
    assert(store.all().filter(col("tier") === col("id") % 2).count() === 4L,
      "batch-0 evolution must land the first batch's column values")
    val vAfterB0 = store.currentVersion() // v1 ADD + v2 merge
    assert(vAfterB0 === 2L)
    // b1: tier-only change on 1-2 (b0 set id%2, now 7) + fresh 10
    land("b1", rows(1L to 2L).withColumn("tier", lit(7L))
      .unionByName(rows(Seq(10L)).withColumn("tier", lit(7L))))
    run()
    assert(store.all().filter(col("tier") === 7L).count() === 3L,
      "a tier-only difference must land through the merge sink")
    assert(store.currentVersion() === 3L,
      "an already-evolved column must not re-commit schema")
    assert(store.latestTxnVersion("evo") === Some(1L))
    // redelivery of b1 is a registry-checked no-op — including its
    // evolution step (no new schema commits, no data commits)
    assert(store.txnMerge("evo", 1L,
      Ingest.enrich(rows(Seq(10L))).withColumn("tier", lit(9L))) === None)
    assert(store.currentVersion() === 3L)
  }

  test("native sink rejects non-Append output modes loudly") {
    val root = tmpDir("graft-sink-")
    rows(1L to 2L).coalesce(1).write.parquet(s"$root/in")
    val e = intercept[IllegalArgumentException] {
      spark.readStream.schema(rows(Seq(1L)).schema).parquet(s"$root/in")
        .writeStream.format("graft-store")
        .option("path", s"$root/store")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    assert(e.getMessage.contains("Append"))
  }

  test("lexicographic file order pins the dedup winner across files") {
    val (store, _) = freshStore()
    val in = tmpDir("graft-copyinto-")
    // Same email in both files with different ids: the b01 row must
    // win (file order), whatever partition order the scan uses.
    writeCsv(in, "b01.csv", Seq(line(10L, "dup@example.com")))
    writeCsv(in, "b02.csv", Seq(line(20L, "dup@example.com"), line(30L)))
    assert(store.ingestNewFiles(in) === ((2L, 2L, 0L)))
    val winner = store.all().filter(col("email") === "dup@example.com")
      .select("id").as[Long].collect()
    assert(winner.toSeq === Seq(10L))
  }
}
