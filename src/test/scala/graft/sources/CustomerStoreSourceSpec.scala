package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.SparkSpec
import graft.pipeline.{CustomerStore, Ingest}

/** The graft-store DSv2 connector — the store's one reader — against
  * the Spark-side reads it replaced: every read path (current state
  * with deletion vectors, manifest pruning, column pruning, pushed
  * filters, time travel by version and timestamp, the change feed)
  * must be row-identical to [[SparkLiveModel]] or [[SparkHistoryModel]],
  * and the plan must SHOW the pushdown (PushedFilters + files=kept/total
  * in the scan description).
  */
class CustomerStoreSourceSpec extends SparkSpec {

  import spark.implicits._

  private def rows(rs: (Long, String, String, String, String)*): DataFrame =
    Ingest.enrich(rs.toDF("id", "first_name", "last_name", "email", "phone"))

  private def block(lo: Long, hi: Long): DataFrame =
    rows((lo to hi).map(i => (i, s"F$i", s"L$i", s"u$i@example.com", s"555-$i")): _*)

  private def cat(path: String, opts: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-store").option("path", path)
    opts.foreach { case (k, v) => r.option(k, v): Unit }
    r.load()
  }

  private def key(df: DataFrame): Set[(Long, String, String, String, String, Boolean)] =
    df.select(col("id"), col("first_name"), col("last_name"), col("email"),
        col("phone"), col("uploaded"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getBoolean(5))).toSet

  /** Multi-commit store: 3 disjoint id blocks (zone-prunable), an ack
    * (both partitions populated), and a delete (live vectors).
    */
  private def buildStore(path: String): CustomerStore = {
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 40L)): Unit // v1
    store.insertNew(block(1001L, 1040L)): Unit // v2
    store.insertNew(block(2001L, 2040L)): Unit // v3
    store.markUploaded( // v4
      (1001L to 1040L).map(i => s"u$i@example.com").toDF("email"))
    store.delete(Seq("u3@example.com", "u2003@example.com").toDF("email")): Unit // v5
    store
  }

  test("full read is row-identical to the API read (deletion vectors applied)") {
    val path = tmpDir("dsv2-full") + "/store"
    buildStore(path)
    assert(key(cat(path)) === key(new SparkLiveModel(spark, path).all()))
    assert(cat(path).count() === 118L) // 120 inserted − 2 tombstoned
  }

  test("id-range filter is pushed and zone-prunes files") {
    val path = tmpDir("dsv2-zone") + "/store"
    buildStore(path)
    val q = cat(path).filter(col("id").between(1001L, 1040L))
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(id,1001)"), plan)
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(plan).getOrElse(fail(s"no files=k/n in:\n$plan"))
    assert(m.group(1).toInt < m.group(2).toInt,
      s"zone manifest skipped nothing: ${m.matched}")
    assert(key(q) === key(new SparkLiveModel(spark, path).all()
      .filter(col("id").between(1001L, 1040L))))
  }

  test("email equality is pushed and bloom-prunes files") {
    val path = tmpDir("dsv2-bloom") + "/store"
    buildStore(path)
    val q = cat(path).filter(col("email") === "u2005@example.com")
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("EqualTo(email,u2005@example.com)"), plan)
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"bloom manifest skipped nothing: ${m.matched}")
    assert(q.select(col("id")).collect().map(_.getLong(0)).toSeq === Seq(2005L))
  }

  test("evolved-column zone stats prune files; a truncated pruned file is never opened") {
    val path = tmpDir("dsv2-evozone") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 40L)): Unit // v1 — PRE-evolution, no tier coverage
    store.addColumn("tier", org.apache.spark.sql.types.LongType): Unit // v2
    store.insertNew(block(1001L, 1040L)
      .withColumn("tier", col("id") - 900L)): Unit // v3: tier 101-140
    store.insertNew(block(2001L, 2040L)
      .withColumn("tier", col("id") - 1800L)): Unit // v4: tier 201-240
    val q = cat(path).filter(col("tier").between(201L, 240L))
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("GreaterThanOrEqual(tier,201)"), plan)
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"evolved zones skipped nothing: ${m.matched}")
    assert(q.select("id").collect().map(_.getLong(0)).sorted ===
      (2001L to 2040L).toArray)
    // Stats key on the PHYSICAL name (rename-stable).
    val physTier = graft.pipeline.CustomerStore.physicalMapAt(path)("tier")
    val live = store.liveDataFiles()
    val kept = store.evolvedZoneKeepFiles(
      live.map(f => (f._1, f._2)), physTier, 201L, 240L).map(_._2).toSet
    val prunedFiles = live.map(_._2).filter(p => !kept(p)).toSet
    // ONLY the v3 tier-101-140 files may be pruned: the pre-evolution
    // v1 files have NO tier coverage and must be KEPT (their rows drop
    // at the reader — NULL fails every comparison).
    val prunedRows = spark.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .parquet(prunedFiles.toSeq: _*).collect().map(_.getLong(0))
    assert(prunedRows.nonEmpty && prunedRows.forall(id => id >= 1001L && id <= 1040L),
      s"only the v3 block may be pruned, got ids ${prunedRows.sorted.take(5).toSeq}…")
    // TRUNCATION PIN: zero every pruned file — the filtered read is
    // unchanged because pruned files are never opened.
    prunedFiles.foreach(p => new java.io.FileOutputStream(p).close())
    assert(cat(path).filter(col("tier").between(201L, 240L))
      .select("id").collect().map(_.getLong(0)).sorted ===
      (2001L to 2040L).toArray)
    // An evolved-column filter over a TIME-TRAVEL read stays correct
    // (no pruning there; readers evaluate, pre-evolution rows null-drop).
    assert(cat(path, "versionAsOf" -> "4")
      .filter(col("tier") >= 201L).count() === 40L)
  }

  test("uploaded filter prunes the other partition directory") {
    val path = tmpDir("dsv2-part") + "/store"
    buildStore(path)
    val q = cat(path).filter(col("uploaded") === true)
    val plan = q.queryExecution.executedPlan.toString()
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt, m.matched)
    val model = new SparkLiveModel(spark, path)
    assert(q.count() === model.all().filter(col("uploaded")).count())
    // The negated form arrives as Not(uploaded = true) after Catalyst's
    // boolean simplification — it must prune the DONE partition too.
    val qn = cat(path).filter(col("uploaded") === false)
    val mn = filesRe.findFirstMatchIn(qn.queryExecution.executedPlan.toString()).get
    assert(mn.group(1).toInt < mn.group(2).toInt,
      s"uploaded=false did not prune: ${mn.matched}")
    assert(qn.count() === model.all().filter(!col("uploaded")).count())
  }

  test("column pruning serves narrow projections and COUNT(*)") {
    val path = tmpDir("dsv2-prune") + "/store"
    buildStore(path)
    val model = new SparkLiveModel(spark, path)
    val two = cat(path).select(col("email"), col("phone"))
    assert(two.columns.toSeq === Seq("email", "phone"))
    assert(two.count() === model.all().count())
    assert(cat(path).groupBy().count().head().getLong(0) === model.all().count())
  }

  test("versionAsOf matches asOf at every version, including delete and genesis replay") {
    val path = tmpDir("dsv2-asof") + "/store"
    val store = buildStore(path)
    val model = new SparkHistoryModel(spark, store, path)
    for (v <- 0L to store.currentVersion()) {
      val viaCat = cat(path, "versionAsOf" -> v.toString)
      assert(key(viaCat) === key(model.asOf(v)), s"versionAsOf=$v diverged from asOf")
    }
  }

  test("versionAsOf replays snapshot + delta when a checkpoint exists") {
    val path = tmpDir("dsv2-snap") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 30L)): Unit // v1
    store.markUploaded((1L to 10L).map(i => s"u$i@example.com").toDF("email")) // v2
    assert(store.writeSnapshot() === 2L)
    store.insertNew(block(101L, 120L)): Unit // v3
    store.delete(Seq("u5@example.com", "u105@example.com").toDF("email")): Unit // v4
    store.vacuumFeed(): Unit // log before the snapshot retired: replay MUST use it
    val model = new SparkHistoryModel(spark, store, path)
    for (v <- 2L to 4L)
      assert(key(cat(path, "versionAsOf" -> v.toString)) === key(model.asOf(v)),
        s"versionAsOf=$v diverged from asOf after vacuum")
  }

  test("timestampAsOf matches asOfTimestamp through the commit registry") {
    val path = tmpDir("dsv2-ts") + "/store"
    var now = 100L
    val store = new CustomerStore(spark, path, commitClock = () => now)
    store.insertNew(block(1L, 10L)): Unit // v1 @ 100
    now = 200L
    store.insertNew(block(21L, 30L)): Unit // v2 @ 200
    now = 300L
    store.delete(Seq("u4@example.com").toDF("email")): Unit // v3 @ 300
    val model = new SparkHistoryModel(spark, store, path)
    for (ts <- Seq(50L, 100L, 150L, 250L, 999L))
      assert(key(cat(path, "timestampAsOf" -> ts.toString)) ===
        key(model.asOfTimestamp(ts)), s"timestampAsOf=$ts diverged")
  }

  test("append via the writer API runs the UNIQUE first-wins insert through the commit protocol") {
    val path = tmpDir("dsv2-write") + "/store"
    block(1L, 20L).write.format("graft-store").option("path", path)
      .mode("append").save()
    val store = new CustomerStore(spark, path)
    assert(store.currentVersion() === 1L)
    assert(store.all().count() === 20L)
    // 5 id-conflicts (stored ids, new emails), 5 email-conflicts (new
    // ids, stored emails), 10 fresh — only the fresh may land.
    val batch = rows(
      (1 to 5).map(i => (i.toLong, "X", "X", s"nu$i@example.com", "999")) ++
        (1 to 5).map(i => ((100 + i).toLong, "Y", "Y", s"u${i + 5}@example.com", "999")) ++
        (41 to 50).map(i => (i.toLong, s"F$i", s"L$i", s"u$i@example.com", s"555-$i")): _*)
    batch.write.format("graft-store").option("path", path).mode("append").save()
    assert(store.currentVersion() === 2L, "the write must be one staged commit")
    assert(store.all().count() === 30L,
      "UNIQUE(id)/UNIQUE(email) semantics must hold through the connector write")
    assert(key(cat(path)) === key(new SparkLiveModel(spark, path).all()))
  }

  test("overwrite mode and time-travel writes are rejected") {
    val path = tmpDir("dsv2-wrej") + "/store"
    block(1L, 5L).write.format("graft-store").option("path", path)
      .mode("append").save()
    intercept[Exception] {
      block(6L, 9L).write.format("graft-store").option("path", path)
        .mode("overwrite").save()
    }
    intercept[Exception] {
      block(6L, 9L).write.format("graft-store").option("path", path)
        .option("versionAsOf", "1").mode("append").save()
    }
    assert(new CustomerStore(spark, path).all().count() === 5L,
      "a rejected write must leave the store untouched")
  }

  test("SQL catalog: SELECT, VERSION AS OF, and INSERT INTO address the store by path") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-cat") + "/store"
    val store = buildStore(path)
    assert(key(spark.sql(s"SELECT * FROM graft_store.`$path`")) ===
      key(new SparkLiveModel(spark, path).all()))
    assert(key(spark.sql(s"SELECT * FROM graft_store.`$path` VERSION AS OF 2")) ===
      key(new SparkHistoryModel(spark, store, path).asOf(2L)))
    val before = store.all().count()
    spark.sql(
      s"""INSERT INTO graft_store.`$path`
          SELECT id + 9000, first_name, last_name, concat('z', email), phone,
            uploaded, created_ts, modified_ts
          FROM graft_store.`$path` WHERE id BETWEEN 11 AND 15""")
    assert(store.currentVersion() === 6L, "INSERT INTO must be one commit")
    assert(store.all().count() === before + 5L)
    assert(spark.sql(s"SELECT count(*) FROM graft_store.`$path` WHERE id > 9000")
      .head().getLong(0) === 5L)
  }

  test("filters compose with time travel (applied post-reconstruction)") {
    val path = tmpDir("dsv2-ttf") + "/store"
    val store = buildStore(path)
    val q = cat(path, "versionAsOf" -> "3").filter(col("id") >= 2001L)
    val model = new SparkHistoryModel(spark, store, path)
    assert(key(q) === key(model.asOf(3L).filter(col("id") >= 2001L)))
  }

  test("SQL ALTER TABLE routes ADD/RENAME/DROP COLUMN through column mapping") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-alter") + "/store"
    val store = buildStore(path)
    val v0 = store.currentVersion()
    spark.sql(s"ALTER TABLE graft_store.`$path` ADD COLUMN tier BIGINT")
    assert(store.currentVersion() === v0 + 1, "ADD COLUMN must be one commit")
    spark.sql(s"ALTER TABLE graft_store.`$path` RENAME COLUMN phone TO phone_e164")
    spark.sql(s"ALTER TABLE graft_store.`$path` DROP COLUMN tier")
    val cols = spark.sql(s"SELECT * FROM graft_store.`$path`").columns.toSet
    assert(cols.contains("phone_e164") && !cols.contains("phone") &&
      !cols.contains("tier"))
    // renamed column serves the historical values through SQL
    assert(spark.sql(s"SELECT count(*) FROM graft_store.`$path` " +
      "WHERE phone_e164 IS NOT NULL").head().getLong(0) ===
      new SparkLiveModel(spark, path).all().count())
    // structural renames/retypes stay loudly rejected from SQL too
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_store.`$path` RENAME COLUMN email TO em")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_store.`$path` ALTER COLUMN first_name TYPE BIGINT")
    }
  }

  test("SQL DELETE stages one deletion-vector commit, no data-file rewrite") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-del") + "/store"
    val store = buildStore(path) // v5, 118 live
    val filesBefore = store.pendingDataFiles().toSet
    spark.sql(s"DELETE FROM graft_store.`$path` WHERE id >= 1010 AND id <= 1019")
    assert(store.currentVersion() === 6L, "DELETE must be one staged commit")
    assert(store.pendingDataFiles().toSet === filesBefore,
      "DELETE must be merge-on-read — data files untouched")
    assert(store.all().count() === 108L)
    // Disjunction + string predicate both translate.
    spark.sql(s"DELETE FROM graft_store.`$path` " +
      "WHERE email = 'u1@example.com' OR email = 'u2001@example.com'")
    assert(store.all().count() === 106L)
    val (_, live) = store.deletionVectorStats()
    assert(live > 0L, "SQL DELETE must route through deletion vectors")
    // Time travel still reads the pre-delete snapshot.
    assert(spark.sql(s"SELECT count(*) FROM graft_store.`$path` VERSION AS OF 5")
      .head().getLong(0) === 118L)
  }

  test("SQL DELETE with a non-translatable predicate is rejected without a commit") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-delrej") + "/store"
    val store = buildStore(path)
    val v = store.currentVersion()
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft_store.`$path` WHERE id % 7 = 0")
    }
    assert(store.currentVersion() === v,
      "a rejected DELETE must not advance the version")
    assert(store.all().count() === 118L)
  }

  test("SQL MERGE INTO routes the email-keyed upsert through the store's merge") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-merge") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 20L)): Unit // v1
    // 5 updates (changed phone), 5 identical, 5 fresh, 5 id-conflicts.
    val src = rows(
      ((1L to 5L).map(i => (i, s"F$i", s"L$i", s"u$i@example.com", s"999-$i")) ++
       (6L to 10L).map(i => (i, s"F$i", s"L$i", s"u$i@example.com", s"555-$i")) ++
       (31L to 35L).map(i => (i, s"F$i", s"L$i", s"new$i@example.com", s"555-$i")) ++
       (11L to 15L).map(i => (i, s"F$i", s"L$i", s"conf$i@example.com", s"555-$i"))): _*)
    src.createOrReplaceTempView("merge_src_spec")
    val res = spark.sql(
      s"""MERGE INTO graft_store.`$path` t USING merge_src_spec s
          ON t.email = s.email
          WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
            t.last_name = s.last_name, t.phone = s.phone
          WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
            VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
      .collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3)) ===
      ((5L, 5L, 5L, 5L)),
      "(n_updated, n_inserted, n_unchanged, n_conflicts)")
    assert(store.currentVersion() === 2L, "MERGE must be one staged commit")
    val st = store.all()
    assert(st.count() === 25L) // 20 + 5 fresh (id-conflicts salvaged away)
    assert(st.filter(col("phone").startsWith("999-")).count() === 5L)
    assert(st.filter(col("email").startsWith("conf")).count() === 0L)
  }

  test("SQL MERGE INTO rejects shapes outside the store's merge contract") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-mrej") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 5L)): Unit
    rows((6L, "F6", "L6", "u6@example.com", "555-6"))
      .createOrReplaceTempView("merge_src_rej")
    def mustReject(sql: String): Unit = {
      intercept[Exception] { spark.sql(sql) }
      assert(store.currentVersion() === 1L, "a rejected MERGE must not commit")
    }
    // Key column rewrite in UPDATE (email is the merge key, not payload).
    mustReject(
      s"""MERGE INTO graft_store.`$path` t USING merge_src_rej s
          ON t.email = s.email
          WHEN MATCHED THEN UPDATE SET t.email = s.email
          WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
            VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
    // Non-email ON key.
    mustReject(
      s"""MERGE INTO graft_store.`$path` t USING merge_src_rej s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET t.phone = s.phone
          WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
            VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
    // WHEN MATCHED DELETE is not the store's merge contract.
    mustReject(
      s"""MERGE INTO graft_store.`$path` t USING merge_src_rej s
          ON t.email = s.email
          WHEN MATCHED THEN DELETE""")
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION adds source columns and lands their values") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-mevo") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 10L)): Unit // v1
    // 3 matched rows whose ONLY difference is the new column, 2 fresh.
    val src = rows(
      ((1L to 3L).map(i => (i, s"F$i", s"L$i", s"u$i@example.com", s"555-$i")) ++
       (21L to 22L).map(i => (i, s"F$i", s"L$i", s"new$i@example.com", s"555-$i"))): _*)
      .withColumn("tier", concat(lit("t"), col("id") % 2))
    src.createOrReplaceTempView("merge_src_evo")
    // NB: the evolving UPDATE key is UNQUALIFIED (`tier`, not `t.tier`) —
    // Spark's ResolveMergeIntoSchemaEvolution treats an assignment as a
    // new-column copy only when the key's name path EQUALS the source
    // field path (MergeIntoTable.isEqual), and `t.tier` is ["t","tier"].
    def mergeTierSql(evolution: String): String =
      s"""MERGE $evolution INTO graft_store.`$path` t USING merge_src_evo s
          ON t.email = s.email
          WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
            t.last_name = s.last_name, t.phone = s.phone, tier = s.tier
          WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone, tier)
            VALUES (s.id, s.first_name, s.last_name, s.email, s.phone, s.tier)"""
    // Without the keyword the unknown target column fails ANALYSIS —
    // no schema commit, no data commit.
    intercept[Exception] { spark.sql(mergeTierSql("")) }
    assert(store.currentVersion() === 1L,
      "a rejected unknown-column MERGE must not commit")
    val res = spark.sql(mergeTierSql("WITH SCHEMA EVOLUTION")).collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3)) ===
      ((3L, 2L, 0L, 0L)),
      "an evolved-only difference must mark its row updated (values land)")
    assert(store.currentVersion() === 3L,
      "exactly one ADD COLUMN schema commit + one merge commit")
    assert(store.tableSchema.fieldNames.last === "tier" &&
      store.tableSchema("tier").nullable)
    val st = store.all().localCheckpoint(true)
    // id%2 plants: tier t1 on ids 1,3,21; t0 on 2,22; NULL on untouched 4-10.
    assert(st.filter(col("tier") === "t1").count() === 3L)
    assert(st.filter(col("tier") === "t0").count() === 2L)
    assert(st.filter(col("tier").isNull).count() === 7L)
    // Idempotency through the evolved column: re-running the SAME
    // statement finds no schema change and every match identical.
    val res2 = spark.sql(mergeTierSql("WITH SCHEMA EVOLUTION")).collect().head
    assert((res2.getLong(0), res2.getLong(1), res2.getLong(2)) === ((0L, 0L, 5L)))
    // A PLAIN merge may assign the (now-existing) evolved column — the
    // keyword only gates the automatic ADD, not evolved assignment.
    val res3 = spark.sql(mergeTierSql("")).collect().head
    assert(res3.getLong(2) === 5L, "plain MERGE over an evolved store")
    // Per-leg evolved sets must agree: UPDATE-only tier is rejected.
    val vBefore = store.currentVersion()
    intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft_store.`$path` t USING merge_src_evo s
            ON t.email = s.email
            WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
              t.last_name = s.last_name, t.phone = s.phone, t.tier = s.tier
            WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
              VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
    }
    assert(store.currentVersion() === vBefore,
      "an inconsistent-evolved-set MERGE must not commit")
  }

  test("SQL MERGE INTO rejects conflicting duplicate source emails, collapses identical ones") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-mdup") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 5L)): Unit
    def mergeSql(view: String): String =
      s"""MERGE INTO graft_store.`$path` t USING $view s
          ON t.email = s.email
          WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
            t.last_name = s.last_name, t.phone = s.phone
          WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
            VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)"""
    // Two rows for u1@ with DIFFERENT phones: a SQL source has no
    // ingest order, so "latest wins" would be a nondeterministic pick —
    // rejected like standard SQL MERGE / Delta, with no commit.
    rows((1L, "F1", "L1", "u1@example.com", "999-a"),
        (1L, "F1", "L1", "u1@example.com", "999-b"))
      .createOrReplaceTempView("merge_src_dup_conf")
    intercept[Exception] { spark.sql(mergeSql("merge_src_dup_conf")) }
    assert(store.currentVersion() === 1L,
      "a conflicting-duplicate MERGE source must not commit")
    // Payload-IDENTICAL duplicates are harmless: they collapse to one
    // row and the statement proceeds deterministically.
    rows((1L, "F1", "L1", "u1@example.com", "999-x"),
        (1L, "F1", "L1", "u1@example.com", "999-x"))
      .createOrReplaceTempView("merge_src_dup_same")
    val res = spark.sql(mergeSql("merge_src_dup_same")).collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3)) ===
      ((1L, 0L, 0L, 0L)))
    assert(store.all().filter(col("phone") === "999-x").count() === 1L)
  }

  test("SQL UPDATE routes through merge: payload set, key/meta columns protected") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-upd") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 20L)): Unit
    // Expression-valued SET over the row, predicate WHERE.
    val res = spark.sql(
      s"""UPDATE graft_store.`$path`
          SET phone = concat('777-', id), first_name = lower(first_name)
          WHERE id >= 5 AND id <= 9""").collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) === ((5L, 0L, 0L)),
      "(n_updated, n_inserted, n_unchanged)")
    assert(store.currentVersion() === 2L, "UPDATE must be one staged commit")
    val st = new CustomerStore(spark, path).all()
    assert(st.filter(col("phone").startsWith("777-")).count() === 5L)
    assert(st.filter(col("first_name") === "f5").count() === 1L)
    assert(st.filter(col("first_name") === "F4").count() === 1L)
    // A no-op UPDATE (values already equal) commits nothing new per the
    // merge idempotency contract: all rows land in n_unchanged.
    val res2 = spark.sql(
      s"UPDATE graft_store.`$path` SET phone = phone WHERE id = 1").collect().head
    assert((res2.getLong(0), res2.getLong(2)) === ((0L, 1L)))
    // Key/meta columns are not assignable.
    intercept[Exception] {
      spark.sql(s"UPDATE graft_store.`$path` SET email = 'x@example.com' WHERE id = 1")
    }
    intercept[Exception] {
      spark.sql(s"UPDATE graft_store.`$path` SET uploaded = true WHERE id = 1")
    }
    // EVOLVED columns are assignable; an unassigned evolved column
    // keeps its stored value through an unrelated UPDATE.
    store.addColumn("tier", org.apache.spark.sql.types.StringType): Unit
    val res3 = spark.sql(
      s"UPDATE graft_store.`$path` SET tier = concat('t', id % 2) WHERE id <= 4")
      .collect().head
    assert(res3.getLong(0) === 4L, "an evolved-only SET must mark rows updated")
    val st2 = new CustomerStore(spark, path).all()
    assert(st2.filter(col("tier").isNotNull).count() === 4L)
    val res4 = spark.sql(
      s"UPDATE graft_store.`$path` SET phone = concat('888-', id) WHERE id <= 2")
      .collect().head
    assert(res4.getLong(0) === 2L, "the phone rewrite must really update")
    assert(new CustomerStore(spark, path).all()
      .filter(col("tier").isNotNull).count() === 4L,
      "an UPDATE not assigning tier must carry stored tier values")
  }

  test("SQL TRUNCATE TABLE tombstones every live row through deletion vectors") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-trunc") + "/store"
    val store = buildStore(path) // 118 live at v5
    val filesBefore = store.pendingDataFiles().toSet
    spark.sql(s"TRUNCATE TABLE graft_store.`$path`")
    assert(store.all().count() === 0L)
    assert(store.pendingDataFiles().toSet === filesBefore,
      "TRUNCATE must be merge-on-read — data files untouched")
    assert(spark.sql(s"SELECT count(*) FROM graft_store.`$path` VERSION AS OF 5")
      .head().getLong(0) === 118L, "time travel must still see pre-truncate rows")
  }

  test("runtime join-key filtering re-plans the file set through the manifests") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val path = tmpDir("dsv2-rtf") + "/store"
    val store = buildStore(path)
    def scan(): CustomerStoreScan =
      new CustomerStoreScanBuilder(store, None).build()
        .asInstanceOf[CustomerStoreScan]
    val all = scan().planInputPartitions().length
    assert(all >= 3, "fixture must span several files")
    // id IN-set → zone-envelope prune down to the 2001-block's files.
    val s1 = scan()
    assert(s1.filterAttributes().map(_.describe()).toSet === Set("id", "email"))
    s1.filter(Array(new Predicate("IN",
      (Expressions.column("id") +: (2001L to 2005L).map(v =>
        Expressions.literal(v): org.apache.spark.sql.connector.expressions.Expression)).toArray)))
    val keptZone = s1.planInputPartitions().length
    assert(keptZone < all && keptZone > 0, s"zone runtime prune kept $keptZone of $all")
    // email equality → bloom prune.
    val s2 = scan()
    s2.filter(Array(new Predicate("=",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("email"),
        org.apache.spark.sql.graft.V2FilterBridge.literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("u2005@example.com"),
          org.apache.spark.sql.types.StringType)))))
    val keptBloom = s2.planInputPartitions().length
    assert(keptBloom < all && keptBloom > 0, s"bloom runtime prune kept $keptBloom of $all")
    // Time-travel scans advertise no runtime-filter attributes.
    assert(new CustomerStoreScanBuilder(store,
        Some(TimeTravel(store, 2L))).build()
      .asInstanceOf[CustomerStoreScan].filterAttributes().isEmpty)
  }

  test("a broadcast join against the store delivers runtime join-key filters") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-rtj") + "/store"
    buildStore(path)
    val before = CustomerStoreScan.runtimePruneCalls.get()
    import spark.implicits._
    // The dim must be FILE-backed with a selective WHERE of its own:
    // DPP requires a surviving Filter node on the build side, and a
    // LocalRelation constant-folds its filter away at plan time.
    val dimPath = tmpDir("dsv2-rtj-dim")
    Seq((2001L, "a"), (2002L, "a"), (7L, "b")).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rtf_dim")
    val q = spark.sql(
      s"""SELECT /*+ BROADCAST(d) */ count(*) FROM graft_store.`$path` t
          JOIN rtf_dim d ON t.id = d.k WHERE d.tag = 'a'""")
    assert(q.collect().head.getLong(0) === 2L)
    assert(CustomerStoreScan.runtimePruneCalls.get() > before,
      "Spark did not deliver runtime join-key predicates to the scan")
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("RuntimeFilters: [In(id,"),
      s"runtime In-filter missing from the scan description:\n$plan")
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from the zone manifest alone") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-agg") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 40L)): Unit
    store.insertNew(block(1001L, 1040L)): Unit
    val q = spark.sql(
      s"SELECT count(*), min(id), max(id) FROM graft_store.`$path`")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((80L, 1L, 1040L)))
    assert(q.queryExecution.executedPlan.toString().contains("PushedAggregates"),
      "aggregation was not pushed to the manifest scan")
    // Physical pin: truncate every data file to zero bytes — the
    // manifest-only answer must survive (no data file is opened).
    val pinned = store.pendingDataFilePaths()
    assert(pinned.nonEmpty && pinned.forall(p => new java.io.File(p).isAbsolute))
    pinned.foreach(p => new java.io.FileOutputStream(p).close())
    assert(pinned.forall(p => new java.io.File(p).length() == 0L),
      "truncation pin did not reach the real data files")
    val r2 = spark.sql(
      s"SELECT count(*), min(id), max(id) FROM graft_store.`$path`").collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((80L, 1L, 1040L)),
      "manifest-only aggregates must not touch data files")
  }

  test("aggregate pushdown serves MIN/MAX of an evolved column from the kind='e' manifest") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-aggevo") + "/store"
    val store = new CustomerStore(spark, path)
    // Evolve BEFORE any data: every live file then has 'e' coverage.
    store.addColumn("tier", org.apache.spark.sql.types.LongType): Unit // v1
    store.insertNew(block(1L, 40L)
      .withColumn("tier", col("id") + 100L)): Unit // v2: tier 101-140
    // A tier-LESS batch null-fills: its 'e' row has NULL extrema and
    // contributes nothing to MIN/MAX — exactly null-skipping semantics.
    store.insertNew(block(1001L, 1040L)): Unit // v3: tier all NULL
    val q = spark.sql(
      s"SELECT count(*), min(tier), max(tier), max(id) FROM graft_store.`$path`")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((80L, 101L, 140L, 1040L)))
    assert(q.queryExecution.executedPlan.toString().contains("PushedAggregates"),
      "evolved-column aggregation was not pushed to the manifest scan")
    // Truncation pin: the manifest-only answer survives zero-byte files.
    store.pendingDataFilePaths().foreach(p =>
      new java.io.FileOutputStream(p).close())
    val r2 = spark.sql(
      s"SELECT count(*), min(tier), max(tier) FROM graft_store.`$path`")
      .collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((80L, 101L, 140L)),
      "manifest-only evolved aggregates must not touch data files")
    // A store whose PRE-evolution files lack 'e' coverage refuses the
    // evolved-column pushdown (data path — correct, never fast-wrong)
    // while still pushing the id-only shape.
    val path2 = tmpDir("dsv2-aggevo2") + "/store"
    val store2 = new CustomerStore(spark, path2)
    store2.insertNew(block(1L, 5L)): Unit // v1 pre-evolution
    store2.addColumn("tier", org.apache.spark.sql.types.LongType): Unit
    store2.insertNew(block(11L, 15L)
      .withColumn("tier", col("id") + 100L)): Unit
    val q2 = spark.sql(s"SELECT min(tier) FROM graft_store.`$path2`")
    assert(!q2.queryExecution.executedPlan.toString().contains("PushedAggregates"),
      "a live file without 'e' coverage must refuse evolved-agg pushdown")
    assert(q2.collect().head.getLong(0) === 111L)
    assert(spark.sql(s"SELECT max(id) FROM graft_store.`$path2`")
      .queryExecution.executedPlan.toString().contains("PushedAggregates"),
      "the id shape must stay pushed on the same store")
  }

  test("aggregate pushdown refuses whenever it could not be exact") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-aggrej") + "/store"
    val store = buildStore(path) // live deletion vectors (118 live rows)
    def planOf(sql: String) = {
      val q = spark.sql(sql); (q.collect().head, q.queryExecution.executedPlan.toString())
    }
    // Live DVs: a tombstoned row may hold the extremum → data-path agg.
    val (r1, p1) = planOf(s"SELECT count(*), min(id) FROM graft_store.`$path`")
    assert(!p1.contains("PushedAggregates"), p1)
    assert((r1.getLong(0), r1.getLong(1)) === ((118L, 1L)))
    store.compact() // materialize: vectors drained, pushdown eligible again
    val (r2, p2) = planOf(s"SELECT count(*) FROM graft_store.`$path`")
    assert(p2.contains("PushedAggregates"), p2)
    assert(r2.getLong(0) === 118L)
    // A filter or an unsupported function keeps the data path.
    val (r3, p3) = planOf(
      s"SELECT count(*) FROM graft_store.`$path` WHERE id >= 1001")
    assert(!p3.contains("PushedAggregates"), p3)
    assert(r3.getLong(0) === 79L) // 80 in blocks 2+3 minus deleted u2003
    val (r4, p4) = planOf(s"SELECT sum(id) FROM graft_store.`$path`")
    assert(!p4.contains("PushedAggregates"), p4)
    // Time travel reconstructs — never a manifest shortcut.
    val (r5, p5) = planOf(
      s"SELECT count(*) FROM graft_store.`$path` VERSION AS OF 3")
    assert(!p5.contains("PushedAggregates"), p5)
    assert(r5.getLong(0) === 120L)
  }

  test("aggregate pushdown is COMPLETE: no re-aggregation above the manifest scan") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-aggc") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 40L)): Unit
    val q = spark.sql(s"SELECT count(*), min(id), max(id) FROM graft_store.`$path`")
    assert(q.collect().head.toSeq === Seq(40L, 1L, 40L))
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates"), plan)
    // supportCompletePushDown evaluates eligibility itself (Spark calls
    // it BEFORE pushAggregation), so the single manifest row is served
    // as-is — a residual HashAggregate would mean only PARTIAL pushdown
    // engaged.
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown did not engage — a final aggregate remains:\n$plan")
  }

  test("grouped aggregate pushdown: GROUP BY uploaded answers per-partition from the manifest") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-agggrp") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 40L)): Unit
    store.insertNew(block(1001L, 1040L)): Unit
    // Ack a SUBSET of the second block: the ack's file-level merge
    // rewrites the touched file with its non-acked survivors, so every
    // live file in both partitions stays non-empty and zone-covered.
    store.markUploaded((1001L to 1020L).map(i => s"u$i@example.com").toDF("email"))
    def q() = spark.sql(
      s"""SELECT uploaded, count(*) AS n, min(id) AS mn, max(id) AS mx
          FROM graft_store.`$path` GROUP BY uploaded ORDER BY uploaded""")
    val r1 = q().collect().toSeq
    assert(r1.map(x => (x.getBoolean(0), x.getLong(1), x.getLong(2), x.getLong(3))) ===
      Seq((false, 60L, 1L, 1040L), (true, 20L, 1001L, 1020L)))
    val plan = q().queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates") &&
      plan.contains("PushedGroupBy: [uploaded]"), plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"grouped pushdown must be complete:\n$plan")
    // Refusals (plan-level, checked before the truncation pin): a
    // non-partition group column and a residual filter both make the
    // per-group manifest sums inexact.
    val pEmail = spark.sql(
      s"SELECT email, count(*) FROM graft_store.`$path` GROUP BY email")
      .queryExecution.executedPlan.toString()
    assert(!pEmail.contains("PushedAggregates"), pEmail)
    val pFiltered = spark.sql(
      s"""SELECT uploaded, count(*) FROM graft_store.`$path`
          WHERE id >= 1001 GROUP BY uploaded""")
      .queryExecution.executedPlan.toString()
    assert(!pFiltered.contains("PushedAggregates"), pFiltered)
    // PARTITION-FILTERED pushdown: the work-queue COUNT (WHERE
    // uploaded = false) is the other manifest-exact shape — the pushed
    // partition predicate selects the partition's manifest rows.
    val qPend = spark.sql(
      s"SELECT count(*) AS n, max(id) AS mx FROM graft_store.`$path` WHERE uploaded = false")
    val pend = qPend.collect().head
    assert((pend.getLong(0), pend.getLong(1)) === ((60L, 1040L)))
    val pPend = qPend.queryExecution.executedPlan.toString()
    assert(pPend.contains("PushedAggregates") &&
      pPend.contains("PushedFilters: [EqualTo(uploaded,false)]"), pPend)
    assert(!pPend.contains("HashAggregate"), pPend)
    // Filter + group compose: one group row survives the predicate.
    val qBoth = spark.sql(
      s"""SELECT uploaded, count(*) AS n FROM graft_store.`$path`
          WHERE uploaded = true GROUP BY uploaded""")
    assert(qBoth.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq ===
      Seq((true, 20L)))
    assert(qBoth.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    // Physical pin: zero-byte every live data file in BOTH partitions —
    // the grouped and filtered answers must survive untouched.
    val pinned = store.liveDataFiles().map(_._2)
    assert(pinned.nonEmpty && pinned.forall(p => new java.io.File(p).isAbsolute))
    pinned.foreach(p => new java.io.FileOutputStream(p).close())
    assert(pinned.forall(p => new java.io.File(p).length() == 0L))
    assert(q().collect().toSeq === r1,
      "grouped manifest aggregates must not open data files")
    assert(spark.sql(
      s"SELECT count(*) FROM graft_store.`$path` WHERE uploaded = false")
      .head().getLong(0) === 60L,
      "the filtered manifest aggregate must not open data files")
  }

  test("grouped aggregate pushdown refuses under live deletion vectors") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-agggrej") + "/store"
    val store = buildStore(path) // live deletion vectors
    val q = spark.sql(
      s"""SELECT uploaded, count(*) AS n FROM graft_store.`$path`
          GROUP BY uploaded ORDER BY uploaded""")
    val rows = q.collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq
    assert(rows === Seq((false, 78L), (true, 40L))) // 80 pending − 2 tombstoned
    assert(!q.queryExecution.executedPlan.toString().contains("PushedAggregates"),
      "live deletion vectors must force the data path")
  }

  test("CALL procedures run the store's maintenance ops through the catalog") {
    spark.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
    val path = tmpDir("dsv2-proc") + "/store"
    val store = buildStore(path) // v5, live deletion vectors
    val c = spark.sql(s"CALL graft_store.compact('$path')").collect().head
    assert((c.getLong(0), c.getLong(1)) === ((6L, 0L)),
      "(version, live_vectors) after CALL compact")
    assert(store.all().count() === 118L)
    assert(spark.sql(s"CALL graft_store.snapshot('$path')")
      .collect().head.getLong(0) === 6L)
    assert(spark.sql(s"CALL graft_store.vacuum('$path')")
      .collect().head.getLong(0) >= 1L, "vacuum after a snapshot must retire dirs")
    assert(store.all().count() === 118L, "maintenance must not change the data")
    // Restore (fresh store so the full feed is present).
    val path2 = tmpDir("dsv2-proc2") + "/store"
    val st2 = new CustomerStore(spark, path2)
    st2.insertNew(block(1L, 10L)): Unit
    st2.insertNew(block(21L, 30L)): Unit
    assert(spark.sql(s"CALL graft_store.restore('$path2', 1)")
      .collect().head.getLong(0) === 3L)
    assert(st2.all().count() === 10L)
    assert(spark.sql(s"CALL graft_store.zorder('$path2')")
      .collect().head.getLong(0) === 4L)
    intercept[Exception] {
      spark.sql(s"CALL graft_store.does_not_exist('$path')")
    }
  }

  test("change-feed reads through the connector match feedSince per commit range") {
    val path = tmpDir("dsv2-cdc") + "/store"
    val store = buildStore(path) // 5 commits
    def cdc(from: Long, to: Option[Long]): DataFrame = {
      var r = spark.read.format("graft-store").option("path", path)
        .option("feedFrom", from)
      to.foreach(t => r = r.option("feedTo", t))
      r.load()
    }
    def keyOf(df: DataFrame): Seq[(Long, String, String)] =
      df.select(col("commit_version"), col("change_type"), col("email"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sorted
    val model = new SparkHistoryModel(spark, store, path)
    assert(keyOf(cdc(0L, None)) === keyOf(model.changeFeed()),
      "(0, head] must be the whole feed")
    assert(keyOf(cdc(2L, Some(4L))) === keyOf(model.feedSince(2L, 4L)))
    assert(cdc(5L, None).count() === 0L)
    // One input partition per commit dir in range; column pruning works.
    val slice = cdc(1L, Some(3L))
    assert(slice.rdd.getNumPartitions === 2)
    assert(slice.select(col("change_type")).distinct().count() >= 1L)
    // CDC composes with nothing else: time travel is rejected.
    intercept[Exception] {
      spark.read.format("graft-store").option("path", path)
        .option("feedFrom", 0).option("versionAsOf", 2).load()
    }
  }

  test("feedFromTimestamp resolves a feed start through the commit registry") {
    val path = tmpDir("dsv2-cdc-ts") + "/store"
    val store = buildStore(path) // 5 commits
    val reg = store.commitTimestamps() // (version, promotion millis)
    def cdcTs(ts: Long): DataFrame =
      spark.read.format("graft-store").option("path", path)
        .option("feedFromTimestamp", ts).load()
    def keyOf(df: DataFrame): Seq[(Long, String, String)] =
      df.select(col("commit_version"), col("change_type"), col("email"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sorted
    val model = new SparkHistoryModel(spark, store, path)
    // a timestamp at or before the first commit serves the whole feed
    assert(keyOf(cdcTs(reg.head._2)) === keyOf(model.changeFeed()))
    assert(keyOf(cdcTs(Long.MinValue)) === keyOf(model.changeFeed()))
    // a timestamp exactly at commit v3's promotion INCLUDES v3 onward
    val t3 = reg.find(_._1 == 3L).get._2
    assert(keyOf(cdcTs(t3)) === keyOf(model.feedSince(2L, 5L)))
    // a timestamp beyond the head serves nothing (forward-only start)
    assert(cdcTs(reg.last._2 + 60000L).count() === 0L)
    // version- and timestamp-addressed starts are mutually exclusive
    intercept[Exception] {
      spark.read.format("graft-store").option("path", path)
        .option("feedFrom", 0).option("feedFromTimestamp", t3).load()
    }
  }

  test("timestamp reads fail loudly on a store whose commit registry is gone") {
    val path = tmpDir("dsv2-noreg") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 10L)): Unit // v1
    store.insertNew(block(21L, 30L)): Unit // v2
    store.delete(Seq("u4@example.com").toDF("email")): Unit // v3
    val ts = store.commitTimestamps().last._2
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(path, "_commits"))
    // All three timestamp-addressed reads resolve through versionAt: none
    // may fall back to version 0 (an empty table, or the whole feed).
    for ((what, read) <- Seq[(String, () => DataFrame)](
        "asOfTimestamp" -> (() => store.asOfTimestamp(ts)),
        "timestampAsOf" -> (() => cat(path, "timestampAsOf" -> ts.toString)),
        "feedFromTimestamp" -> (() => cat(path, "feedFromTimestamp" -> ts.toString)))) {
      val e = intercept[IllegalArgumentException](read().collect())
      assert(e.getMessage.contains("no timestamp registry"), s"$what: ${e.getMessage}")
    }
    // Version-addressed reads need no registry.
    assert(store.asOf(3L).count() === 19L)
  }

  test("streaming CDC source: offsets are commit versions, exactly-once across restart") {
    val path = tmpDir("dsv2-stream") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 10L)): Unit // v1
    store.insertNew(block(21L, 30L)): Unit // v2
    val sink = tmpDir("dsv2-stream-sink")
    val ckpt = tmpDir("dsv2-stream-ckpt")
    def run(): Long = {
      val q = spark.readStream.format("graft-store").option("path", path)
        .option("feedFrom", 0).option("maxCommitsPerTrigger", 1).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0L).toLong
    }
    assert(run() === 2L, "AvailableNow must drain one commit per micro-batch")
    store.markUploaded(
      (2L to 10L by 2L).map(i => s"u$i@example.com").toDF("email")) // v3
    assert(run() === 1L, "restart must resume at the checkpointed version")
    val feedSchema = store.changeFeed().schema
    val sunk = spark.read.schema(feedSchema).parquet(sink)
    assert(sunk.count() === store.changeFeed().count(),
      "exactly-once: nothing lost, nothing duplicated across the restart")
    assert(sunk.select(col("commit_version")).distinct().count() === 3L)
    // A feed-silent commit (compact) advances the offset with no rows.
    store.compact()
    assert(run() === 0L, "a feed-silent commit must produce no input rows")
  }

  test("streaming CDC source respects feedTo as a bounded drain") {
    val path = tmpDir("dsv2-streamto") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 5L)): Unit // v1
    store.insertNew(block(11L, 15L)): Unit // v2
    val sink = tmpDir("dsv2-streamto-sink")
    spark.readStream.format("graft-store").option("path", path)
      .option("feedFrom", 0).option("feedTo", 1).load()
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", tmpDir("dsv2-streamto-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val sunk = spark.read.schema(store.changeFeed().schema).parquet(sink)
    assert(sunk.count() === 5L, "the bounded stream must drain only (0, 1]")
    assert(sunk.select(col("commit_version")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("streaming CDC maxBytesPerTrigger: bulk commit ships alone, small ones batch together") {
    val path = tmpDir("dsv2-streambytes") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 200L)): Unit // v1 — the bulk load
    store.insertNew(block(1001L, 1005L)): Unit // v2 — small
    store.insertNew(block(2001L, 2005L)): Unit // v3 — small
    val bulkBytes = new java.io.File(s"$path/_changelog/commit-000000001")
      .listFiles().map(_.length()).sum
    def drain(sink: String, ckpt: String, opts: (String, String)*): Seq[Long] = {
      val r = spark.readStream.format("graft-store").option("path", path)
        .option("feedFrom", 0)
      opts.foreach { case (k, v) => r.option(k, v): Unit }
      val q = r.load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0L).map(_.numInputRows).toSeq
    }
    // Budget = the bulk commit's size: it fills a whole batch by itself
    // (a commit LARGER than the cap must still ship — whole, alone),
    // while the two small commits fit one batch together.
    val sink = tmpDir("dsv2-streambytes-sink")
    val ckpt = tmpDir("dsv2-streambytes-ckpt")
    // Leg 1: a bounded drain (feedTo=1) stops MID-STREAM after the bulk.
    assert(drain(sink, ckpt, "maxBytesPerTrigger" -> bulkBytes.toString,
      "feedTo" -> "1") === Seq(200L))
    // Leg 2 (restart mid-drain): resumes at the checkpointed offset and
    // ships both small commits as ONE byte-budgeted batch.
    assert(drain(sink, ckpt,
      "maxBytesPerTrigger" -> bulkBytes.toString) === Seq(10L))
    // Exactly-once across the restart: sink == feed, no loss, no dupes.
    val sunk = spark.read.schema(store.changeFeed().schema).parquet(sink)
    assert(sunk.count() === store.changeFeed().count())
    assert(sunk.select(col("commit_version")).distinct().count() === 3L)
    // A 1-byte budget degenerates to one commit per batch (never zero).
    assert(drain(tmpDir("dsv2-streambytes-sink2"),
      tmpDir("dsv2-streambytes-ckpt2"),
      "maxBytesPerTrigger" -> "1") === Seq(200L, 5L, 5L))
  }

  test("streaming CDC maxRowsPerTrigger: rows-grain admission, whole commits, never zero") {
    val path = tmpDir("dsv2-streamrows") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 200L)): Unit // v1 — the bulk load
    store.insertNew(block(1001L, 1005L)): Unit // v2 — small
    store.insertNew(block(2001L, 2005L)): Unit // v3 — small
    def drain(sink: String, ckpt: String, opts: (String, String)*): Seq[Long] = {
      val r = spark.readStream.format("graft-store").option("path", path)
        .option("feedFrom", 0)
      opts.foreach { case (k, v) => r.option(k, v): Unit }
      val q = r.load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0L).map(_.numInputRows).toSeq
    }
    // A 10-row budget: the 200-row bulk commit still ships — whole,
    // alone (admission is ≥1 commit, the feed's atomicity grain) —
    // then the two 5-row commits fill one batch together.
    val sink = tmpDir("dsv2-streamrows-sink")
    val ckpt = tmpDir("dsv2-streamrows-ckpt")
    assert(drain(sink, ckpt, "maxRowsPerTrigger" -> "10",
      "feedTo" -> "1") === Seq(200L))
    // Restart mid-drain: resumes at the checkpointed offset.
    assert(drain(sink, ckpt, "maxRowsPerTrigger" -> "10") === Seq(10L))
    // Exactly-once across the restart: sink == feed, no loss, no dupes.
    val sunk = spark.read.schema(store.changeFeed().schema).parquet(sink)
    assert(sunk.count() === store.changeFeed().count())
    assert(sunk.select(col("commit_version")).distinct().count() === 3L)
    // A 5-row budget stops after each small commit: one per batch.
    assert(drain(tmpDir("dsv2-streamrows-sink2"),
      tmpDir("dsv2-streamrows-ckpt2"),
      "maxRowsPerTrigger" -> "5") === Seq(200L, 5L, 5L))
    // rows+bytes caps compose: the tighter budget wins per batch.
    assert(drain(tmpDir("dsv2-streamrows-sink3"),
      tmpDir("dsv2-streamrows-ckpt3"),
      "maxRowsPerTrigger" -> "10",
      "maxBytesPerTrigger" -> "1") === Seq(200L, 5L, 5L))
    // a batch read rejects the streaming admission knob like the others
    intercept[Exception] {
      spark.read.format("graft-store").option("path", path)
        .option("maxRowsPerTrigger", 10).load()
    }
  }

  test("streaming CDC across schema evolution: pinned mid-flight, evolved on restart") {
    val path = tmpDir("dsv2-streamevo") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 5L)): Unit // v1
    val sink = tmpDir("dsv2-streamevo-sink")
    val ckpt = tmpDir("dsv2-streamevo-ckpt")
    def drain(): org.apache.spark.sql.types.StructType = {
      val df = spark.readStream.format("graft-store").option("path", path)
        .option("feedFrom", 0).load()
      df.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      df.schema
    }
    // Leg 1: drain v1 under the pre-evolution schema.
    assert(!drain().fieldNames.contains("tier"))
    // Evolve, then commit a block CARRYING the new column.
    store.addColumn("tier", org.apache.spark.sql.types.LongType): Unit // v2
    store.insertNew(block(11L, 13L)
      .withColumn("tier", col("id") % 3)): Unit // v3
    // Leg 2 (restart): resumes at the checkpointed offset and serves
    // the EVOLVED schema — the new column rides the feed read.
    val evolved = drain()
    assert(evolved.fieldNames.contains("tier"),
      "a restarted stream must serve the evolved schema")
    // The sink now holds old-schema and new-schema files; reading
    // under the evolved feed schema null-fills pre-evolution batches
    // — nothing lost, nothing duplicated, tiers exact.
    val sunk = spark.read.schema(store.changeFeed().schema).parquet(sink)
    assert(sunk.count() === store.changeFeed().count())
    assert(sunk.filter(col("tier").isNotNull).count() === 3L)
    assert(sunk.filter(col("commit_version") === 1L)
      .filter(col("tier").isNotNull).count() === 0L,
      "pre-evolution rows must read as NULL tiers")
  }

  test("CDC replication follows additive schema evolution end to end") {
    // The composition of the round's pieces: an evolving SOURCE store
    // replicated through the streaming CDC source into a REPLICA via
    // the native sink in merge+mergeSchema mode — the replica's schema
    // and values follow the source across stream restarts with no
    // replica-side DDL.
    val srcPath = tmpDir("dsv2-replevo") + "/src"
    val dstPath = tmpDir("dsv2-replevo") + "/dst"
    val ckpt = tmpDir("dsv2-replevo") + "/ckpt"
    val src = new CustomerStore(spark, srcPath)
    src.insertNew(block(1L, 5L)): Unit // v1
    def replicate(): Unit = {
      val dataCols = src.tableSchema.fieldNames.toSeq
      spark.readStream.format("graft-store").option("path", srcPath)
        .option("feedFrom", 0).load()
        .filter(col("change_type").isin("insert", "update"))
        .select(dataCols.map(col): _*)
        .writeStream.format("graft-store")
        .option("path", dstPath)
        .option("txnAppId", "replevo")
        .option("merge", true)
        .option("mergeSchema", true)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    replicate()
    val dst = new CustomerStore(spark, dstPath)
    assert(dst.all().count() === 5L)
    assert(!dst.tableSchema.fieldNames.contains("tier"))
    // Source evolves and lands tier values through its own merge.
    src.mergeEvolve(Ingest.enrich( // v2 ADD + v3 merge
      ((1L to 2L).map(i => (i, s"F$i", s"L$i", s"u$i@example.com", s"999-$i")) :+
        ((21L, "F21", "L21", "u21@example.com", "555-21")))
        .toDF("id", "first_name", "last_name", "email", "phone"))
      .withColumn("tier", col("id") % 3)): Unit
    // Restarted replication serves the evolved feed; the sink evolves
    // the replica and lands the values — no replica-side DDL anywhere.
    replicate()
    val dstEvolved = new CustomerStore(spark, dstPath)
    assert(dstEvolved.tableSchema.fieldNames.contains("tier"),
      "the replica schema must follow the source")
    val ent = Seq("id", "email", "first_name", "last_name", "phone", "tier")
    val a = src.all().select(ent.map(col): _*)
    val b = dstEvolved.all().select(ent.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "replica entity state incl. the evolved column must equal the source")
    assert(dstEvolved.all().filter(col("tier").isNotNull).count() === 3L)
  }

  test("streaming CDC source fails loudly when the checkpoint predates the vacuum horizon") {
    val path = tmpDir("dsv2-streamwm") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(block(1L, 5L)): Unit // v1
    val sink = tmpDir("dsv2-streamwm-sink")
    val ckpt = tmpDir("dsv2-streamwm-ckpt")
    def run(): Unit =
      spark.readStream.format("graft-store").option("path", path)
        .option("feedFrom", 0).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run() // checkpoint now at version 1
    store.insertNew(block(11L, 15L)): Unit // v2
    assert(store.writeSnapshot() === 2L)
    store.vacuumFeed(): Unit // horizon 2 — the checkpointed offset 1 is below it
    store.insertNew(block(21L, 25L)): Unit // v3
    intercept[Exception] { run() } // silently skipping v2 would lose changes
  }

  test("the catalog's DDL refusal surface is a contract: each verb names its reason") {
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = new GraftStoreCatalog
    cat.initialize("graft_store",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    assert(cat.name() === "graft_store")
    val id = Identifier.of(Array.empty[String], "/tmp/nowhere")
    def msg(f: => Any): String =
      intercept[UnsupportedOperationException](f).getMessage
    // Stores are created by their first commit and addressed by path —
    // DDL is deliberately unsupported, and each verb must SAY so (the
    // refusal surface is contract, not accident).
    assert(msg(cat.listTables(Array.empty)).contains("listing is not supported"))
    assert(msg(cat.createTable(id, new org.apache.spark.sql.types.StructType(),
      Array.empty, java.util.Collections.emptyMap[String, String]()))
      .contains("created by their first commit"))
    // ALTER routes ADD/RENAME/DROP COLUMN and lossless TYPE widening
    // to the store's DDL (tested below and in TypeWideningSpec); any
    // OTHER change kind keeps the loud refusal.
    assert(msg(cat.alterTable(id,
      org.apache.spark.sql.connector.catalog.TableChange.updateColumnComment(
        Array("phone"), "call me")))
      .contains("is not supported"))
    // ... and a non-widenable TYPE change fails through widenColumn's
    // own loud contract (not the catch-all).
    assert(intercept[IllegalArgumentException](cat.alterTable(id,
      org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
        Array("phone"), org.apache.spark.sql.types.LongType)))
      .getMessage.contains("does not exist"))
    assert(msg(cat.dropTable(id)).contains("DROP is not supported"))
    assert(msg(cat.renameTable(id, id)).contains("RENAME is not supported"))
  }

  test("DELETE-filter translation covers the grammar and refuses the rest") {
    import org.apache.spark.sql.sources._
    val yes: Seq[Filter] = Seq(
      EqualTo("id", 3L), EqualNullSafe("phone", "x"), GreaterThan("id", 1L),
      GreaterThanOrEqual("id", 1L), LessThan("id", 9L), LessThanOrEqual("id", 9L),
      In("email", Array("a", "b")), IsNull("phone"), IsNotNull("phone"),
      StringStartsWith("email", "u"), StringEndsWith("email", ".com"),
      StringContains("email", "@"), Not(EqualTo("id", 3L)),
      And(GreaterThan("id", 1L), LessThan("id", 9L)),
      Or(EqualTo("id", 1L), EqualTo("id", 2L)), AlwaysTrue(), AlwaysFalse())
    yes.foreach(f => assert(CustomerStoreDelete.toColumn(f).isDefined, f.toString))
    // A nested unsupported leaf poisons the whole conjunction.
    val exotic = And(EqualTo("id", 1L),
      Or(AlwaysTrue(), StringContains("email", "\u0000")))
    assert(CustomerStoreDelete.toColumn(exotic).isDefined)
  }

  test("all() and its _file column equal the Spark-side live model at every step") {
    val path = tmpDir("dsv2-live-steps") + "/store"
    val store = new CustomerStore(spark, path)
    val model = new SparkLiveModel(spark, path)
    def same(step: String): Unit = {
      val cols = store.tableSchema.fieldNames.toSeq :+ "_file"
      val got = store.all().select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
      val want = model.all().select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
      assert(got.size === want.size, s"[$step] row count")
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
        want.groupBy(identity).view.mapValues(_.size).toMap, s"[$step] rows")
    }
    store.insertNew(block(1L, 40L)): Unit
    store.insertNew(block(1001L, 1040L)): Unit
    same("insert")
    store.markUploaded((1001L to 1010L).map(i => s"u$i@example.com").toDF("email"))
    same("ack")
    store.merge(rows((5L, "M", "M", "u5@example.com", "999"),
      (1020L, "N", "N", "u1020@example.com", "998"),
      (3001L, "I", "I", "u3001@example.com", "997"))): Unit
    same("merge")
    store.delete(Seq("u7@example.com", "u1005@example.com", "u1030@example.com").toDF("email")): Unit
    assert(store.deletionVectorStats()._2 === 3L, "the delete must leave live vectors")
    same("delete with live vectors")
    store.compact()
    same("compact")
    store.addColumn("tier", org.apache.spark.sql.types.IntegerType): Unit
    store.insertNew(block(4001L, 4010L).withColumn("tier", (col("id") % 3).cast("int"))): Unit
    same("addColumn")
    store.renameColumn("tier", "level"): Unit
    store.renameColumn("phone", "phone_e164"): Unit
    same("rename")
    store.widenColumn("level", org.apache.spark.sql.types.LongType): Unit
    same("widen")
    store.dropColumn("level"): Unit
    same("drop")
  }

  test("change-feed and time-travel scans report the bytes and rows of the files they open") {
    val path = tmpDir("dsv2-stats") + "/store"
    val store = buildStore(path)
    assert(store.writeSnapshot() === 5L)
    store.insertNew(block(3001L, 3010L)): Unit // v6
    def files(dir: String): Seq[String] = ParquetGroups.parquetFilesIn(s"$path/$dir")
    def bytes(fs: Seq[String]): BigInt = BigInt(fs.map(new java.io.File(_).length()).sum)
    val feed = cat(path, "feedFrom" -> "1", "feedTo" -> "4").queryExecution.optimizedPlan.stats
    val feedFiles = (2 to 4).flatMap(v => files(f"_changelog/commit-$v%09d"))
    assert(feed.sizeInBytes === bytes(feedFiles))
    assert(feed.rowCount === Some(BigInt(store.feedSince(1L, 4L).count())))
    // time travel to v6 opens the v5 snapshot and the v6 feed delta
    val travel = cat(path, "versionAsOf" -> "6").queryExecution.optimizedPlan.stats
    val travelFiles = files("_snapshots/v-000000005") ++ files("_changelog/commit-000000006")
    assert(travel.sizeInBytes === bytes(travelFiles))
    assert(travel.rowCount === Some(BigInt(store.asOf(5L).count() + store.feedSince(5L, 6L).count())))
  }
}

/** The Spark-side live read the store ran before the connector became
  * its one live-row reader, verbatim over the store's files — the
  * reference model [[CustomerStoreSourceSpec]] holds the connector's
  * current-snapshot scan (and so [[CustomerStore.all]]) to: Spark's
  * parquet reader over the partition directories under the physical
  * schema, each row's `input_file_name()`, and a shuffle anti-join
  * against the deletion vectors on (file basename, email).
  */
final class SparkLiveModel(spark: SparkSession, path: String) {

  private def physName(f: StructField): String =
    if (f.metadata.contains("physical")) f.metadata.getString("physical") else f.name

  /** The live rows, each with its data file's path in `_file`. */
  def all(): DataFrame = {
    val tableSchema = CustomerStore.schemaAt(path)
    val phys = spark.read.schema(StructType(tableSchema.fields.map(f =>
        StructField(physName(f), f.dataType, f.nullable)))).parquet(path)
      .withColumn("_file", regexp_replace(input_file_name(), "^file:(//)?", ""))
      .select(col("_file") +:
        tableSchema.fields.map(f => col(physName(f)).as(f.name)).toIndexedSeq: _*)
      .select(tableSchema.fieldNames.map(col) :+ col("_file"): _*)
    phys.join(graft.pipeline.SparkManifestModel.deletionVectors(spark, path)
        .select(col("file").as("_dvf"), col("email").as("_dve")),
      element_at(split(col("_file"), "/"), -1) === col("_dvf") &&
        col("email") === col("_dve"), "left_anti")
  }
}

/** The Spark-side history reads the store ran before the connector
  * became their one implementation, verbatim over the store's files —
  * the reference model [[CustomerStoreSourceSpec]] holds the
  * connector's time-travel and change-feed scans to: a window over
  * snapshot + feed for `asOf`, plain parquet reads of `_changelog` for
  * the feed.
  */
final class SparkHistoryModel(spark: SparkSession, store: CustomerStore, path: String) {

  private def tableSchema: StructType = CustomerStore.schemaAt(path)
  private def changeSchema: StructType = CustomerStore.changeSchemaAt(path)

  private def physName(f: StructField): String =
    if (f.metadata.contains("physical")) f.metadata.getString("physical") else f.name

  private def readPhysical(logical: StructType, paths: Seq[String],
      recursive: Boolean = false): DataFrame = {
    val r0 = spark.read.schema(StructType(logical.fields.map(f =>
      StructField(physName(f), f.dataType, f.nullable))))
    val r = if (recursive) r0.option("recursiveFileLookup", "true") else r0
    r.parquet(paths: _*)
      .select(logical.fields.map(f => col(physName(f)).as(f.name)).toIndexedSeq: _*)
  }

  private def noChanges: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], changeSchema)

  /** Every commit dir in the log, vacuumed or not. */
  private def commitDirs(): Seq[Long] =
    Option(new java.io.File(path, "_changelog").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("commit-"))
      .map(_.getName.stripPrefix("commit-").toLong).sorted

  def changeFeed(): DataFrame =
    if (store.feedDirsIn(0L, store.currentVersion()).isEmpty) noChanges
    else readPhysical(changeSchema,
      Seq(new java.io.File(path, "_changelog").toString), recursive = true)

  def feedSince(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val dirs = store.feedDirsIn(fromExclusive, toInclusive).map(_._2)
    if (dirs.isEmpty) noChanges else readPhysical(changeSchema, dirs)
  }

  def asOf(version: Long): DataFrame = {
    val base = store.snapshotFilesFor(version)
    if (base.isEmpty && version > 0) {
      val oldest = commitDirs().headOption
      require(oldest.exists(_ <= 1L),
        s"cannot reconstruct version $version: commits before " +
          s"${oldest.getOrElse(version + 1)} were vacuumed and no snapshot at " +
          "or below the requested version exists")
    }
    // `delete_pre` rows ride along as TOMBSTONES: if one wins the
    // per-email last-writer window the email was deleted as of `version`.
    val delta = feedSince(base.map(_._1).getOrElse(0L), version)
      .filter(!col("change_type").endsWith("_pre") ||
        col("change_type") === "delete_pre")
      .select(col("commit_version") +: col("change_type") +:
        tableSchema.fieldNames.map(col): _*)
    val merged = base match {
      case Some((v0, files)) =>
        readPhysical(tableSchema, files)
          .select(lit(v0).as("commit_version") +: lit("snapshot").as("change_type") +:
            tableSchema.fieldNames.map(col): _*)
          .unionByName(delta)
      case None => delta
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("email")).orderBy(col("commit_version").desc)
    merged
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .filter(col("change_type") =!= "delete_pre")
      .select(tableSchema.fieldNames.map(col): _*)
  }

  def asOfTimestamp(tsMillis: Long): DataFrame =
    asOf(store.commitTimestamps().filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(0L))
}
