package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** PURGE (right-to-be-forgotten): `purgeEmails` physically excises a
  * key from every table artifact — live data (feed-silent PURGE
  * commit), retained feed commits, snapshots, deletion vectors —
  * leaving every other key byte-identical; idempotent; per-fork
  * (clones keep their data).
  */
class PurgeSpec extends SparkSpec {

  import spark.implicits._

  private def rows(ids: Seq[Long]) =
    ids.toDF("id")
      .withColumn("first_name", concat(lit("f"), col("id")))
      .withColumn("last_name", concat(lit("l"), col("id")))
      .withColumn("email", concat(lit("u"), col("id"), lit("@example.com")))
      .withColumn("phone", concat(lit("555-"), col("id")))

  private def emails(ids: Seq[Long]) =
    ids.toDF("id").select(concat(lit("u"), col("id"), lit("@example.com")).as("email"))

  private def key(i: Long) = s"u$i@example.com"

  /** v1 insert 1-20, v2 ack evens, v3 tombstone u5 (deletion vector),
    * snapshot at v3.
    */
  private def build(): (CustomerStore, String) = {
    val path = s"${tmpDir("graft-purge-")}/store"
    val st = new CustomerStore(spark, path)
    st.insertNew(Ingest.enrich(rows(1L to 20L))): Unit               // v1
    st.markUploaded(emails((1L to 20L).filter(_ % 2 == 0)))          // v2
    assert(st.delete(emails(Seq(5L))) === 1L)                        // v3
    st.writeSnapshot(): Unit
    (st, path)
  }

  test("purge erases a key from live data, feed, snapshots, time travel, vectors") {
    val (st, path) = build()
    val keys = Seq(key(4), key(5), key(6))
    val expectedSurvivors = st.all()
      .filter(!col("email").isInCollection(keys)).localCheckpoint(true)
    // u4 and u6 (both even, acked), u5 (physically present,
    // vector-tombstoned): 3 physical live rows. Feed: u4 and u6 each
    // insert+ack_pre+ack, u5 insert+delete_pre = 8. Snapshot (at v3,
    // u5 already deleted): u4 + u6 = 2. Vectors: u5 = 1.
    assert(st.purgeEmails(keys) === ((3L, 8L, 2L, 1L)))
    // Live table: survivors byte-identical, keys gone — including u5,
    // which must NOT resurrect when its vector row is excised.
    assert(st.all().count() === 17L)
    assert(st.all().filter(col("email").isInCollection(keys)).count() === 0L)
    assert(st.all().exceptAll(expectedSurvivors).isEmpty)
    assert(expectedSurvivors.exceptAll(st.all()).isEmpty)
    // No trace in CDC history, any time-travel version, or vectors.
    assert(st.changeFeed().filter(col("email").isInCollection(keys)).count() === 0L)
    (1L to 3L).foreach { v =>
      assert(st.asOf(v).filter(col("email").isInCollection(keys)).count() === 0L,
        s"purged key visible at version $v")
    }
    assert(new SparkManifestModel(spark, st, path).deletionVectors()
      .filter(col("email").isInCollection(keys)).count() === 0L)
    // The purge commit: version advanced, PURGE label, feed-silent.
    assert(st.currentVersion() === 4L)
    assert(st.history().orderBy(col("commit_version").desc).head().getString(2) === "PURGE")
    assert(st.feedSince(3L, 4L).count() === 0L)
    // Other keys' history is intact: 20 inserts - 3 purged, 10 acks
    // (+pre) - the 2 purged pairs, u5's delete_pre gone.
    assert(st.changeFeed().filter(col("change_type") === "insert").count() === 17L)
    assert(st.changeFeed().filter(col("change_type") === "ack").count() === 8L)
    assert(st.changeFeed().filter(col("change_type") === "delete_pre").count() === 0L)
  }

  test("purge under column mapping: an added and a renamed column, a live and a tombstoned key") {
    val path = s"${tmpDir("graft-purge-")}/mapped"
    val st = new CustomerStore(spark, path)
    st.insertNew(Ingest.enrich(rows(1L to 20L))): Unit                        // v1
    st.addColumn("score", org.apache.spark.sql.types.LongType): Unit          // v2
    st.insertNew(Ingest.enrich(rows(21L to 30L)).withColumn("score", col("id") % 7)): Unit // v3
    st.renameColumn("phone", "tel"): Unit                                     // v4
    assert(st.delete(emails(Seq(5L))) === 1L)                                 // v5
    st.writeSnapshot(): Unit
    // u22 is live (in the file that carries `score`), u5 only tombstoned.
    val keys = Seq(key(22), key(5))
    val model = st.all().filter(!col("email").isInCollection(keys)).localCheckpoint(true)
    // Physical live rows 2, feed u22 insert + u5 insert/delete_pre 3,
    // snapshot at v5 u22 1, vectors u5 1.
    assert(st.purgeEmails(keys) === ((2L, 3L, 1L, 1L)))
    val after = st.all()
    assert(after.columns.contains("tel") && !after.columns.contains("phone"))
    assert(after.count() === 28L)
    assert(after.exceptAll(model).isEmpty && model.exceptAll(after).isEmpty,
      "survivors must equal the model row for row")
    assert(after.filter(col("id") === 23L).select("tel", "score").head() === Row("555-23", 2L))
    (1L to 5L).foreach { v =>
      assert(st.asOf(v).filter(col("email").isInCollection(keys)).count() === 0L,
        s"purged key visible at version $v")
    }
    assert(st.asOf(4L).count() === 28L)
  }

  test("purge is idempotent and version-stable when nothing is left to erase") {
    val (st, _) = build()
    assert(st.purgeEmails(Seq(key(4))) === ((1L, 3L, 1L, 0L)))
    val v = st.currentVersion()
    assert(st.purgeEmails(Seq(key(4))) === ((0L, 0L, 0L, 0L)))
    assert(st.purgeEmails(Seq(key(999))) === ((0L, 0L, 0L, 0L)))
    assert(st.currentVersion() === v)
  }

  test("a hard-linked clone keeps its data: erasure is per fork") {
    val (st, _) = build()
    val dst = s"${tmpDir("graft-purge-")}/fork"
    st.cloneTo(dst): Unit
    val cl = new CustomerStore(spark, dst)
    assert(st.purgeEmails(Seq(key(4))) === ((1L, 3L, 1L, 0L)))
    // The clone still serves the key from every artifact.
    assert(cl.all().filter(col("email") === key(4)).count() === 1L)
    assert(cl.changeFeed().filter(col("email") === key(4)).count() === 3L)
    assert(cl.asOf(1L).filter(col("email") === key(4)).count() === 1L)
    // And purging the clone leaves the (already-purged) source alone.
    assert(cl.purgeEmails(Seq(key(4)))._1 === 1L)
    // Source: 20 inserts - u5 (tombstoned) - u4 (purged) = 18.
    assert(st.all().count() === 18L)
  }

  test("refusal matrix: empty keys, oversized batch, missing table") {
    val (st, _) = build()
    intercept[IllegalArgumentException](st.purgeEmails(Seq.empty))
    intercept[IllegalArgumentException](st.purgeEmails(Seq(" ", "")))
    intercept[IllegalArgumentException](
      st.purgeEmails((1L to 1001L).map(key)))
    val empty = new CustomerStore(spark, s"${tmpDir("graft-purge-")}/none")
    intercept[IllegalArgumentException](empty.purgeEmails(Seq(key(1))))
  }

  test("SQL procedure: CALL graft_store.purge erases and reports counts") {
    val (_, path) = build()
    spark.conf.set("spark.sql.catalog.graft_store",
      "graft.sources.GraftStoreCatalog")
    val out = spark.sql(
      s"CALL graft_store.purge('$path', '${key(4)},${key(6)}')").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq === Seq((2L, 6L, 2L, 0L)))
    val st = new CustomerStore(spark, path)
    // 20 inserts - u5 (tombstoned) - u4 - u6 = 17.
    assert(st.all().count() === 17L)
    assert(st.changeFeed()
      .filter(col("email").isin(key(4), key(6))).count() === 0L)
  }
}
