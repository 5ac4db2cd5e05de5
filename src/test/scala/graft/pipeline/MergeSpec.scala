package graft.pipeline

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The MERGE/upsert contract (CustomerStoreApi.merge) over BOTH store
  * backends: update-matched (payload rewrite + modified_ts touch, id
  * and upload state retained), insert-unmatched, identical-matched
  * untouched, id-conflicting inserts dropped, within-batch email dups
  * normalized last-wins, within-batch id dups first-wins — plus the
  * parquet store's full-replace staged commit surviving a crash at the
  * commit point.
  */
class MergeSpec extends SparkSpec {

  import spark.implicits._

  private def rows(rs: (Long, String, String, String, String)*): DataFrame =
    Ingest.enrich(rs.toDF("id", "first_name", "last_name", "email", "phone"))

  private def eachBackend(body: (String, CustomerStoreApi) => Unit): Unit = {
    val p = tmpDir("merge-pq") + "/store"
    body("parquet", new CustomerStore(spark, p))
    body("jdbc", new JdbcCustomerStore(spark,
      s"jdbc:derby:${tmpDir("merge-db")}/cust;create=true"))
  }

  test("update-matched, insert-new, identical untouched, id-conflict dropped") {
    eachBackend { (name, store) =>
      store.insertNew(rows(
        (1L, "Ann", "A", "ann@example.com", "555-1"),
        (2L, "Bob", "B", "bob@example.com", "555-2"),
        (3L, "Cai", "C", "cai@example.com", "555-3"))): Unit
      store.markUploaded(Seq("bob@example.com").toDF("email"))
      val before = store.all().select("email", "modified_ts").collect()
        .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
      val r = store.merge(rows(
        (9L, "Ann2", "A", "ann@example.com", "555-9"), // matched, changed → update
        (2L, "Bob", "B", "bob@example.com", "555-2"),  // matched, identical → untouched
        (4L, "Dee", "D", "dee@example.com", "555-4"),  // new → insert
        (3L, "Eve", "E", "eve@example.com", "555-5"))) // new email, stored id → dropped
      assert(r === MergeResult(nUpdated = 1, nInserted = 1, nUnchanged = 1,
        nConflicts = 1), s"[$name] wrong merge counts: $r")
      val all = store.all().collect()
      assert(all.length === 4, s"[$name] conflict row must not land")
      val ann = all.find(_.getString(3) == "ann@example.com").get
      assert(ann.getLong(0) === 1L, s"[$name] update must retain the stored id")
      assert(ann.getString(1) === "Ann2" && ann.getString(4) === "555-9")
      assert(ann.getTimestamp(7).after(before("ann@example.com")),
        s"[$name] update must touch modified_ts")
      val bob = all.find(_.getString(3) == "bob@example.com").get
      assert(bob.getBoolean(5), s"[$name] update path must not disturb upload state")
      assert(bob.getTimestamp(7) === before("bob@example.com"),
        s"[$name] identical match must not touch modified_ts")
      assert(all.exists(r => r.getString(3) == "dee@example.com" && r.getLong(0) == 4L))
      assert(!all.exists(_.getString(3) == "eve@example.com"))
    }
  }

  test("within-batch email dups normalize last-wins; id dups among inserts first-wins") {
    eachBackend { (name, store) =>
      store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit
      val r = store.merge(rows(
        (1L, "Ann2", "A", "ann@example.com", "555-2"),  // earlier write…
        (1L, "Ann3", "A", "ann@example.com", "555-3"),  // …last wins
        (7L, "Gil", "G", "gil@example.com", "555-7"),   // first id-7 insert wins
        (7L, "Hal", "H", "hal@example.com", "555-8")))  // later id-7 insert drops
      assert(r === MergeResult(nUpdated = 1, nInserted = 1, nUnchanged = 0,
        nConflicts = 1), s"[$name] wrong counts: $r")
      val all = store.all().collect()
      assert(all.find(_.getString(3) == "ann@example.com").get.getString(1) === "Ann3",
        s"[$name] last batch write must be the end state")
      assert(all.exists(r => r.getLong(0) == 7L && r.getString(3) == "gil@example.com"),
        s"[$name] first id-7 insert must win")
      assert(!all.exists(_.getString(3) == "hal@example.com"))
    }
  }

  test("merge into an empty parquet store inserts everything") {
    val store = new CustomerStore(spark, tmpDir("merge-empty") + "/store")
    val r = store.merge(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2")))
    assert(r === MergeResult(0, 2, 0, 0))
    assert(store.pending().count() === 2)
  }

  test("streaming upsert merges per micro-batch; redelivery converges (idempotent)") {
    val dir = tmpDir("merge-stream")
    val store = new CustomerStore(spark, s"$dir/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "feed.csv"),
      "1,Ann2,A,ann@example.com,555-9\n3,Cai,C,cai@example.com,555-3\n".getBytes)
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "feed.csv"),
      java.nio.file.Paths.get(in, "00.csv"))
    graft.streaming.StreamingIngest.startUpsert(
      spark, in, store, s"$dir/ckpt", header = false).awaitTermination()
    val after = store.all().collect()
    assert(after.length === 3)
    assert(after.find(_.getString(3) == "ann@example.com").get.getString(1) === "Ann2")
    val annTs = after.find(_.getString(3) == "ann@example.com").get.getTimestamp(7)
    // Redelivery (fresh checkpoint → the file reprocesses): the merge
    // finds every update already applied and every insert present, so
    // the table state — including modified_ts — must not move.
    graft.streaming.StreamingIngest.startUpsert(
      spark, in, store, s"$dir/ckpt2", header = false).awaitTermination()
    val replayed = store.all().collect()
    assert(replayed.length === 3, "replay must not duplicate rows")
    assert(replayed.find(_.getString(3) == "ann@example.com").get.getTimestamp(7) === annTs,
      "payload-identical redelivery must not touch modified_ts")
  }

  test("merge classification compiles to keyed joins — no cartesian, anti-joins present") {
    val store = new CustomerStore(spark, tmpDir("merge-plan") + "/store")
    store.insertNew(rows((1L, "Ann", "A", "ann@example.com", "555-1"))): Unit
    val batch = rows(
      (1L, "Ann2", "A", "ann@example.com", "555-9"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))
    val (matched, updates, inserts) = store.classifyMerge(batch, materialize = false)
    val pm = matched.queryExecution.executedPlan.toString
    val pu = updates.queryExecution.executedPlan.toString
    val pi = inserts.queryExecution.executedPlan.toString
    Seq("matched" -> pm, "updates" -> pu, "inserts" -> pi).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$n classification lost its equi-join key")
    }
    assert(pi.contains("LeftAnti"), "insert candidates must anti-join the store")
    assert(pu.contains("Window"), "email normalization window missing from updates")
  }

  test("change feed is complete: replaying it reconstructs the table") {
    val store = new CustomerStore(spark, tmpDir("merge-cdc") + "/store")
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"),
      (3L, "Cai", "C", "cai@example.com", "555-3"))): Unit
    store.merge(rows(
      (9L, "Ann2", "A", "ann@example.com", "555-9"),  // update
      (4L, "Dee", "D", "dee@example.com", "555-4"))): Unit // insert
    store.markUploaded(Seq("bob@example.com", "dee@example.com").toDF("email"))
    // Replay: per email take the post-image with the greatest
    // commit_version — the real feed ordering (every commit stamps its
    // rows with last-committed-version + 1), not a per-kind heuristic.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("email")).orderBy(col("commit_version").desc)
    val replayed = store.changeFeed()
      .filter(!col("change_type").endsWith("_pre"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("id", "first_name", "last_name", "email", "phone", "uploaded")
    val table = store.all()
      .select("id", "first_name", "last_name", "email", "phone", "uploaded")
    assert(replayed.exceptAll(table).isEmpty && table.exceptAll(replayed).isEmpty,
      "feed replay diverged from the committed table — the CDC misses or invents changes")
  }

  test("file-level merge: untouched files are left in place, touched files replaced") {
    val path = tmpDir("merge-files") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    store.insertNew(rows(
      (3L, "Cai", "C", "cai@example.com", "555-3"),
      (4L, "Dee", "D", "dee@example.com", "555-4"))): Unit
    def pendingFiles(): Set[String] =
      new File(path, "uploaded=false").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = pendingFiles()
    // Updates hit only batch-2 emails, which live only in batch-2's
    // append files — batch-1's files must survive BY NAME (never read
    // again, never moved; the O(touched files) contract).
    store.merge(rows(
      (9L, "Cai2", "C", "cai@example.com", "999-3"),
      (9L, "Dee2", "D", "dee@example.com", "999-4"))): Unit
    val after = pendingFiles()
    val batch2Files = before.filter { n =>
      !after.contains(n) // replaced by the merge
    }
    assert(batch2Files.nonEmpty, "the touched files must have been replaced")
    val survivingOriginals = before.intersect(after)
    assert(survivingOriginals.nonEmpty,
      "batch-1's untouched files must survive the merge by name")
    assert(after.exists(_.startsWith("mrg-")),
      "replacement files must carry the merge commit prefix")
    // Logical contents: updates landed, untouched rows intact.
    val byEmail = store.all().collect()
      .map(r => r.getString(3) -> (r.getString(1), r.getString(4))).toMap
    assert(byEmail("cai@example.com") === (("Cai2", "999-3")))
    assert(byEmail("dee@example.com") === (("Dee2", "999-4")))
    assert(byEmail("ann@example.com") === (("Ann", "555-1")))
    assert(store.all().count() === 4)
  }

  test("crash at the merge-commit point: reopened store finishes the file-level merge") {
    val path = tmpDir("merge-crash-fl") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    val updated = store.all().filter(col("email") === "ann@example.com")
      .withColumn("first_name", lit("Ann2")).localCheckpoint(true)
    store.stage(store.mergeCommit(updated, updated.limit(0)))
    // Crash: promotion never ran; the commit point (rename) is passed.
    assert(new File(path, CustomerStore.Staging).exists())
    val reopened = new CustomerStore(spark, path) // constructor recovers
    val all = reopened.all().collect()
    assert(all.length === 2, "no rows lost or duplicated across the crash")
    assert(all.find(_.getString(3) == "ann@example.com").get.getString(1) === "Ann2",
      "committed file-level merge must be finished on reopen")
    assert(!new File(path, CustomerStore.Staging).exists())
  }

  test("crash at the full-commit point: reopened store finishes the merge") {
    val path = tmpDir("merge-crash") + "/store"
    val store = new CustomerStore(spark, path)
    store.insertNew(rows(
      (1L, "Ann", "A", "ann@example.com", "555-1"),
      (2L, "Bob", "B", "bob@example.com", "555-2"))): Unit
    store.markUploaded(Seq("bob@example.com").toDF("email"))
    val next = store.all()
      .withColumn("first_name",
        when(col("email") === "ann@example.com", lit("Ann2")).otherwise(col("first_name")))
    val updated = next.filter(col("email") === "ann@example.com")
      .select(lit("update").as("change_type") +:
        CustomerSchema.tableSchema.fieldNames.map(col): _*)
    store.stage(CustomerStore.Commit.partitioned("MERGE", next)
      .copy(replaceAll = true, changes = Some(updated)))
    // Crash: promotion never ran; the commit point (rename) is passed.
    assert(new File(path, CustomerStore.Staging).exists())
    val reopened = new CustomerStore(spark, path) // constructor recovers
    val all = reopened.all().collect()
    assert(all.length === 2)
    assert(all.find(_.getString(3) == "ann@example.com").get.getString(1) === "Ann2",
      "committed merge must be finished on reopen")
    assert(all.find(_.getString(3) == "bob@example.com").get.getBoolean(5),
      "done partition must survive the full-replace promotion")
    assert(!new File(path, CustomerStore.Staging).exists())
  }
}
