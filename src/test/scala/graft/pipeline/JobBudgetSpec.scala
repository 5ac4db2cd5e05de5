package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.SparkSpec.jobsOf

/** Spark job budgets of the store's manifest paths: every skipping
  * consult is answered from the driver-resident manifest snapshot (no
  * job), and a commit's stats phase runs no job at all (the stats are
  * folded while the data files are written, and the manifest file is
  * written on the driver). A regression back to Spark-side consults or
  * a stats re-scan fails here.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long]): DataFrame = JobBudgetSpec.batch(spark, ids)

  private def fixture(): (CustomerStore, String) = {
    val path = tmpDir("budget") + "/s"
    (JobBudgetSpec.fixture(spark, path), path)
  }

  test("manifest consults run no Spark job; a commit's stats phase runs at most two") {
    val (store, path) = fixture()

    val (_, insertJobs) = jobsOf(store.insertNew(batch(301L to 400L)))
    val insertStats = insertJobs.count(_ == "store: stage stats")
    assert(insertStats === 0, s"insert commit stats phase: $insertJobs")
    val (_, ackJobs) = jobsOf(store.markUploaded(Seq("user7@example.com").toDF("email")))
    val ackStats = ackJobs.count(_ == "store: stage stats")
    assert(ackStats === 0, s"ack commit stats phase: $ackJobs")

    val keys = Seq("user13@example.com", "user377@example.com")
    val ((_, kept, total), lookupJobs) = jobsOf(store.pendingPointLookup(keys))
    assert(lookupJobs.isEmpty, s"pendingPointLookup's consult ran jobs: $lookupJobs")
    assert(kept < total, s"fixture pruned nothing ($kept of $total)")

    val files = store.liveDataFiles().map(f => (f._1, f._2))
    val names = files.map(_._1).toSet
    val phys = CustomerStore.physicalMapAt(path)("score")
    val (_, consultJobs) = jobsOf {
      store.bloomKeepFiles(files, keys)
      store.zoneKeepFiles(files, 50L, 60L)
      store.evolvedZoneKeepFiles(files, phys, 2L, 3L)
      store.pendingRangeRead(50L, 60L)
      store.pendingRectRead(50L, 60L, 0L, 31L)
      store.estimatePendingRange(50L, 160L)
      store.manifestAggregates()
      store.manifestAggregatesGrouped()
      store.manifestEvolvedExtremaGrouped(phys)
      store.manifestRowCount(names)
    }
    assert(consultJobs.isEmpty, s"manifest consults ran jobs: $consultJobs")
  }

  /** Total Spark jobs per commit kind on the fixture, pinned as upper
    * bounds: a commit path that adds a job (an empty-side write, an
    * extra count) fails here. Every job carries its `Labeled` phase, and
    * merge takes its counts from its classify pins' own jobs, with no
    * counting phase.
    */
  test("each commit kind stays within its total job budget") {
    val (store, _) = fixture()
    val jobs = JobBudgetSpec.commitKinds(spark, store).map { case (kind, op) =>
      kind -> jobsOf(op())._2
    }
    val pinned = Map("insert" -> 7, "ack" -> 5, "merge" -> 14, "delete" -> 4,
      "compact" -> 3, "purge" -> 6, "restore" -> 7)
    jobs.foreach { case (kind, js) =>
      assert(js.size <= pinned(kind), s"$kind commit ran ${js.size} Spark jobs; budget ${pinned(kind)}")
      assert(!js.contains(""), s"$kind commit ran a job with no phase label: $js")
    }
    val merge = jobs.toMap.apply("merge")
    assert(merge.count(_ == "store: merge counts") === 0, s"merge counting phase: $merge")
  }

  /** Each commit kind's `operation_metrics` on the fixture, pinned: the
    * numbers come from the commit's own staged writes, with no job.
    */
  test("each commit kind records its operation metrics") {
    val (store, _) = fixture()
    def sizeBytes(): Long = store.detail().head().getLong(2)
    def metrics(v: Long): Map[String, Long] =
      store.history().filter(col("commit_version") === v).head().getMap[String, Long](4).toMap
    val seen = JobBudgetSpec.commitKinds(spark, store).map { case (kind, op) =>
      val before = sizeBytes()
      op()
      val after = sizeBytes()
      kind -> ((metrics(store.currentVersion()), after - before, after))
    }.toMap
    def counts(kind: String): Map[String, Long] =
      seen(kind)._1.removedAll(Seq("stage_ms", "bytes_added"))
    def rows(added: Long, removed: Long, updated: Long, filesAdded: Long, filesRemoved: Long) =
      Map("rows_added" -> added, "rows_removed" -> removed, "rows_updated" -> updated,
        "files_added" -> filesAdded, "files_removed" -> filesRemoved)
    assert(counts("insert") === rows(100, 0, 0, 1, 0))
    assert(counts("ack") === rows(0, 0, 1, 2, 1))        // one pending file split in two
    assert(counts("merge") === rows(1, 0, 2, 3, 1))
    assert(counts("delete") === rows(0, 1, 0, 0, 0))     // a deletion vector, no data file
    assert(counts("compact") === rows(0, 0, 0, 2, 7))    // one file per partition
    assert(counts("purge") === rows(0, 0, 0, 1, 1))      // feed-silent: the touched file rewritten
    // restore to v5: user11 back, user601 gone, user7-9 reverted
    assert(counts("restore") === rows(1, 1, 3, 1, 2))
    // bytes_added is the added data files' size on disk; a replace's
    // files are the whole table after it
    assert(seen("insert")._1("bytes_added") === seen("insert")._2)
    assert(Seq("compact", "restore").forall(k => seen(k)._1("bytes_added") === seen(k)._3), s"$seen")
    assert(seen("delete")._1("bytes_added") === 0L)
    assert(Seq("ack", "merge", "purge").forall(seen(_)._1("bytes_added") > 0L), s"$seen")
    assert(seen.values.forall(_._1.get("stage_ms").exists(_ >= 0L)), s"stage_ms: $seen")
  }
}

object JobBudgetSpec {
  /** A batch of the fixture's rows, with the evolved `score` column. */
  def batch(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    Ingest.enrich(ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone"))
      .withColumn("score", $"id" % 10)
  }

  /** The budget fixture: an evolved numeric column (v1) plus three
    * 100-row insert commits (v2-v4).
    */
  def fixture(spark: SparkSession, path: String): CustomerStore = {
    val store = new CustomerStore(spark, path)
    store.addColumn("score", LongType)
    for (c <- 0 until 3) store.insertNew(batch(spark, (1 + c * 100).toLong to ((c + 1) * 100).toLong))
    store
  }

  /** One commit of each kind, to run in order on the fixture (v5-v11). */
  def commitKinds(spark: SparkSession, store: CustomerStore): Seq[(String, () => Any)] = {
    import spark.implicits._
    Seq(
      "insert" -> (() => store.insertNew(batch(spark, 401L to 500L))),
      "ack" -> (() => store.markUploaded(Seq("user7@example.com").toDF("email"))),
      "merge" -> (() => store.merge(batch(spark, Seq(8L, 9L, 601L)).withColumn("phone", lit("999")))),
      "delete" -> (() => store.delete(Seq("user11@example.com").toDF("email"))),
      "compact" -> (() => store.compact()),
      "purge" -> (() => store.purgeEmails(Seq("user12@example.com"))),
      "restore" -> (() => store.restore(5L)))
  }
}
