package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Spark job budgets of the store's manifest paths: every skipping
  * consult is answered from the driver-resident manifest snapshot (no
  * job), and a commit's stats phase is one scan plus one write. A
  * regression back to Spark-side consults fails here.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** `op`'s result and the descriptions of the Spark jobs it ran (on
    * this thread and the staging threads it spawns).
    */
  private def jobsOf[T](op: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("graft.spec.budget") == tag)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.budget", tag)
    try {
      val out = op
      org.apache.spark.SpecBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.spec.budget", null)
      sc.removeSparkListener(listener)
    }
  }

  private def batch(ids: Seq[Long]): DataFrame =
    Ingest.enrich(ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone"))
      .withColumn("score", $"id" % 10)

  test("manifest consults run no Spark job; a commit's stats phase runs at most two") {
    val path = tmpDir("budget") + "/s"
    val store = new CustomerStore(spark, path)
    store.addColumn("score", LongType)
    for (c <- 0 until 3) store.insertNew(batch((1 + c * 100).toLong to ((c + 1) * 100).toLong))

    val (_, insertJobs) = jobsOf(store.insertNew(batch(301L to 400L)))
    val insertStats = insertJobs.count(_ == "store: stage stats")
    assert(insertStats >= 1 && insertStats <= 2, s"insert commit stats phase: $insertJobs")
    val (_, ackJobs) = jobsOf(store.markUploaded(Seq("user7@example.com").toDF("email")))
    val ackStats = ackJobs.count(_ == "store: stage stats")
    assert(ackStats >= 1 && ackStats <= 2, s"ack commit stats phase: $ackJobs")

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
}
