package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** End-to-end jobs wiring the pipeline stages together — the two
  * services of the reference as Spark jobs (SURVEY §3.1-3.2).
  */
object IngestJob {

  /** csvReader service (cmd/main.go → csvreader.go): scan → validate →
    * enrich → dedup-insert. Returns (insertedCount, quarantined rows).
    * One declarative plan per stage; no driver loop, no row buffer —
    * Spark's partition streaming replaces the 5-row micro-batch.
    */
  def run(spark: SparkSession, csvPath: String, store: CustomerStoreApi,
      header: Boolean = true, signal: Option[Signal] = None,
      rejectDir: Option[String] = None): (Long, DataFrame) = {
    val raw = Ingest.readCsv(spark, csvPath, header)
    val (good, bad) = Ingest.validate(raw)
    // P4 upgrade: quarantined rows land in a queryable reject table
    // (reason column included), not a log line (csvreader.go:79-83).
    rejectDir.foreach(d =>
      bad.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(d))
    val inserted = store.insertNew(Ingest.sequenced(Ingest.enrich(good)))
    if (inserted > 0) signal.foreach(_.notifyData()) // csvreader.go:97,103
    (inserted, bad)
  }
}

object UploadJob {

  /** One crmIntegrator poll cycle (uploader.go:99-114): work-queue scan →
    * bounded-concurrency POST → mark acked. Returns the cycle's outcome
    * tally, outcome ("201", "503", "SocketTimeoutException", …) → rows;
    * the counting job is the one that runs the POSTs, and only the
    * "201" rows are marked.
    */
  def pollCycle(store: CustomerStoreApi, url: String,
      concurrency: Int = 25): Map[String, Long] = {
    val outcomes = HttpSink.outcomes(store.pending(), url, concurrency).cache()
    try {
      val counts = outcomes.groupBy("outcome").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.contains(HttpSink.Acked))
        store.markUploaded(outcomes.filter(col("outcome") === HttpSink.Acked).select("email"))
      counts
    } finally outcomes.unpersist()
  }

  /** [[pollCycle]]'s ack count. */
  def pollOnce(store: CustomerStoreApi, url: String, concurrency: Int = 25): Long =
    pollCycle(store, url, concurrency).getOrElse(HttpSink.Acked, 0L)

  /** The scheduler loop (uploader.go:71-97): wake on signal or backoff
    * timer, poll, reset backoff on any success; run until the work queue
    * is drained `idleRounds` consecutive times (a bounded stand-in for
    * the reference's run-forever loop so tests terminate).
    */
  def drain(store: CustomerStoreApi, url: String, signal: Signal,
      backoff: Backoff, concurrency: Int = 25, idleRounds: Int = 3,
      maxRounds: Int = 100, sleepFn: Long => Unit = s => Thread.sleep(s)): Long = {
    var total = 0L
    var idle = 0
    var rounds = 0
    while (idle < idleRounds && rounds < maxRounds) {
      rounds += 1
      val acked = pollOnce(store, url, concurrency)
      total += acked
      if (acked > 0) { backoff.reset(); idle = 0 }
      else if (!signal.consume()) {
        idle += 1
        sleepFn(backoff.nextInterval()) // seconds in the reference; test injects ms
      }
    }
    total
  }
}
