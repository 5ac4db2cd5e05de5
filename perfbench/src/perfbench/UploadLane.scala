package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.pipeline.{CustomerStore, IngestJob, UploadJob}

/** The reference's two services on one store: a seeded CSV file lands and
  * `IngestJob.run` inserts it; `UploadJob.pollOnce` posts the pending rows
  * to the mock CRM. Ack latency is per customer, from its file landing to
  * its 201.
  */
final class UploadLane(ctx: Ctx) {
  import ctx._

  private val warmRows = if (tiny) 40 else 400
  private val fileRows = if (tiny) 200 else 2000
  private val rnd = new Random(seed)
  private val ids = new Gen.Ids(seed, 1000000)
  private val crm = new Crm(seed, cores)

  private val storeDir = new File(work, "upload")
  private val store = new CustomerStore(spark, storeDir.getPath)
  private val landing = dir("landing")
  private val rejects = new File(work, "rejects").getPath
  private val model = new Gen.InsertModel
  private val landedNs = ArrayBuffer[Long]()
  private val fileOf = mutable.Map[String, Int]()
  private val insertedOk = ArrayBuffer[Boolean]()
  private var lines = IndexedSeq[String]()
  private var acked = 0L
  private val polls = ArrayBuffer[(Long, Long)]() // traced pollOnce intervals, nanoTime
  private var postsBefore = 0

  /** Lands the next file and ingests it. */
  def ingest(rows: Int = fileRows): Unit = {
    val i = landedNs.size
    val file = Gen.ingestFile(rnd, ids, rows, lines)
    lines = lines ++ file
    val before = model.rows.size
    val expected = model.ingest(file)
    model.rows.keysIterator.drop(before).foreach(e => fileOf(e) = i)
    val f = new File(landing, f"f$i%05d.csv")
    landedNs += land(f, Gen.csv(file))
    val got = op("IngestJob.run") {
      IngestJob.run(spark, f.getPath, store, rejectDir = Some(rejects))._1
    }
    insertedOk += got.contains(expected)
  }

  def poll(): Unit = {
    val t0 = System.nanoTime()
    op("UploadJob.pollOnce")(UploadJob.pollOnce(store, crm.url, cores)).foreach(acked += _)
    if (probe.enabled) polls += ((t0, System.nanoTime()))
  }

  /** Polls until every inserted customer is acked. */
  private def drain(): Unit = {
    var rounds = 0
    while (acked < model.rows.size && rounds < 50) { poll(); rounds += 1 }
  }

  /** A store warmed with one small file, fully uploaded. */
  def setUp(): Unit = {
    ingest(warmRows)
    poll()
    drain()
  }

  def startPhase(): Unit = postsBefore = crm.posts.size

  /** Ack latencies of the POSTs since [[startPhase]] that ended by `t1`,
    * and the lane's figures for people.
    */
  def endPhase(t1: Long, wall: Double): (Seq[Double], Long, Seq[Named]) = {
    val posts = crm.posts.drop(postsBefore)
    val acks = posts.filter(p => p.status == 201 && p.endNs <= t1)
    val lat = acks.flatMap(p => fileOf.get(p.email).map(f => Ctx.ms(landedNs(f), p.endNs)))
    val n = acks.map(_.email).distinct.size.toLong
    def pct(p: Double) = if (lat.isEmpty) 0.0 else Stats.hd(lat, p)
    (lat, n, Seq(
      Named("acked_rows_per_s", n / wall, "rows/s", f"$n acked in $wall%.2f s"),
      Named("ack_latency_ms.p50", pct(50), "ms", s"n=${lat.size}"),
      Named("ack_latency_ms.p95", pct(95), "ms", s"n=${lat.size}"),
      Named("ack_latency_ms.p99", pct(99), "ms", s"n=${lat.size}"),
      Named("posts_per_ack", posts.count(_.startNs <= t1).toDouble / math.max(1, n), "ratio",
        s"${posts.count(_.startNs <= t1)} POSTs"),
      Named("upload.store_bytes_per_row", Ctx.duBytes(storeDir).toDouble / math.max(1, model.rows.size),
        "B/row", s"${model.rows.size} live rows")))
  }

  def check(mutate: Boolean): Seq[String] = {
    drain()
    val v = ArrayBuffer[String]()
    insertedOk.zipWithIndex.filterNot(_._1).foreach { case (_, i) =>
      v += s"file $i inserted a different row count than the model"
    }
    if (acked < model.rows.size) v += s"${model.rows.size - acked} rows never acked"
    val want = model.rows.values.map(c => (c.id, c.first, c.last, c.email, c.phone, true)).toSet
    val exp = if (mutate) want.drop(1) else want
    val got = store.all().collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("first_name"),
      r.getAs[String]("last_name"), r.getAs[String]("email"), r.getAs[String]("phone"),
      r.getAs[Boolean]("uploaded"))).toSet
    if (got != exp)
      v += s"upload store differs from the model: ${(got -- exp).take(2)} extra, ${(exp -- got).take(2)} missing"
    val q = spark.read.parquet(rejects).groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (q != model.quarantined.toMap) v += s"quarantine $q, model ${model.quarantined}"
    val all = model.rows.keySet.toSet
    v ++= crm.exactlyOnceViolations(if (mutate) all + "never.sent@mail.example" else all)
    v.toSeq
  }

  def layers(): Map[String, Double] = {
    val posts = crm.posts
    val perPoll = polls.map { case (a, b) => (Ctx.ms(a, b), posts.filter(p => p.startNs >= a && p.endNs <= b)) }
    val busy = perPoll.map { case (_, ps) =>
      if (ps.isEmpty) 0.0 else Ctx.ms(ps.map(_.startNs).min, ps.map(_.endNs).max)
    }
    val pollPosts = perPoll.flatMap(_._2)
    Map(
      "HttpSink.busy_ms" -> Stats.mean(busy.toSeq),
      "pollOnce.non_http_ms" -> Stats.mean(perPoll.map(_._1).zip(busy).map { case (p, b) => p - b }.toSeq),
      "HttpSink.posts" -> pollPosts.size.toDouble / math.max(1, polls.size),
      "HttpSink.ack_ratio" -> pollPosts.count(_.status == 201).toDouble / math.max(1, pollPosts.size),
      "HttpSink.max_inflight" -> crm.peakInflight.toDouble,
      "crm.handler_ms" -> crm.handlerMs / math.max(1, posts.size))
  }

  def close(): Unit = crm.stop()
}
