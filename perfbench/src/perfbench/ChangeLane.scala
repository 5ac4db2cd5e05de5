package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.Row

import graft.pipeline.{CustomerStore, IngestJob}
import graft.streaming.StreamingIngest

/** The store used as a change-applying table over a pre-seeded customer
  * base: each round lands a change file and applies it with the streaming
  * upsert (AvailableNow, until the query terminates), deletes a seeded
  * set of emails, reads beside the writes with point lookups and an
  * id-range read, and compacts. A run times one or two rounds, so the
  * compaction runs every round to be in every timed phase alike.
  */
final class ChangeLane(ctx: Ctx) {
  import ctx._

  private val baseRows = if (tiny) 400 else 10000
  private val changeRows = if (tiny) 100 else 1000
  private val deletes = if (tiny) 5 else 20
  private val lookups = 2
  private val rnd = new Random(seed)
  private val ids = new Gen.Ids(seed, 10000000)

  /** A round's inputs and the model's answers after it. */
  private final case class Round(lines: IndexedSeq[String], valid: Long, deleted: Seq[String],
      lookupKeys: Seq[Seq[String]], lookupWant: Seq[Set[Cust]], lo: Long, hi: Long,
      rangeWant: Set[Cust])

  private val storeDir = new File(work, "change")
  private val store = new CustomerStore(spark, storeDir.getPath)
  private val inbox = dir("inbox")
  private val checkpoint = new File(work, "checkpoint").getPath
  private var model: Gen.UpsertModel = _
  private val rounds = ArrayBuffer[Round]()
  private val lookupGot = ArrayBuffer[Set[Cust]]()
  private val rangeGot = ArrayBuffer[Set[Cust]]()
  private val roundMs = ArrayBuffer[Double]()
  private val lookupMs = ArrayBuffer[Double]()
  private val kept = ArrayBuffer[(String, Int, Int)]() // (read, files kept, files total), traced

  private def cust(r: Row): Cust = Cust(r.getAs[Long]("id"), r.getAs[String]("first_name"),
    r.getAs[String]("last_name"), r.getAs[String]("email"), r.getAs[String]("phone"))

  /** Generates the next round's inputs and advances the model over them. */
  private def nextRound(): Round = {
    val lines = Gen.changeFile(rnd, ids, changeRows, model.rows.values.toIndexedSeq)
    val valid = model.merge(lines)
    val after = model.rows.keys.toIndexedSeq
    val del = Seq.fill(deletes)(after(rnd.nextInt(after.size))).distinct :+
      s"gone${rnd.nextInt()}@mail.example"
    model.delete(del)
    val keys = Seq.fill(lookups)(Seq(after(rnd.nextInt(after.size)), del.head))
    val idSpan = model.rows.values.map(_.id)
    val (minId, maxId) = (idSpan.min, idSpan.max)
    val lo = minId + rnd.nextLong(maxId - minId)
    val hi = lo + (maxId - minId) / 50
    Round(lines, valid, del, keys, keys.map(model.snapshot), lo, hi, model.idRange(lo, hi))
  }

  def round(): Unit = {
    val r = nextRound()
    val landed = land(new File(inbox, f"c${rounds.size}%05d.csv"), Gen.csv(r.lines))
    rounds += r
    op("StreamingIngest.startUpsert") {
      val q = StreamingIngest.startUpsert(spark, inbox.getPath, store, checkpoint)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    roundMs += Ctx.ms(landed, System.nanoTime())
    import spark.implicits._
    op("CustomerStore.delete")(store.delete(r.deleted.toDF("email")))
    r.lookupKeys.foreach { k =>
      val t0 = System.nanoTime()
      val got = op("CustomerStore.pendingPointLookup") {
        val (df, kept, total) = store.pendingPointLookup(k)
        val rows = df.collect().map(cust).toSet
        if (probe.enabled) this.kept += (("pendingPointLookup", kept, total))
        rows
      }
      lookupMs += Ctx.ms(t0, System.nanoTime())
      lookupGot += got.getOrElse(Set.empty)
    }
    val got = op("CustomerStore.pendingRangeRead") {
      val (df, kept, total) = store.pendingRangeRead(r.lo, r.hi)
      val rows = df.collect().map(cust).toSet
      if (probe.enabled) this.kept += (("pendingRangeRead", kept, total))
      rows
    }
    rangeGot += got.getOrElse(Set.empty)
    op("CustomerStore.compact")(store.compact())
  }

  /** Seeds the store with the customer base and runs one round. */
  def setUp(): Unit = {
    val base = (1 to baseRows).map { _ => val (id, e) = ids.next(); Gen.person(rnd, id, e) }
    model = new Gen.UpsertModel(base)
    val f = new File(dir("base"), "base.csv")
    land(f, Gen.csv(base.map(_.line)))
    op("IngestJob.run")(IngestJob.run(spark, f.getPath, store))
    round()
  }

  private var r0, l0 = 0

  def startPhase(): Unit = {
    r0 = rounds.size
    l0 = lookupMs.size
  }

  /** The lane's figures since [[startPhase]], for people. */
  def endPhase(wall: Double): Seq[Named] = {
    val applied = rounds.drop(r0).map(_.valid).sum
    val lat = lookupMs.drop(l0).toSeq
    val rms = roundMs.drop(r0).toSeq
    val rTail = Stats.resolvableTail(rms.size)
    Seq(
      Named("applied_rows_per_s", applied / wall, "rows/s", s"${rms.size} rounds"),
      Named("round_ms.p50", Stats.median(rms), "ms", s"n=${rms.size}"),
      Named("round_ms.tail", Stats.pct(rms, rTail), "ms", s"p$rTail, n=${rms.size}"),
      Named("lookup_ms.p50", Stats.median(lat), "ms", s"n=${lat.size}"),
      Named("lookup_ms.p90", Stats.pct(lat, 90), "ms", s"n=${lat.size}"),
      Named("change.store_bytes_per_row", Ctx.duBytes(storeDir).toDouble / model.rows.size,
        "B/row", s"${model.rows.size} live rows"))
  }

  def check(mutate: Boolean): Seq[String] = {
    val v = ArrayBuffer[String]()
    val want = model.rows.values.toSet
    val exp = if (mutate) want.drop(1) else want
    val got = store.all().collect().map(cust).toSet
    if (got != exp)
      v += s"change store differs from the model: ${(got -- exp).take(2)} extra, ${(exp -- got).take(2)} missing"
    val uploaded = store.all().filter("uploaded").count()
    if (uploaded != 0) v += s"change store: $uploaded rows flagged uploaded"
    rounds.flatMap(_.lookupWant).zip(lookupGot).zipWithIndex.filter { case ((w, g), _) => w != g }
      .take(3).foreach { case ((w, g), i) => v += s"lookup $i returned $g, model $w" }
    rounds.map(_.rangeWant).zip(rangeGot).zipWithIndex.filter { case ((w, g), _) => w != g }
      .take(3).foreach { case ((w, g), i) => v += s"range read $i returned ${g.size} rows, model ${w.size}" }
    v.toSeq
  }

  def layers(): Map[String, Double] = {
    def keptAvg(read: String, f: ((String, Int, Int)) => Int) =
      Stats.mean(kept.filter(_._1 == read).map(f(_).toDouble).toSeq)
    val trig = probe.triggers.toSeq
    def dur(k: String) = Stats.mean(trig.map(_.durations.getOrElse(k, 0L).toDouble))
    val ups = probe.opSpans.filter(s => s.name == "StreamingIngest.startUpsert" && s.parent == 0)
    val overhead = ups.map { s =>
      s.ms - trig.filter(t => t.startMs >= s.startMs - 1 && t.startMs <= s.endMs)
        .map(_.durations.getOrElse("triggerExecution", 0L).toDouble).sum
    }
    Map(
      "stream.triggerExecution_ms" -> dur("triggerExecution"),
      "stream.addBatch_ms" -> dur("addBatch"),
      "stream.walCommit_ms" -> dur("walCommit"),
      "stream.queryPlanning_ms" -> dur("queryPlanning"),
      "stream.getBatch_ms" -> dur("getBatch"),
      "stream.latestOffset_ms" -> dur("latestOffset"),
      "stream.start_overhead_ms" -> Stats.mean(overhead),
      "stream.input_rows" -> trig.map(_.inputRows.toDouble).sum / math.max(1, ups.size),
      "CustomerStore.pendingPointLookup.files_kept" -> keptAvg("pendingPointLookup", _._2),
      "CustomerStore.pendingPointLookup.files_total" -> keptAvg("pendingPointLookup", _._3),
      "CustomerStore.pendingRangeRead.files_kept" -> keptAvg("pendingRangeRead", _._2),
      "CustomerStore.pendingRangeRead.files_total" -> keptAvg("pendingRangeRead", _._3),
      "store.bytes" -> Ctx.duBytes(storeDir).toDouble,
      "store.live_files" -> store.liveDataFiles().size.toDouble)
  }
}
