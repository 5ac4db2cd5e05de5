package perfbench

/** The paper's pipeline on one driver thread: each cycle a customer file
  * lands and is ingested, the uploader polls once, and the change lane
  * applies one round of upserts, deletes and reads to its own store. The
  * end-to-end latency is the upload lane's ack latency, from a file
  * landing to each customer's 201: a customer whose POST got a 503 waits
  * for the next poll, after the change round, so both lanes show in it.
  * The change lane keeps its own store so its expected state does not
  * depend on upload timing.
  */
final class Pipeline(ctx: Ctx) extends Workload {
  private val upload = new UploadLane(ctx)
  private val change = new ChangeLane(ctx)

  def setUp(): Unit = {
    upload.setUp()
    change.setUp()
  }

  def run(seconds: Double): Phase = {
    upload.startPhase()
    change.startPhase()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      upload.ingest()
      upload.poll()
      change.round()
    }
    // The last cycle's 503s get their next poll like every earlier one's.
    upload.poll()
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    val (lat, acked, named) = upload.endPhase(t1, wall)
    // Tail at the 95th, not the 99th: every POST fails with 10% odds, so
    // 1% of customers need a third attempt and the 99th percentile would
    // sit on the step between two and three polls.
    Phase(wall, lat, 95.0, acked, named ++ change.endPhase(wall))
  }

  def check(mutate: Boolean): Seq[String] = upload.check(mutate) ++ change.check(mutate)

  def layers(): Map[String, Double] = upload.layers() ++ change.layers()

  override def close(): Unit = upload.close()
}
