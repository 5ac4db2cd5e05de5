package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The one scope every stream-running parity gate (PipelineParity,
  * StreamingParity) runs in: a scratch dir for the stream's sink and
  * checkpoint, deleted afterwards, plus a reduced shuffle-partition
  * count. The result must be detached from the dir (localCheckpoint)
  * before it is returned.
  *
  * The partition count is a scale dial, here the number of state-store
  * instances and sink files every micro-batch commits: the fixture
  * streams carry a few thousand rows per trigger, and 32 HDFS-backed
  * state stores cost more in per-store init+commit+fsync than they buy
  * in parallelism (measured at sf0.1: the stream-stream join went from
  * 13.7s to ~4.4s at 4, session_window to ~4.7s warm). Results are
  * unchanged by construction: partition count never changes what a
  * keyed state or an aggregate computes, and every gate's output is an
  * aggregate or a REQUIREd comparison, not a file layout. The count is
  * baked into each checkpoint at query start, so both runs of a
  * resume-style gate execute inside ONE scope. A production stream
  * sizes this to its key cardinality instead.
  *
  * Concurrency guard: the override mutates the session-wide conf (a
  * `newSession()` scoping was measured and rejected — each cloned
  * session rebuilds its SessionState and plan caches, +0.3-0.8s per
  * gate), so a second concurrent scope fails loudly instead of
  * silently running unrelated work at the stream partition count. The
  * in-flight count is released on every exit path, the failed overlap
  * included, so one rejected scope cannot fail every later gate.
  */
private[queries] object StreamGates {

  val StreamPartitions = 4

  /** In-flight [[withStreamTempDir]] scopes (one session, one guard). */
  private val scopes = new java.util.concurrent.atomic.AtomicInteger(0)

  def withStreamTempDir[T](s: SparkSession, prefix: String)(
      f: (SparkSession, java.nio.file.Path) => T): T =
    graft.util.Fs.withTempDir(prefix) { tmp =>
      val inFlight = scopes.incrementAndGet()
      try {
        require(inFlight == 1,
          "stream-gate scope mutates the session-global shuffle-partition " +
            "conf; concurrent stream gates on one session are not supported")
        val prev = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
        try f(s, tmp)
        finally s.conf.set("spark.sql.shuffle.partitions", prev)
      } finally scopes.decrementAndGet(): Unit
    }

  /** Run `stream` to completion (`Trigger.AvailableNow`, append mode)
    * into a parquet sink under `tmp`, then read the output back with
    * the stream's own schema pinned (no inference job) and detach it
    * from `tmp` (localCheckpoint), so it outlives the scope.
    */
  def drain(stream: Dataset[_], tmp: java.nio.file.Path): DataFrame = {
    stream.writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    stream.sparkSession.read.schema(stream.schema).parquet(s"$tmp/out")
      .localCheckpoint(true)
  }
}
