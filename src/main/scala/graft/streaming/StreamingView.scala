package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming MATERIALIZED-VIEW maintenance over a
  * [[graft.pipeline.CustomerStore]] change feed: a checkpointed file
  * stream over the `_changelog` commit-directory glob drives each
  * micro-batch's change rows
  * through the retraction weighting (+1 post-image, −1 `_pre`
  * pre-image) into ONE authoritative aggregate table — the downstream
  * consumer shape the feed's pre-images exist for, kept fresh per
  * commit instead of rescanned.
  *
  * Exactly-once across restarts by construction (the idempotent-sink
  * contract foreachBatch requires):
  *
  *  - the file source's checkpoint delivers each commit's files
  *    at-least-once, tagged with a monotonically increasing batchId;
  *  - the sink applies a batch ONLY if `batchId` exceeds the latest
  *    applied id (recorded in the state directory's file names), and
  *    promotes the new state by staged atomic rename — a batch
  *    redelivered after a crash between rename and checkpoint commit
  *    finds its id already applied and skips, so the view never
  *    double-counts a delta;
  *  - the state dir records WHICH checkpoint built it (`_pairing`): a
  *    fresh checkpoint restarts batchIds at 0, so pointing one at an
  *    existing state dir would make every delta silently skip as
  *    "already applied" — the pairing check turns that silent
  *    divergence into a loud failure. Checkpoint and state dir are
  *    created and retired together.
  *
  * The VIEW is a parameter ([[ViewSpec]]): any grouped aggregate of
  * distributive SUM measures over the feed's change rows — the class
  * every retraction stream can maintain incrementally (each measure is
  * `sum(w * expr)`, so a pre-image subtracts exactly what its
  * post-image added). The work-queue census ships as the default
  * instance ([[Census]]); a 100 TB deployment swaps the spec, not the
  * mechanism (state stays one row per group; the stream reads only
  * feed deltas).
  *
  * BOUNDARY — non-distributive aggregates: MIN/MAX cannot ride the
  * ±1 weighting (retracting the current extremum leaves the sketch
  * without the runner-up), so they are deliberately OUT of ViewSpec's
  * measure class. The store-side complement is
  * [[graft.pipeline.MinMaxView]]: inserts and interior deletes fold
  * in monotonically, and a retraction reaching a stored extremum
  * triggers a PER-GROUP re-aggregation from `asOf(v)` — a table
  * read this stream, which sees only feed deltas, cannot perform.
  * That fallback is the honest cost of min/max-under-delete
  * (`pipeline_incremental_mv_minmax` pins it: some-but-not-all
  * groups recomputed, zero recomputes on insert-only commits).
  */
object StreamingView {

  /** A streaming-maintainable aggregate: named group expressions plus
    * named SUM measures, both as SQL expressions over a feed change
    * row. Measures are maintained as `sum(w * expr)` with w = ±1 by
    * retraction weighting, so they must be distributive sums (a count
    * is `sum(1)`, an average is maintained as sum + count). The FIRST
    * measure must be the row-count measure (`CAST(1 AS BIGINT)`): a
    * group whose live-row count reaches zero leaves the view.
    */
  case class ViewSpec(groupExprs: Seq[(String, String)],
      measureExprs: Seq[(String, String)]) {
    require(groupExprs.nonEmpty, "a view needs at least one group expression")
    require(measureExprs.nonEmpty, "a view needs at least the row-count measure")
    def outputNames: Seq[String] = groupExprs.map(_._1) ++ measureExprs.map(_._1)
  }

  /** The work-queue census: rows and id-sum per uploaded state. */
  val Census: ViewSpec = ViewSpec(
    Seq("uploaded" -> "CAST(uploaded AS BIGINT)"),
    Seq("n" -> "CAST(1 AS BIGINT)", "id_sum" -> "id"))

  /** Census state schema — the empty-view shape [[read]] returns
    * before any batch has been applied.
    */
  val stateSchema: StructType = StructType(Seq(
    StructField("uploaded", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("id_sum", LongType, nullable = false)))

  /** Start the AvailableNow maintenance pass: drain whatever feed
    * commits the checkpoint has not yet applied into the state dir.
    */
  def start(spark: SparkSession, feedGlob: String, feedSchema: StructType,
      stateDir: String, checkpoint: String,
      spec: ViewSpec = Census): StreamingQuery = {
    val pairing = checkpointId(checkpoint)
    spark.readStream.schema(feedSchema).parquet(feedGlob)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(stateDir, spec, Some(pairing))(batch, batchId)
      }
      .start()
  }

  /** The materialized view's current contents (empty, in the census
    * shape, before the first applied batch — pass `emptySchema` for a
    * non-census spec).
    */
  def read(spark: SparkSession, stateDir: String,
      emptySchema: StructType = stateSchema): DataFrame =
    latestState(stateDir) match {
      case Some((_, dir)) => graft.sources.ParquetGroups.read(spark, dir.toString)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    }

  /** Apply one micro-batch of change rows: skip if this batchId is
    * already reflected in the state (redelivery), else fold the
    * weighted delta into the previous state and promote
    * `state-<batchId>` atomically. Public for the crash-replay spec.
    */
  def applyBatch(stateDir: String, spec: ViewSpec = Census,
      pairing: Option[String] = None)(batch: DataFrame, batchId: Long): Unit = {
    val root = new java.io.File(stateDir)
    root.mkdirs()
    pairing.foreach(verifyPairing(root, _))
    val latest = latestState(stateDir)
    if (latest.exists(_._1 >= batchId)) return // already applied — replay no-op
    val spark = batch.sparkSession
    val w: Column = when(col("change_type").endsWith("_pre"), -1L).otherwise(1L)
    val delta = batch
      .groupBy(spec.groupExprs.map { case (n, e) => expr(e).as(n) }: _*)
      .agg(
        spec.measureExprs.map { case (n, e) =>
          sum(w * expr(e).cast("long")).as(n)
        }.head,
        spec.measureExprs.map { case (n, e) =>
          sum(w * expr(e).cast("long")).as(n)
        }.tail: _*)
    val prev = latestState(stateDir) match {
      case Some((_, dir)) => graft.sources.ParquetGroups.read(spark, dir.toString)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], delta.schema)
    }
    val countName = spec.measureExprs.head._1
    val next = prev.unionByName(delta)
      .groupBy(spec.groupExprs.map { case (n, _) => col(n) }: _*)
      .agg(
        spec.measureExprs.map { case (n, _) => sum(col(n)).as(n) }.head,
        spec.measureExprs.map { case (n, _) => sum(col(n)).as(n) }.tail: _*)
      .filter(col(countName) =!= 0)
      .select(spec.outputNames.map(col): _*)
    val tmp = new java.io.File(root, f".tmp-$batchId%09d")
    if (tmp.exists()) graft.util.Fs.deleteRecursively(tmp.toPath)
    next.write.parquet(tmp.toString)
    val dst = new java.io.File(root, f"state-$batchId%09d")
    require(tmp.renameTo(dst), s"state promotion $tmp -> $dst failed")
    // Retire superseded states (crash-safe: the new state is already
    // promoted; a redelivered batch skips on the id check above).
    stateFiles(stateDir).filter(_._1 < batchId).foreach { case (_, d) =>
      graft.util.Fs.deleteRecursively(d.toPath)
    }
  }

  /** This checkpoint's stable identity: a UUID minted on first use and
    * stored inside the checkpoint dir, so deleting/recreating the
    * checkpoint (which restarts batchIds at 0) changes the identity.
    */
  private def checkpointId(checkpoint: String): String = {
    val dir = new java.io.File(checkpoint)
    dir.mkdirs()
    val f = new java.io.File(dir, "_graft_id")
    if (!f.isFile)
      java.nio.file.Files.write(f.toPath,
        java.util.UUID.randomUUID().toString.getBytes("UTF-8")): Unit
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
  }

  /** Fail loudly when a state dir is driven by a checkpoint other than
    * the one that built it — the silent-divergence mode this guards
    * against is a FRESH checkpoint (batchIds restart at 0) pointed at
    * an existing state dir, where every delta would skip as "already
    * applied".
    */
  private def verifyPairing(stateRoot: java.io.File, pairing: String): Unit = {
    val f = new java.io.File(stateRoot, "_pairing")
    if (!f.isFile)
      java.nio.file.Files.write(f.toPath, pairing.getBytes("UTF-8")): Unit
    else {
      val recorded = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      if (recorded != pairing)
        throw new IllegalStateException(
          s"state dir $stateRoot was built by checkpoint $recorded but is being " +
            s"driven by checkpoint $pairing; checkpoint and state dir must be " +
            "created and retired together (a fresh checkpoint restarts batchIds " +
            "at 0 and every delta would silently skip as already applied)")
    }
  }

  private def stateFiles(stateDir: String): Seq[(Long, java.io.File)] = {
    val root = new java.io.File(stateDir)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("state-"))
      .map(d => d.getName.stripPrefix("state-").toLong -> d)
      .sortBy(_._1)
  }

  private def latestState(stateDir: String): Option[(Long, java.io.File)] =
    stateFiles(stateDir).lastOption
}
