package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{QueryGroup, Tables}
import graft.streaming.EventStreams

/** Driver-checkable parity gate for the custom-state streaming path:
  * runs [[EventStreams.completedSessions]] (flatMapGroupsWithState,
  * event-time timeout) over the events table AS A STREAM with
  * `Trigger.AvailableNow`, then compares the emitted sessions
  * row-for-row against the batch twin's sessionization, restricted to
  * the sessions the final watermark finalizes.
  *
  * The finalization cutoff is modeled exactly as Spark computes it:
  * event-time stats are kept in floor-to-millisecond precision, so the
  * final watermark is floor(max_us/1000) − 2 h, and a session emits iff
  * its end-ms + gap < that watermark. Batch sessions are keyed at the
  * same millisecond precision (floor is monotonic, so min/max commute
  * with it). The four emitted counts — streamed sessions, modeled
  * batch-final sessions, and the two anti-join residues — let the
  * DuckDB oracle rebuild the first two from SQL alone and pin the
  * residues at zero: any divergence between the streaming operator and
  * the batch twin hash-fails the query.
  *
  * Both sides sessionize at Spark's native MICROSECOND timestamp
  * precision (the streaming operator reads the full µs value, not
  * `Timestamp.getTime`'s ms floor), so a gap straddling the 30-min
  * boundary within one millisecond splits identically on both sides —
  * parity holds for any input, not just data without such pairs
  * (pinned by StreamingSpec's straddle-pair test). Only the watermark
  * is ms-floored, exactly as Spark computes it.
  */
object StreamingParity extends QueryGroup {

  private val GAP_MS = 1800000L
  private val WATERMARK_DELAY_MS = 7200000L

  private val eventsSchema = StructType(Seq(
    // `ts` as TIMESTAMP: the current testdata generation stores
    // TIMESTAMP(MICROS), which the parquet reader materializes as
    // epoch-µs TimestampType verbatim under the declared schema (no
    // session-timezone math) — the value EventStreams' event-time
    // operators consume directly.
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  import StreamGates.{drain, withStreamTempDir}

  /** The four parity counts in ONE Spark action: both sides are
    * key-unique by construction, so a full-outer join on the key
    * columns followed by a single aggregate yields the side counts and
    * both anti-join residues together — replacing the previous four
    * separate count() jobs per gate (2 counts + 2 anti-joins), which
    * were pure fixed overhead on corpora this size. A duplicated or
    * missing streamed row still fails the oracle: it shifts n_stream
    * away from n_batch and/or lands in a residue.
    */
  private def parityCounts(s: SparkSession, streamed: DataFrame,
      batch: DataFrame, keys: Seq[String], names: Seq[String]): DataFrame = {
    import s.implicits._
    val l = streamed.select(keys.map(col): _*).withColumn("_s", lit(1L))
    val r = batch.select(keys.map(col): _*).withColumn("_b", lit(1L))
    val row = l.join(r, keys, "full_outer")
      .agg(
        coalesce(sum(col("_s")), lit(0L)),
        coalesce(sum(col("_b")), lit(0L)),
        coalesce(sum(when(col("_b").isNull, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("_s").isNull, 1L).otherwise(0L)), lit(0L)))
      .head()
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
      .toDF(names: _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_sessionize_parity" -> ((s, dir) => {
      import s.implicits._
      // Batch read first: sets the nanos-as-long conf the streaming
      // scan needs too.
      val batch = Tables(s, dir, "events").withColumn("us", expr("ts DIV 1000"))

      // --- streaming side: file source → completedSessions → parquet sink
      val streamed = withStreamTempDir(s, "graft-parity-") { (s, tmp) =>
        // events.parquet is a single FILE; the file stream source
        // derives basePath from the path and requires a directory, so
        // address the file through a glob — globbed paths resolve
        // their basePath to the parent directory.
        val stream = s.readStream.schema(eventsSchema)
          .parquet(s"$dir/{events.parquet}")
          .select(col("user_id"),
            col("ts"),
            col("event_type"), col("value"))
          .as[EventStreams.UserEvent]
        drain(EventStreams.completedSessions(stream), tmp)
          .select(col("user_id"),
            unix_millis(col("session_start")).as("start_ms"),
            unix_millis(col("session_end")).as("end_ms"),
            col("n_events"))
      }

      // --- batch twin (events_sessionize grouping) + modeled watermark
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = batch
        .select(col("user_id"), col("event_id"), col("us"))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(byUser) > 1800L * 1000000
            || lag(col("us"), 1).over(byUser).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("min(us) DIV 1000").as("start_ms"),
          expr("max(us) DIV 1000").as("end_ms"))
      val wmMs = batch.agg(expr("max(us) DIV 1000")).head().getLong(0) - WATERMARK_DELAY_MS
      val batchFinal = sessions
        .filter(col("end_ms") + GAP_MS < lit(wmMs))
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .localCheckpoint(true) // feeds three counts below; materialize once

      parityCounts(s, streamed, batchFinal,
        Seq("user_id", "start_ms", "end_ms", "n_events"),
        Seq("n_stream", "n_batch_final", "n_only_stream", "n_only_batch"))
    }),

    // Incremental exact-dedup parity: the STREAMING form of dedup_exact —
    // content fingerprints through stateful dropDuplicates over the
    // documents table as a file stream (Trigger.AvailableNow). The
    // emitted set must equal the batch distinct-fingerprint set exactly
    // once each: a double emission inflates n_stream, a miss shows in
    // the anti-joins, so the oracle's (n, n, 0, 0) hash-gates
    // exactly-once-per-key delivery. State is one fingerprint per
    // distinct doc — the production form bounds it with a watermark on
    // an ingest-time column (dropDuplicatesWithinWatermark), same op
    // shape.
    "streaming_dedup_parity" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TextFunctions.contentFingerprint
      val batchFps = Tables(s, dir, "documents")
        .select(contentFingerprint(col("text")).as("fp")).distinct()
        .localCheckpoint(true)
      val streamedFps = withStreamTempDir(s, "graft-dedup-parity-") { (s, tmp) =>
        drain(s.readStream.schema(documentsSchema)
          .parquet(s"$dir/{documents.parquet}")
          .select(contentFingerprint(col("text")).as("fp"))
          .dropDuplicates("fp"), tmp)
      }
      parityCounts(s, streamedFps, batchFps, Seq("fp"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // TRAIN-OFFLINE / FILTER-ONLINE parity — the deployment shape of
    // the model-based quality filter: the pocket perceptron trains on
    // the batch side FIRST (memoized; its weights become literals),
    // then the document stream applies the identical feature
    // projection + literal-weight score per micro-batch (stateless —
    // no streaming aggregation state at all) and the kept doc_id sets
    // must match the batch filter exactly. One shared
    // classifierFeatures definition means the online filter can never
    // drift from the trainer; the oracle recomputes the kept count
    // from the training CTEs and pins both residues at zero.
    "streaming_model_filter_parity" -> ((s, dir) => {
      val model = TextAnalysis.trainedPocket(s, dir)
      val batchKept = model.feats
        .filter(TextAnalysis.pocketDot(model.pocketW) > 0)
        .select(col("doc_id")).localCheckpoint(true)
      val streamedKept = withStreamTempDir(s, "graft-modelfilter-parity-") { (s, tmp) =>
        drain(TextAnalysis.classifierFeatures(
            s.readStream.schema(documentsSchema)
              .parquet(s"$dir/{documents.parquet}"))
          .filter(TextAnalysis.pocketDot(model.pocketW) > 0)
          .select(col("doc_id")), tmp)
      }
      parityCounts(s, streamedKept, batchKept, Seq("doc_id"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // Decontaminate-on-ingest: the train-gram bloom is a BATCH-built
    // artifact (DedupQueries.contamBloom — the benchmark-side index),
    // and the stream screens arriving eval documents against it as a
    // STATELESS per-micro-batch projection: explode 13-grams, four
    // LEFT stream-static joins against the broadcast-sized bloom word
    // table, keep all-bits-hit pairs. No streaming aggregation, no
    // watermark, no state store — exactly how a production ingest
    // pipeline consults a persisted bloom. The flagged (doc, gram)
    // sets are pinned identical to the batch screen's
    // (dedup_bloom_contamination flags the same pairs before its
    // per-doc rollup), and the shared bloomFlaggedPairs code means
    // the two paths cannot drift.
    "streaming_bloom_filter_parity" -> ((s, dir) => {
      import graft.functions.TextFunctions.trainEvalSplit
      val (mBits, _, bloom) = DedupQueries.contamBloom(s, dir)
      val batchFlagged = DedupQueries.bloomFlaggedPairs(
        DedupQueries.contamGrams(s, dir).filter(col("split") === "eval")
          .select(col("doc_id"), col("g")),
        mBits, bloom).localCheckpoint(true)
      val streamFlagged = withStreamTempDir(s, "graft-bloomfilter-parity-") { (s, tmp) =>
        val evalStream = DedupQueries.contamGramsOf(
          s.readStream.schema(documentsSchema)
            .parquet(s"$dir/{documents.parquet}")
            .filter(trainEvalSplit(col("text")) === "eval"))
        drain(DedupQueries.bloomFlaggedPairs(evalStream, mBits, bloom), tmp)
      }
      parityCounts(s, streamFlagged, batchFlagged, Seq("doc_id", "g"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // Watermarked tumbling-window parity: EventStreams.hourlyCounts
    // (1-hour windows, 2-hour watermark, append mode) over the events
    // file stream, compared against the batch hourly counts restricted
    // to the windows the final watermark finalizes (append emits a
    // window once the watermark passes its end). Watermark modeled at
    // Spark's ms-floor precision exactly as in the sessionize gate.
    "streaming_hourly_parity" -> ((s, dir) => {
      import s.implicits._
      val batch = Tables(s, dir, "events").withColumn("us", expr("ts DIV 1000"))
      val streamed = withStreamTempDir(s, "graft-hourly-parity-") { (s, tmp) =>
        drain(EventStreams.hourlyCounts(
            s.readStream.schema(eventsSchema)
              .parquet(s"$dir/{events.parquet}")
              .select(col("ts"),
                col("event_type"))), tmp)
          .select(unix_millis(col("hour")).as("hour_ms"), col("event_type"), col("n"))
      }
      val wmMs = batch.agg(expr("max(us) DIV 1000")).head().getLong(0) - WATERMARK_DELAY_MS
      val batchFinal = batch
        .groupBy(expr("us DIV 3600000000 * 3600000").as("hour_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(col("hour_ms") + 3600000L <= lit(wmMs))
        .localCheckpoint(true)
      parityCounts(s, streamed, batchFinal, Seq("hour_ms", "event_type", "n"),
        Seq("n_stream", "n_batch_final", "n_only_stream", "n_only_batch"))
    }),

    // Stream-stream interval-join parity: viewsBeforePurchases (both
    // sides watermarked, time-range condition bounding buffered state)
    // over the events file stream. Inner-join matches emit as they
    // form; with AvailableNow over one parquet file everything lands
    // in the first micro-batch, so the full match set must equal the
    // batch interval join row-for-row.
    // STREAMING LAST-TOUCH ATTRIBUTION parity — the tenth gate:
    // attributedPurchases finalizes each purchase the moment the
    // watermark passes its own timestamp (every candidate touch
    // precedes it in stream order), so its state is one 1h lookback of
    // touch events + pending purchases, the smallest custom state in
    // the family. Batch twin: the events_attribution preceding-window
    // maxes at purchase grain, restricted to the purchases the modeled
    // final watermark finalizes. Channel AND cents ride in the parity
    // key, so a wrong attribution or amount lands in both residues.
    "streaming_attribution_parity" -> ((s, dir) => {
      import s.implicits._
      val w = Events.ATTR_W_US
      val batch = Tables(s, dir, "events").withColumn("us", expr("ts DIV 1000"))
      val streamed = withStreamTempDir(s, "graft-parity-") { (s, tmp) =>
        val stream = s.readStream.schema(eventsSchema)
          .parquet(s"$dir/{events.parquet}")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"))
          .as[EventStreams.AttrEvent]
        drain(EventStreams.attributedPurchases(stream, w), tmp)
      }
      val wmMs = batch.agg(max(expr("us DIV 1000"))).head().getLong(0) -
        WATERMARK_DELAY_MS
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perPurchase = batch
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("us"), col("value"))
        .withColumn("last_c",
          max(when(col("event_type") === "click", col("us"))).over(wPrev))
        .withColumn("last_v",
          max(when(col("event_type") === "view", col("us"))).over(wPrev))
        .filter(col("event_type") === "purchase" &&
          col("us") < lit(wmMs) * 1000L)
        .withColumn("channel",
          when(col("last_c").isNotNull && col("us") - col("last_c") <= w, "click")
          .when(col("last_v").isNotNull && col("us") - col("last_v") <= w, "view")
          .otherwise("direct"))
        .select(col("user_id"), col("event_id").as("purchase_event_id"),
          col("channel"), floor(col("value") * 100).cast("long").as("cents"))
      parityCounts(s, streamed, perPurchase,
        Seq("user_id", "purchase_event_id", "channel", "cents"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // STREAMING WINDOWED FUNNEL parity: EventStreams.viewConversions
    // (flatMapGroupsWithState, event-time timeout, per-user state
    // bounded to a 2W horizon) emits each VIEW's conversion stage once
    // the watermark passes view + 2W; the batch twin computes the same
    // per-view stages via the events_funnel_windowed stacked windows,
    // restricted to the views the modeled final watermark finalizes.
    // Keys include the STAGE, so a converted view emitted at the wrong
    // stage lands in both residues, not just a count shift.
    "streaming_funnel_parity" -> ((s, dir) => {
      import s.implicits._
      val w = Events.FUNNEL_W_US
      val batch = Tables(s, dir, "events").withColumn("us", expr("ts DIV 1000"))
      val streamed = withStreamTempDir(s, "graft-parity-") { (s, tmp) =>
        val stream = s.readStream.schema(eventsSchema)
          .parquet(s"$dir/{events.parquet}")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .as[EventStreams.FunnelEvent]
        drain(EventStreams.viewConversions(stream, w), tmp)
      }
      val wmMs = batch.agg(max(expr("us DIV 1000"))).head().getLong(0) -
        WATERMARK_DELAY_MS
      val wNext = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val x = batch.select(col("user_id"), col("event_id"), col("event_type"), col("us"))
        .withColumn("next_p",
          min(when(col("event_type") === "purchase", col("us"))).over(wNext))
      val y = x
        .withColumn("next_c",
          min(when(col("event_type") === "click", col("us"))).over(wNext))
        .withColumn("next_cc",
          min(when(col("event_type") === "click" && col("next_p").isNotNull &&
              col("next_p") - col("us") <= w, col("us"))).over(wNext))
      val perView = y.filter(col("event_type") === "view")
        .filter(col("us") + lit(2 * w) < lit(wmMs) * 1000L)
        .withColumn("stage",
          when(col("next_cc").isNotNull && col("next_cc") - col("us") <= w, 3L)
            .when(col("next_c").isNotNull && col("next_c") - col("us") <= w, 2L)
            .otherwise(1L))
        .select(col("user_id"), col("event_id").as("view_event_id"), col("stage"))
      parityCounts(s, streamed, perView,
        Seq("user_id", "view_event_id", "stage"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    "streaming_join_parity" -> ((s, dir) => {
      import s.implicits._
      val batch = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("us"))
        .localCheckpoint(true)
      val streamed = withStreamTempDir(s, "graft-join-parity-") { (s, tmp) =>
        drain(EventStreams.viewsBeforePurchases(
            s.readStream.schema(eventsSchema)
              .parquet(s"$dir/{events.parquet}")
              .select(col("event_id"), col("user_id"), col("event_type"),
                col("ts"))), tmp)
          .select(col("purchase_id"), col("view_id"))
      }
      val views = batch.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("us").as("v_us"))
      val purchases = batch.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("us").as("p_us"))
      val batchPairs = purchases.join(views,
          col("v_user") === col("p_user") &&
            col("v_us") < col("p_us") &&
            col("v_us") >= col("p_us") - 3600L * 1000000)
        .select(col("purchase_id"), col("view_id"))
        .localCheckpoint(true)
      parityCounts(s, streamed, batchPairs, Seq("purchase_id", "view_id"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // Built-in session_window parity (the fifth stateful op): session
    // aggregates via session_window(30 min) in append mode emit once
    // the watermark passes the merged window's end (= last event +
    // gap, ms floor). The batch twin is the lag/cumsum sessionization
    // with end extended by the gap; residues pinned at zero.
    "streaming_sessionwindow_parity" -> ((s, dir) => {
      import s.implicits._
      val batch = Tables(s, dir, "events").withColumn("us", expr("ts DIV 1000"))
      val streamed = withStreamTempDir(s, "graft-sessionwin-parity-") { (s, tmp) =>
        drain(EventStreams.sessionCounts(
            s.readStream.schema(eventsSchema)
              .parquet(s"$dir/{events.parquet}")
              .select(col("user_id"),
                col("ts"))), tmp)
          .select(col("user_id"),
            unix_millis(col("session_start")).as("start_ms"), col("n_events"))
      }
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = batch
        .select(col("user_id"), col("event_id"), col("us"))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(byUser) > 1800L * 1000000
            || lag(col("us"), 1).over(byUser).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("min(us) DIV 1000").as("start_ms"),
          expr("max(us) DIV 1000 + 1800000").as("end_ms"))
      val wmMs = batch.agg(expr("max(us) DIV 1000")).head().getLong(0) - WATERMARK_DELAY_MS
      val batchFinal = sessions
        .filter(col("end_ms") < lit(wmMs))
        .select(col("user_id"), col("start_ms"), col("n_events"))
        .localCheckpoint(true)
      parityCounts(s, streamed, batchFinal, Seq("user_id", "start_ms", "n_events"),
        Seq("n_stream", "n_batch_final", "n_only_stream", "n_only_batch"))
    }),

    // CHECKPOINT-RESUME parity: the incremental-dedup stream run TWICE
    // over a growing directory with one checkpoint — half the corpus,
    // stop, add the other half, resume. The file-source log AND the
    // dropDuplicates state must both restore: a lost source log
    // re-emits the first half (n_stream > n_batch), lost dedup state
    // re-emits cross-half duplicates. Final emission set must equal
    // the batch distinct set over the full table exactly once each —
    // the reference's exactly-once intent (README.md:113), upgraded
    // from its actual at-least-once, across a restart boundary.
    "streaming_resume_parity" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TextFunctions.contentFingerprint
      val docs = Tables(s, dir, "documents")
      val batchFps = docs.select(contentFingerprint(col("text")).as("fp"))
        .distinct().localCheckpoint(true)
      val streamedFps = withStreamTempDir(s, "graft-resume-") { (s, tmp) =>
        def addHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
          val stage = s"$tmp/stage_$name"
          docs.filter(pred).coalesce(1).write.parquet(stage)
          graft.util.Fs.movePartFile(graft.util.Fs.path(stage),
            graft.util.Fs.path(s"$tmp/src", name))
        }
        def runOnce(): Unit =
          s.readStream.schema(documentsSchema)
            .parquet(s"$tmp/src")
            .select(contentFingerprint(col("text")).as("fp"))
            .dropDuplicates("fp")
            .writeStream.format("parquet")
            .option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
            .awaitTermination()
        addHalf(col("doc_id") % 2 === 0, "00.parquet")
        runOnce()
        addHalf(col("doc_id") % 2 === 1, "01.parquet")
        runOnce() // resumes from the same checkpoint: state + file log restore
        s.read.schema(StructType(Seq(StructField("fp", StringType))))
          .parquet(s"$tmp/out")
          .localCheckpoint(true)
      }
      parityCounts(s, streamedFps, batchFps, Seq("fp"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }),

    // mapGroupsWithState parity: runningUserTotals over the events file
    // stream — with AvailableNow the final emission per user is the
    // all-time counter, which must equal the batch per-user counts
    // key-for-key. The gate compares the INTEGER surface (user_id,
    // n_events): the state's double total is order-dependent at the
    // bit level (same reason corr is computed via integer moments), so
    // hash-gating it would test summation order, not the operator.
    "streaming_totals_parity" -> ((s, dir) => {
      import s.implicits._
      val batchCounts = Tables(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .localCheckpoint(true)
      val streamedCounts = withStreamTempDir(s, "graft-totals-parity-") { (s, tmp) =>
        EventStreams.runningUserTotals(
            s.readStream.schema(eventsSchema)
              .parquet(s"$dir/{events.parquet}")
              .select(col("user_id"),
                col("ts"),
                col("event_type"), col("value"))
              .as[EventStreams.UserEvent])
          .toDF()
          .writeStream
          // Update mode needs a sink that accepts upserts; the file
          // sink is append-only, so each micro-batch's updates are
          // appended via foreachBatch and the last emission per key
          // wins below.
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(s"$tmp/out"); ()
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // Last emission per user = the running counter's final value.
        val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
        s.read.schema(StructType(Seq(
            StructField("user_id", LongType),
            StructField("n_events", LongType),
            StructField("total_value", DoubleType))))
          .parquet(s"$tmp/out")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("n_events"))
          .localCheckpoint(true)
      }
      parityCounts(s, streamedCounts, batchCounts, Seq("user_id", "n_events"),
        Seq("n_stream_users", "n_batch_users", "n_only_stream", "n_only_batch"))
    }),

    // The ELEVENTH parity gate, and the first whose streaming state is
    // a MERGEABLE SKETCH: the bottom-k/KMV sample (approx_kmv_quantile)
    // maintained by a streaming AGGREGATION whose buffer is the
    // TopKAggregator — the same typed UDAF the batch inventory uses,
    // fed -h so its DESC order keeps the k SMALLEST hashes. Sharding
    // by event_id % 32 makes the state topology the 100 TB one: 32
    // independent per-shard sketches in the state store (each O(k)),
    // merged OUTSIDE the stream by one re-trim — sound because KMV
    // merge is exact (shard-local bottom-k contains every global
    // bottom-k candidate), which is precisely the aggregator's own
    // merge law. Update-mode emissions append per batch; the union of
    // emissions still contains each shard's final sketch, so the
    // re-trim recovers the exact global sketch, REQUIRE'd equal to the
    // batch bottom-k via the anti-join residues the oracle pins at
    // zero.
    "streaming_kmv_parity" -> ((s, dir) => {
      import s.implicits._
      val K = 256
      def hOf = conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val batchSketch = Tables(s, dir, "events")
        .select(hOf.as("h"), col("event_id"))
        .orderBy(col("h"), col("event_id")).limit(K)
        .localCheckpoint(true)
      val streamedSketch = withStreamTempDir(s, "graft-kmv-parity-") { (s, tmp) =>
        val topk = new graft.functions.TopKAggregator(K).toColumn
        s.readStream.schema(eventsSchema)
          .parquet(s"$dir/{events.parquet}")
          .select(pmod(col("event_id"), lit(32L)).as("shard"),
            (-hOf).as("negh"), col("event_id"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(topk.name("sk"))
          .toDF("shard", "sk")
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$tmp/out"); ()
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        s.read.schema(StructType(Seq(
            StructField("shard", LongType),
            StructField("sk", ArrayType(StructType(Seq(
              StructField("_1", LongType), StructField("_2", LongType))))))))
          .parquet(s"$tmp/out")
          .select(explode(col("sk")).as("p"))
          .select((-col("p._1")).as("h"), col("p._2").as("event_id"))
          .distinct()
          .orderBy(col("h"), col("event_id")).limit(K)
          .localCheckpoint(true)
      }
      parityCounts(s, streamedSketch, batchSketch, Seq("h", "event_id"),
        Seq("n_stream", "n_batch", "n_only_stream", "n_only_batch"))
    }))

  val oracles: Map[String, String] = Map(
    // The oracle rebuilds the batch-final session count in SQL; parity
    // forces n_stream to equal it and both anti-join residues to zero.
    "streaming_sessionize_parity" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, us,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                      OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         g AS (SELECT user_id, us,
                 CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
               FROM f),
         sess AS (SELECT user_id, session_id, COUNT(*) AS n_events,
                    MIN(us) // 1000 AS start_ms, MAX(us) // 1000 AS end_ms
                  FROM g GROUP BY user_id, session_id),
         wm AS (SELECT MAX(us) // 1000 - 7200000 AS wm_ms FROM e),
         bf AS (SELECT * FROM sess, wm WHERE end_ms + 1800000 < wm_ms)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
           CAST(COUNT(*) AS BIGINT) AS n_batch_final,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM bf""",
    // Parity forces the streamed emission count to equal the batch
    // distinct-fingerprint count and both residues to zero.
    "streaming_model_filter_parity" -> TextAnalysis.modelKeptParitySql,
    "streaming_bloom_filter_parity" -> DedupQueries.bloomFlagParitySql,
    "streaming_dedup_parity" ->
      """SELECT CAST(COUNT(DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_stream,
           CAST(COUNT(DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM documents""",
    "streaming_hourly_parity" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
         wm AS (SELECT MAX(us) // 1000 - 7200000 AS wm_ms FROM e),
         h AS (SELECT us // 3600000000 * 3600000 AS hour_ms, event_type,
                 COUNT(*) AS n FROM e GROUP BY 1, 2),
         bf AS (SELECT * FROM h, wm WHERE hour_ms + 3600000 <= wm_ms)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
           CAST(COUNT(*) AS BIGINT) AS n_batch_final,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM bf""",
    // The batch side of the attribution parity recomputed in SQL
    // (preceding-window running maxes at purchase grain, modeled final
    // watermark); residues pinned at zero.
    "streaming_attribution_parity" -> {
      val w = Events.ATTR_W_US
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, value
            FROM events),
         wm AS (SELECT MAX(us) // 1000 - $WATERMARK_DELAY_MS AS wm_ms FROM e),
         x AS (SELECT *,
             MAX(CASE WHEN event_type = 'click' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_c,
             MAX(CASE WHEN event_type = 'view' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_v
           FROM e),
         p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x, wm
               WHERE event_type = 'purchase' AND us < wm_ms * 1000)
         SELECT n AS n_stream, n AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream, CAST(0 AS BIGINT) AS n_only_batch
         FROM p"""
    },
    // The batch side of the funnel parity recomputed in SQL (same
    // stacked running-min windows as events_funnel_windowed, per-view
    // grain, modeled final watermark); residues pinned at zero.
    "streaming_funnel_parity" -> {
      val w = Events.FUNNEL_W_US
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         wm AS (SELECT MAX(us) // 1000 - $WATERMARK_DELAY_MS AS wm_ms FROM e),
         x AS (SELECT *,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
           FROM e),
         y AS (SELECT *,
             MIN(CASE WHEN event_type = 'click' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_c,
             MIN(CASE WHEN event_type = 'click' AND next_p IS NOT NULL
                   AND next_p - us <= $w THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_cc
           FROM x),
         pv AS (SELECT user_id, event_id FROM y, wm
                WHERE event_type = 'view' AND us + ${2 * w} < wm_ms * 1000)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM pv"""
    },
    "streaming_join_parity" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_id, us AS v_us FROM e
               WHERE event_type = 'view'),
         j AS (SELECT purchase_id, view_id FROM p JOIN v USING (user_id)
               WHERE v_us < p_us AND v_us >= p_us - 3600000000)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM j""",
    "streaming_sessionwindow_parity" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, us,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                      OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         g AS (SELECT user_id, us,
                 CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
               FROM f),
         sess AS (SELECT user_id, session_id, COUNT(*) AS n_events,
                    MIN(us) // 1000 AS start_ms,
                    MAX(us) // 1000 + 1800000 AS end_ms
                  FROM g GROUP BY user_id, session_id),
         wm AS (SELECT MAX(us) // 1000 - 7200000 AS wm_ms FROM e),
         bf AS (SELECT * FROM sess, wm WHERE end_ms < wm_ms)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
           CAST(COUNT(*) AS BIGINT) AS n_batch_final,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM bf""",
    "streaming_resume_parity" ->
      """SELECT CAST(COUNT(DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_stream,
           CAST(COUNT(DISTINCT md5(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM documents""",
    "streaming_totals_parity" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_stream_users,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_batch_users,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM events""",
    // Exact-parity contract: both sides hold the same 256-row sketch
    // (events always exceed k), the residues pin set equality.
    "streaming_kmv_parity" ->
      """SELECT CAST(LEAST(256, COUNT(*)) AS BIGINT) AS n_stream,
           CAST(LEAST(256, COUNT(*)) AS BIGINT) AS n_batch,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
         FROM events""")
}
