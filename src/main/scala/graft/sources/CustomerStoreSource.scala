package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{CustomerSchema, CustomerStore}

/** The transactional customer store as a first-class DataSource V2
  * table — the SQL-addressable face of [[graft.pipeline.CustomerStore]]
  * (the reference's `customers` Postgres table, csv-crm-upload
  * database/database.go:15-20, served to Catalyst the way Delta/
  * Iceberg serve theirs):
  *
  * {{{
  *   spark.read.format("graft-store").option("path", dir).load()
  *     .filter($"id".between(lo, hi))            // zone-manifest prune
  *     .filter($"email" === "u7@example.com")    // bloom-manifest prune
  *   spark.read.format("graft-store").option("path", dir)
  *     .option("versionAsOf", 2).load()          // time travel
  * }}}
  *
  * Planning consults ONLY the store's metadata API (live-file list,
  * zone/bloom manifests, snapshot/feed resolution) — the
  * files-before-bytes discipline of every transactional format's scan:
  *
  *  - PARTITION PRUNE: an `uploaded = …` filter drops the other
  *    partition directory without listing its stats.
  *  - ZONE PRUNE: id comparisons intersect each file's
  *    [min_id, max_id] manifest entry; non-intersecting files are
  *    never opened ([[CustomerStore.zoneKeepFiles]]).
  *  - BLOOM PRUNE: email equality/IN probes each file's committed
  *    bloom words ([[CustomerStore.bloomKeepFiles]]); definite-miss
  *    files are never opened.
  *  - COLUMN PRUNE: the projected schema reaches the parquet page
  *    level (unrequested columns are not decoded).
  *  - DELETION VECTORS: planning reads the committed (file, email)
  *    tombstones once on the driver and hands each data-file reader
  *    its own file's emails to skip — merge-on-read.
  *
  * This current-snapshot scan is the store's one live-row reader:
  * [[CustomerStore.all]], `pending()`, the pending point/range/rect
  * reads and the commits' probes plan it over the calling store
  * ([[StoreRead]]), and read each row's data file from its `_file`
  * metadata column.
  *
  * History is served here and only here: [[CustomerStore.asOf]],
  * [[CustomerStore.asOfTimestamp]], [[CustomerStore.changeFeed]] and
  * [[CustomerStore.feedSince]] are reads of this connector.
  *
  * Time travel (`versionAsOf` / `timestampAsOf`): the version (a
  * timestamp through [[CustomerStore.versionAt]]) is resolved and
  * validated once, when the table is loaded ([[TimeTravel]]). The scan
  * plans the NEWEST snapshot checkpoint at or below the version plus
  * one delta partition replaying the feed `(snapshot, v]`; snapshot
  * readers drop emails the delta touches (any delta row outranks every
  * snapshot row), and the delta reader resolves per-email
  * last-writer-wins in memory. The delta is retention-bounded by
  * checkpoint cadence ([[CustomerStore.writeSnapshot]]), so the
  * in-memory resolution and the driver-side touched-email set are
  * metadata-scale, not table-scale.
  */
class CustomerStoreSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSinkProvider {
  override def shortName(): String = "graft-store"

  /** The STREAMING sink entry (`df.writeStream.format("graft-store")`):
    * Spark's resolution falls back to this V1 sink because the table
    * deliberately lacks STREAMING_WRITE (a per-task V2 streaming
    * writer could not stage the store's one atomic multi-file commit —
    * the same reason the batch path is a V1 bridge). Each micro-batch
    * is one idempotent-transaction insert, `txnInsert(appId, batchId)`
    * — the Delta sink recipe — so a restart's redelivered batch skips
    * instead of duplicating and the sink is exactly-once end to end.
    * `appId` comes from option("txnAppId") or, by default, a digest of
    * the checkpoint location (stable across restarts of the same
    * query; two queries with different checkpoints never collide).
    * Append output mode only: aggregate modes would require update
    * semantics this sink does not claim.
    */
  override def createSink(ctx: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-store sink supports Append output mode only, got $outputMode " +
        "(the sink is an insert commit log; use foreachBatch + txnMerge " +
        "for update semantics)")
    val path = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException("graft-store sink requires a path"))
    val app = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("txnAppId") => v
    }.getOrElse {
      val ck = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
      }.getOrElse(path)
      "sink-" + java.security.MessageDigest.getInstance("SHA-1")
        .digest(ck.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(16)
    }
    // option("merge", true): each micro-batch UPSERTS on the email key
    // (txnMerge) instead of insert-only — the streaming MERGE sink
    // Delta offers only through foreachBatch. Still Append output mode
    // (the merge key is in the DATA, not in engine update semantics).
    val merge = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("merge") => v.toBoolean
    }.getOrElse(false)
    // option("mergeSchema", true): Delta's sink option — batch columns
    // beyond the store schema auto-ADD (nullable, the addColumn path)
    // before the batch lands, for insert and merge modes alike. The
    // evolution step is guarded by the same txn fast-path as the data:
    // a restart's REPLAYED batch skips both, so redelivery can never
    // re-evolve or double-commit.
    val mergeSchema = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
    }.getOrElse(false)
    new CustomerStoreSink(path, app, merge, mergeSchema)
  }

  /** The writer-API entry (`df.write.format("graft-store")`):
    * DataFrameWriter.save routes a V1_BATCH_WRITE table through the
    * V1 CreatableRelationProvider bridge (its V2 branch requires full
    * BATCH_WRITE — a per-task writer that could not stage the store's
    * one atomic multi-file commit), so this delegates to the SAME
    * [[CustomerStore.insertNew]] the SQL INSERT path uses. Append
    * inserts with UNIQUE first-wins dedup; ErrorIfExists/Ignore honor
    * their contracts against "store has any commit"; Overwrite is
    * rejected — the store is an append/merge/delete commit log.
    */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val path = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException("graft-store requires a path"))
    require(!parameters.keys.exists(k => k.equalsIgnoreCase("versionAsOf") ||
        k.equalsIgnoreCase("timestampAsOf")),
      "graft-store: a time-travel table is read-only")
    val store = new CustomerStore(data.sparkSession, path)
    // insertNew aligns the batch to the store's CURRENT (possibly
    // evolved) schema — missing evolved columns insert as NULLs.
    def doInsert(): Unit = store.insertNew(data): Unit
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Append => doInsert()
      case ErrorIfExists =>
        if (store.currentVersion() > 0L)
          throw new IllegalStateException(s"graft-store at $path already has commits")
        doInsert()
      case Ignore => if (store.currentVersion() == 0L) doInsert()
      case Overwrite =>
        throw new UnsupportedOperationException(
          "graft-store: overwrite is not supported — the store is an " +
            "append/merge/delete commit log (use delete + insert, or RESTORE)")
    }
    new BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = CustomerStore.schemaAt(path)
    }
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("history", false)) CustomerStore.historySchema
    else if (options.getBoolean("detail", false)) CustomerStore.detailSchema
    else if (options.containsKey("feedFrom") ||
        options.containsKey("feedFromTimestamp"))
      CustomerStore.changeSchemaAt(options.get("path"))
    else CustomerStore.schemaAt(options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-store requires a path")
    val versionAsOf = Option(properties.get("versionAsOf")).map(_.toLong)
    val timestampAsOf = Option(properties.get("timestampAsOf")).map(_.toLong)
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "graft-store: versionAsOf and timestampAsOf are mutually exclusive")
    // Metadata tables: DESCRIBE HISTORY / DESCRIBE DETAIL as reads —
    // `option("history", true)` serves the commit log, `option(
    // "detail", true)` the one-row table summary. Exclusive with every
    // data-read option (time travel / CDC / admission control).
    val wantHistory = java.lang.Boolean.parseBoolean(
      String.valueOf(properties.getOrDefault("history", "false")))
    val wantDetail = java.lang.Boolean.parseBoolean(
      String.valueOf(properties.getOrDefault("detail", "false")))
    if (wantHistory || wantDetail) {
      require(!(wantHistory && wantDetail),
        "graft-store: history and detail are mutually exclusive")
      require(versionAsOf.isEmpty && timestampAsOf.isEmpty &&
          properties.get("feedFrom") == null &&
          properties.get("feedFromTimestamp") == null &&
          properties.get("feedTo") == null,
        "graft-store: a metadata read (history/detail) takes no " +
          "time-travel or change-feed options")
      return new CustomerStoreMetaTable(path,
        if (wantHistory) "history" else "detail")
    }
    val feedFromV = Option(properties.get("feedFrom")).map(_.toLong)
    // Timestamp-addressed feed start (Delta's startingTimestamp): every
    // commit whose registry timestamp is AT OR AFTER the given millis is
    // served, resolved ONCE at planning through the `_commits` registry
    // (which survives vacuum, so the resolution itself never needs the
    // retired dirs — the downstream low-watermark check still rejects a
    // range the feed can no longer serve, loudly).
    val feedFromTs = Option(properties.get("feedFromTimestamp")).map(_.toLong)
    require(feedFromV.isEmpty || feedFromTs.isEmpty,
      "graft-store: feedFrom and feedFromTimestamp are mutually exclusive")
    // Commit timestamps are integer millis, so "before ts" is "at or
    // before ts - 1" (and nothing is before Long.MinValue).
    val feedFrom = feedFromV.orElse(feedFromTs.map { ts =>
      if (ts == Long.MinValue) 0L
      else new CustomerStore(SparkSession.active, path).versionAt(ts - 1)
    })
    val feedTo = Option(properties.get("feedTo")).map(_.toLong)
    val maxCommits = Option(properties.get("maxCommitsPerTrigger")).map(_.toLong)
    val maxBytes = Option(properties.get("maxBytesPerTrigger")).map(_.toLong)
    val maxRows = Option(properties.get("maxRowsPerTrigger")).map(_.toLong)
    if (feedFrom.isDefined || feedTo.isDefined) {
      require(feedFrom.isDefined,
        "graft-store: feedTo requires feedFrom (the exclusive lower version) " +
          "or feedFromTimestamp")
      require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
        "graft-store: a change-feed read and time travel are mutually exclusive")
      require(maxCommits.forall(_ >= 1L),
        "graft-store: maxCommitsPerTrigger must be >= 1")
      require(maxBytes.forall(_ >= 1L),
        "graft-store: maxBytesPerTrigger must be >= 1")
      require(maxRows.forall(_ >= 1L),
        "graft-store: maxRowsPerTrigger must be >= 1")
      new CustomerStoreChangesTable(path, feedFrom.get, feedTo, maxCommits,
        maxBytes, maxRows)
    } else {
      require(maxCommits.isEmpty && maxBytes.isEmpty && maxRows.isEmpty,
        "graft-store: maxCommitsPerTrigger/maxBytesPerTrigger/" +
          "maxRowsPerTrigger apply to change-feed reads (feedFrom)")
      new CustomerStoreTable(path, versionAsOf, timestampAsOf)
    }
  }
}

/** CHANGE DATA FEED served through the connector (the `table_changes`
  * read every transactional format exposes):
  *
  * {{{
  *   spark.read.format("graft-store").option("path", dir)
  *     .option("feedFrom", 1)          // exclusive lower version
  *     .option("feedTo", 3)            // inclusive upper (default: head)
  *     .load()                         // commit_version, change_type, <row>
  * }}}
  *
  * Planning lists the per-commit feed directories in `(from, to]` —
  * one input partition per commit, so a consumer's catch-up read opens
  * exactly its lag, never the table or the feed's history. Batch
  * planning reads the store's metadata files only and builds no
  * [[CustomerStore]] (so runs no recovery): the store's commit-point
  * conflict check reads the interleaved feed through it while holding
  * the promotion lock. Rows are
  * the feed verbatim: post-images tagged insert/update/ack, `_pre`
  * retractions, `delete_pre` tombstones. Read-only by construction.
  * A range starting below the feed low-watermark (vacuumed commits)
  * fails LOUDLY — never a silent partial feed.
  *
  * ALSO a STREAMING source (the Delta-streaming-source analog):
  * {{{
  *   spark.readStream.format("graft-store").option("path", dir)
  *     .option("feedFrom", v)                 // resume point, exclusive
  *     .option("maxCommitsPerTrigger", 10)    // optional admission control
  *     .load()
  * }}}
  * Offsets ARE commit versions — the checkpointed offset log and the
  * store's version counter speak the same coordinate, so a consumer
  * follows commits exactly-once across restarts without knowing the
  * `_changelog/` layout. Each micro-batch serves whole commits (one
  * input partition per commit dir); `Trigger.AvailableNow` pins the
  * head at start and drains up to it in maxCommitsPerTrigger-sized
  * batches.
  */
class CustomerStoreChangesTable(path: String, fromExclusive: Long,
    toInclusive: Option[Long], maxCommitsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft_store_changes($path)"
  override def schema(): StructType = CustomerStore.changeSchemaAt(path)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = CustomerStore.changeSchemaAt(path)
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new StoreChangesScan(path, fromExclusive, toInclusive, required,
          maxCommitsPerTrigger, maxBytesPerTrigger, maxRowsPerTrigger)
    }
}

class StoreChangesScan(path: String, fromExclusive: Long,
    toInclusive: Option[Long], required: StructType,
    maxCommitsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new StoreChangesMicroBatchStream(path, fromExclusive, toInclusive,
      required, maxCommitsPerTrigger, maxBytesPerTrigger, maxRowsPerTrigger)
  private lazy val dirs: Seq[(Long, String)] =
    CustomerStore.feedDirsAt(path, fromExclusive,
      toInclusive.getOrElse(CustomerStore.currentVersionAt(path)))
  override def planInputPartitions(): Array[InputPartition] =
    dirs.map { case (_, d) => StoreChangesPartition(d): InputPartition }.toArray
  /** The feed files in range: their bytes and footer row counts. */
  override def estimateStatistics(): Statistics =
    StoreScanStats(dirs.flatMap { case (_, d) => ParquetGroups.parquetFilesIn(d) })
  override def createReaderFactory(): PartitionReaderFactory =
    StoreChangesReaderFactory(required.fieldNames,
      CustomerStore.physicalMapAt(path),
      required.fields.map(f => f.name -> f.dataType).toMap)
  override def description(): String =
    s"GraftStoreChanges path=$path, commits=(${fromExclusive}, " +
      s"${toInclusive.map(_.toString).getOrElse("head")}], dirs=${dirs.size}, " +
      s"ReadSchema: ${required.simpleString}"
}

/** Stream offset = the store's commit version (exclusive upper bound of
  * what has been served) — one coordinate shared by the checkpoint log,
  * the `feedFrom` option, and [[CustomerStore.currentVersion]].
  */
case class StoreFeedOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** The change feed as a MICRO-BATCH STREAM: each batch is the commit
  * range `(start, end]` planned as one input partition per commit dir
  * (whole commits, never a partial one — the feed's atomicity grain).
  * Admission control caps a batch at `maxCommitsPerTrigger` commits;
  * `Trigger.AvailableNow` pins the head version at query start and the
  * wrapper drains to exactly that point. A restart whose checkpointed
  * offset predates the feed low-watermark (vacuumed commits) fails
  * loudly at planning — a streaming consumer must never silently skip
  * changes it can no longer read.
  */
class StoreChangesMicroBatchStream(path: String, fromExclusive: Long,
    toInclusive: Option[Long], required: StructType,
    maxCommitsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  private def store = new CustomerStore(SparkSession.active, path)

  /** Head version this stream may serve up to right now (feedTo-capped). */
  private def headVersion(): Long = {
    val head = store.currentVersion()
    toInclusive.fold(head)(math.min(_, head))
  }

  // Trigger.AvailableNow: pin the drain target once at query start.
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion())

  override def initialOffset(): SOffset = StoreFeedOffset(fromExclusive)
  override def deserializeOffset(json: String): SOffset =
    StoreFeedOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): SOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val from = start.asInstanceOf[StoreFeedOffset].version
    val target = availableNowCap.getOrElse(headVersion())
    val commitCapped = maxCommitsPerTrigger match {
      case Some(cap) => math.min(target, from + cap)
      case None => target
    }
    StoreFeedOffset(
      if ((maxBytesPerTrigger.isEmpty && maxRowsPerTrigger.isEmpty) ||
          commitCapped <= from) commitCapped
      else {
        // Bytes/rows-grain admission (the Delta-source knobs the
        // commits-only cap lacks): admit WHOLE commits — the feed's
        // atomicity grain — while every present budget remains, always
        // at least one, so a bulk commit larger than a cap ships alone
        // rather than stalling. Feed-silent commits (compact, DDL)
        // have no dir and cost 0. Bytes come from file lengths, rows
        // from parquet footers — both driver-side metadata consults
        // proportional to the admitted lag, never a data read.
        val st = store
        val dirs = st.feedDirsIn(from, commitCapped).toMap
        def files(v: Long): Seq[java.io.File] = dirs.get(v)
          .flatMap(d => Option(new java.io.File(d).listFiles()))
          .fold(Seq.empty[java.io.File])(_.toSeq)
        val sizes = dirs.keys.map(v => v -> files(v).map(_.length()).sum).toMap
        def rowsOf(v: Long): Long = st.parquetRowCount(
          files(v).filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath))
        var v = from
        var bytes = 0L
        var rows = 0L
        while (v < commitCapped &&
            (v == from ||
              (maxBytesPerTrigger.forall(bytes < _) &&
                maxRowsPerTrigger.forall(rows < _)))) {
          v += 1
          bytes += sizes.getOrElse(v, 0L)
          if (maxRowsPerTrigger.isDefined) rows += rowsOf(v)
        }
        v
      })
  }

  override def reportLatestOffset(): SOffset = StoreFeedOffset(headVersion())

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[StoreFeedOffset].version
    val e = end.asInstanceOf[StoreFeedOffset].version
    // feedDirsIn rejects a range below the low-watermark — the loud
    // lost-changes failure; feed-silent commits (compact) simply plan
    // no partition for their version.
    store.feedDirsIn(s, e)
      .map { case (_, d) => StoreChangesPartition(d): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StoreChangesReaderFactory(required.fieldNames,
      CustomerStore.physicalMapAt(path),
      required.fields.map(f => f.name -> f.dataType).toMap)

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String =
    s"GraftStoreChangesStream(path=$path, feedFrom=$fromExclusive, " +
      s"feedTo=${toInclusive.map(_.toString).getOrElse("head")})"
}

case class StoreChangesPartition(dir: String) extends InputPartition

case class StoreChangesReaderFactory(required: Array[String],
    phys: Map[String, String] = Map.empty,
    types: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      // Feed files store PHYSICAL column names (column mapping):
      // translate the requested logical names at the file boundary;
      // positions are preserved so the projected row is unchanged.
      // Logical types ride along so an int evolved column decodes to
      // its exact Int (type-widening twin of the data readers);
      // readAll's values are owned, so rows wrap them uncopied.
      private val it: Iterator[Array[Any]] =
        ParquetGroups.parquetFilesIn(
          partition.asInstanceOf[StoreChangesPartition].dir)
          .iterator.flatMap(f => ParquetGroups.readAll(
            f, required.toSeq.map(c => phys.getOrElse(c, c)),
            required.toSeq.flatMap(c =>
              types.get(c).map(phys.getOrElse(c, c) -> _)).toMap))
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        current = InternalRow.fromSeq(it.next().toIndexedSeq)
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** DESCRIBE HISTORY / DESCRIBE DETAIL through the connector: tiny
  * metadata tables resolved DRIVER-SIDE at scan planning (the history
  * is O(commits) registry entries, the detail one row — embedding the
  * resolved rows in the single input partition costs less than any
  * executor round trip) and never opening a data file beyond the
  * manifest consults [[CustomerStore.detail]] itself does.
  *
  * {{{
  *   spark.read.format("graft-store").option("path", dir)
  *     .option("history", true).load()   // commit_version, commit_ts,
  *                                       // operation, n_change_rows
  *   spark.read.format("graft-store").option("path", dir)
  *     .option("detail", true).load()    // one-row table summary
  * }}}
  */
class CustomerStoreMetaTable(path: String, which: String)
    extends Table with SupportsRead {
  private def metaSchema: StructType =
    if (which == "history") CustomerStore.historySchema
    else CustomerStore.detailSchema
  override def name(): String = s"graft_store_$which($path)"
  override def schema(): StructType = metaSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = metaSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = {
          val store = new CustomerStore(SparkSession.active, path)
          val df = if (which == "history") store.history() else store.detail()
          val rows = df.collect().toSeq.map { r =>
            required.fieldNames.toSeq.map(n =>
              org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(
                r.get(r.fieldIndex(n))))
          }
          Array(StoreMetaPartition(rows))
        }
        override def createReaderFactory(): PartitionReaderFactory =
          StoreMetaReaderFactory
        override def description(): String =
          s"GraftStoreMeta($which) path=$path, " +
            s"ReadSchema: ${required.simpleString}"
      }
    }
}

/** Metadata rows, already in Catalyst's internal representation. */
case class StoreMetaPartition(rows: Seq[Seq[Any]]) extends InputPartition

object StoreMetaReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it =
        partition.asInstanceOf[StoreMetaPartition].rows.iterator
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        current = InternalRow.fromSeq(it.next())
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** A current-snapshot read a [[CustomerStore]] plans over itself
  * ([[CustomerStore.all]] and the store's pending reads and commit
  * probes): the live files pinned when the read was defined, and the
  * data files (basenames) the store's own consult restricts it to. No
  * second store is built and no recovery runs while it plans.
  */
final case class StoreRead(store: CustomerStore, live: CustomerStore.LiveFiles,
    only: Option[Set[String]])

/** The store as a DSv2 table. A provider or catalog load builds one
  * [[CustomerStore]] for the table (at its first use); the store's own
  * reads pass themselves in `own`. A current-snapshot table serves each
  * row's data file as the `_file` metadata column (Iceberg's `_file`
  * contract): hidden from `SELECT *`, resolved when referenced.
  */
class CustomerStoreTable(val path: String, val versionAsOf: Option[Long],
    val timestampAsOf: Option[Long], own: Option[StoreRead] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private lazy val store: CustomerStore =
    own.fold(new CustomerStore(SparkSession.active, path))(_.store)
  /** The time-travel target, resolved and validated once, at load: a
    * version the retained history cannot reconstruct (or a timestamp a
    * registry-less store cannot date) fails when the read is defined.
    */
  private val travel: Option[TimeTravel] =
    if (versionAsOf.isEmpty && timestampAsOf.isEmpty) None
    else Some(TimeTravel(store, versionAsOf.getOrElse(store.versionAt(timestampAsOf.get))))
  override def name(): String = s"graft_store($path)"
  /** The store's schema; the store's own reads present their rows the
    * way its data files read back, every column nullable and free of
    * field metadata, so rows they write back keep the files' schemas.
    */
  override def schema(): StructType = {
    val s = CustomerStore.schemaAt(path)
    if (own.isEmpty) s
    else StructType(s.fields.map(f => StructField(f.name, f.dataType, nullable = true)))
  }
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (travel.isEmpty) Array(CustomerStoreTable.FileMetadata) else Array.empty
  // AUTOMATIC_SCHEMA_EVOLUTION gates `MERGE WITH SCHEMA EVOLUTION`:
  // Spark's MergeIntoTable.schemaEvolutionEnabled is the AND of the
  // statement keyword and this capability (keyword alone does nothing,
  // capability alone never evolves a plain MERGE). The analyzer's
  // ResolveMergeIntoSchemaEvolution then routes the missing-column ADDs
  // through GraftStoreCatalog.alterTable — the store's addColumn path.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CustomerStoreScanBuilder(store, travel, own)

  /** SQL `DELETE FROM graft_store.\`path\` WHERE …` — the row-level
    * mutation face of the same merge-on-read machinery the API's
    * [[CustomerStore.delete]] drives: the condition (already split into
    * source filters by Catalyst and V2→V1-bridged by [[SupportsDelete]])
    * selects victim EMAILS from the current snapshot — a read that
    * itself zone/bloom-prunes — and the store stages ONE deletion-vector
    * commit: (file, email) tombstones plus `delete_pre` feed rows, no
    * data file rewritten. `canDeleteWhere` admits exactly the
    * predicates [[CustomerStoreDelete.toColumn]] can express; anything
    * else (e.g. `id % 7 = 0`) is rejected at plan time and no commit
    * happens — there is no silent full-scan fallback that would turn a
    * metadata-scale operation into a table rewrite at 100 TB.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    travel.isEmpty && filters.forall(f => CustomerStoreDelete.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(travel.isEmpty,
      "graft-store: a time-travel table is read-only")
    val cond = filters.iterator
      .map(f => CustomerStoreDelete.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-store DELETE: unsupported predicate $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    store.delete(store.all().filter(cond)
      .select(org.apache.spark.sql.functions.col("email"))): Unit
  }

  /** APPEND through the store's own commit protocol: the write routes
    * to [[CustomerStore.insertNew]] — UNIQUE(id)/UNIQUE(email)
    * first-wins dedup, one staged atomic commit, feed + stats
    * manifests, version + 1 — so `df.write.format("graft-store")` and
    * SQL `INSERT INTO` are the SAME operation as the API insert, not a
    * bypass. The V1 write bridge is deliberate: the store's commit is
    * driver-orchestrated Spark jobs (anti-join dedup, staged rename),
    * exactly what InsertableRelation hands us; a per-task DataWriter
    * could not stage one atomic multi-file commit. Overwrite and
    * writes against a time-travel read are rejected loudly.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(travel.isEmpty,
      "graft-store: a time-travel table is read-only")
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "graft-store: overwrite is not supported — the store is an " +
                  "append/merge/delete commit log (use delete + insert, or RESTORE)")
              store.insertNew(data): Unit
            }
          }
      }
    }
  }
}

object CustomerStoreTable {
  /** The metadata column carrying each row's data file (absolute path). */
  val FileColumn = "_file"

  private[sources] object FileMetadata extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColumn
    override def dataType(): DataType = StringType
    override def isNullable(): Boolean = false
    override def comment(): String = "the data file holding the row"
  }
}

/** The streaming micro-batch sink: each addBatch is ONE idempotent
  * store transaction keyed (appId, batchId), so the engine's
  * redelivery after a crash between the store commit and the
  * checkpoint advance is a registry-checked no-op — the exactly-once
  * contract [[graft.pipeline.CustomerStore.txnInsert]] exists for. A
  * batch carrying only the ingest columns is enriched (work-queue
  * flag + timestamps) exactly like the CSV data plane; a batch that
  * already carries them (e.g. replaying a feed) lands as given.
  */
private[sources] class CustomerStoreSink(path: String, appId: String,
    merge: Boolean = false, mergeSchema: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val s = data.sparkSession
    // De-stream the incremental frame (the ForeachBatchSink shim):
    // insertNew runs batch operations over it (dedup joins, checkpoint
    // pins) that the streaming-flagged plan would reject.
    val pinned = org.apache.spark.sql.graft.MicroBatch.asBatch(data)
    val batch =
      if (pinned.columns.contains("uploaded")) pinned
      else graft.pipeline.Ingest.enrich(pinned)
    val store = new CustomerStore(s, path)
    // Auto-evolution rides the txn fast-path guard: a replayed batch
    // (latest recorded txn at or past this batchId) must skip the
    // schema commits exactly like it skips the data commit.
    if (mergeSchema && !store.latestTxnVersion(appId).exists(_ >= batchId))
      store.evolveToInclude(batch): Unit
    if (merge) store.txnMerge(appId, batchId, batch): Unit
    else store.txnInsert(appId, batchId, batch): Unit
  }
  override def toString: String =
    s"CustomerStoreSink($path, $appId, merge=$merge, mergeSchema=$mergeSchema)"
}

/** Catalog plugin: register once per session
  * (`spark.conf.set("spark.sql.catalog.graft_store",
  * "graft.sources.GraftStoreCatalog")` — catalogs resolve lazily, so a
  * runtime conf set suffices) and every store directory is a SQL table
  * name:
  *
  * {{{
  *   SELECT * FROM graft_store.`/data/customers/store`
  *   SELECT * FROM graft_store.`…` VERSION AS OF 2
  *   SELECT * FROM graft_store.`…` TIMESTAMP AS OF '1970-01-01 …'
  *   INSERT INTO graft_store.`…` SELECT …
  * }}}
  *
  * The identifier's name IS the store path (the `delta.`/path``
  * convention). `VERSION AS OF` / `TIMESTAMP AS OF` route through the
  * same reconstruction as the reader options (timestamps arrive in
  * MICROseconds from Spark and the store's commit registry keeps
  * millis). `ALTER TABLE ADD/RENAME/DROP COLUMN` routes to the
  * store's column-mapping evolution (see [[alterTable]]); all other
  * DDL (create/drop/rename TABLE, retypes) is intentionally
  * unsupported — stores are created by their first commit.
  */
class GraftStoreCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _

  /** Maintenance verbs as SQL stored procedures (see
    * [[StoreProcedures]]): `CALL graft_store.compact('/path')` etc.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    StoreProcedures.load(ident)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    StoreProcedures.list()
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    new java.io.File(pathOf(ident)).isDirectory

  override def loadTable(ident: Identifier): Table =
    new CustomerStoreTable(pathOf(ident), None, None)
  override def loadTable(ident: Identifier, version: String): Table =
    new CustomerStoreTable(pathOf(ident), Some(version.toLong), None)
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    new CustomerStoreTable(pathOf(ident), None, Some(timestampMicros / 1000L))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    throw new UnsupportedOperationException(
      "graft_store catalog: tables are store paths; listing is not supported")
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft_store catalog: stores are created by their first commit, not DDL")
  /** `ALTER TABLE graft_store.\`/path\`` routed to the store's
    * column-mapping DDL: ADD COLUMN (appended, nullable),
    * RENAME COLUMN (metadata-only — the physical name in files never
    * changes), DROP COLUMN (metadata-only, no resurrection on re-add).
    * Everything else — retypes, NOT NULL adds, positioned adds, nested
    * fields, comments, properties — is rejected loudly: the store's
    * evolution surface is exactly what its readers can serve without a
    * rewrite.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val store = new graft.pipeline.CustomerStore(
      SparkSession.active, pathOf(ident))
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft_store ALTER: nested fields are not supported (flat schema)")
        require(a.isNullable,
          "graft_store ALTER: added columns must be nullable (pre-evolution " +
            "rows read as NULL; a NOT NULL add would be instantly violated)")
        require(a.position() == null,
          "graft_store ALTER: positioned adds are not supported (columns append)")
        store.addColumn(a.fieldNames()(0), a.dataType()): Unit
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft_store ALTER: nested fields are not supported (flat schema)")
        store.renameColumn(r.fieldNames()(0), r.newName()): Unit
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft_store ALTER: nested fields are not supported (flat schema)")
        if (!d.ifExists() ||
            store.tableSchema.fieldNames.exists(_.equalsIgnoreCase(d.fieldNames()(0))))
          store.dropColumn(d.fieldNames()(0)): Unit
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft_store ALTER: nested fields are not supported (flat schema)")
        // Lossless type widening only (int → bigint); widenColumn
        // refuses anything lossy or structural.
        store.widenColumn(u.fieldNames()(0), u.newDataType()): Unit
      case other =>
        throw new UnsupportedOperationException(
          s"graft_store catalog: ALTER change ${other.getClass.getSimpleName} " +
            "is not supported (only ADD/RENAME/DROP COLUMN and lossless " +
            "ALTER COLUMN TYPE widening — anything else would require " +
            "rewriting committed files)")
    }
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft_store catalog: DROP is not supported")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft_store catalog: RENAME is not supported")
}

/** DELETE-condition translation: V1 source [[Filter]]s → a [[Column]]
  * over the store's flat schema. Total over the filter grammar a DELETE
  * can reach (comparisons, IN, null tests, string prefix/suffix/
  * contains, NOT/AND/OR); returns None for anything else so
  * `canDeleteWhere` refuses instead of guessing.
  */
private[sources] object CustomerStoreDelete {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case Not(c) => toColumn(c).map(!_)
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

class CustomerStoreScanBuilder(store: CustomerStore, travel: Option[TimeTravel],
    own: Option[StoreRead] = None) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private val path = store.path
  private var required: StructType = CustomerStore.schemaAt(path)
  private var pushed: Array[Filter] = Array.empty
  private var aggPush: Option[StoreAggPush] = None
  // supportCompletePushDown is called BEFORE pushAggregation by
  // V2ScanRelationPushDown, so both evaluate eligibility through the
  // same resolver; the reference-keyed memo keeps it to one manifest
  // consult per planned aggregation.
  private var resolvedMemo: Option[(Aggregation, Option[StoreAggPush])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Evolved numeric columns (the "physical" metadata marks evolution)
  // accept pushed comparisons too: kind='e' zone pruning + exact
  // reader-side re-evaluation.
  private val evoNumCols: Set[String] =
    CustomerStore.schemaAt(path).fields.collect {
      case f if f.metadata.contains("physical") &&
          (f.dataType == org.apache.spark.sql.types.LongType ||
           f.dataType == org.apache.spark.sql.types.IntegerType) => f.name
    }.toSet

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition(f =>
      CustomerStoreScan.supported(f) ||
        CustomerStoreScan.evolvedSupported(evoNumCols, f))
    pushed = sup
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** AGGREGATE PUSHDOWN: COUNT(*) / MIN(id) / MAX(id) over the current
    * state — ungrouped or GROUP BY `uploaded`, optionally under a
    * PARTITION predicate (`WHERE uploaded = v`, the work-queue count) —
    * answer from the ZONE MANIFEST ALONE; `uploaded` IS the partition
    * directory, so per-partition manifest sums serve the filtered and
    * grouped shapes exactly like the global one, and no data file is
    * opened (the Delta/Iceberg metadata-only-count shape). The consult
    * refuses whenever it could not be EXACT: any non-partition filter,
    * any other grouping, time travel, live deletion vectors (a
    * tombstoned row may hold the extremum), or a live file without
    * zone coverage — Spark then plans the ordinary scan + aggregate, a
    * correct answer at data cost, never a wrong one at manifest cost.
    * Pushdown is COMPLETE (the values are global, not partial), so no
    * final re-aggregation is planned.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    resolveAggregation(aggregation).isDefined
  override def pushAggregation(aggregation: Aggregation): Boolean =
    resolveAggregation(aggregation) match {
      case Some(p) => aggPush = Some(p); true
      case None => false
    }

  private def resolveAggregation(aggregation: Aggregation): Option[StoreAggPush] = {
    resolvedMemo match {
      case Some((a, r)) if a eq aggregation => r
      case _ =>
        val r = doResolve(aggregation)
        resolvedMemo = Some((aggregation, r))
        r
    }
  }

  private def doResolve(aggregation: Aggregation): Option[StoreAggPush] = {
    // The manifest answers for the whole live table, not a file subset.
    if (travel.nonEmpty || own.exists(_.only.nonEmpty)) return None
    // The one pushed-filter shape that stays manifest-exact: the
    // partition predicate. Anything else refuses to the data path.
    val partitionOnly = pushed.forall {
      case EqualTo("uploaded", _: java.lang.Boolean) => true
      case Not(EqualTo("uploaded", _: java.lang.Boolean)) => true
      case IsNotNull("uploaded") => true
      case _ => false
    }
    if (!partitionOnly) return None
    val wantPart: Option[Boolean] = CustomerStoreScan.uploadedEq(pushed)
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
        name: String): Boolean = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.toSeq == Seq(name)
      case _ => false
    }
    val grouped = aggregation.groupByExpressions().toSeq match {
      case Seq() => false
      case Seq(g) if isCol(g, "uploaded") => true
      case _ => return None
    }
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val funcs = aggregation.aggregateExpressions().toSeq
    // MIN/MAX are manifest-servable on `id` (the zone manifest) and on
    // EVOLVED numeric columns (the kind='e' manifest — statistics
    // follow the schema); anything else refuses to the data path.
    val ok = funcs.nonEmpty && funcs.forall {
      case _: CountStar => true
      case m: Min => m.column() match {
        case c if isCol(c, "id") => true
        case c => colName(c).exists(evoNumCols)
      }
      case m: Max => m.column() match {
        case c if isCol(c, "id") => true
        case c => colName(c).exists(evoNumCols)
      }
      case _ => false
    }
    if (!ok) return None
    val live = own.fold(store.liveFiles())(_.live)
    val phys = CustomerStore.physicalMapAt(path)
    // Resolve every consult ONCE per referenced surface.
    val idAggs = store.manifestAggregatesGrouped(live).getOrElse(return None)
    val evoCols: Seq[String] = funcs.flatMap {
      case m: Min => colName(m.column()).filter(evoNumCols)
      case m: Max => colName(m.column()).filter(evoNumCols)
      case _ => None
    }.distinct
    val evoExtrema: Map[String, Seq[(Boolean, Option[Long], Option[Long])]] =
      evoCols.map { c =>
        c -> store.manifestEvolvedExtremaGrouped(phys(c), live).getOrElse(return None)
      }.toMap
    val groups: Seq[Boolean] = {
      val gs = idAggs.map(_._1)
      wantPart.fold(gs)(w => gs.filter(_ == w))
    }
    def funcVal(f: AggregateFunc, u: Boolean): Option[Long] = f match {
      case _: CountStar => idAggs.find(_._1 == u).map(_._2)
      case m: Min if isCol(m.column(), "id") => idAggs.find(_._1 == u).flatMap(_._3)
      case m: Max if isCol(m.column(), "id") => idAggs.find(_._1 == u).flatMap(_._4)
      case m: Min => evoExtrema(colName(m.column()).get).find(_._1 == u).flatMap(_._2)
      case m: Max => evoExtrema(colName(m.column()).get).find(_._1 == u).flatMap(_._3)
      case other => throw new IllegalStateException(s"unexpected pushed agg $other")
    }
    if (grouped)
      Some(StoreAggPush(funcs, grouped = true, wantPart,
        groups.map(u => (Some(u): Option[Boolean], funcs.map(funcVal(_, u))))))
    else {
      // Fold the (≤2) per-partition rows into the one global row; an
      // empty selection is the honest COUNT=0 / null-extrema row.
      val folded = funcs.map { f =>
        val vs = groups.flatMap(u => funcVal(f, u))
        f match {
          case _: CountStar => Some(vs.sum)
          case _: Min => vs.minOption
          case _: Max => vs.maxOption
          case other => throw new IllegalStateException(s"unexpected pushed agg $other")
        }
      }
      Some(StoreAggPush(funcs, grouped = false, wantPart, Seq((None, folded))))
    }
  }

  override def build(): Scan = aggPush match {
    case Some(p) => new CustomerStoreAggScan(path, p)
    case None =>
      new CustomerStoreScan(store, travel, required, pushed, own)
  }
}

/** A completely-pushed manifest aggregation: one (group, per-func
  * values) row per non-empty partition group (one ungrouped row when
  * `grouped` is false), optionally under a pushed partition predicate,
  * fully resolved at pushdown time — values align with `funcs` by
  * position.
  */
case class StoreAggPush(funcs: Seq[AggregateFunc], grouped: Boolean,
    partFilter: Option[Boolean],
    rows: Seq[(Option[Boolean], Seq[Option[Long]])])

/** The metadata-only scan a completely-pushed aggregation plans to:
  * values were resolved from the zone manifest at pushdown time; no
  * data file is opened at any point (pinned by the truncation checks
  * in CustomerStoreSourceSpec and the driver gates). Grouped output
  * leads with the `uploaded` group column — the V2 pushdown contract's
  * positional (groupBy ++ aggregates) schema.
  */
class CustomerStoreAggScan(path: String, push: StoreAggPush)
    extends Scan with Batch {

  private def aggColName(
      e: org.apache.spark.sql.connector.expressions.Expression): String =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames().mkString("_")
      case other => other.toString
    }
  override def readSchema(): StructType = StructType(
    (if (push.grouped)
      Seq(StructField("uploaded", BooleanType, nullable = false))
    else Nil) ++
      push.funcs.map {
        case _: CountStar => StructField("count_star", LongType, nullable = false)
        case m: Min =>
          StructField(s"min_${aggColName(m.column())}", LongType, nullable = true)
        case m: Max =>
          StructField(s"max_${aggColName(m.column())}", LongType, nullable = true)
        case other => throw new IllegalStateException(s"unexpected pushed agg $other")
      })
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(StoreAggPartition(push.rows))
  override def createReaderFactory(): PartitionReaderFactory = StoreAggReaderFactory
  override def description(): String =
    s"GraftStore path=$path, PushedAggregates: [${push.funcs.mkString(", ")}]" +
      (if (push.grouped) ", PushedGroupBy: [uploaded]" else "") +
      push.partFilter.map(v => s", PushedFilters: [EqualTo(uploaded,$v)]").getOrElse("") +
      ", manifest-only (no data files opened)"
}

case class StoreAggPartition(
    rows: Seq[(Option[Boolean], Seq[Option[Long]])]) extends InputPartition

object StoreAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[StoreAggPartition].rows.iterator
      private var current: (Option[Boolean], Seq[Option[Long]]) = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        current = it.next()
        true
      }
      override def get(): InternalRow = {
        val (group, vals) = current
        val n = group.size + vals.length
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n)
        group.foreach(row.setBoolean(0, _))
        val off = group.size
        vals.zipWithIndex.foreach {
          case (Some(v), i) => row.setLong(off + i, v)
          case (None, i) => row.setNullAt(off + i)
        }
        row
      }
      override def close(): Unit = ()
    }
}

object CustomerStoreScan {
  /** A planned file set: the input partitions, the files they open,
    * the live files of the partitions the read addresses (its
    * partition predicate, before every other prune) and all live files.
    */
  private final case class Planned(parts: Array[InputPartition], kept: Int,
      inPartition: Int, total: Int)

  /** Above this, a runtime email IN-set skips the per-value bloom
    * probe (the id zone envelope still prunes) — the probe costs
    * manifest-rows × set-size on the driver, and a huge set rarely
    * eliminates a bloom anyway.
    */
  val RuntimeBloomProbeMax = 4096

  /** Times Spark delivered runtime join-key predicates to any store
    * scan this JVM — observability for the runtime-prune REQUIREs
    * (the scan object itself is not reachable from a SQL query).
    */
  val runtimePruneCalls = new java.util.concurrent.atomic.AtomicLong()

  /** Predicates the scan prunes/evaluates itself: id comparisons
    * (zone manifest), email equality/IN (bloom manifest), uploaded
    * equality (partition directory), IsNotNull. Everything else stays
    * residual above the scan.
    */
  def supported(f: Filter): Boolean = f match {
    case EqualTo("id", _: java.lang.Long) => true
    case GreaterThan("id", _: java.lang.Long) => true
    case GreaterThanOrEqual("id", _: java.lang.Long) => true
    case LessThan("id", _: java.lang.Long) => true
    case LessThanOrEqual("id", _: java.lang.Long) => true
    case EqualTo("email", _: String) => true
    case In("email", vs) => vs.forall(_.isInstanceOf[String])
    case EqualTo("uploaded", _: java.lang.Boolean) => true
    // `uploaded = false` reaches the source as Not(uploaded = true):
    // Catalyst's BooleanSimplification folds the literal comparison to
    // a negated attribute before translation.
    case Not(EqualTo("uploaded", _: java.lang.Boolean)) => true
    case IsNotNull(_) => true
    case _ => false
  }

  /** [lo, hi] implied by the pushed id comparisons (conjunction). An
    * id IN-set (the shape a runtime join-key filter arrives in) prunes
    * by its [min, max] envelope — the sound zone-map treatment of a
    * set conjunct.
    */
  def idBounds(filters: Array[Filter]): (Long, Long) =
    filters.foldLeft((Long.MinValue, Long.MaxValue)) { case ((lo, hi), f) =>
      f match {
        case EqualTo("id", v: java.lang.Long) =>
          (math.max(lo, v.longValue()), math.min(hi, v.longValue()))
        case GreaterThan("id", v: java.lang.Long) => (math.max(lo, v.longValue() + 1), hi)
        case GreaterThanOrEqual("id", v: java.lang.Long) => (math.max(lo, v.longValue()), hi)
        case LessThan("id", v: java.lang.Long) => (lo, math.min(hi, v.longValue() - 1))
        case LessThanOrEqual("id", v: java.lang.Long) => (lo, math.min(hi, v.longValue()))
        case In("id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Long]) =>
          val ls = vs.map(_.asInstanceOf[java.lang.Long].longValue())
          (math.max(lo, ls.min), math.min(hi, ls.max))
        case _ => (lo, hi)
      }
    }

  /** The smallest email IN-set among the pushed equality/IN filters
    * (pruning with any one conjunct is sound; the readers re-apply
    * them all exactly).
    */
  def emailProbe(filters: Array[Filter]): Option[Seq[String]] = {
    // Static pushdown delivers java Strings; the V2 runtime-filter
    // bridge may carry UTF8String literals.
    def str(v: Any): String = v match {
      case s: String => s
      case u: UTF8String => u.toString
      case other => other.toString
    }
    filters.collect {
      case EqualTo("email", v) => Seq(str(v))
      case In("email", vs) => vs.toSeq.map(str)
    }.sortBy(_.size).headOption
  }

  def uploadedEq(filters: Array[Filter]): Option[Boolean] =
    filters.collectFirst {
      case EqualTo("uploaded", v: java.lang.Boolean) => v.booleanValue()
      case Not(EqualTo("uploaded", v: java.lang.Boolean)) => !v.booleanValue()
    }

  /** A pushed literal as a Long when it is an integral numeric. */
  def numVal(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case s: java.lang.Short => Some(s.longValue())
    case _ => None
  }

  /** Comparisons on an EVOLVED numeric column (schema-dependent, so
    * the ScanBuilder supplies the eligible logical names): pruned via
    * the kind='e' zone manifest, re-evaluated exactly by every row
    * reader ([[StoreRowReader.passes]]).
    */
  def evolvedSupported(evoCols: Set[String], f: Filter): Boolean = f match {
    case EqualTo(c, v) => evoCols(c) && numVal(v).isDefined
    case GreaterThan(c, v) => evoCols(c) && numVal(v).isDefined
    case GreaterThanOrEqual(c, v) => evoCols(c) && numVal(v).isDefined
    case LessThan(c, v) => evoCols(c) && numVal(v).isDefined
    case LessThanOrEqual(c, v) => evoCols(c) && numVal(v).isDefined
    case In(c, vs) => evoCols(c) && vs.nonEmpty && vs.forall(numVal(_).isDefined)
    case _ => false
  }

  /** [lo, hi] implied by the pushed comparisons on numeric column `c`
    * (conjunction; IN prunes by its envelope — sound for zone maps,
    * the readers evaluate the set exactly).
    */
  def colBounds(filters: Array[Filter], c: String): (Long, Long) =
    filters.foldLeft((Long.MinValue, Long.MaxValue)) { case ((lo, hi), f) =>
      f match {
        case EqualTo(`c`, v) if numVal(v).isDefined =>
          val x = numVal(v).get; (math.max(lo, x), math.min(hi, x))
        case GreaterThan(`c`, v) if numVal(v).isDefined =>
          (math.max(lo, numVal(v).get + 1), hi)
        case GreaterThanOrEqual(`c`, v) if numVal(v).isDefined =>
          (math.max(lo, numVal(v).get), hi)
        case LessThan(`c`, v) if numVal(v).isDefined =>
          (lo, math.min(hi, numVal(v).get - 1))
        case LessThanOrEqual(`c`, v) if numVal(v).isDefined =>
          (lo, math.min(hi, numVal(v).get))
        case In(`c`, vs) if vs.nonEmpty && vs.forall(numVal(_).isDefined) =>
          val ls = vs.map(numVal(_).get)
          (math.max(lo, ls.min), math.min(hi, ls.max))
        case _ => (lo, hi)
      }
    }
}

/** The store's one live-row reader (and its time-travel reader). A
  * current-snapshot scan plans from the live-file listing — the one a
  * [[StoreRead]] pinned, or the store's listing at planning — in one
  * file-pruning pass: partition directory, the store's own file
  * restriction, id zone, evolved-column zones, email bloom. Each kept
  * file is one input partition carrying that file's tombstoned emails,
  * read once on the driver per planning.
  */
class CustomerStoreScan(store: CustomerStore, travel: Option[TimeTravel],
    required: StructType, filters: Array[Filter], own: Option[StoreRead] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {

  import CustomerStoreScan._

  private val path = store.path

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // RUNTIME FILTERING (the DSv2 dynamic-pruning contract, SPARK-35779):
  // at execution time Spark evaluates the small side of an eligible
  // join and hands this scan the join-key VALUES as IN predicates;
  // the scan re-plans its file set through the same zone ([min,max]
  // envelope of the id set) and bloom (per-email probe) manifests it
  // uses for static pushdown — files a join cannot touch are never
  // opened. Runtime predicates participate in PRUNING ONLY: they are
  // semantically redundant with the join itself, so they are NOT
  // handed to the row readers (exactly Iceberg's treatment). Huge
  // email IN-sets skip the per-value bloom probe (the zone envelope
  // still applies); time-travel scans advertise no filter attributes.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var cache: Option[Planned] = None

  // Only columns that SURVIVED pruning may be advertised: Spark
  // resolves these against the scan's output, and a pruned-away
  // column would fail resolution at plan time.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (travel.isEmpty)
      Array("id", "email").filter(required.fieldNames.contains)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    else Array.empty

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimeFilters = org.apache.spark.sql.graft.V2FilterBridge.toV1(predicates)
      .filter(f => f.references.toSet.subsetOf(Set("id", "email")))
    CustomerStoreScan.runtimePruneCalls.incrementAndGet(): Unit
    cache = None // re-plan with the runtime conjuncts
  }

  // Driver-side manifest consult, no data file opened; recomputed if a
  // runtime filter arrives after an explain already forced the plan.
  private def planned: Planned = cache.getOrElse {
    val p = travel.fold(planCurrent())(planTimeTravel)
    cache = Some(p)
    p
  }

  /** (files kept, live files of the addressed partitions) — the skip a
    * pending read reports, from this scan's own planning.
    */
  private[graft] def filesKept: (Int, Int) = (planned.kept, planned.inPartition)

  private def planCurrent(): Planned = {
    val pruning = filters ++ runtimeFilters
    val live = own.fold(store.liveFiles())(_.live)
    val partPruned = uploadedEq(pruning) match {
      case Some(u) => live.files.filter(_._3 == u)
      case None => live.files
    }
    val restricted = own.flatMap(_.only).fold(partPruned)(o => partPruned.filter(f => o(f._1)))
    val (lo, hi) = idBounds(pruning)
    val zonePruned =
      if (lo == Long.MinValue && hi == Long.MaxValue) restricted
      else store.zoneKeepFiles(restricted.map(f => (f._1, f)), lo, hi).map(_._2)
    // EVOLVED-column zone pruning (kind='e' manifest, physical-name
    // keyed): one consult per filtered evolved column; files without
    // coverage for the column are kept.
    val phys = CustomerStore.physicalMapAt(path)
    val evoFiltered = pruning.flatMap(_.references)
      .filter(c => c != "id" && c != "email" && c != "uploaded")
      .distinct.filter(phys.contains)
    val evoPruned = evoFiltered.foldLeft(zonePruned) { (fs, c) =>
      val (elo, ehi) = colBounds(pruning, c)
      if (elo == Long.MinValue && ehi == Long.MaxValue) fs
      else store.evolvedZoneKeepFiles(fs.map(f => (f._1, f)), phys(c), elo, ehi)
        .map(_._2)
    }
    val bloomPruned = emailProbe(pruning).filter(_.size <= RuntimeBloomProbeMax) match {
      case Some(emails) =>
        val keep = store.bloomKeepFiles(
          evoPruned.map(f => (f._1, f._2)), emails).toSet
        evoPruned.filter(f => keep(f._2))
      case None => evoPruned
    }
    val parts = bloomPruned.map { case (name, p, uploaded) =>
      StoreFilePartition(p, Some(uploaded), live.tombstones.getOrElse(name, Set.empty)): InputPartition
    }.toArray
    Planned(parts, bloomPruned.size, partPruned.size, live.files.size)
  }

  private def planTimeTravel(t: TimeTravel): Planned = {
    // Emails the delta touches (post-images and delete tombstones): any
    // delta row outranks every snapshot row for its email, so snapshot
    // readers drop these outright. Delta-scale (retention-bounded).
    val touched: Set[UTF8String] = t.feedDirs.flatMap { d =>
      ParquetGroups.parquetFilesIn(d).iterator.flatMap { f =>
        ParquetGroups.readAll(f, Seq("change_type", "email")).collect {
          case Array(ct: UTF8String, email: UTF8String)
              if !ct.toString.endsWith("_pre") || ct.toString == "delete_pre" =>
            email
        }
      }
    }.toSet
    val snapParts = t.snapshot.toSeq.flatMap(_._2).map { f =>
      StoreFilePartition(f, None, touched): InputPartition
    }
    val deltaParts =
      if (t.feedDirs.isEmpty) Seq.empty
      else Seq(StoreDeltaPartition(t.feedDirs): InputPartition)
    val parts = (snapParts ++ deltaParts).toArray
    Planned(parts, parts.length, parts.length, parts.length)
  }

  override def planInputPartitions(): Array[InputPartition] = planned.parts

  /** CBO/AQE statistics from the SAME consult as planning. A current
    * read reports the kept files' on-disk bytes and their zone row
    * counts (an upper bound while deletion vectors are live —
    * statistics are estimates, pruning/filtering stays exact). A time
    * travel read reports the bytes and footer row counts of the
    * snapshot files and feed files it opens (an upper bound too: the
    * replay drops superseded rows).
    */
  override def estimateStatistics(): Statistics = {
    val files = planned.parts.toSeq.flatMap {
      case p: StoreFilePartition => Seq(p.file)
      case p: StoreDeltaPartition => p.feedDirs.flatMap(ParquetGroups.parquetFilesIn)
      case _ => Nil
    }
    if (travel.nonEmpty) StoreScanStats(files)
    else new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(files.map(f => new java.io.File(f).length()).sum)
      override def numRows(): java.util.OptionalLong =
        store.manifestRowCount(files.map(f => new java.io.File(f).getName).toSet)
          .fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StoreReaderFactory(required.fieldNames, filters,
      CustomerStore.physicalMapAt(path),
      CustomerStore.schemaAt(path).fields
        .map(f => f.name -> f.dataType).toMap)

  override def description(): String = {
    val p = planned
    val tt = travel.fold("")(t => s", versionAsOf=${t.version}")
    val rt = if (runtimeFilters.isEmpty) ""
      else s", RuntimeFilters: [${runtimeFilters.mkString(", ")}]"
    s"GraftStore path=$path$tt, files=${p.kept}/${p.total}, " +
      s"ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${filters.mkString(", ")}]$rt"
  }
}

/** Statistics of a scan that opens `files` whole: their on-disk bytes
  * and their footer row counts (read on the driver when asked).
  */
private[sources] final case class StoreScanStats(files: Seq[String]) extends Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    java.util.OptionalLong.of(files.map(f => new java.io.File(f).length()).sum)
  override def numRows(): java.util.OptionalLong =
    java.util.OptionalLong.of(ParquetGroups.rowCount(SparkSession.active, files))
}

/** A time-travel read resolved against the store's files: the newest
  * snapshot checkpoint at or below `version` (its version and parquet
  * files) and the feed commit dirs `(snapshot, version]` replayed on
  * top of it.
  */
case class TimeTravel(version: Long, snapshot: Option[(Long, Seq[String])],
    feedDirs: Seq[String])

object TimeTravel {
  /** Resolve `v` against `store`, failing loudly when the retained
    * history cannot reconstruct it: with no snapshot at or below `v`
    * the replay runs from genesis, so nothing may have been vacuumed.
    * A missing feed dir is not evidence of vacuuming — feed-silent
    * commits (DDL, compaction) have none, and the first commit may be
    * one — so the check reads the feed low-watermark, the same
    * retention horizon [[CustomerStore.feedDirsIn]] enforces.
    */
  def apply(store: CustomerStore, v: Long): TimeTravel =
    if (v <= 0L) TimeTravel(v, None, Nil)
    else {
      val base = store.snapshotFilesFor(v)
      val wm = store.feedLowWatermark()
      require(base.nonEmpty || wm == 0L,
        s"cannot reconstruct version $v: commits up to $wm were vacuumed " +
          "and no snapshot at or below the requested version exists")
      val dirs = store.feedDirsIn(base.map(_._1).getOrElse(0L), v)
      TimeTravel(v, base, dirs.map(_._2))
    }
}

/** One file a scan reads whole: a live data file (its `uploaded`
  * carried by the partition directory, its deletion-vector tombstones
  * skipped) or a time-travel snapshot file (`uploaded` stored as a
  * column, the emails the feed delta touches skipped — the delta
  * outranks the snapshot).
  */
case class StoreFilePartition(file: String, uploaded: Option[Boolean],
    skipEmails: Set[UTF8String]) extends InputPartition

/** The feed delta of a time-travel scan: per-email last-writer-wins
  * over the commit range, delete tombstones dropping their email.
  */
case class StoreDeltaPartition(feedDirs: Seq[String]) extends InputPartition

case class StoreReaderFactory(required: Array[String],
    filters: Array[Filter],
    phys: Map[String, String] = Map.empty,
    types: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: StoreFilePartition =>
        new StoreFileReader(p.file, p.uploaded, p.skipEmails, required, filters, phys, types)
      case p: StoreDeltaPartition =>
        new StoreDeltaReader(p, required, filters, phys, types)
    }
}

/** Shared row plumbing: evaluate the pushed filters against a decoded
  * row and assemble the projected InternalRow. Values are
  * Catalyst-internal (Long / UTF8String / Boolean / micros).
  */
private[sources] abstract class StoreRowReader(required: Array[String],
    filters: Array[Filter]) extends PartitionReader[InternalRow] {

  // Base columns plus any evolved columns the projection OR the pushed
  // filters ask for (a pushed evolved predicate may reference a column
  // the projection pruned away — COUNT(*) with a tier filter) — the
  // delta-replay reader indexes winner rows by this list, and the
  // metadata-scale readers null-fill columns an old file lacks.
  protected val TableCols: Array[String] =
    (CustomerSchema.tableSchema.fieldNames ++ required ++
      filters.flatMap(_.references)).distinct

  private val emailEq: Array[Set[UTF8String]] = filters.collect {
    case EqualTo("email", v: String) => Set(UTF8String.fromString(v))
    case In("email", vs) => vs.map(v => UTF8String.fromString(v.asInstanceOf[String])).toSet
  }
  private val (idLo, idHi) = CustomerStoreScan.idBounds(filters)
  private val uploadedWant = CustomerStoreScan.uploadedEq(filters)
  private val notNullCols = filters.collect { case IsNotNull(c) => c }

  // Pushed comparisons on EVOLVED numeric columns, evaluated EXACTLY
  // per row (a NULL value fails every comparison — SQL semantics;
  // pre-evolution files null-fill, so their rows drop under such a
  // filter exactly as the post-scan predicate would drop them).
  private val evoPreds: Array[(String, Long => Boolean)] = {
    import CustomerStoreScan.numVal
    def other(c: String) = c != "id" && c != "email" && c != "uploaded"
    filters.collect {
      case EqualTo(c, v) if other(c) && numVal(v).isDefined =>
        val x = numVal(v).get; (c, (l: Long) => l == x)
      case GreaterThan(c, v) if other(c) && numVal(v).isDefined =>
        val x = numVal(v).get; (c, (l: Long) => l > x)
      case GreaterThanOrEqual(c, v) if other(c) && numVal(v).isDefined =>
        val x = numVal(v).get; (c, (l: Long) => l >= x)
      case LessThan(c, v) if other(c) && numVal(v).isDefined =>
        val x = numVal(v).get; (c, (l: Long) => l < x)
      case LessThanOrEqual(c, v) if other(c) && numVal(v).isDefined =>
        val x = numVal(v).get; (c, (l: Long) => l <= x)
      case In(c, vs) if other(c) && vs.nonEmpty && vs.forall(numVal(_).isDefined) =>
        val s = vs.map(numVal(_).get).toSet; (c, (l: Long) => s.contains(l))
    }
  }

  /** `get(col)` returns the row's Catalyst value for a table column. */
  protected def passes(get: String => Any): Boolean = {
    val id = get("id").asInstanceOf[Long]
    if (id < idLo || id > idHi) return false
    val email = get("email").asInstanceOf[UTF8String]
    if (!emailEq.forall(_.contains(email))) return false
    if (!uploadedWant.forall(_ == get("uploaded").asInstanceOf[Boolean])) return false
    if (!evoPreds.forall { case (c, p) =>
      get(c) match {
        case null => false
        case l: java.lang.Long => p(l.longValue())
        case i: java.lang.Integer => p(i.longValue())
        case _ => false
      }
    }) return false
    notNullCols.forall(c => get(c) != null)
  }

  /** Values may be VIEWS over a vectorized reader's current batch, so
    * strings are defensively copied into the emitted row (the batch's
    * buffers are reused on the next `advance`).
    */
  protected def project(get: String => Any): InternalRow =
    InternalRow.fromSeq(required.toIndexedSeq.map(c => get(c) match {
      case s: UTF8String => s.clone()
      case v => v
    }))
}

/** Streams one store file through the VECTORIZED parquet reader
  * (pages → columnar batches, rows served as views): projected read →
  * skipped-email anti-join → pushed filters → projected row. Serves
  * both file kinds, which differ only in data: a live data file
  * carries `uploaded` in its directory (`uploaded` is Some) and skips
  * its deletion-vector tombstones; a snapshot file stores `uploaded`
  * as a column and skips the emails the time-travel delta touches.
  * The `_file` metadata column is the file's path.
  */
class StoreFileReader(file: String, uploaded: Option[Boolean],
    skipEmails: Set[UTF8String], required: Array[String],
    filters: Array[Filter], phys: Map[String, String],
    types: Map[String, org.apache.spark.sql.types.DataType])
    extends StoreRowReader(required, filters) {

  // Columns to decode: requested ∪ filter-referenced ∪ email (for the
  // skip check); a directory-constant `uploaded` is never physical.
  private val readCols: Seq[String] =
    (required ++ filters.flatMap(_.references) ++ Seq("id", "email"))
      .distinct.filter(c => (uploaded.isEmpty || c != "uploaded") &&
        c != CustomerStoreTable.FileColumn).toSeq
  // Files store PHYSICAL names (column mapping) — translate at the
  // cursor boundary, logical everywhere above.
  private def pn(c: String): String = phys.getOrElse(c, c)
  // Logical types keyed by PHYSICAL name: the cursor serves the
  // table's declared type over every file generation (type widening).
  private val pnTypes = readCols.flatMap(c =>
    types.get(c).map(pn(c) -> _)).toMap

  private val cursor =
    new ParquetGroups.VectorizedFileRows(file, readCols.map(pn), pnTypes)
  private val fileName = UTF8String.fromString(file)
  private val valueOf: String => Any = {
    case "uploaded" if uploaded.nonEmpty => uploaded.get
    case CustomerStoreTable.FileColumn => fileName
    case c => cursor.value(pn(c))
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (cursor.advance()) {
      val email = valueOf("email").asInstanceOf[UTF8String]
      if ((skipEmails.isEmpty || !skipEmails.contains(email)) && passes(valueOf)) {
        current = project(valueOf)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = cursor.close()
}

/** Replays the feed delta of a time-travel scan in one task — the
  * store's one time-travel reconstruction ([[CustomerStore.asOf]] and
  * `VERSION AS OF` both land here): per-email last-writer-wins by
  * commit_version over the post-image + delete-tombstone rows,
  * tombstone winners dropped. The task holds every email the delta
  * touches, which is sound because the delta is retention-bounded by
  * checkpoint cadence ([[CustomerStore.writeSnapshot]]), never
  * table-scale.
  */
class StoreDeltaReader(p: StoreDeltaPartition, required: Array[String],
    filters: Array[Filter], phys: Map[String, String] = Map.empty,
    types: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
    extends StoreRowReader(required, filters) {

  private def pn(c: String): String = phys.getOrElse(c, c)

  private val it: Iterator[Map[String, Any]] = {
    val cols = Seq("commit_version", "change_type") ++ TableCols
    val pnTypes = cols.flatMap(c => types.get(c).map(pn(c) -> _)).toMap
    val winners = new java.util.HashMap[UTF8String, (Long, String, Array[Any])]()
    for {
      dir <- p.feedDirs
      f <- ParquetGroups.parquetFilesIn(dir)
      row <- ParquetGroups.readAll(f, cols.map(pn), pnTypes)
    } {
      val v = row(0).asInstanceOf[Long]
      val ct = row(1).asInstanceOf[UTF8String].toString
      if (!ct.endsWith("_pre") || ct == "delete_pre") {
        val email = row(cols.indexOf("email")).asInstanceOf[UTF8String]
        val prev = winners.get(email)
        if (prev == null || v > prev._1) winners.put(email, (v, ct, row))
      }
    }
    import scala.jdk.CollectionConverters._
    winners.values().asScala.iterator.collect {
      case (_, ct, row) if ct != "delete_pre" =>
        TableCols.zipWithIndex.map { case (c, i) => c -> row(i + 2) }.toMap
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (it.hasNext) {
      val row = it.next()
      if (passes(row.apply)) { current = project(row.apply); return true }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
