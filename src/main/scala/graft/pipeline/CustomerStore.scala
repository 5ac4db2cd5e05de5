package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StagedWrite
import org.apache.spark.unsafe.types.UTF8String

/** Parquet-backed state table with the `customers` contract the
  * reference keeps in Postgres (csv-crm-upload database/database.go):
  * unique id+email enforced as anti-join dedup (the Spark idiom for
  * "INSERT that doesn't violate UNIQUE" — init-db.sh:13,16), point
  * updates as partition-pruned rewrites, and the uploaded work-queue
  * flag as a partition column.
  *
  * Reads: every live-row read — [[all]], `pending()`, the pending
  * point/range/rectangle reads and the commits' probes, purge's too —
  * is the `graft-store` connector's current-snapshot scan
  * ([[graft.sources.CustomerStoreScan]]) planned over THIS store: its
  * live-file listing, its driver-resident [[StatsSnapshot]] and one
  * driver read of the deletion vectors, with no second store and no
  * recovery while it plans. The scan makes the one file-pruning
  * decision (partition directory, id zone, evolved-column zone, email
  * bloom) and applies the one tombstone rule (each file's own vector
  * rows); `pending()`'s `uploaded = false` filter prunes to the
  * pending partition exactly like the reference's upload_idx index
  * scan (init-db.sh:25, database.go:18). Each row's data file is the
  * scan's `_file` metadata column. Purge's probe passes the scan an
  * empty tombstone map, so it sees every physical row. The other
  * artifacts have one reader each too: `_stats` [[StatsSnapshot]],
  * `_deletes` [[tombstoneRows]], `_changelog` the connector's
  * change-feed and time-travel scans; only purge's history excision
  * ([[exciseParquet]]) probes feed, snapshot and vector files with
  * Spark, since no scan serves them.
  *
  * Scale: partitioning by a boolean splits the table into hot (pending)
  * and cold (done) halves; the hot half is what the uploader rescans,
  * so the rescan cost tracks the backlog, not the table. markUploaded
  * rewrites only the pending partition. At 100 TB you'd swap the
  * directory-overwrite for a transactional table format, but the plan
  * shapes (anti-join insert, pruned scan, partition rewrite) carry over
  * unchanged.
  *
  * Commits: every mutation — insert, ack, merge, delete, compaction,
  * restore, purge, DDL, the txn and COPY INTO markers — builds ONE
  * [[CustomerStore.Commit]] value (rows to add per partition, files to
  * remove or "replace all", change rows, deletion-vector rows, a
  * schema or constraints manifest) and lands it through the same three
  * steps: [[stage]] writes it and its markers into a staging dir,
  * [[checkNoConflict]] validates it at the commit point, and
  * [[applyStaged]] promotes it with one per-target remove-then-move
  * loop. Exclusivity (a replace or a metadata change conflicts with
  * any interleaved commit) and deletion-vector truncation (a replace
  * removes every vector file) derive from the value, not from flags.
  * The writer, [[org.apache.spark.sql.graft.StagedWrite]], drops every
  * 0-row part, so a target no row reached stages no file; a
  * feed-silent data commit (compaction, purge) leaves its
  * `_changelog/commit-<v>` dir empty.
  *
  * Concurrency: writers stage into writer-unique `_staging.tmp-<id>`
  * dirs and contend only at the commit point (the atomic rename onto
  * `_staging`), with Delta-style optimistic retry — a loser finishes
  * the winner's promotion, validates its staged commit against the
  * interleaved delta (file-level read-set + email/id key overlap; a
  * full-table rewrite always conflicts), re-numbers, and retries; a
  * REAL conflict aborts with [[ConcurrentCommitException]] leaving
  * only the winner's state. Disjoint inserts/acks therefore both land;
  * racing writers can never tear the table. Readers are unaffected:
  * they see the last promoted state (snapshot isolation per scan).
  *
  * Skipping manifest: every commit stages per-file stats under
  * `_stats/commit-<v>` (zones, KMV sample, bloom words, evolved-column
  * extrema), folded while its data files are written, and each
  * instance consults them through one driver-
  * resident [[StatsSnapshot]] — bloom, zone and sample lookups run no
  * Spark job. The snapshot holds one entry per file basename in the
  * manifest history, up to ~18 KiB
  * per entry at the default 2^17 bloom bits: 16 KiB of bloom words
  * plus the 128-entry sample.
  */
class CustomerStore(protected val spark: SparkSession, private[graft] val path: String,
    commitClock: () => Long = () => System.currentTimeMillis(),
    bloomBits: Long = CustomerStore.DefaultBloomBits)
    extends CustomerStoreApi {

  import CustomerSchema._
  import CustomerStore._

  /** JVM-wide per-path monitor serializing promotions (see
    * [[applyStaged]]); keyed on the canonical path so two instances
    * over the same table share it.
    */
  private val promotionLock: Object =
    CustomerStore.promotionLockFor(new java.io.File(path).getAbsolutePath)

  /** This instance's driver-resident view of the `_stats` manifest (see
    * [[StatsSnapshot]]); every skipping consult reads it, none runs a
    * Spark job.
    */
  private val manifest = new StatsSnapshot(new java.io.File(path, StatsManifest),
    () => currentVersion())
  /** `_stats` rows computed by [[stageStats]], keyed by staging dir until
    * the commit point, then by final version until promotion hands them
    * to [[manifest]].
    */
  private val stagedStats =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[org.apache.spark.sql.Row]]()
  private val committedStats =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[org.apache.spark.sql.Row]]()

  // Finish (or discard) any commit interrupted by a crash before the
  // store is first read — see markUploaded's commit protocol.
  recover()

  private def tableExists: Boolean =
    new java.io.File(path).exists() &&
      new java.io.File(path).listFiles().exists(f => f.getName.startsWith("uploaded="))

  def all(): DataFrame = liveRead()

  /** The live table through the connector's current-snapshot scan,
    * planned over this store (see the class doc): the files it may open
    * are pinned here, when the read is defined (`live`, by default this
    * store's listing and tombstones now), and `only` restricts them to
    * the named data files (basenames) — a file set the store's own
    * consult chose (the touched files of a commit, a Z-order delta, a
    * hash-shard zone). With `withFile` each row also carries its data
    * file's absolute path in `_file`, the connector's metadata column.
    */
  private def liveRead(only: Option[Set[String]] = None, withFile: Boolean = false,
      live: LiveFiles = liveFiles()): DataFrame = {
    val table = new graft.sources.CustomerStoreTable(path, None, None,
      Some(graft.sources.StoreRead(this, live, only)))
    val rows = org.apache.spark.sql.graft.PlanDataFrame.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
    if (withFile) rows.select(col("*"), col(graft.sources.CustomerStoreTable.FileColumn))
    else rows
  }

  // ---- Merge-on-read deletion vectors --------------------------------
  //
  // A deletion vector is a `_deletes` file of (data-file BASENAME, email)
  // rows naming tombstoned rows. FILE-scoped, not key-scoped — a later
  // insert of the same email lands in a NEW file and is untouched, and
  // any commit that rewrites a file makes its vector rows inert (the
  // basename no longer exists), so vectors never have to be rewritten
  // on data commits.

  /** Every deletion-vector row of `files` (by default the committed
    * ones) as data-file basename → the emails it tombstones there, read
    * on the driver (vectors are metadata-scale, like the manifest), no
    * job — the one reader of vector files: each scan's tombstone sets
    * ([[liveFiles]]), [[deletionVectorStats]] and the commit point's
    * check of a staged delete ([[checkNoConflict]]).
    */
  private def tombstoneRows(files: Seq[String] = deletionVectorFiles())
      : Map[String, Seq[UTF8String]] =
    files.flatMap(f =>
      graft.sources.ParquetGroups.readAll(f, Seq("file", "email")).collect {
        case Array(file: UTF8String, email: UTF8String) => file.toString -> email
      }).groupMap(_._1)(_._2)

  /** (total vector rows, rows still matching a live data file) — the
    * live count is what merge-on-read reads pay for; compaction
    * materializes the deletes and drives it back to zero.
    */
  def deletionVectorStats(): (Long, Long) = {
    val rows = tombstoneRows()
    if (rows.isEmpty) return (0L, 0L)
    val live = liveDataFiles().map(_._1).toSet
    (rows.values.map(_.size.toLong).sum,
      rows.collect { case (f, es) if live(f) => es.size.toLong }.sum)
  }

  /** Merge-on-read DELETE: tombstone every live row whose email is in
    * `emails` WITHOUT touching any data file — the commit stages only
    * the (file, email) deletion-vector rows plus `delete_pre`
    * retraction feed rows (full pre-images, weight −1 under the
    * standard `_pre` convention, so every incremental consumer
    * subtracts them with no new code), and promotes them by the same
    * atomic rename as every mutation. Readers drop each file's
    * tombstoned emails ([[liveRead]]); [[compact]] materializes them
    * physically.
    * An empty match commits nothing (the reference's empty-batch
    * no-op). Returns the number of rows tombstoned.
    */
  def delete(emails: DataFrame): Long = {
    if (!tableExists) return 0L
    recover()
    val (n, c) = deleteCommit(emails)
    c.foreach(commit)
    n
  }

  /** The delete commit [[delete]] lands, with the number of rows it
    * tombstones (None when nothing matched). Specs stage it to stop at
    * the commit point.
    */
  private[pipeline] def deleteCommit(emails: DataFrame): (Long, Option[Commit]) = {
    val keys = emails.select(col("email").as("_del")).distinct()
    val (hit, m) = pinObserved("store: delete probe", liveRead(withFile = true)
      .join(keys, col("email") === col("_del"), "left_semi")
      .withColumn("_file", element_at(split(col("_file"), "/"), -1)),
      count(lit(1)))
    val n = m.getLong(0)
    (n, Option.when(n > 0)(Commit("DELETE",
      vectors = Some(hit.select(col("_file").as("file"), col("email"))),
      changes = Some(changeRows(hit.drop("_file", "_del"), "delete_pre")))))
  }

  /** Survivor append: new files into the uploaded=false partition,
    * through the SAME staged-commit protocol as every other mutation
    * (stage data + change-feed rows, atomic rename = commit point,
    * idempotent promotion) — an insert and its feed rows land together
    * or not at all. The row count is the staged write's own: nothing
    * counts `fresh` beforehand, and a write that reached no row
    * discards its staging dir and commits nothing.
    */
  protected def appendRows(fresh: DataFrame): Long = {
    recover()
    val c = appendCommit(fresh)
    val staged = stageFiles(c)
    if (staged.dataRows == 0L) {
      stagedStats.remove(staged.tmp.getAbsolutePath)
      deleteRecursively(staged.tmp)
    } else {
      commitStaged(staged.tmp, c, staged.version)
      applyStaged()
    }
    staged.dataRows
  }

  /** The insert commit [[appendRows]] lands: the fresh pending rows plus
    * their change-feed rows, after the CHECK constraints pass.
    */
  private[pipeline] def appendCommit(fresh: DataFrame): Commit = {
    enforceCheckConstraints(fresh, "insert")
    Commit("WRITE", pending = Some(fresh), changes = Some(changeRows(fresh, "insert")))
  }

  /** Change-feed projection: the full row plus the change kind. */
  private def changeRows(rows: DataFrame, kind: String): DataFrame =
    rows.select(lit(kind).as("change_type") +: tableSchema.fieldNames.map(col): _*)

  /** The store's change data feed — every mutation the store has
    * committed, as full rows tagged `insert` / `update` / `ack`
    * (the CDC a downstream incremental consumer replays instead of
    * rescanning the table), each stamped with the monotonically
    * increasing `commit_version` of the commit that produced it.
    * Mutations that REPLACE a row (`update`, `ack`) also emit the
    * replaced row as `update_pre` / `ack_pre` — the retraction
    * (pre-image) a downstream incremental aggregate subtracts, so a
    * consumer can maintain any distributive view by weighting post
    * rows +1 and `_pre` rows −1. All mutation paths stage their feed
    * rows inside the SAME commit directory as the data and promote
    * them by the same atomic rename, so the feed can never show a
    * change whose data commit did not land (and recovery completes
    * both or neither).
    *
    * "The whole feed" means from genesis: this is [[feedSince]]`(0,
    * currentVersion())`, so once [[vacuumFeed]] has retired any commit
    * it fails as loudly as any range starting below the watermark.
    * Readers that want the retained suffix say so explicitly:
    * `feedSince(feedLowWatermark(), head)`.
    */
  def changeFeed(): DataFrame = feedSince(0L, currentVersion())

  /** The feed restricted to commits in `(fromExclusive, toInclusive]`:
    * the connector's change-feed read (`feedFrom` / `feedTo`, see
    * [[graft.sources.StoreChangesScan]]). The feed is laid out one
    * directory per commit (`_changelog/commit-<v>/`), so the scan
    * plans one input partition per commit in range and never opens
    * history outside it — catch-up cost tracks the lag, not the
    * table's lifetime. A range below the retention horizon fails here,
    * when the read is defined.
    */
  def feedSince(fromExclusive: Long, toInclusive: Long): DataFrame = {
    requireFeedRangeAt(path, fromExclusive, toInclusive)
    connectorRead("feedFrom" -> fromExclusive, "feedTo" -> toInclusive)
  }

  /** A read of this store through the `graft-store` connector with the
    * given history options — the one implementation of time travel and
    * the change feed.
    */
  private def connectorRead(opts: (String, Long)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-store").option("path", path)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** The CURRENT table schema: the fixed base contract plus any
    * additively-evolved columns recorded by the last promoted
    * `_schema` manifest (see [[addColumn]]). Every read path — live
    * scans, snapshots, and the DSv2 connector (which serves `asOf` and
    * the feed) — presents THIS schema; files and feed rows written
    * before an evolution lack the column physically and read as typed NULLs
    * (the Iceberg/Delta additive-evolution read contract).
    */
  override def tableSchema: org.apache.spark.sql.types.StructType = schemaAt(path)

  /** The feed-row schema tracks the evolved table schema (old feed
    * files null-fill the evolved columns on read).
    */
  private def changeSchema: org.apache.spark.sql.types.StructType = changeSchemaAt(path)

  // ---- Column mapping (rename/drop evolution) -------------------------
  //
  // Files store PHYSICAL column names; the schema manifest maps each
  // logical field to its physical name via StructField metadata
  // ("physical"). A field without the key is physical==logical (every
  // base column, and columns added before mapping existed). RENAME is
  // then metadata-only (the physical name never changes, so no file is
  // rewritten and every historical file/feed row/snapshot stays
  // readable), and DROP removes the field from the manifest while old
  // files' dead physical columns are simply never requested. addColumn
  // stamps a version-unique physical name (`c<v>_<name>`) so a
  // drop-then-re-add can never resurrect the dropped column's values
  // from old files — the Delta column-mapping / Iceberg field-id
  // contract, expressed with names.

  /** Rename a logical-named frame's columns to physical for writing
    * (columns not in `logical` — none today — would be dropped; the
    * write choke points all pass exactly the logical column set).
    */
  private def toPhysical(df: DataFrame,
      logical: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(logical.fields.filter(f => df.columns.contains(f.name))
      .map(f => col(f.name).as(physicalNameOf(f))).toIndexedSeq: _*)

  /** The table's data-file schema: every column but the partition
    * directory's `uploaded`.
    */
  private def dataLogicalSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      tableSchema.filterNot(_.name == "uploaded"))

  /** ADDITIVE schema evolution: append a nullable payload column as a
    * feed-silent METADATA commit (the version advances, the `_commits`
    * registry gains an entry, no data or feed rows). Reads null-fill
    * pre-evolution files; writes align batches via
    * [[CustomerStoreApi.aligned]] (a batch lacking the column inserts
    * NULLs; a merge batch lacking it carries the stored value on
    * update). Retyping columns is rejected by construction; rename and
    * drop are supported as METADATA-ONLY commits via column mapping
    * (see [[renameColumn]] / [[dropColumn]]). The new column's
    * PHYSICAL name is stamped `c<v>_<name>` at creation so a later
    * drop-then-re-add of the same logical name can never resurrect the
    * dropped column's values from old files. Returns the commit
    * version.
    */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    recover()
    // Deliberately NOT gated on tableExists: a schema commit may
    // precede any data (v1 = ADD COLUMN on a fresh store), so the
    // streaming sink's mergeSchema option can evolve on its very first
    // micro-batch and the subsequent insert carries the column. The
    // metadata-commit machinery (staging dirs, version registry,
    // recovery) is data-independent — pinned by SchemaEvolutionSpec.
    // The store's physical decode grammar (scans, snapshots, feed,
    // connector readers) covers exactly these Catalyst types — an
    // unsupported add must fail at DDL time, not at first read.
    require(CustomerStore.SupportedColumnTypes.contains(dataType),
      s"addColumn: type ${dataType.simpleString} is not supported — " +
        "evolved columns may be int, bigint, string, boolean, or timestamp")
    val cur = tableSchema
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"addColumn: column '$name' already exists")
    val v = currentVersion() + 1
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("physical", s"c${v}_$name").build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true, metadata = meta))
    commit(Commit("ADD COLUMN", manifest = Some(SchemaFile -> next.json)))
  }

  /** ADD a GENERATED column (Delta's `GENERATED ALWAYS AS (expr)`
    * evolution): a nullable evolved column whose value the STORE
    * computes from the row's other columns at every write. The
    * generation expression is a single-line Spark SQL expression over
    * EXISTING non-generated columns; its value is computed at the
    * alignment choke point when a batch does not carry the column (or
    * carries NULL), and RECOMPUTED from the post-image on every merge
    * update whose batch does not carry it — so a changed input can
    * never leave a stale generated value behind (SQL UPDATE/MERGE ride
    * the same legs). A batch that DOES carry an explicit non-NULL
    * value is admitted only if it equals the computed value: the add
    * also lands an AUTO CHECK CONSTRAINT
    * `<name> IS NULL OR <name> <=> (expr)` through the persisted-
    * constraints machinery, so a wrong explicit value rejects the
    * whole transaction at the same boundary as any constraint. The
    * NULL escape is what admits PRE-EVOLUTION rows (old files read
    * NULL — generation computes at write, it never backfills, exactly
    * Delta's contract). Rename/drop of an input column is refused by
    * the constraint's reference guard until the generated column is
    * dropped; [[dropColumn]] of the generated column drops its auto-
    * constraint with it. Costs TWO feed-silent metadata commits
    * (schema, then constraint); returns the constraint commit version.
    *
    * Numeric generated columns get per-file zone stats like any
    * evolved column, so a partition-style derived key (e.g.
    * `id % 64`) immediately participates in data skipping.
    */
  def addGeneratedColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      genExpr: String): Long = {
    recover()
    require(tableExists,
      s"addGeneratedColumn: table at $path does not exist (the auto-" +
        "constraint must validate existing rows)")
    require(CustomerStore.SupportedColumnTypes.contains(dataType),
      s"addGeneratedColumn: type ${dataType.simpleString} is not supported — " +
        "evolved columns may be int, bigint, string, boolean, or timestamp")
    require(!genExpr.exists(c => c == '\t' || c == '\n' || c == '\r') &&
        genExpr.trim.nonEmpty,
      "addGeneratedColumn: expression must be a single non-empty line")
    val cur = tableSchema
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"addGeneratedColumn: column '$name' already exists")
    val refs = constraintRefs(genExpr)
    require(refs.nonEmpty,
      "addGeneratedColumn: expression must reference at least one column")
    refs.foreach { r =>
      val f = cur.fields.find(_.name.toLowerCase == r)
      require(f.isDefined,
        s"addGeneratedColumn: expression references unknown column '$r'")
      require(!f.get.metadata.contains(CustomerStore.GeneratedKey),
        s"addGeneratedColumn: expression may not reference generated column '$r'")
    }
    val auto = CustomerStore.genConstraintName(name)
    require(!checkConstraints().exists(_._1.equalsIgnoreCase(auto)),
      s"addGeneratedColumn: constraint name '$auto' is taken")
    val v = currentVersion() + 1
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("physical", s"c${v}_$name")
      .putString(CustomerStore.GeneratedKey, genExpr).build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true, metadata = meta))
    commit(Commit("ADD COLUMN", manifest = Some(SchemaFile -> next.json))): Unit
    addCheckConstraint(auto,
      s"$name IS NULL OR $name <=> CAST(($genExpr) AS ${dataType.sql})")
  }

  /** MERGE with AUTOMATIC additive evolution — the API twin of SQL
    * `MERGE WITH SCHEMA EVOLUTION` (Delta's schema.autoMerge): every
    * batch column beyond the current table schema (the `_seq` ingest
    * pin excepted) is first ADDed as a nullable evolved column — one
    * feed-silent schema commit per new column, the exact [[addColumn]]
    * path `ALTER TABLE ADD COLUMN` routes through — and the batch then
    * merges with those columns carried: values land on both legs,
    * an evolved-only difference marks its row updated, pre-evolution
    * rows read NULL. All new columns are type-validated BEFORE the
    * first schema commit, so an unsupported type fails loudly with the
    * table unchanged rather than half-evolved.
    */
  def mergeEvolve(batch: DataFrame): MergeResult = {
    evolveToInclude(batch): Unit
    merge(batch)
  }

  /** ADD every batch column beyond the current table schema (the
    * `_seq` ingest pin excepted) as a nullable evolved column — the
    * shared auto-evolution step of [[mergeEvolve]] and the streaming
    * sink's `mergeSchema` option. All new columns are type-validated
    * BEFORE the first schema commit (fail loudly, table unchanged, not
    * half-evolved). Returns the added names; idempotent — a batch
    * whose columns all exist adds nothing.
    */
  def evolveToInclude(batch: DataFrame): Seq[String] = {
    val unknown = batch.schema.fields.filterNot(f =>
      f.name == "_seq" ||
        tableSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))).toSeq
    unknown.foreach(f => require(
      CustomerStore.SupportedColumnTypes.contains(f.dataType),
      s"schema evolution: new column '${f.name}' has unsupported type " +
        s"${f.dataType.simpleString} — evolved columns may be int, " +
        "bigint, string, boolean, or timestamp; no schema commit was made"))
    unknown.map { f => addColumn(f.name, f.dataType): Unit; f.name }
  }

  /** TYPE WIDENING (the Delta/Iceberg `ALTER COLUMN TYPE` evolution):
    * widen a payload column's type WITHOUT rewriting a single file —
    * a feed-silent versioned metadata commit updates the schema
    * manifest, and every read path serves the widened type over both
    * old (narrow) and new (wide) physical files: Spark's parquet
    * readers promote int32→int64 natively under the requested schema,
    * and the connector's custom readers request/convert per the
    * LOGICAL type at the file boundary. Only lossless widenings are
    * admitted (int → bigint); anything lossy or unsupported is
    * refused loudly — a narrow-ing would corrupt committed values.
    * Structural columns (id, email, uploaded, the touch timestamps)
    * are rejected: their physical layout is load-bearing contract
    * surface (zones, blooms, the wire format). Returns the commit
    * version.
    */
  def widenColumn(name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    recover()
    require(tableExists, s"widenColumn: table at $path does not exist")
    val cur = tableSchema
    require(!CustomerStore.StructuralColumns.contains(name.toLowerCase),
      s"widenColumn: '$name' is structural (merge key / partition / " +
        "pruning-manifest surface) and cannot be retyped")
    val i = cur.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    require(i >= 0, s"widenColumn: no column '$name'")
    val f = cur.fields(i)
    require(!f.metadata.contains(CustomerStore.GeneratedKey),
      s"widenColumn: '$name' is generated — its type is pinned by the " +
        "generation expression; drop and re-add the column instead")
    require(CustomerStore.SupportedWidenings.contains((f.dataType, to)),
      s"widenColumn: ${f.dataType.simpleString} → ${to.simpleString} is " +
        "not a supported lossless widening (supported: int → bigint)")
    // Pin the physical name (= the current one) so the widened field
    // keeps reading every historical file, like a rename does.
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString("physical", physicalNameOf(f)).build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.updated(i, f.copy(dataType = to, metadata = meta)))
    commit(Commit("ALTER COLUMN", manifest = Some(SchemaFile -> next.json)))
  }

  /** RENAME a payload column: metadata-only — the column's PHYSICAL
    * name (what every data file, feed row, and snapshot stores) never
    * changes, so no file is rewritten and every historical file stays
    * readable under the new logical name; reads and writes translate
    * at the file boundary. Structural columns (the merge key, the
    * partition column, the constraint/touch columns) are rejected:
    * they are load-bearing contract surface, not payload.
    */
  def renameColumn(from: String, to: String): Long = {
    recover()
    require(tableExists, s"renameColumn: table at $path does not exist")
    val cur = tableSchema
    require(!CustomerStore.StructuralColumns.contains(from.toLowerCase),
      s"renameColumn: '$from' is structural (merge key / partition / " +
        "constraint surface) and cannot be renamed")
    val i = cur.fieldNames.indexWhere(_.equalsIgnoreCase(from))
    require(i >= 0, s"renameColumn: no column '$from'")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn: column '$to' already exists")
    requireUnconstrained(from, "renameColumn")
    val f = cur.fields(i)
    // Pin the physical name (= the current one) so the rename is
    // durable even for base/legacy columns that had no mapping entry.
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString("physical", physicalNameOf(f)).build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.updated(i, f.copy(name = to, metadata = meta)))
    commit(Commit("RENAME COLUMN", manifest = Some(SchemaFile -> next.json)))
  }

  /** DROP a payload column: metadata-only — the field leaves the
    * schema manifest; old files' dead physical columns are simply
    * never requested again (no rewrite, exactly Delta column-mapping
    * DROP). A later [[addColumn]] of the same logical name gets a NEW
    * version-stamped physical name, so dropped values can never
    * resurrect. Structural columns are rejected.
    */
  def dropColumn(name: String): Long = {
    recover()
    require(tableExists, s"dropColumn: table at $path does not exist")
    val cur = tableSchema
    require(!CustomerStore.StructuralColumns.contains(name.toLowerCase),
      s"dropColumn: '$name' is structural (merge key / partition / " +
        "constraint surface) and cannot be dropped")
    require(cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"dropColumn: no column '$name'")
    // A generated column's auto-constraint leaves WITH the column (its
    // own commit, then the schema commit) — without this, the
    // reference guard below would deadlock the drop on the constraint
    // the add created.
    val fld = cur.fields.find(_.name.equalsIgnoreCase(name)).get
    if (fld.metadata.contains(CustomerStore.GeneratedKey)) {
      val auto = CustomerStore.genConstraintName(fld.name)
      if (checkConstraints().exists(_._1.equalsIgnoreCase(auto)))
        dropCheckConstraint(auto): Unit
    }
    requireUnconstrained(name, "dropColumn")
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name.equalsIgnoreCase(name)))
    commit(Commit("DROP COLUMN", manifest = Some(SchemaFile -> next.json)))
  }

  // ---- Persisted CHECK constraints ------------------------------------

  /** The table's persisted CHECK constraints, declaration order: the
    * Delta `ADD CONSTRAINT CHECK` surface made a store artifact (the
    * per-call [[Constraints.enforce]] split remains for callers that
    * want quarantine-not-reject semantics). Stored as
    * `name<TAB>sqlExpr` lines in `_constraints`, promoted by the same
    * staged DDL protocol as the schema manifest.
    */
  def checkConstraints(): Seq[(String, String)] = {
    val f = new java.io.File(path, ConstraintsFile)
    if (!f.exists()) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { l => val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1)) }
  }

  /** Add a persisted CHECK constraint: the expression must resolve
    * against the CURRENT schema and hold on every EXISTING row (one
    * scan, Delta's add-constraint contract) — only then does the
    * versioned, feed-silent metadata commit land. From then on every
    * insert and merge REJECTS the whole transaction if any committed
    * row would violate (NULL counts as a violation — unknown is not
    * clean), and rename/drop of a referenced column is refused.
    */
  def addCheckConstraint(name: String, sqlExpr: String): Long = {
    recover()
    require(tableExists, s"addCheckConstraint: table at $path does not exist")
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "addCheckConstraint: name must be non-empty, no tabs/newlines")
    require(!sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "addCheckConstraint: expression must be a single line, no tabs")
    val cur = checkConstraints()
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"addCheckConstraint: constraint '$name' already exists")
    // Resolution + existing-row validation in one scan: an unknown
    // column fails analysis loudly; a violated row fails the add.
    val bad = all().filter(!coalesce(expr(sqlExpr), lit(false))).limit(3)
      .collect()
    require(bad.isEmpty,
      s"addCheckConstraint: $name would be violated by ${bad.length}+ " +
        s"existing rows, e.g. ${bad.headOption.getOrElse("")}")
    commit(Commit("ADD CONSTRAINT", manifest = Some(ConstraintsFile ->
      (cur :+ (name, sqlExpr)).map { case (n, e) => s"$n\t$e" }.mkString("\n"))))
  }

  /** Drop a persisted CHECK constraint (versioned metadata commit). */
  def dropCheckConstraint(name: String): Long = {
    recover()
    val cur = checkConstraints()
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"dropCheckConstraint: no constraint '$name'")
    commit(Commit("DROP CONSTRAINT", manifest = Some(ConstraintsFile ->
      cur.filterNot(_._1.equalsIgnoreCase(name))
        .map { case (n, e) => s"$n\t$e" }.mkString("\n"))))
  }

  /** Column names a persisted constraint expression references —
    * parse-level (unresolved) attribute names, enough for the flat
    * schema's rename/drop guard.
    */
  private def constraintRefs(sqlExpr: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase
    }.toSet

  /** Refuse rename/drop of a column any persisted constraint checks. */
  private def requireUnconstrained(column: String, op: String): Unit =
    checkConstraints().foreach { case (n, e) =>
      require(!constraintRefs(e).contains(column.toLowerCase),
        s"$op: column '$column' is referenced by CHECK constraint '$n' — " +
          "drop the constraint first")
    }

  /** Transaction-boundary enforcement: called with the NEW/CHANGED
    * rows a commit is about to stage (inserts, merge updates+inserts).
    * Any violation rejects the WHOLE transaction — the table can never
    * be observed with a violating row (Delta's invariant contract).
    * Rearrangement commits (ack, compact, zorder, restore) move
    * already-validated rows and skip the scan.
    */
  private[pipeline] def enforceCheckConstraints(rows: DataFrame,
      what: String): Unit = {
    val cs = checkConstraints()
    if (cs.isEmpty) return
    val v = Constraints.violation(
      cs.map { case (n, e) => CheckConstraint(n, expr(e)) })
    val bad = rows.withColumn("_violation", v)
      .filter(col("_violation").isNotNull).limit(3).collect()
    if (bad.nonEmpty)
      throw new ConstraintViolationException(
        s"$what rejected: ${bad.length}+ rows violate CHECK constraints, " +
          s"e.g. ${bad.head}")
  }

  /** The last committed version — 0 for an empty store; each staged
    * commit (insert / merge / ack) advances it by exactly one. The
    * counter is promoted with the commit (staged marker file, atomic
    * rename of the version file), so a crash can never leave the
    * version ahead of or behind the data.
    */
  def currentVersion(): Long = currentVersionAt(path)

  /** Time travel: the table as of commit `version` — the connector's
    * `versionAsOf` read ([[graft.sources.CustomerStoreScan]]). It plans
    * the NEWEST snapshot checkpoint at or below `version` plus ONE task
    * that replays the feed delta `(snapshot, version]` in memory, per
    * email (the merge key, unique in every committed state) keeping the
    * row with the greatest commit version; with no snapshot the replay
    * runs from genesis. `asOf(currentVersion())` equals [[all]];
    * `asOf(0)` is empty. Cost bound: that one task holds every email
    * the delta touches, so the delta since the newest snapshot must
    * stay metadata-scale — [[writeSnapshot]] is the lever that resets
    * it. A version the retained history cannot reconstruct (its feed
    * vacuumed and no snapshot at or below it) fails here, when the
    * read is defined.
    */
  def asOf(version: Long): DataFrame = connectorRead("versionAsOf" -> version)

  /** (version, promotion timestamp millis) for every commit recorded
    * in the `_commits` registry — tiny metadata files written at
    * promotion, one per commit, that survive [[vacuumFeed]] (the map
    * is what makes vacuumed history DATABLE even when it is no longer
    * reconstructable).
    */
  def commitTimestamps(): Seq[(Long, Long)] = {
    val root = new java.io.File(path, Commits)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("commit-"))
      .map { f =>
        // Line 1 is the timestamp; later lines (operation label,
        // change-row count) belong to [[history]].
        f.getName.stripPrefix("commit-").toLong ->
          readText(f).linesIterator.next().trim.toLong
      }
      .sortBy(_._1)
  }

  /** The table's COMMIT HISTORY — the Delta `DESCRIBE HISTORY` shape:
    * one row per commit, newest first, with the commit's promotion
    * timestamp, its operation label (WRITE / UPDATE / MERGE / DELETE /
    * OPTIMIZE / RESTORE / ADD|RENAME|DROP COLUMN / ADD|DROP
    * CONSTRAINT), its change-feed row count (0 for feed-silent layout
    * and DDL commits) and its `operation_metrics` (Delta's
    * operationMetrics): `rows_added` / `rows_removed` / `rows_updated`
    * (its insert, delete_pre, and update + ack change rows),
    * `files_added` / `files_removed` (data files), `bytes_added` and
    * `stage_ms`, all taken from the commit's own staged writes. Served
    * ENTIRELY from the `_commits` registry — tiny per-commit metadata
    * files that survive [[vacuumFeed]], so history keeps describing
    * commits whose feed dirs are long retired, and the read costs
    * O(commits) driver-side metadata, never a data or feed scan.
    * Entries written before a field existed surface it NULL
    * (may-describe metadata degrades to unknown, never to a wrong
    * claim).
    */
  def history(): DataFrame = {
    val root = new java.io.File(path, Commits)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (!root.exists()) Seq.empty
      else root.listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("commit-"))
        .map { f =>
          val v = f.getName.stripPrefix("commit-").toLong
          val lines = readText(f).linesIterator.map(_.trim).toArray
          org.apache.spark.sql.Row(v, lines(0).toLong,
            if (lines.length > 1) lines(1) else null,
            if (lines.length > 2) java.lang.Long.valueOf(lines(2).toLong)
            else null,
            if (lines.length > 3) lines(3).split(",").filter(_.nonEmpty).map { kv =>
              val Array(k, n) = kv.split("=", 2)
              k -> n.toLong
            }.toMap
            else null)
        }
        .sortBy(-_.getLong(0))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, CustomerStore.historySchema)
  }

  /** One-row table metadata summary — the Delta `DESCRIBE DETAIL`
    * shape: current version, live data-file count and byte size,
    * deletion-vector totals, persisted-constraint count, retained
    * snapshot count, the feed low-watermark, and the (possibly
    * evolved) column count. Everything derives from manifests and
    * registry metadata — no data file is opened.
    */
  def detail(): DataFrame = {
    val live = liveDataFiles()
    val sizeBytes = live.map(f => new java.io.File(f._2).length()).sum
    val (dvTotal, dvLive) = deletionVectorStats()
    val row = org.apache.spark.sql.Row(
      currentVersion(), live.size.toLong, sizeBytes, dvTotal, dvLive,
      checkConstraints().size.toLong, snapshotVersions().size.toLong, feedLowWatermark(),
      tableSchema.size.toLong)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(row).asJava, CustomerStore.detailSchema)
  }

  /** The timestamp a commit being staged NOW should carry: the wall
    * clock, bumped to strictly exceed the newest registry entry — the
    * commit-timestamp monotonicity every transactional format enforces
    * (Delta adjusts identically), without which two commits landing in
    * the same millisecond make timestamp-addressed reads
    * ([[asOfTimestamp]], the connector's `feedFromTimestamp`)
    * ambiguous about which versions a timestamp denotes.
    */
  private def nextCommitTs(): Long = {
    val prev = commitTimestamps().lastOption.map(_._2).getOrElse(Long.MinValue)
    math.max(commitClock(), prev + 1)
  }

  /** Timestamp time travel: the table as of wall time `tsMillis` — the
    * connector's `timestampAsOf` read, resolved by [[versionAt]] and
    * served like [[asOf]]. A timestamp before the first commit yields
    * the empty version 0; the commit clock is injectable (constructor),
    * so tests and the parity gates plant deterministic timestamps
    * instead of wall time.
    */
  def asOfTimestamp(tsMillis: Long): DataFrame = connectorRead("timestampAsOf" -> tsMillis)

  /** The version a wall time denotes: the LAST commit whose promotion
    * timestamp in the `_commits` registry is ≤ `tsMillis` (0 before
    * the first commit). The one timestamp resolution behind
    * [[asOfTimestamp]] and the connector's `timestampAsOf` /
    * `feedFromTimestamp` options. A store that has commits but no
    * registry cannot date them and fails loudly.
    */
  def versionAt(tsMillis: Long): Long = {
    val ts = commitTimestamps()
    require(ts.nonEmpty || currentVersion() == 0L,
      "store has commits but no timestamp registry (created pre-timestamps?)")
    ts.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(0L)
  }

  /** Checkpoint the CURRENT table state as the snapshot for
    * `currentVersion()` (atomic tmp+rename; idempotent — an existing
    * snapshot for the version is kept). Snapshots bound [[asOf]]'s
    * replay to the delta since the checkpoint and let [[vacuumFeed]]
    * retire the log behind it. Returns the snapshotted version.
    */
  def writeSnapshot(): Long = {
    val v = currentVersion()
    val dst = snapshotDir(v)
    if (!dst.exists()) {
      val tmp = new java.io.File(path, s"$Snapshots/.tmp-$v")
      deleteRecursively(tmp)
      StagedWrite(toPhysical(all(), tableSchema), tmp, "snap"): Unit
      require(tmp.renameTo(dst), s"snapshot rename $tmp -> $dst failed")
    }
    v
  }

  /** Delete feed commit directories already covered by the NEWEST
    * snapshot (commit_version ≤ snapshot version) — the log-retention
    * step that keeps the feed proportional to activity since the last
    * checkpoint instead of the table's lifetime. Time travel to
    * versions at or after any remaining snapshot still works; older
    * versions become unreconstructable by design (same retention
    * contract as any vacuumed transactional table). Returns the
    * number of commit directories removed.
    */
  def vacuumFeed(): Int = {
    val cutoff = snapshotVersions().sorted.lastOption.getOrElse(return 0)
    val retired = commitDirsAt(path).filter(_._1 <= cutoff)
    // Persist the retention horizon (monotonic) BEFORE deleting the
    // retired dirs: a crash between the two steps then OVER-rejects —
    // the range is still physically readable but refused — which is
    // the safe direction. The previous order (delete, then promote)
    // left a window where the watermark was low while the dirs were
    // already gone, so the range check passed and catch-up reads
    // silently returned partial history — exactly the loss the
    // watermark exists to prevent (round-14 ADVICE, medium).
    val wm = math.max(feedLowWatermark(), cutoff)
    val tmp = new java.io.File(path, FeedWatermark + ".tmp")
    writeText(tmp, wm.toString)
    // REPLACE_EXISTING (atomic where the fs supports it): a plain
    // renameTo onto an existing stale watermark fails on some
    // filesystems, and the old `|| dst.exists()` fallback could not
    // tell a successful promotion from that failure — the require
    // passed with the OLD horizon and the .tmp leaked.
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(path, FeedWatermark).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    require(feedLowWatermark() == wm, s"feed watermark promotion to $wm failed")
    retired.foreach { case (_, d) => deleteRecursively(d) }
    retired.size
  }

  /** Retire old snapshot checkpoints, keeping the newest `keepLast`
    * (≥1 — the newest snapshot is what bounds [[asOf]] replay and
    * anchors [[vacuumFeed]]'s cutoff, so it is never removable). Time
    * travel to a version at or above a SURVIVING snapshot still works;
    * below the oldest survivor it fails through [[asOf]]'s existing
    * loud genesis check (the feed there is typically vacuumed too) —
    * the retention boundary every checkpointing format has, made
    * explicit. Returns the number of snapshot dirs deleted.
    */
  def vacuumSnapshots(keepLast: Int = 1): Int = {
    require(keepLast >= 1, "vacuumSnapshots: keepLast must be >= 1 (the " +
      "newest snapshot anchors asOf replay and the feed-vacuum cutoff)")
    val vs = snapshotVersions().sorted
    val retire = vs.dropRight(keepLast)
    retire.foreach(v => deleteRecursively(snapshotDir(v)))
    retire.size
  }

  /** SHALLOW CLONE (table fork): materialize an independent table at
    * `target` whose parquet artifacts — data files, change-feed
    * commits, snapshots, stats manifests, deletion vectors — are HARD
    * LINKS to this table's files, and whose small metadata (version
    * counter, commit registry, schema/constraints manifests, feed
    * watermark, ingest registry) is copied. This is the local-
    * filesystem realization of the Delta/Iceberg zero-copy clone: no
    * data byte is duplicated, and the clone is ready in time
    * proportional to the FILE COUNT, not the table bytes (an
    * object-store deployment substitutes absolute-path references for
    * links — same contract, same cost law). Because every committed
    * parquet file is immutable (mutation = write new files + unlink
    * old, never write-in-place), the two tables can never observe each
    * other's writes: deleting a directory entry on either side only
    * unlinks — the inode lives while the sibling still references it,
    * so compaction/vacuum/OPTIMIZE on one side is invisible to the
    * other.
    *
    * The clone is a FORK, not a fresh table: it keeps the full commit
    * history, so time travel ([[asOf]]), CDC reads ([[feedSince]]) and
    * [[history]] work on the clone exactly as on the source, and its
    * next commit is source-version + 1 on an independent counter.
    * Writer-side idempotence state ([[Txns `_txns`]]) is deliberately
    * NOT cloned (the Delta clone contract: streaming transaction
    * identity belongs to the writer+table pair — a stream re-pointed
    * at the clone must use a fresh checkpoint, not silently skip
    * batches the clone never absorbed). The [[IngestedDir `_ingested`]]
    * registry IS cloned: file-load dedup is table state, so a
    * COPY INTO of an already-loaded file stays a no-op on the clone.
    *
    * Runs under the source's promotion lock after [[recover]], so the
    * linked tree is a committed state, never a mid-promotion one;
    * in-flight writer staging dirs (`_staging.tmp-*`) are skipped.
    * Returns the cloned version.
    */
  def cloneTo(target: String): Long = promotionLock.synchronized {
    recover()
    require(tableExists, s"clone source $path has no committed table")
    val srcRoot = new java.io.File(path).getCanonicalFile.toPath
    val dstRoot = new java.io.File(target).getCanonicalFile.toPath
    require(srcRoot != dstRoot && !dstRoot.startsWith(srcRoot),
      s"clone target $target must be outside the source table")
    val pre = dstRoot.toFile.listFiles()
    require(pre == null || pre.isEmpty, s"clone target $target is not empty")
    java.nio.file.Files.createDirectories(dstRoot)
    val walk = java.nio.file.Files.walk(srcRoot)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_ != srcRoot).foreach { p =>
        val rel = srcRoot.relativize(p)
        val top = rel.getName(0).toString
        // Writer-private state never travels: staging (committed state
        // only) and the idempotent-txn registry (see scaladoc).
        if (!top.startsWith(Staging) && top != Txns) {
          val t = dstRoot.resolve(rel)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else if (p.toString.endsWith(".parquet"))
            // Immutable data artifact: share the inode. Fall back to a
            // copy when the target filesystem can't link (cross-device)
            // — semantics identical, zero-copy property lost loudly in
            // the returned link count, never in correctness.
            try java.nio.file.Files.createLink(t, p)
            catch { case _: UnsupportedOperationException
                       | _: java.nio.file.FileSystemException =>
              java.nio.file.Files.copy(p, t): Unit
            }
          else
            java.nio.file.Files.copy(p, t): Unit
        }
      }
    } finally walk.close()
    // Provenance marker (source path @ version at fork time).
    java.nio.file.Files.write(dstRoot.resolve(ClonedFrom),
      s"$srcRoot@${currentVersion()}".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    currentVersion()
  }

  /** PURGE — right-to-be-forgotten erasure of natural keys from EVERY
    * artifact of this table: live data files, the retained change-feed
    * commits, snapshots, and deletion vectors. This goes beyond what a
    * vacuum-based table format offers (Delta/Iceberg can delete +
    * vacuum the CURRENT data, but excising a key from retained CDC
    * history and checkpoints means dropping that history wholesale);
    * here each history artifact is REWRITTEN without the key's rows
    * and atomically swapped under its original name — a new inode
    * replaces the directory entry, so concurrent readers see the old
    * or the new file, never a torn one, and a hard-linked clone keeps
    * its own data (erasure must be run per fork, as with any fork).
    * Skipping stats are untouched: they hold only xxhash bloom words
    * and md5-word samples — non-invertible, no raw key material.
    *
    * Ordering is chosen so a crash can only leave LESS of the key,
    * never resurrect it, and a re-run completes the job (the whole
    * operation is idempotent):
    *   1. feed + snapshot surgery (no effect on live reads);
    *   2. the live-data excision as a feed-SILENT file-level "PURGE"
    *      commit — erasure must not re-emit the keys' rows into the
    *      feed as delete_pre retractions; touched files are found by
    *      the current-snapshot scan with its tombstones emptied (every
    *      physical row of the live files), so a row the key had merely
    *      tombstoned is rewritten away too and the key's vector rows
    *      all become inert BEFORE step 3 removes them (excising a
    *      still-live vector row first would resurrect the row it
    *      tombstones);
    *   3. deletion-vector excision (all inert for the key by now).
    * The commit lands only when steps 1-2 excised something, so
    * re-running a completed purge is version-stable. History row
    * counts in the `_commits` registry keep their ORIGINAL values —
    * the registry is an audit record of what each commit did, not of
    * what later erasure removed.
    *
    * Scale: one metadata-light probe scan per artifact family finds
    * the touched files (the live-data probe's pushed `email IN keys`
    * filter bloom-prunes it like any point read); rewrite cost ∝ files
    * actually containing the keys. Returns (physical live rows
    * excised, feed rows excised, snapshot rows excised, deletion-
    * vector rows excised).
    */
  def purgeEmails(emails: Seq[String]): (Long, Long, Long, Long) =
    promotionLock.synchronized(graft.util.Labeled(spark, "store: purge") {
      recover()
      require(tableExists, s"purge: table at $path does not exist")
      val keys = emails.map(_.trim).filter(_.nonEmpty).distinct
      require(keys.nonEmpty, "purge: no keys given")
      require(keys.size <= 1000,
        s"purge is a point operation (got ${keys.size} keys); run batches of <= 1000")
      val emailPhys = physicalNameOf(tableSchema("email"))

      // 1. Retained feed commits, then snapshots.
      val nFeed = exciseParquet(commitDirsAt(path).flatMap(d =>
        graft.sources.ParquetGroups.parquetFilesIn(d._2.toString)), emailPhys, keys)
      val nSnap = exciseParquet(snapshotVersions().flatMap(v =>
        graft.sources.ParquetGroups.parquetFilesIn(snapshotDir(v).toString)), emailPhys, keys)

      // 2. Live data: the scan over every physical row (tombstones
      // emptied), then a file-level feed-silent PURGE commit rewriting
      // exactly the touched files. The probe returns each hit row's file
      // name, in one job: a few rows per key.
      val hitFiles = liveRead(withFile = true, live = liveFiles().copy(tombstones = Map.empty))
        .filter(col("email").isInCollection(keys))
        .select(col("_file")).collect().map(_.getString(0)).toSeq
      val nLive = hitFiles.size.toLong
      if (nLive > 0) {
        val touched = hitFiles.distinct
        // Survivors: the touched files' live rows (OTHER keys' vectors
        // applied — the replacement files make those vectors inert too),
        // minus the purged keys.
        val survivors = liveRead(Some(touched.map(baseName).toSet))
          .filter(!col("email").isInCollection(keys))
        commit(Commit.partitioned("PURGE", survivors).copy(remove = touched))
      }

      // 3. Deletion vectors (plain `email` column; all the purged
      // keys' rows are inert now).
      val nDv = exciseParquet(deletionVectorFiles(), "email", keys)
      (nLive, nFeed, nSnap, nDv)
    })

  /** Rewrite every file in `files` that contains a purged key, without
    * those rows, atomically swapped under the ORIGINAL name (readers
    * see old-or-new, never torn; a fully-excised file is removed —
    * every artifact reader handles a missing part). One probe scan
    * over the whole family finds the touched files; rewrites are
    * per-file so each file's own (possibly evolved) schema is
    * preserved verbatim. Returns rows excised.
    */
  private def exciseParquet(files: Seq[String], emailCol: String,
      keys: Seq[String]): Long = {
    if (files.isEmpty) return 0L
    val probe = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(emailCol,
        org.apache.spark.sql.types.StringType)))
    // ONE probe job yields the touched files AND their hit counts
    // (r16; guide §1.2): the old shape re-read every touched file to
    // count its hits and again to test emptiness — per-file jobs the
    // probe aggregate already answers, with "fully excised" decided
    // from the file's footer row count (driver-side, no job).
    val touched = spark.read.schema(probe)
      .parquet(files: _*)
      .withColumn("_f", input_file_name())
      .filter(col(emailCol).isInCollection(keys))
      .groupBy(col("_f")).agg(count(lit(1)).as("_n")).collect()
      .map(r => (new java.io.File(new java.net.URI(r.getString(0)).getPath),
        r.getLong(1)))
    touched.map { case (f, hits) =>
      // Hadoop's LocalFileSystem keeps a `.<name>.crc` sidecar; a swap
      // must retire it with the bytes it checksums or readers fail
      // with ChecksumException against the replacement.
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (parquetRowCount(Seq(f.getAbsolutePath)) == hits) {
        require(f.delete(), s"purge: could not remove fully-excised $f")
        if (crc.exists()) crc.delete(): Unit
      } else {
        val keep = graft.sources.ParquetGroups.read(spark, f.getAbsolutePath)
          .filter(!col(emailCol).isInCollection(keys))
        // Dot-prefixed sibling dir: invisible to Spark's globs, same
        // filesystem as the target so the final move is an atomic
        // rename; stale leftovers from a crashed attempt are swept.
        val tmp = new java.io.File(f.getParentFile, s".purge-${f.getName}")
        deleteRecursively(tmp)
        StagedWrite(keep.coalesce(1), tmp, "purge"): Unit
        val parts = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
        require(parts.length == 1, s"purge: expected one part under $tmp")
        val newCrc = new java.io.File(tmp, s".${parts(0).getName}.crc")
        java.nio.file.Files.move(parts(0).toPath, f.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        if (newCrc.exists())
          java.nio.file.Files.move(newCrc.toPath, crc.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        else if (crc.exists()) crc.delete(): Unit
        deleteRecursively(tmp)
      }
      hits
    }.sum
  }

  /** The feed-retention horizon: commits at or below this version were
    * retired by [[vacuumFeed]] (0 = nothing vacuumed). Range feed reads
    * ([[feedSince]], [[feedDirsIn]], the connector's `feedFrom`) whose
    * exclusive lower bound lies below it are rejected — a catch-up
    * consumer must never silently lose changes. Feed-SILENT commits
    * (compact) legitimately have no dir, which is why availability is
    * a watermark check, not dir contiguity.
    */
  def feedLowWatermark(): Long = feedLowWatermarkAt(path)

  /** Small-file maintenance: rewrite both partitions into
    * `targetFilesPerPartition` files under the SAME staged-commit
    * protocol as every mutation — a data-only commit that advances
    * the version but emits NO change rows (compaction is physical
    * layout, not a logical change; the feed stays silent exactly like
    * a transactional format's OPTIMIZE). Every commit appends files,
    * so a long-lived store calls this periodically; at 100 TB the
    * rewrite is per-partition and the bin-packing target is a file
    * size, but the commit shape is identical.
    */
  def compact(targetFilesPerPartition: Int = 1): Unit =
    rewriteTable(_.coalesce(targetFilesPerPartition))

  /** OPTIMIZE with range CLUSTERING on the merge-grain key: the same
    * data-only rewrite commit as [[compact]], but each partition's
    * rows are range-partitioned by `id` into `filesPerPartition`
    * files with DISJOINT id ranges — which is what turns the
    * per-commit zone maps ([[zoneKeepFiles]]) from descriptive
    * metadata into a pruning index: an id-range read
    * ([[pendingRangeRead]]) then opens only intersecting files. The
    * Delta OPTIMIZE ZORDER / liquid-clustering maintenance shape,
    * 1-D form (one clustering key).
    */
  def optimize(filesPerPartition: Int = 4): Unit =
    rewriteTable(_.repartitionByRange(filesPerPartition, col("id")))

  /** OPTIMIZE with TWO-dimensional Z-ORDER clustering (the Delta
    * `OPTIMIZE ... ZORDER BY (a, b)` maintenance shape; [[optimize]]
    * is the 1-D form): range-partition each partition's rows by the
    * bit-interleaved key over (64-bucket scaled id, 64-way hash shard
    * of id), so every output file covers a contiguous segment of the
    * z-curve — a TIGHT rectangle in BOTH dimensions — and the
    * per-commit zone maps ([[zoneKeepFiles]]: min/max id AND min/max
    * shard, staged and promoted with this commit like any other)
    * prune id-range reads, shard reads, and rectangle reads
    * ([[pendingRectRead]]) alike. The id scaling normalizes the key
    * domain into the curve's 6-bit grid from the table's own min/max
    * (one 1-row aggregate, driver-side); at 100 TB the same rewrite
    * runs per partition with file-size bin targets, but the curve and
    * the zone consult are unchanged.
    */
  def optimizeZorder(filesPerPartition: Int = 16): Unit = {
    if (!tableExists) return
    recover()
    val mm = all().agg(min(col("id")), max(col("id"))).head()
    if (mm.isNullAt(0)) return
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, mx - mn + 1)
    // Scale id into curve buckets 0..63 in double precision (exact for
    // any realistic id span; ids here are < 2^53) and clamp the max.
    val idBucket = least(lit(63L),
      floor((col("id") - lit(mn)).cast("double") * 64.0d / span.toDouble)
        .cast("long"))
    val zkey = graft.util.DataSkipping.zorderKey(
      idBucket, CustomerStore.hashBucket(col("id")), 6)
    rewriteTable(_.repartitionByRange(filesPerPartition, zkey))
  }

  /** INCREMENTAL Z-ORDER maintenance — absorb the commits that landed
    * SINCE the last clustering without touching the clustered layer
    * (at 100 TB a full rewrite per delta is the scale-killer; Delta's
    * OPTIMIZE is incremental for exactly this reason). The clustered
    * baseline is identified from the stats manifest alone: the live
    * pending files carrying the OLDEST commit_version are the last
    * rewrite's output (a rewrite replaces everything, so anything
    * newer is post-rewrite delta); delta files — plus any file
    * without stats coverage, conservatively — are read back, deletion
    * vectors applied (the rewrite makes their vectors inert),
    * z-ordered on the SAME curve (global id bounds also from the
    * manifest — no full-table read anywhere), and committed through
    * the FILE-LEVEL merge commit: replacement files land, delta files
    * are removed, every baseline file survives in place, the feed
    * stays silent (physical layout only) and the version advances.
    * Successive layers compact into one on the next call (they become
    * the newest versions). Falls back to [[optimizeZorder]] when no
    * file has stats coverage.
    */
  def optimizeZorderIncremental(filesPerDelta: Int = 8): Unit = {
    if (!tableExists) return
    recover()
    val files = livePendingFiles()
    if (files.isEmpty) return
    val stats = manifest.current()
    val zoneRows = files.flatMap { case (n, _) =>
      stats.get(n).flatMap(s => s.idZone.map { case (mn, mx) => n -> ((s.version, mn, mx)) })
    }.toMap
    if (zoneRows.isEmpty) { optimizeZorder(filesPerDelta); return }
    val vBase = zoneRows.values.map(_._1).min
    val delta = files.filter { case (n, _) =>
      zoneRows.get(n).forall(_._1 > vBase)
    }
    if (delta.isEmpty) return
    val mn = zoneRows.values.map(_._2).min
    val mx = zoneRows.values.map(_._3).max
    val span = math.max(1L, mx - mn + 1)
    // Clamp BOTH ends: stats-uncovered files ride the delta
    // conservatively, and an id below the manifest min would make the
    // bucket negative — shiftright on a negative bucket interleaves a
    // malformed key (layout quality, not correctness; zones re-derive
    // from actual data). Mirrors the upper least(63,...) clamp; the
    // full rewrite above needs no lower clamp (bounds come from the
    // data itself).
    val idBucket = greatest(lit(0L), least(lit(63L),
      floor((col("id") - lit(mn)).cast("double") * 64.0d / span.toDouble)
        .cast("long")))
    val zkey = graft.util.DataSkipping.zorderKey(
      idBucket, CustomerStore.hashBucket(col("id")), 6)
    val rows = liveRead(Some(delta.map(_._1).toSet)).repartitionByRange(filesPerDelta, zkey)
    commit(Commit.partitioned("OPTIMIZE", rows).copy(remove = delta.map(_._2)))
  }

  /** Shared data-only rewrite commit (compaction / clustering): the
    * version advances, the feed stays silent (physical layout, not a
    * logical change), and the full rewrite MATERIALIZES every
    * deletion-vector tombstone (all() below is vector-applied) — a
    * replace removes every live data file and vector file inside the
    * idempotent promotion (crash-safe: stats stay exact, not just
    * never-wrong).
    */
  private def rewriteTable(shape: DataFrame => DataFrame): Unit = {
    if (!tableExists) return
    recover()
    val cur = graft.util.Labeled(spark, "store: rewrite read")(all().localCheckpoint(true)) // vectors applied
    commit(Commit.partitioned("OPTIMIZE", cur, shape).copy(replaceAll = true))
  }

  /** RESTORE to an earlier committed version (the Delta RESTORE shape):
    * a full-replace data commit whose change feed records the restore
    * as the email-keyed DIFF from the current state to the target —
    * `insert` rows for emails only in the target, `delete_pre`
    * retractions for emails only in the current state, and
    * `update_pre`/`update` pairs for changed rows (null-safe struct
    * comparison) — so every CDC consumer (incremental MV, streaming
    * view, asOf) absorbs a restore with no special code and the feed's
    * replay invariant (+1 post, −1 `_pre` ⇒ live state) is preserved.
    * The restore is a NEW commit: history is never rewritten, and time
    * travel to pre-restore versions still works.
    */
  def restore(version: Long): Unit = graft.util.Labeled(spark, "store: restore") {
    recover()
    // A nonexistent target must error (the Delta RESTORE contract),
    // not silently commit a no-change full replace and advance the
    // version — a typoed version number would otherwise be absorbed
    // invisibly.
    require(tableExists, s"RESTORE: table at $path does not exist")
    val headV = currentVersion()
    require(version >= 1 && version <= headV,
      s"RESTORE: version $version does not exist (current version is $headV)")
    val target = asOf(version).localCheckpoint(true)
    val rowS = struct(tableSchema.fieldNames.map(col): _*)
    val diff = all().select(col("email").as("_e"), rowS.as("_c"))
      .join(target.select(col("email").as("_e"), rowS.as("_t")), Seq("_e"), "full_outer")
      .localCheckpoint(true)
    // One projection over the diff: `insert` / `delete_pre` for a key on
    // one side only, an `update_pre` + `update` pair for a changed row.
    def change(kind: String, side: String, cond: Column): Column =
      when(cond, struct(lit(kind).as("change_type"), col(side).as("_r")))
    val changed = col("_c").isNotNull && col("_t").isNotNull && !(col("_c") <=> col("_t"))
    commit(Commit.partitioned("RESTORE", target).copy(replaceAll = true,
      changes = Some(diff.select(inline(array_compact(array(
        change("insert", "_t", col("_c").isNull), change("delete_pre", "_c", col("_t").isNull),
        change("update_pre", "_c", changed), change("update", "_t", changed)))))
        .select(col("change_type"), col("_r.*")))))
  }

  /** Zone-pruned id-range read over the pending partition: the scan
    * consults the per-commit zone manifest and OPENS only live files
    * whose [min_id, max_id] intersects [lo, hi]; a file without
    * manifest coverage degrades to a read, never a wrong answer. The
    * exact predicate is re-applied to the opened files and deletion
    * vectors are honored. Returns (rows, filesRead, filesTotal) so
    * callers can assert the skip actually happened.
    */
  def pendingRangeRead(lo: Long, hi: Long): (DataFrame, Int, Int) =
    pendingRead(col("id") >= lo && col("id") <= hi)

  /** TWO-dimensional zone-pruned read over the pending partition: open
    * only live files whose [min_id,max_id] × [min_hb,max_hb] zone
    * rectangle intersects the query rectangle (id range × hash-shard
    * band). After [[optimizeZorder]] every file's rectangle is tight
    * in BOTH dimensions, so id-only reads, shard-only reads, and true
    * rectangles all prune — a single-key clustering ([[optimize]])
    * serves only its leading column. The shard band is no pushable
    * filter, so its zone consult restricts the scan's files and the
    * scan prunes the id range. Missing stats degrade to a read, never
    * a wrong answer; the exact predicate is re-applied and deletion
    * vectors are honored. Returns (rows, filesRead, filesTotal) so
    * callers can assert the skip happened.
    */
  def pendingRectRead(idLo: Long, idHi: Long, hbLo: Long, hbHi: Long)
      : (DataFrame, Int, Int) = {
    val stats = manifest.current()
    val inBand = livePendingFiles().map(_._1).filter(n => stats.get(n).flatMap(_.hbZone)
      .forall { case (mn, mx) => mx >= hbLo && mn <= hbHi }).toSet
    pendingRead(col("id") >= idLo && col("id") <= idHi &&
      CustomerStore.hashBucket(col("id")).between(hbLo, hbHi), Some(inBand))
  }

  /** The pending rows matching `cond`, with the files the planned scan
    * keeps and the pending files it chose them from — read off the very
    * scan the rows come from (planning runs no job). A condition the
    * optimizer folds to false plans no scan and keeps no file.
    */
  private def pendingRead(cond: org.apache.spark.sql.Column,
      only: Option[Set[String]] = None): (DataFrame, Int, Int) = {
    val rows = liveRead(only).filter(!col("uploaded") && cond)
    rows.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    } match {
      case Some(scan: graft.sources.CustomerStoreScan) =>
        val (kept, total) = scan.filesKept
        (rows, kept, total)
      case _ => (rows, 0, livePendingFiles().size)
    }
  }

  private def snapshotDir(v: Long): java.io.File =
    new java.io.File(path, f"$Snapshots%s/v-$v%09d")

  private def snapshotVersions(): Seq[Long] = {
    val root = new java.io.File(path, Snapshots)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("v-"))
      .map(_.getName.stripPrefix("v-").toLong)
  }

  /** Zone-map pruning on an EVOLVED numeric column (physical name):
    * keep files whose [min_v, max_v] intersects [lo, hi]; a file with
    * no coverage for the column — pre-evolution commits, pre-'e'-stats
    * generations, or an all-NULL column in that file — is kept
    * (missing stats degrade to a read, never a wrong answer).
    */
  def evolvedZoneKeepFiles[A](files: Seq[(String, A)], physCol: String,
      lo: Long, hi: Long): Seq[(String, A)] = {
    val stats = manifest.current()
    files.filter { case (name, _) =>
      stats.get(name).flatMap(_.evolved.get(physCol)).forall {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true
      }
    }
  }

  /** ANALYZE-style selectivity estimate for `id BETWEEN lo AND hi`
    * over the pending partition, FROM THE STATS MANIFEST ALONE — no
    * data file is opened (the optimizer-statistics consult a CBO makes
    * before choosing a plan). The table-level uniform sample is the
    * re-trim of the live files' per-file bottom-k samples (exact KMV
    * merge — independent of which commits wrote which files), the
    * exact row total comes from the zone rows, and the estimate is
    * integer arithmetic: total · |sample ∩ range| / k. Estimates see
    * pre-delete counts while deletion vectors are live (stats are
    * may-contain metadata; compaction re-derives them exactly).
    * Returns (estimatedRows, totalRows, sampleSize).
    */
  def estimatePendingRange(lo: Long, hi: Long): (Long, Long, Long) = {
    recover() // consult post-commit state, same as every other read path
    val live = livePendingFiles().map(_._1)
    if (live.isEmpty) return (0L, 0L, 0L)
    val stats = live.flatMap(manifest.current().get)
    val total = stats.flatMap(_.nRows).sum
    val sample = manifestSample(stats).map(_._2)
    if (sample.isEmpty) return (total, total, 0L)
    val inRange = sample.count(id => id >= lo && id <= hi).toLong
    (total * inRange / sample.length, total, sample.length.toLong)
  }

  /** Join-cardinality estimate |store ⋈ batch| on the id key FROM THE
    * MANIFEST KMV SAMPLES ALONE — the two-table CBO consult that sizes
    * a join before reading either side (K-Min-Values set-operation
    * estimation, Beyer et al., SIGMOD 2007). The store side is the
    * exact KMV re-trim of the live files' per-file bottom-k samples
    * (no data file opened — pinned by StoreStatsSpec's truncation
    * check); the batch side sketches the in-flight batch with the
    * SAME engine-neutral md5-word hash, one bounded pass.
    *
    * Estimator (all integer arithmetic, mirrored textually by the
    * DuckDB oracle): k = min(SampleK, |S|, |B|); L = k smallest
    * distinct (hash, id) pairs of S ∪ B; with h_k = max hash in L,
    * |store ∪ batch| ≈ (k−1)·2³² / h_k (exact |S ∪ B| when the
    * merged sketch holds the whole union), and since both sides are
    * key-unique, |store ⋈ batch| = |store ∩ batch| ≈
    * |L ∩ S ∩ B| · unionEst / k. Returns (estJoinRows, unionEst, k).
    */
  def estimateJoinOnId(batchIds: DataFrame): (Long, Long, Long) = {
    recover()
    val stats = manifest.current()
    val storeSample = manifestSample(liveDataFiles().flatMap(f => stats.get(f._1)))
    val idCol = col(batchIds.columns.head).cast("long")
    val batchSample = batchIds
      .select(conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"), idCol.as("id"))
      .orderBy(col("h"), col("id")).limit(SampleK)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (storeSample.isEmpty || batchSample.isEmpty)
      return (0L, storeSample.length.toLong + batchSample.length.toLong, 0L)
    val k = math.min(SampleK, math.min(storeSample.length, batchSample.length))
    val union = (storeSample ++ batchSample).distinct.sorted
    val l = union.take(k)
    val unionEst =
      if (union.length <= k) union.length.toLong
      else (k - 1).toLong * 4294967296L / math.max(l.last._1, 1L)
    val sSet = storeSample.toSet
    val bSet = batchSample.toSet
    val matches = l.count(p => sSet(p) && bSet(p)).toLong
    (matches * unionEst / k, unionEst, k.toLong)
  }

  /** The table-level KMV sample of `stats`' files: the SampleK smallest
    * (hash, id) pairs of their per-file samples (exact bottom-k merge).
    */
  private def manifestSample(stats: Seq[FileStats]): Seq[(Long, Long)] =
    stats.flatMap(_.sample).sorted.take(SampleK)

  /** Live pending data files as (basename, absolute path). */
  private def livePendingFiles(): Seq[(String, String)] = {
    val dir = new java.io.File(path, "uploaded=false")
    if (!dir.exists()) Seq.empty
    else dir.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.getAbsolutePath)
  }

  /** Basenames of the live pending data files — exposed so callers can
    * pin the FILE-LEVEL commit contract (an ack must leave untouched
    * pending files in place, not rewrite the partition).
    */
  def pendingDataFiles(): Seq[String] = livePendingFiles().map(_._1)

  /** Absolute paths of the live pending data files — for physical pins
    * that must actually touch the bytes on disk (e.g. truncating every
    * data file to prove a manifest-only read opened none of them).
    * Basenames alone would resolve against the CWD and pin nothing.
    */
  def pendingDataFilePaths(): Seq[String] = livePendingFiles().map(_._2)

  // ---- Table-format metadata API (the DSv2 connector's planner) ------
  //
  // sources.CustomerStoreSource serves this store through
  // spark.read.format("graft-store"); its planInputPartitions consults
  // ONLY these metadata methods (live file list, manifests, snapshot/
  // feed resolution) — the same files-before-bytes discipline every
  // transactional table format's scan planning follows.

  /** Every live data file as (basename, absolute path, uploaded
    * partition value) — the current snapshot's complete file list, as
    * the last promoted state shows it (a listing, no recovery).
    */
  def liveDataFiles(): Seq[(String, String, Boolean)] = {
    val done = {
      val d = new java.io.File(path, "uploaded=true")
      if (!d.exists()) Seq.empty
      else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.getAbsolutePath, true))
    }
    livePendingFiles().map { case (n, p) => (n, p, false) } ++ done
  }

  /** The current snapshot as one read sees it: the live data files and
    * each one's tombstoned emails, from one listing and one driver read
    * of the deletion vectors. Runs no recovery and takes no lock, so a
    * read plans while a committer holds the promotion lock.
    */
  private[graft] def liveFiles(): LiveFiles = {
    val files = liveDataFiles()
    val names = files.map(_._1).toSet
    LiveFiles(files, tombstoneRows().collect { case (f, es) if names(f) => f -> es.toSet })
  }

  /** COUNT(*)/MIN(id)/MAX(id) over the live table FROM THE ZONE
    * MANIFEST ALONE — the aggregate-pushdown consult (no data file
    * opened). Answers only when the consult is EXACT: no live deletion
    * vectors (a tombstoned row may hold the min, and zone rows are
    * may-contain metadata under deletes) and every live file zone-
    * covered. Returns None when it cannot be exact — the caller falls
    * back to reading data, never to a wrong answer. An empty table
    * answers (0, None, None).
    */
  def manifestAggregates(): Option[(Long, Option[Long], Option[Long])] = {
    val live = liveFiles()
    if (live.files.isEmpty) return Some((0L, None, None))
    coveredZoneRows(live).map { zones =>
      (zones.map(_._2).sum, Some(zones.map(_._3).min), Some(zones.map(_._4).max))
    }
  }

  /** GROUP BY `uploaded` COUNT(*)/MIN(id)/MAX(id) from the zone
    * manifest alone — the partition-grouped sibling of
    * [[manifestAggregates]] (per-partition counts are manifest-
    * derivable because `uploaded` IS the partition directory). Same
    * exactness refusals; one output row per NON-EMPTY partition (SQL
    * GROUP BY emits no row for an empty group). None when it cannot
    * be exact. `live` is the snapshot consulted (a scan passes the one
    * it plans over).
    */
  def manifestAggregatesGrouped(live: LiveFiles = liveFiles())
      : Option[Seq[(Boolean, Long, Option[Long], Option[Long])]] = {
    if (live.files.isEmpty) return Some(Seq.empty)
    coveredZoneRows(live).map { zones =>
      val uploadedOf = live.files.map(f => f._1 -> f._3).toMap
      zones.groupBy(z => uploadedOf(z._1)).toSeq.map { case (u, zs) =>
        (u, zs.map(_._2).sum, Some(zs.map(_._3).min), Some(zs.map(_._4).max))
      }.sortBy(_._1)
    }
  }

  /** Per-partition MIN/MAX of an EVOLVED numeric column from the
    * kind='e' manifest alone — the evolved-column face of
    * [[manifestAggregatesGrouped]]. Exactness rules: refuses (None)
    * under live deletion vectors or when any live file lacks an 'e'
    * row for the column; an 'e' row with NULL min/max is an ALL-NULL
    * column in that file and contributes nothing (exactly MIN/MAX's
    * null-skipping semantics), so a group whose files are all-null
    * serves the honest NULL extrema.
    */
  def manifestEvolvedExtremaGrouped(physCol: String, live: LiveFiles = liveFiles())
      : Option[Seq[(Boolean, Option[Long], Option[Long])]] = {
    if (live.files.isEmpty) return Some(Seq.empty)
    if (live.tombstones.nonEmpty) return None
    val stats = manifest.current()
    val extrema = live.files.map(f => (f._3, stats.get(f._1).flatMap(_.evolved.get(physCol))))
    if (extrema.exists(_._2.isEmpty)) return None
    Some(extrema.groupBy(_._1).toSeq.map { case (u, es) =>
      (u, es.flatMap(_._2.get._1).minOption, es.flatMap(_._2.get._2).maxOption)
    }.sortBy(_._1))
  }

  /** The exact-consult core shared by both manifest-aggregate faces:
    * the newest zone row per live file as (file, n_rows, min_id,
    * max_id). None whenever the consult could not be EXACT — live
    * deletion vectors (a tombstoned row may hold the extremum, and
    * zone rows are may-contain metadata under deletes) or a live file
    * without complete non-null coverage.
    */
  private def coveredZoneRows(live: LiveFiles): Option[Seq[(String, Long, Long, Long)]] = {
    if (live.tombstones.nonEmpty) return None
    // Demand complete non-null coverage of the live set.
    val stats = manifest.current()
    val zones = live.files.flatMap { case (n, _, _) => stats.get(n).flatMap(s =>
      for (r <- s.nRows; mn <- s.minId; mx <- s.maxId) yield (n, r, mn, mx)) }
    if (zones.size != live.files.size) None // a live file lacks coverage
    else Some(zones)
  }

  /** Total zone row count of the named files from the manifest alone —
    * None unless every file is covered (the DSv2 scan's row estimate).
    */
  def manifestRowCount(names: Set[String]): Option[Long] = {
    val stats = manifest.current()
    val counts = names.toSeq.flatMap(n => stats.get(n).flatMap(_.nRows))
    if (counts.size == names.size) Some(counts.sum) else None
  }

  /** Absolute paths of the committed deletion-vector parquet files
    * ((file, email) tombstone rows) — empty when the table has none.
    */
  def deletionVectorFiles(): Seq[String] = {
    val d = new java.io.File(path, Deletes)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath)
  }

  /** The newest snapshot checkpoint at or below `version`, as
    * (snapshot version, its parquet file paths) — None if the replay
    * must run from genesis.
    */
  def snapshotFilesFor(version: Long): Option[(Long, Seq[String])] =
    snapshotVersions().filter(_ <= version).sorted.lastOption.map { v0 =>
      v0 -> graft.sources.ParquetGroups.parquetFilesIn(snapshotDir(v0).toString)
    }

  /** Feed commit directories with fromExclusive < version ≤
    * toInclusive, in version order — the delta a time-travel scan
    * replays on top of its snapshot base.
    */
  def feedDirsIn(fromExclusive: Long, toInclusive: Long): Seq[(Long, String)] =
    feedDirsAt(path, fromExclusive, toInclusive)

  /** Zone-manifest file pruning for `id BETWEEN lo AND hi` over an
    * arbitrary live-file list: keep a file iff its latest zone entry
    * intersects the range — or it has no coverage (may-contain
    * metadata degrades to a read, never a wrong answer).
    */
  def zoneKeepFiles[A](files: Seq[(String, A)], lo: Long, hi: Long): Seq[(String, A)] = {
    val stats = manifest.current()
    files.filter { case (name, _) =>
      stats.get(name).flatMap(_.idZone).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
  }

  /** Bloom-manifest file pruning for an email IN-list over an
    * arbitrary live-file list (the scan's email prune, behind
    * [[pendingPointLookup]] and the ack's candidate read). Returns the
    * paths that MAY contain any of `emails`:
    * each covered file's latest filter is probed on the driver at the
    * bit positions [[CustomerStore.bloomPositions]] computes — the
    * very expression [[stageStats]] set them with, per file geometry,
    * so mixed geometries probe correctly. A file with no manifest
    * coverage is kept — missing stats degrade to a read, never a wrong
    * answer.
    */
  def bloomKeepFiles(files: Seq[(String, String)], emails: Seq[String]): Seq[String] = {
    if (files.isEmpty || emails.isEmpty) return Seq.empty
    val stats = manifest.current()
    val positions = scala.collection.mutable.HashMap.empty[Long, Seq[Array[Long]]]
    files.filter { case (name, _) =>
      stats.get(name).flatMap(_.bloom).forall(b => b.nbits > 0 && b.mayContainAny(
        positions.getOrElseUpdate(b.nbits, emails.map(bloomPositions(_, b.nbits)))))
    }.map(_._2)
  }

  /** Email point lookup over the pending partition THROUGH the
    * per-commit bloom manifest: the scan opens only may-contain files
    * and re-applies the exact IN predicate. Returns (rows, filesRead,
    * filesTotal) so callers can assert the skip actually happened — the
    * store-native point-read the work-queue's ack path uses.
    */
  def pendingPointLookup(emails: Seq[String]): (DataFrame, Int, Int) =
    pendingRead(col("email").isin(emails: _*))

  /** Post-ack state transition (S7, database.go:176-198): flip
    * uploaded=true for the given emails and touch modified_ts — the
    * explicit form of the reference's BEFORE UPDATE trigger
    * (init-db.sh:28-36). A FILE-LEVEL commit: only the pending files
    * that actually contain acked emails are rewritten (their survivors
    * as replacement files, the flipped rows appended to the done
    * partition); every untouched pending file stays in place. The
    * acked emails reach the candidate read as an IN filter, so the scan
    * opens only the pending files their blooms may contain — the index
    * consult the reference's upload_idx does in Postgres (a set past
    * the scan's bloom-probe cap reads the pending partition).
    *
    * Commit protocol (the analog of the reference's BEGIN/COMMIT,
    * database.go:131-153): all outputs are first written to an
    * underscore-prefixed staging directory (invisible to the parquet
    * reader), then a single atomic directory rename marks the commit
    * point, then the staged outputs are promoted — touched pending
    * files deleted by remove-list, replacements and done-partition
    * files moved in under commit-unique names. A crash before the
    * rename leaves the table untouched; a crash after it is finished
    * idempotently by [[recover]] on next open. At no point can a row
    * exist in both partitions, and the kept pending rows are never the
    * only copy at risk mid-write.
    */
  def markUploaded(ackedEmails: DataFrame): Unit = {
    if (!tableExists) return
    recover()
    commit(ackCommit(ackedEmails))
  }

  /** The ack commit [[markUploaded]] lands (see there). Specs stage it
    * to stop at the commit point.
    */
  private[pipeline] def ackCommit(ackedEmails: DataFrame): Commit = {
    val emails = ackedEmails.select(col("email")).distinct().collect()
      .flatMap(r => Option(r.getString(0))).toSeq
    // Pre-image first (the rows about to flip, tagged with their file),
    // pinned before any file moves; the post-image derives from it so
    // both reflect ONE scan.
    val (movedPre, m) = pinObserved("store: ack preimage", liveRead(withFile = true)
      .filter(!col("uploaded") && col("email").isInCollection(emails)), collect_set(col("_file")))
    val touched = m.getSeq[String](0).toSet
    val moved = graft.util.Labeled(spark, "store: ack preimage")(movedPre.drop("_file")
      .withColumn("uploaded", lit(true))
      .withColumn("modified_ts", current_timestamp())
      .select(tableSchema.fieldNames.map(col): _*)
      .localCheckpoint(true)) // one evaluation feeds both the commit and its changelog
    // Survivors: the touched files' live rows minus the acked emails.
    val survivors = liveRead(Some(touched.map(baseName)))
      .filter(!col("email").isInCollection(emails))
    Commit("UPDATE", pending = Some(survivors), done = Some(moved), remove = touched.toSeq,
      changes = Some(changeRows(movedPre.drop("_file"), "ack_pre")
        .unionByName(changeRows(moved, "ack"))))
  }

  // ---- Idempotent writer transactions (_txns registry) ----------------
  //
  // The Delta txnAppId/txnVersion contract: a writer tags a commit with
  // its OWN (application id, monotonically increasing version); the pair
  // is staged WITH the commit and promoted into the `_txns/` registry by
  // the same atomic promotion that lands the data, so "the data landed"
  // and "the version is recorded" can never diverge — a crash replays
  // both or neither. A write whose version is at or below the recorded
  // one is a NO-OP (checked fast-path before any work, and re-checked at
  // the commit point inside the promotion monitor, so an OCC rival
  // replaying the same (app, version) cannot double-apply). This is what
  // makes a foreachBatch store sink exactly-once: use the stream's query
  // id as appId and the batchId as version — a restart's redelivered
  // batch skips instead of duplicating.

  /** Latest committed transaction version for `appId` (None if the app
    * never committed). O(1) registry file read, never a data read.
    */
  def latestTxnVersion(appId: String): Option[Long] = {
    val f = new java.io.File(new java.io.File(path, Txns), txnFile(appId))
    Option.when(f.exists())(readText(f).toLong)
  }

  /** `appId` names a registry file — restrict to filesystem-safe chars
    * loudly rather than mangling (two apps must never collide).
    */
  private def txnFile(appId: String): String = {
    require(appId.nonEmpty && appId.length <= 128 &&
      appId.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"txn appId '$appId' must be 1-128 chars of [A-Za-z0-9._-] " +
        "(it names a registry file)")
    appId
  }

  /** [[CustomerStoreApi.insertNew]] under an idempotent transaction:
    * returns None (and commits NOTHING) if (appId, version) is already
    * recorded, Some(rowsInserted) once the batch lands. A batch whose
    * rows all dedup away still RECORDS the version via a feed-silent
    * TXN commit — a redelivery must skip whatever the batch's effect
    * was, including no effect.
    */
  def txnInsert(appId: String, version: Long, batch: DataFrame): Option[Long] =
    withTxn(appId, version) { insertNew(batch) }

  /** [[CustomerStoreApi.merge]] under an idempotent transaction — same
    * skip/record contract as [[txnInsert]].
    */
  def txnMerge(appId: String, version: Long, batch: DataFrame): Option[MergeResult] =
    withTxn(appId, version) { merge(batch) }

  // private[pipeline] so specs can stage a committed-but-unpromoted
  // rival CARRYING a txn marker (the exact commit-point race window).
  private[pipeline] val activeTxn = new ThreadLocal[Option[(String, Long)]] {
    override def initialValue(): Option[(String, Long)] = None
  }
  private val txnSkippedAtCommit = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Run `op` (which stages at most one commit through the normal choke
    * points) with the (appId, version) marker threaded into its staging
    * dir ([[stage]] writes it; promotion records it). Thread-
    * local, matching the OCC model: a stager is thread-confined until
    * the commit point.
    */
  private def withTxn[T](appId: String, version: Long)(op: => T): Option[T] = {
    txnFile(appId): Unit // validate before any work
    recover()
    if (latestTxnVersion(appId).exists(_ >= version)) return None
    activeTxn.set(Some((appId, version)))
    txnSkippedAtCommit.set(false)
    try {
      val v0 = currentVersion()
      val out = op
      // The op had no effect (empty batch / all rows deduped away) so
      // no commit carried the marker: record the version in an
      // effect-less feed-silent commit — a replay must still skip. It
      // touches no files and no keys, so it composes with any
      // interleaved commit.
      if (!txnSkippedAtCommit.get && currentVersion() == v0) commit(Commit("TXN"))
      if (txnSkippedAtCommit.get) None else Some(out)
    } finally { activeTxn.remove(); txnSkippedAtCommit.remove() }
  }

  // ---- Incremental file ingest (_ingested registry) --------------------
  //
  // The COPY INTO / Auto Loader contract: a directory ingest loads each
  // file EXACTLY ONCE, however many times the command is re-run. The
  // loaded file NAMES are staged with the insert commit and promoted
  // into the `_ingested/` registry atomically with the data, so a crash
  // (or a concurrent re-run losing the OCC race) can never double-load
  // or silently drop a file.

  /** File names this store has already ingested via
    * [[ingestNewFiles]]. Registry read, cost ∝ ingest commits.
    */
  def ingestedFiles(): Set[String] = {
    val dir = new java.io.File(path, IngestedDir)
    if (!dir.isDirectory) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      dir.listFiles().iterator.flatMap(f =>
        java.nio.file.Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty))
        .toSet
    }
  }

  /** Ingest the CSV files under `dirPath` that have NOT been loaded
    * before: list → subtract the registry → [[Ingest.readCsv]] +
    * validate + enrich ONLY the new files → one [[insertNew]] commit
    * carrying their names into the registry. Lexicographic file order
    * pins the dedup winner ([[Ingest.sequenced]]'s contract). Returns
    * (new files loaded, clean rows inserted, rows quarantined); (0,0,0)
    * without a commit when nothing is new. A file whose rows all
    * quarantine or dedup away is still REGISTERED (via the marker-only
    * commit) — re-running must not re-read it.
    */
  def ingestNewFiles(dirPath: String): (Long, Long, Long) = {
    recover()
    val all = Option(new java.io.File(dirPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv"))
      .map(_.getName).sorted
    val fresh = all.filterNot(ingestedFiles())
    if (fresh.isEmpty) return (0L, 0L, 0L)
    val paths = fresh.map(n => s"$dirPath/$n").toSeq
    val (good, bad) = Ingest.validate(Ingest.readCsv(spark, paths, header = true))
    val nBad = bad.count()
    activeIngest.set(Some(fresh.toSeq))
    try {
      val v0 = currentVersion()
      val n = insertNew(Ingest.sequenced(Ingest.enrich(good)))
      if (currentVersion() == v0) commit(Commit("COPY INTO"))
      (fresh.length.toLong, n, nBad)
    } finally activeIngest.remove()
  }

  private val activeIngest = new ThreadLocal[Option[Seq[String]]] {
    override def initialValue(): Option[Seq[String]] = None
  }

  /** MERGE apply (see [[CustomerStoreApi.merge]]): a FILE-LEVEL merge
    * commit — the transactional-format shape (Delta/Iceberg MERGE)
    * rather than a table rewrite. The updated emails first select the
    * TOUCHED physical files (the pre-image pin's own job observes its
    * rows' `_file` set); only those files are rewritten (their
    * surviving rows + the updated rows + the inserts, staged as
    * commit-unique replacement files alongside a remove-list of the
    * touched file names), and every untouched file is left in place —
    * never read again, never moved. Promotion deletes the listed
    * files and moves the replacements in, under the same staged
    * commit protocol as every mutation (stage to `_staging.tmp`,
    * atomic rename = commit point, idempotent promotion: re-deleting
    * a missing file is a no-op and replacement names are
    * commit-unique). `updates` and `inserts` arrive materialized, and
    * the staged outputs are fully written from the ORIGINAL files
    * before any promotion, so the table is never read after its files
    * start moving.
    *
    * Scale: merge cost is O(touched files + inserts), not O(table) —
    * with email-clustered file layout (compact after a z-order on the
    * merge key) touched-file count tracks the batch, and the
    * touched-file selection itself is the manifest pattern: the
    * updated emails reach the scan as a pushed `email IN` filter, which
    * the email blooms prune like any point read (the ack's shape).
    * Updates never cross partitions (classification retains the
    * stored `uploaded`), so each partition's removals and
    * replacements pair off independently.
    */
  protected def applyMerge(updates: DataFrame, inserts: DataFrame): Unit = {
    // Inserts are re-checked by appendCommit on the table-doesn't-exist
    // path; here one scan covers both legs.
    enforceCheckConstraints(updates.unionByName(inserts), "merge")
    if (!tableExists) { appendRows(inserts): Unit; return }
    recover()
    commit(mergeCommit(updates, inserts))
  }

  /** The file-level merge commit [[applyMerge]] lands: per partition,
    * the touched files' survivors plus the updates and inserts as
    * `mrg-` replacement files, the touched files removed. Specs stage
    * it to stop at the commit point.
    */
  private[pipeline] def mergeCommit(updates: DataFrame, inserts: DataFrame): Commit = {
    // The updated emails, one per updated row: at most the batch's size.
    val emails = graft.util.Labeled(spark, "store: merge preimage") {
      updates.select(col("email")).collect().map(_.getString(0)).toSeq
    }
    // Pre-image: the stored rows the updates replace, pinned before
    // the staged rewrite starts moving the files they live in.
    val (updatesPre, m) = pinObserved("store: merge preimage", liveRead(withFile = true)
      .filter(col("email").isInCollection(emails)), collect_set(col("_file")))
    val touched = m.getSeq[String](0).toSet
    // Survivors: the touched files' live rows the updates do not replace.
    val survivors = liveRead(Some(touched.map(baseName)))
      .filter(!col("email").isInCollection(emails))
    Commit.partitioned("MERGE", survivors.unionByName(updates).unionByName(inserts))
      .copy(remove = touched.toSeq, changes = Some(
        changeRows(updatesPre.drop("_file"), "update_pre")
          .unionByName(changeRows(updates, "update"))
          .unionByName(changeRows(inserts, "insert"))))
  }

  /** Stage `c` and pass its commit point — the ONE method that stages a
    * commit; every mutation builds a [[Commit]] and lands it here.
    * Layout of the writer-unique `_staging.tmp-<id>` dir (renamed onto
    * `_staging` at the commit point, see [[applyStaged]]):
    *   - `pending/`, `done/`, `deletes/`: parquet files for
    *     `uploaded=false/`, `uploaded=true/` and `_deletes/`, each with a
    *     `remove-<name>` list of the basenames deleted there first — a
    *     replace lists every live file, which also truncates the vectors;
    *   - `changelog/`, `stats/`: for `_changelog/commit-<v>/` and
    *     `_stats/commit-<v>/`;
    *   - `_schema` / `_constraints`: a metadata commit's manifest;
    *   - markers, written once here: `version`, `commit_ts`, `operation`
    *     (label + change-row count), `metrics` (see [[stageFiles]]), both
    *     for the `_commits` registry, and, under [[withTxn]] /
    *     [[ingestNewFiles]], `txn` / `ingested`.
    * Returns the version the commit took.
    */
  private[pipeline] def stage(c: Commit): Long = {
    val staged = stageFiles(c)
    commitStaged(staged.tmp, c, staged.version)
  }

  /** Write `c`'s files and markers into a fresh writer-unique staging
    * dir, up to (not including) the commit point. Every data, vector
    * and change-feed file is written by [[StagedWrite]] in its target's
    * own job, straight under its final commit-unique name (`mrg-` data
    * files when the commit removes files, else `ins-`; `del-`, `chg-`):
    * the partition writes fold their skipping stats while they write
    * (the `sts-` file follows on the driver, [[stageStats]]), beside
    * the vector write and the change-feed write, which counts its rows
    * by change type (guide §2.6, [[stageConcurrently]]). The write results are the commit's
    * numbers: the `operation` marker's change-row count, the insert's
    * row count ([[appendRows]]) and the `metrics` marker — rows added
    * (`insert` change rows), removed (`delete_pre`) and updated
    * (`update` and `ack`), data files added and removed, bytes added
    * and the staging ms. A failed write removes the staging dir.
    */
  private def stageFiles(c: Commit): Staged = {
    val t0 = System.nanoTime()
    val tmp = new java.io.File(path,
      StagingTmp + "-" + java.util.UUID.randomUUID().toString.take(8))
    tmp.mkdirs()
    try {
      val v = currentVersion() + 1
      val removed = DataTargets.map { case (name, dir) =>
        val names =
          if (c.replaceAll) graft.sources.ParquetGroups.parquetFilesIn(
            new java.io.File(path, dir).toString).map(new java.io.File(_).getName)
          else c.remove.filter(_.contains(s"/$dir/")).map(baseName)
        if (names.nonEmpty) writeText(new java.io.File(tmp, s"remove-$name"), names.mkString("\n"))
        name -> names.size
      }.toMap
      val prefix = if (c.replaceAll || c.remove.nonEmpty) "mrg" else "ins"
      val fold = statsFold()
      var data = Seq.empty[StagedWrite.WrittenFile[FileStatsState]]
      var changes = StagedWrite.Written[mutable.Map[String, Long]](Nil)
      val writes = Seq("pending" -> c.pending, "done" -> c.done).collect { case (name, Some(rows)) =>
        val phys = toPhysical(rows.drop("uploaded"), dataLogicalSchema)
        val dir = new java.io.File(tmp, name)
        () => {
          val w = graft.util.Labeled(spark, "store: stage data") {
            StagedWrite(phys, dir, prefix, Some(fold.columns(phys.columns.toSet) -> fold))
          }
          synchronized { data = data ++ w.files }
        }
      }
      val chains: Seq[() => Unit] =
        Option.when(writes.nonEmpty)(() => {
          stageConcurrently(writes: _*)
          stageStats(tmp, v, data, fold)
        }).toSeq ++
          c.vectors.map(dv => () => graft.util.Labeled(spark, "store: stage data") {
            StagedWrite(dv, new java.io.File(tmp, "deletes"), "del"): Unit
          }) ++
          c.changes.map(chg => () => changes = graft.util.Labeled(spark, "store: stage changes") {
            StagedWrite(toPhysical(chg.withColumn("commit_version", lit(v))
                .select(changeSchema.fieldNames.map(col): _*), changeSchema),
              new java.io.File(tmp, "changelog"), "chg", Some(Seq(col("change_type")) -> ChangeKinds))
          })
      if (chains.nonEmpty) stageConcurrently(chains: _*)
      // A feed-silent data commit still leaves its (empty) feed dir,
      // made here with no job: [[vacuumFeed]] counts one per commit.
      if (writes.nonEmpty && c.changes.isEmpty) new java.io.File(tmp, "changelog").mkdirs(): Unit
      c.manifest.foreach { case (file, body) => writeText(new java.io.File(tmp, file), body) }
      activeTxn.get.foreach { case (app, ver) => writeText(new java.io.File(tmp, "txn"), s"$app\n$ver") }
      activeIngest.get.foreach(names =>
        writeText(new java.io.File(tmp, "ingested"), names.mkString("\n")))
      // The registry keeps the change-row count after vacuumFeed
      // retires the feed.
      writeText(new java.io.File(tmp, "operation"), c.op + "\n" + changes.rows)
      val kinds = changes.files.flatMap(_.state).foldLeft(ChangeKinds.zero())(ChangeKinds.merge)
      val metrics = Seq(
        "rows_added" -> kinds.getOrElse("insert", 0L),
        "rows_removed" -> kinds.getOrElse("delete_pre", 0L),
        "rows_updated" -> (kinds.getOrElse("update", 0L) + kinds.getOrElse("ack", 0L)),
        "files_added" -> data.size.toLong,
        "files_removed" -> (removed("pending") + removed("done")).toLong,
        "bytes_added" -> data.map(_.bytes).sum,
        "stage_ms" -> (System.nanoTime() - t0) / 1000000L)
      writeText(new java.io.File(tmp, "metrics"), metrics.map { case (k, n) => s"$k=$n" }.mkString("\n"))
      writeText(new java.io.File(tmp, "version"), v.toString)
      writeText(new java.io.File(tmp, "commit_ts"), nextCommitTs().toString)
      Staged(tmp, v, data.map(_.rows).sum)
    } catch {
      case e: Throwable =>
        stagedStats.remove(tmp.getAbsolutePath)
        if (tmp.exists()) deleteRecursively(tmp)
        throw e
    }
  }

  /** Promote-and-return form of [[stage]]: every public mutation ends
    * here. Returns the committed version.
    */
  private def commit(c: Commit): Long = {
    val v = stage(c)
    applyStaged()
    v
  }

  /** Total row count of the given parquet files, from their footers
    * ([[graft.sources.ParquetGroups.rowCount]]).
    */
  private[graft] def parquetRowCount(files: Seq[String]): Long =
    graft.sources.ParquetGroups.rowCount(spark, files)

  /** The skipping-stats fold of this commit's partition writes: per
    * staged file, the row count, id and hash-shard zones, the
    * bottom-[[SampleK]] KMV sample of the md5-word hash, the email bloom
    * words and the extrema of every evolved NUMERIC column (keyed by
    * PHYSICAL name, so renames cannot detach a file's stats; min/max
    * zones only help range pruning on ordered types).
    */
  private def statsFold(): StatsFold = {
    val evoNum = evolvedFields.collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType => physicalNameOf(f)
    }
    new StatsFold(evoNum, bloomBits)
  }

  /** Stage this commit's SKIPPING STATS from the states its partition
    * writes folded ([[statsFold]]) — computed while the data files were
    * written, and promoted by the same atomic rename as the data, so the
    * manifest advances exactly with the commit (never rebuilt per
    * query, and no file is read back). Entries key on the file
    * BASENAME: staged names are final and survive promotion verbatim,
    * so an entry written under `_staging` stays valid in the table. A
    * file absent from the manifest (e.g. written before stats existed)
    * is simply never skipped — stats are may-contain metadata, and
    * missing metadata degrades to a read, never to a wrong answer.
    *
    * Shape: no Spark job. The driver finishes each file's merged state
    * into `_stats` rows (zone, KMV sample, sparse bloom words, evolved
    * extrema) and writes them as one local parquet file
    * ([[org.apache.spark.sql.graft.StagedWrite.local]]), the way
    * [[graft.sources.ParquetGroups.readAll]] reads such files back. The
    * rows are kept for [[commitStaged]] to hand to [[manifest]].
    */
  private def stageStats(tmp: java.io.File, v: Long,
      files: Seq[StagedWrite.WrittenFile[FileStatsState]], fold: StatsFold): Unit =
    graft.util.Labeled(spark, "store: stage stats") {
      val rows = fold.rows(files.flatMap(f => f.state.map(f.name -> _)), v)
      if (rows.nonEmpty) {
        StagedWrite.local(spark, StatsSnapshot.statsSchema, rows, new java.io.File(tmp, "stats"),
          "sts-" + java.util.UUID.randomUUID().toString.take(8)): Unit
        stagedStats.put(tmp.getAbsolutePath, rows)
      }
    }

  /** Promote the committed `_staging` dir into the table. Idempotent:
    * every step is a replay no-op once done, and the version marker is
    * deleted first in the final cleanup — a staging dir without it is
    * the remains of a finished promotion. Order: each staged target
    * (remove list, then moves), the metadata manifests, the txn and
    * ingest registries, the `_commits` entry, and last the version
    * counter. Serialized per table path within the JVM: two concurrent
    * promoters of the SAME staged commit would race each other's
    * renames (loudly — renames are atomic, so the table could not tear
    * — but spuriously). Cross-process, promotion safety rests on
    * replay idempotence: a crashed promoter's successor completes the
    * same steps.
    */
  private[pipeline] def applyStaged(): Unit = promotionLock.synchronized {
    val staging = new java.io.File(path, Staging)
    val vm = new java.io.File(staging, "version")
    if (vm.exists()) {
      val v = readText(vm).toLong
      stagedTargets(v).foreach { case (name, dst) => promoteStaged(staging, name, dst) }
      Seq(SchemaFile, ConstraintsFile).map(new java.io.File(staging, _)).filter(_.exists())
        .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(path, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      // Idempotent-txn registry: monotonic max, so a crash replay
      // rewrites the same value and a late out-of-order commit can never
      // roll the registry back.
      val txn = new java.io.File(staging, "txn")
      if (txn.exists()) {
        val Array(app, ver) = readText(txn).split("\n").map(_.trim)
        if (latestTxnVersion(app).forall(_ < ver.toLong)) {
          val dir = new java.io.File(path, Txns)
          dir.mkdirs()
          val t = new java.io.File(dir, app + ".tmp")
          writeText(t, ver)
          java.nio.file.Files.move(t.toPath, new java.io.File(dir, app).toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
      }
      val ingested = new java.io.File(staging, "ingested")
      if (ingested.exists()) {
        val dir = new java.io.File(path, IngestedDir)
        dir.mkdirs()
        java.nio.file.Files.copy(ingested.toPath, new java.io.File(dir, f"commit-$v%09d").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
      // Registry entry before the counter: an entry can lag the counter
      // only inside an in-flight promotion, never the other way. Line 1
      // is the promotion timestamp, lines 2-3 the operation label and
      // change-row count, line 4 the staged metrics [[history]] serves.
      val reg = new java.io.File(path, Commits)
      reg.mkdirs()
      val metrics = new java.io.File(staging, "metrics")
      writeText(new java.io.File(reg, s"commit-$v"),
        readText(new java.io.File(staging, "commit_ts")) + "\n" +
          readText(new java.io.File(staging, "operation")) +
          (if (metrics.exists()) "\n" + readText(metrics).split("\n").map(_.trim).mkString(",")
           else ""))
      val vTmp = new java.io.File(path, VersionFile + ".tmp")
      writeText(vTmp, v.toString)
      java.nio.file.Files.move(vTmp.toPath,
        new java.io.File(path, VersionFile).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // The counter now covers this commit's `_stats` dir: the rows its
      // committer computed join the snapshot without a read-back.
      Option(committedStats.remove(v)).foreach(manifest.absorb(v, _))
      require(vm.delete(), s"could not retire $vm")
    }
    deleteRecursively(staging)
    dropPromotedStats()
  }

  /** Staged target name → the table dir its parquet files promote into. */
  private def stagedTargets(v: Long): Seq[(String, java.io.File)] =
    DataTargets.map { case (name, dir) => name -> new java.io.File(path, dir) } ++ Seq(
      "changelog" -> new java.io.File(path, f"$Changelog%s/commit-$v%09d"),
      "stats" -> new java.io.File(path, f"$StatsManifest%s/commit-$v%09d"))

  /** Promote one staged target: delete the basenames its `remove-<name>`
    * list names from `dst`, then move its staged parquet files in. Both
    * halves are replay no-ops: a removed file stays removed, and staged
    * names are commit-unique and leave staging as they land.
    */
  private[pipeline] def promoteStaged(staging: java.io.File, name: String,
      dst: java.io.File): Unit = {
    val rm = new java.io.File(staging, s"remove-$name")
    if (rm.exists()) readText(rm).split("\n").filter(_.nonEmpty).foreach { n =>
      val f = new java.io.File(dst, n)
      if (f.exists()) require(f.delete(), s"remove $f failed")
    }
    val add = new java.io.File(staging, name)
    if (add.exists()) {
      dst.mkdirs()
      add.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(dst, f.getName)), s"promote $f failed")
      }
      deleteRecursively(add)
    }
  }

  /** Forget handed-over stats rows of commits already promoted (by a
    * rival's recovery, say): the snapshot reads those from disk.
    */
  private def dropPromotedStats(): Unit =
    if (!committedStats.isEmpty) {
      val head = currentVersion()
      committedStats.keySet.removeIf(_ <= head): Unit
    }

  // ---- Optimistic concurrency (the commit point) ---------------------

  /** The commit point, with Delta-style optimistic concurrency.
    * Renaming `tmp` onto `_staging` is atomic and fails while a rival
    * writer's committed-but-unpromoted staging occupies it. The loser
    * then (1) finishes the rival's promotion (the same idempotent
    * replay recovery runs), (2) validates its own staged commit
    * against everything that landed since it was staged —
    * [[checkNoConflict]]: full-table rewrites always conflict;
    * otherwise every file this commit removes/tombstones must still
    * exist, and no interleaved commit may have touched the same
    * email/id keys — and (3) re-numbers the staged commit onto the new
    * head ([[renumberStaged]]) and retries. A real conflict aborts
    * with [[ConcurrentCommitException]] and the table keeps ONLY the
    * rival's state — never a torn mix. Writers stage side by side in
    * writer-unique `_staging.tmp-<id>` dirs; only this rename is
    * contended. Returns the version the commit took.
    */
  private def commitStaged(tmp: java.io.File, c: Commit, stagedV: Long): Long = {
    val staging = new java.io.File(path, Staging)
    // The version this commit was DERIVED from — conflict checks always
    // span (base, head], however many times the commit is re-numbered.
    val base = stagedV - 1
    var v = stagedV
    var attempts = 0
    var committed = false
    var stats = Option(stagedStats.remove(tmp.getAbsolutePath))
    while (!committed) {
      attempts += 1
      require(tmp.exists(), s"staged commit $tmp vanished before the commit point")
      require(attempts <= MaxCommitAttempts,
        s"commit at $path lost the staging race $attempts times; giving up")
      // Drain→validate→rename must be ONE atomic step: validating only
      // after a FAILED rename would let a rival that committed AND
      // promoted in between hand us an empty commit point — our rename
      // would then succeed carrying a stale version number and two
      // commits would share it. In-JVM the promotion monitor makes the
      // step atomic; cross-process, a writer that slips in between is
      // caught by the rename failing (the commit point is occupied) and
      // we loop — see the class scaladoc for the cross-process boundary.
      promotionLock.synchronized {
        applyStaged()
        // Idempotent-txn re-check at the commit point: a rival writer
        // (or a replayed crash recovery) may have recorded this very
        // (appId, version) since our fast-path check — abandon the
        // staged commit as the contract's no-op, BEFORE the key-overlap
        // conflict check (a redelivered batch touches the same keys by
        // construction; it must skip, not abort).
        val txnMarker = new java.io.File(tmp, "txn")
        if (txnMarker.exists()) {
          val Array(app, ver) = readText(txnMarker).split("\n").map(_.trim)
          if (latestTxnVersion(app).exists(_ >= ver.toLong)) {
            deleteRecursively(tmp)
            txnSkippedAtCommit.set(true)
            committed = true
          }
        }
        if (!committed) {
          val head = currentVersion()
          if (head >= v) {
            checkNoConflict(tmp, c, base, head)
            v = head + 1
            stats = renumberStaged(tmp, v, stats)
          }
          committed = tmp.renameTo(staging)
          // Past the commit point: promotion hands the rows over.
          if (committed) {
            stats.foreach(committedStats.put(v, _))
            commitPointHook()
          }
        }
      }
    }
    v
  }

  /** Spec seam: runs right after each successful commit-point rename,
    * before promotion — where a crash image of the table is taken.
    */
  @volatile private[pipeline] var commitPointHook: () => Unit = () => ()

  /** Abort unless this staged commit is safe to re-apply on top of the
    * interleaved commits in `(baseV, headV]`. An exclusive commit (a
    * replace or a metadata change, derived from the whole table state)
    * always conflicts. Otherwise two independent checks: physical —
    * every file the commit removes (its `remove-*` lists) or tombstones
    * (deletion-vector basenames, either partition) must still exist,
    * which catches feed-silent rewrites like compact/OPTIMIZE; logical
    * — no interleaved change row shares an email or id with this
    * commit's change rows, which catches UNIQUE-violating concurrent
    * inserts and lost-update races.
    */
  private def checkNoConflict(tmp: java.io.File, c: Commit, baseV: Long, headV: Long): Unit = {
    if (c.exclusive)
      throw new ConcurrentCommitException(
        s"${c.op}: full-table rewrite or metadata commit staged against version " +
          s"$baseV conflicts with interleaved commits up to $headV")
    def gone(part: String, name: String): Boolean =
      !new java.io.File(new java.io.File(path, part), name).exists()
    val missingListed = DataTargets.flatMap { case (name, dir) =>
      val f = new java.io.File(tmp, s"remove-$name")
      if (!f.exists()) Nil
      else readText(f).split("\n").toSeq.filter(_.nonEmpty).filter(gone(dir, _)).map(n => s"$dir/$n")
    }
    val missingVectored = tombstoneRows(stagedFiles(tmp, "deletes")).keys.toSeq
      .filter(n => gone("uploaded=false", n) && gone("uploaded=true", n))
    val missing = missingListed ++ missingVectored
    if (missing.nonEmpty)
      throw new ConcurrentCommitException(
        s"staged commit removes files an interleaved commit already rewrote: " +
          missing.take(5).mkString(", "))
    val chg = stagedFiles(tmp, "changelog")
    if (chg.nonEmpty) {
      // `id` and `email` are structural, so their physical names are theirs.
      val mine = graft.sources.ParquetGroups.read(spark, chg: _*)
        .select(col("id"), col("email")).distinct().localCheckpoint(true)
      if (mine.limit(1).count() > 0) {
        // The connector plans a feed read from the store's files alone
        // (no second CustomerStore, so no recover() under this lock: a
        // rival's commit point taken meanwhile must make OUR rename fail,
        // not be promoted from here behind the head we already read).
        val theirs = feedSince(baseV, headV).select(col("id"), col("email")).distinct()
        val overlap = theirs.join(mine.select("email"), Seq("email"), "left_semi")
          .unionByName(theirs.join(mine.select("id"), Seq("id"), "left_semi")
            .select(col("id"), col("email")))
          .limit(1).count()
        if (overlap > 0)
          throw new ConcurrentCommitException(
            s"staged commit touches emails/ids an interleaved commit " +
              s"in ($baseV, $headV] also touched")
      }
    }
  }

  /** Re-stamp a staged commit onto a new head version: rewrite the
    * `commit_version` baked into its staged changelog (a staged write
    * of the read-back rows) and stats rows (`stats`, the rows
    * [[stageStats]] kept, rewritten on the driver), then the `version`
    * marker and a fresh `commit_ts` (the commit lands NOW, not when it
    * was first staged). Returns the re-stamped stats rows.
    */
  private def renumberStaged(tmp: java.io.File, newV: Long,
      stats: Option[Seq[org.apache.spark.sql.Row]]): Option[Seq[org.apache.spark.sql.Row]] = {
    val changelog = new java.io.File(tmp, "changelog")
    val staged = stagedFiles(tmp, "changelog")
    if (staged.nonEmpty) {
      val out = new java.io.File(tmp, "changelog.renum")
      deleteRecursively(out)
      StagedWrite(graft.sources.ParquetGroups.read(spark, staged: _*)
        .withColumn("commit_version", lit(newV)).coalesce(1), out, "chg"): Unit
      deleteRecursively(changelog)
      require(out.renameTo(changelog), s"renumber swap $out -> $changelog failed")
    }
    val restamped = stats.map(_.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ newV)))
    restamped.foreach { rows =>
      val dir = new java.io.File(tmp, "stats")
      deleteRecursively(dir)
      StagedWrite.local(spark, StatsSnapshot.statsSchema, rows, dir,
        "sts-" + java.util.UUID.randomUUID().toString.take(8)): Unit
    }
    writeText(new java.io.File(tmp, "version"), newV.toString)
    writeText(new java.io.File(tmp, "commit_ts"), nextCommitTs().toString)
    restamped
  }

  /** The parquet files a staged target holds: none when its write
    * reached no row, or when the commit has no such target.
    */
  private def stagedFiles(tmp: java.io.File, name: String): Seq[String] =
    graft.sources.ParquetGroups.parquetFilesIn(new java.io.File(tmp, name).toString)

  private def writeText(f: java.io.File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit

  /** Crash recovery, run at open and before each commit: a committed
    * staging directory is applied to completion; an uncommitted
    * `_staging.tmp` (crash before the commit point) is discarded, and
    * writer-unique `_staging.tmp-*` directories are swept only once
    * STALE (15 min) — a young one may belong to a LIVE concurrent
    * stager that has not reached the commit point yet.
    */
  def recover(): Unit = {
    applyStaged()
    deleteRecursively(new java.io.File(path, StagingTmp))
    val root = new java.io.File(path)
    val cutoff = System.currentTimeMillis() - StaleStagingMs
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(StagingTmp + "-") &&
        f.lastModified() < cutoff)
      .foreach(f => deleteRecursively(f))
  }
}

/** An optimistic commit retry found a REAL conflict: an interleaved
  * commit rewrote files this commit removes, touched the same keys, or
  * this commit is a full-table rewrite. The table holds only the
  * rival's committed state; the caller re-reads and re-applies.
  */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** A commit was rejected because it would land rows violating a
  * persisted CHECK constraint (Delta's InvariantViolationException
  * analog) — the table is untouched.
  */
class ConstraintViolationException(msg: String) extends RuntimeException(msg)

object CustomerStore {
  /** Underscore prefix keeps all of these out of Spark/Hadoop data discovery. */
  private[pipeline] val Staging = "_staging"
  private[pipeline] val StagingTmp = "_staging.tmp"
  /** The additive-evolution schema manifest (see `addColumn`). */
  private[pipeline] val SchemaFile = "_schema"
  private[pipeline] val ConstraintsFile = "_constraints"

  /** The CURRENT schema of the store at `path` — file IO only, no
    * session: the DSv2 connector's planning-time consult.
    */
  def schemaAt(path: String): org.apache.spark.sql.types.StructType = {
    if (path == null) return CustomerSchema.tableSchema
    val f = new java.io.File(path, SchemaFile)
    if (!f.exists()) CustomerSchema.tableSchema
    else org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** The promoted version counter of the store at `path` — file IO
    * only, like [[schemaAt]]: no session and no recovery, so the
    * connector's change-feed planning can run while a committer holds
    * the promotion lock (see `checkNoConflict`).
    */
  def currentVersionAt(path: String): Long = {
    val f = new java.io.File(path, VersionFile)
    if (f.exists()) readText(f).toLong else 0L
  }

  /** The feed-retention horizon of the store at `path` (see
    * [[CustomerStore.feedLowWatermark]]).
    */
  private[pipeline] def feedLowWatermarkAt(path: String): Long = {
    val f = new java.io.File(path, FeedWatermark)
    if (f.exists()) readText(f).toLong else 0L
  }

  /** Loud-failure guard for every range feed read: a non-empty range
    * starting below the retention horizon cannot be served completely.
    */
  private[pipeline] def requireFeedRangeAt(path: String, fromExclusive: Long,
      toInclusive: Long): Unit = {
    val wm = feedLowWatermarkAt(path)
    require(toInclusive <= fromExclusive || fromExclusive >= wm,
      s"change feed ($fromExclusive, $toInclusive] is unavailable: commits at or " +
        s"below version $wm were vacuumed — read from feedFrom >= $wm, or " +
        "reconstruct state via a snapshot (asOf)")
  }

  /** (version, dir) for every commit directory in the feed at `path`. */
  private[pipeline] def commitDirsAt(path: String): Seq[(Long, java.io.File)] = {
    val root = new java.io.File(path, Changelog)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("commit-"))
      .map(d => d.getName.stripPrefix("commit-").toLong -> d)
      .sortBy(_._1)
  }

  /** Feed commit directories of the store at `path` with fromExclusive
    * < version ≤ toInclusive, in version order, after the retention
    * check — file IO only (see [[currentVersionAt]]).
    */
  def feedDirsAt(path: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, String)] = {
    requireFeedRangeAt(path, fromExclusive, toInclusive)
    commitDirsAt(path)
      .filter { case (v, _) => v > fromExclusive && v <= toInclusive }
      .map { case (v, d) => (v, d.getAbsolutePath) }
  }

  /** A small metadata file's contents, trimmed. */
  private[pipeline] def readText(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim

  /** Feed-row schema of the store at `path` (tracks [[schemaAt]]). */
  def changeSchemaAt(path: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      CustomerSchema.changeSchema.fields.take(2) ++ schemaAt(path).fields)

  /** Logical→physical column names that DIFFER under column-mapping
    * evolution (empty for stores that never renamed). Serializable —
    * shipped inside the connector's reader factories so executors
    * translate requested columns at the file boundary.
    */
  def physicalMapAt(path: String): Map[String, String] =
    schemaAt(path).fields.iterator
      .filter(_.metadata.contains("physical"))
      .map(f => f.name -> f.metadata.getString("physical"))
      .filter { case (l, p) => l != p }.toMap
  /** Columns the rename/drop DDL refuses to touch: the merge key
    * (email), the UNIQUE/zone key (id), the partition column
    * (uploaded), and the trigger-touch timestamps — each is
    * load-bearing contract surface (constraints, pruning manifests,
    * the ack path), not payload.
    */
  private[pipeline] val StructuralColumns: Set[String] =
    Set("id", "email", "uploaded", "created_ts", "modified_ts")

  /** Catalyst types the store's physical decode grammar covers (see
    * [[graft.sources.ParquetGroups]]): int32/int64/bool/binary-UTF8/
    * timestamp. [[CustomerStore.addColumn]] refuses anything else at
    * DDL time.
    */
  private[graft] val SupportedColumnTypes:
      Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.BooleanType,
    org.apache.spark.sql.types.TimestampType)

  /** Lossless (from, to) widenings [[CustomerStore.widenColumn]]
    * admits — pairs where every committed narrow value is exactly
    * representable in the wide type and the store's readers can serve
    * the wide type over narrow files without a rewrite.
    */
  private[graft] val SupportedWidenings:
      Set[(org.apache.spark.sql.types.DataType,
           org.apache.spark.sql.types.DataType)] = Set(
    (org.apache.spark.sql.types.IntegerType,
     org.apache.spark.sql.types.LongType))

  /** Commit-point retries before an optimistic committer gives up. */
  private[pipeline] val MaxCommitAttempts = 5
  /** Age after which recover() reclaims an abandoned writer-unique
    * staging dir — younger ones may belong to a live concurrent stager.
    */
  private[pipeline] val StaleStagingMs = 15L * 60 * 1000

  private val promotionLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[pipeline] def promotionLockFor(canonicalPath: String): Object =
    promotionLocks.computeIfAbsent(canonicalPath, _ => new Object)
  private[pipeline] val Changelog = "_changelog"
  private[pipeline] val VersionFile = "_version"
  private[pipeline] val Snapshots = "_snapshots"
  private[pipeline] val Commits = "_commits"
  private[pipeline] val StatsManifest = "_stats"
  private[pipeline] val Deletes = "_deletes"
  private[pipeline] val FeedWatermark = "_feed_watermark"
  /** Staged target name → table dir of the targets a commit both adds
    * files to and removes files from (see [[CustomerStore.stage]]).
    */
  private[pipeline] val DataTargets =
    Seq("pending" -> "uploaded=false", "done" -> "uploaded=true", "deletes" -> Deletes)

  /** One commit, described as data — the shape of a Delta log entry:
    * the files it adds and removes plus what it records. Every mutation
    * builds one and lands it through [[CustomerStore.stage]].
    *
    * @param op         the DESCRIBE HISTORY operation label
    * @param pending    table rows to add to the uploaded=false partition
    * @param done       table rows to add to the uploaded=true partition
    * @param remove     partition-qualified data-file paths to remove
    * @param replaceAll remove every live data file and deletion vector
    * @param changes    change-feed rows (`change_type` + table columns)
    * @param vectors    deletion-vector (file basename, email) rows to add
    * @param manifest   (table file, body) of a schema or constraints manifest
    */
  private[pipeline] final case class Commit(op: String,
      pending: Option[DataFrame] = None, done: Option[DataFrame] = None,
      remove: Seq[String] = Nil, replaceAll: Boolean = false,
      changes: Option[DataFrame] = None, vectors: Option[DataFrame] = None,
      manifest: Option[(String, String)] = None) {
    /** A replace or a metadata commit derives from the whole table
      * state, so it conflicts with ANY interleaved commit.
      */
    def exclusive: Boolean = replaceAll || manifest.nonEmpty
  }

  /** A commit written into its staging dir `tmp`, not yet past the
    * commit point: the version it was staged at and the data rows its
    * partition writes wrote.
    */
  private final case class Staged(tmp: java.io.File, version: Long, dataRows: Long)

  /** One read's view of the current snapshot: the live data files as
    * (basename, absolute path, uploaded partition value), and for each
    * live file with deletion-vector rows the emails they tombstone.
    */
  final case class LiveFiles(files: Seq[(String, String, Boolean)],
      tombstones: Map[String, Set[UTF8String]])

  /** The change-feed write's fold: rows per `change_type`. */
  private object ChangeKinds extends StagedWrite.FileFold[mutable.Map[String, Long]] {
    def zero(): mutable.Map[String, Long] = mutable.HashMap.empty
    def add(s: mutable.Map[String, Long], row: org.apache.spark.sql.catalyst.InternalRow)
        : mutable.Map[String, Long] = {
      val k = row.getUTF8String(0).toString
      s(k) = s.getOrElse(k, 0L) + 1L
      s
    }
    def merge(a: mutable.Map[String, Long], b: mutable.Map[String, Long]): mutable.Map[String, Long] = {
      b.foreach { case (k, n) => a(k) = a.getOrElse(k, 0L) + n }
      a
    }
  }

  private[pipeline] object Commit {
    /** A commit adding `rows` to both partitions by their `uploaded`
      * value, each side shaped by `shape` (a clustering or coalesce).
      */
    def partitioned(op: String, rows: DataFrame,
        shape: DataFrame => DataFrame = identity): Commit =
      Commit(op, pending = Some(shape(rows.filter(!col("uploaded")))),
        done = Some(shape(rows.filter(col("uploaded")))))
  }
  /** Idempotent-writer transaction registry (Delta txnAppId/txnVersion):
    * one file per appId holding its latest committed version.
    */
  private[pipeline] val Txns = "_txns"
  /** Incremental-ingest registry (COPY INTO): one file per ingest
    * commit listing the source file names it loaded.
    */
  private[pipeline] val IngestedDir = "_ingested"
  /** Clone-provenance marker: `<source canonical path>@<version>`. */
  private[pipeline] val ClonedFrom = "_cloned_from"
  /** Schema-field metadata key holding a generated column's
    * generation expression (single-line Spark SQL over non-generated
    * columns). Round-trips through the schema manifest via StructType
    * JSON like the `physical` mapping key.
    */
  private[pipeline] val GeneratedKey = "generated"
  /** The auto CHECK constraint enforcing declared = computed values
    * for generated column `name` (see [[CustomerStore.addGeneratedColumn]]).
    */
  private[pipeline] def genConstraintName(name: String): String = s"gen_$name"

  /** Schema of [[CustomerStore.history]] (the DESCRIBE HISTORY face).
    * `operation` / `n_change_rows` / `operation_metrics` are nullable: a
    * registry entry written before the field existed reads as unknown.
    */
  val historySchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("operation",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("n_change_rows",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("operation_metrics",
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType, valueContainsNull = false), nullable = true)))

  /** Schema of [[CustomerStore.detail]] (the DESCRIBE DETAIL face). */
  val detailSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_files",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("size_bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_dv_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_dv_live",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_constraints",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_snapshots",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("feed_low_watermark",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_columns",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Per-file bloom geometry for the email point-lookup index: 2^17
    * bits (16 KiB of words per file) holds ~8k keys per file at the
    * ~16-bits-per-key fill that keeps the false-positive rate ~1%
    * (three probes against a ≲20%-full filter). Files are bounded by
    * the write batch here; a store whose files grow past that re-sizes
    * via the constructor, and the manifest records each file's
    * geometry so mixed-geometry tables probe correctly.
    */
  private[pipeline] val DefaultBloomBits = 1L << 17
  private[pipeline] val BloomSeeds = 3

  /** Bloom bit `seed` of an email: `pmod(xxhash64(email, seed), nbits)`
    * — xxhash64 over the (email, seed) pair at its default seed, the
    * expression the manifest has always been built with. The commit
    * evaluates it in its write-time stats fold ([[bloomPosition]]) and
    * lookups on the driver ([[bloomPositions]]), so both probe
    * identical bits.
    */
  private def bloomPositionExpr(email: org.apache.spark.sql.catalyst.expressions.Expression,
      seed: Int, nbits: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    Pmod(new XxHash64(Seq(email, Literal(seed))), nbits)
  }

  private[pipeline] def bloomPosition(email: org.apache.spark.sql.Column, seed: Int,
      nbits: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(bloomPositionExpr(ColumnBridge.expression(email), seed,
      ColumnBridge.expression(nbits)))
  }

  /** The [[BloomSeeds]] bit positions of `email` in an `nbits` filter,
    * evaluated on the driver (no job).
    */
  private[pipeline] def bloomPositions(email: String, nbits: Long): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    Array.tabulate(BloomSeeds)(s => bloomPositionExpr(
      Literal.create(email, org.apache.spark.sql.types.StringType), s, Literal(nbits))
      .eval().asInstanceOf[Long])
  }

  /** Run independent staging chains concurrently (guide §2.6 "overlap
    * independent jobs"): the first on the caller's thread, the rest on
    * fresh daemon threads. Every chain writes DISJOINT files inside the
    * same not-yet-committed staging dir, so overlap cannot change what
    * the commit contains: the commit point is still the single atomic
    * rename AFTER every chain completes, and any chain failure
    * abandons the staging dir unpromoted (exception rethrown, nothing
    * ever commits half-staged). Fresh threads rather than a shared
    * pool, so Spark's inheritable thread-local job properties
    * (description, execution id) come from THIS caller at spawn and
    * can never be a stale snapshot of an unrelated submitter. The
    * chains' inputs are either caller-materialized checkpoints or
    * plans whose concurrent re-evaluation equals today's sequential
    * re-evaluation (each chain was its own action before).
    *
    * Returns only once EVERY chain has finished — an interrupt of the caller
    * cannot leave a chain writing into a staging dir its caller has
    * abandoned. Every failure is kept: the first is thrown with the
    * others attached via `addSuppressed`. An interrupt received while
    * waiting is restored on the caller's thread and, when no chain
    * failed, surfaces as an InterruptedException so the caller stops
    * short of the commit point.
    */
  private[pipeline] def stageConcurrently(chains: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = chains.drop(1).map { c =>
      val t = new Thread(() => try c()
        catch { case e: Throwable => errs.add(e): Unit })
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    try chains.head()
    catch {
      case e: InterruptedException => interrupted = true; errs.add(e): Unit
      case e: Throwable => errs.add(e): Unit
    }
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => first.addSuppressed(e))
      throw first
    }
    if (interrupted) throw new InterruptedException("staging chains interrupted")
  }

  /** Table-sample size for the ANALYZE-style selectivity stats: each
    * file's commit stages its bottom-SampleK KMV rows, and the
    * table-level estimate re-trims the live union to SampleK (exact
    * merge). At k=128 the absolute rank error of a range estimate is
    * σ = N·√(p(1−p)/k) ≤ 4.5% of N (3σ ≈ 13%); the audit gate uses
    * 15% of N.
    */
  val SampleK = 128

  /** Shard count of the store's SECOND clustering dimension (the
    * hash shard of the merge-grain id): 64 shards interleave with 64
    * id buckets into a 6+6-bit z-order key, which is also the grain
    * of the per-file `min_hb`/`max_hb` zone entries.
    */
  val HashShards = 64L

  /** Hash shard of a row's id: a Lehmer-style multiplicative hash in
    * EXACT 64-bit integer arithmetic (`((id mod 65537) * 48271) mod
    * 65537 mod 64`, all operands positive and < 2^32 so no overflow),
    * deliberately engine-neutral — any external system can recompute a
    * row's shard from plain integer ops, unlike an engine-specific
    * hash builtin. The shard order is DECORRELATED from the id order
    * (consecutive ids land 48271 apart mod 65537), so an id-clustered
    * layout gives no shard locality and a shard-clustered layout gives
    * no id locality — the two-dimensional tension [[CustomerStore
    * .optimizeZorder]] resolves by interleaving both into one curve.
    */
  def hashBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(pmod(c, lit(65537L)) * lit(48271L), lit(65537L)), lit(HashShards))

  /** The file name a path or URI ends in. */
  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  private[pipeline] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) require(f.delete(), s"could not delete $f")
  }
}
