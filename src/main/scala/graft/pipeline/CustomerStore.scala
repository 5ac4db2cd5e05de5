package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed state table with the `customers` contract the
  * reference keeps in Postgres (csv-crm-upload database/database.go):
  * unique id+email enforced as anti-join dedup (the Spark idiom for
  * "INSERT that doesn't violate UNIQUE" — init-db.sh:13,16), point
  * updates as partition-pruned rewrites, and the uploaded work-queue
  * flag as a partition column so `pending()` prunes to the
  * uploaded=false partition exactly like the reference's upload_idx
  * index scan (init-db.sh:25, database.go:18).
  *
  * Scale: partitioning by a boolean splits the table into hot (pending)
  * and cold (done) halves; the hot half is what the uploader rescans,
  * so the rescan cost tracks the backlog, not the table. markUploaded
  * rewrites only the pending partition. At 100 TB you'd swap the
  * directory-overwrite for a transactional table format, but the plan
  * shapes (anti-join insert, pruned scan, partition rewrite) carry over
  * unchanged.
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
  * extrema), and each instance consults them through one driver-
  * resident [[StatsSnapshot]] — bloom, zone and sample lookups run no
  * Spark job. The snapshot holds one entry per file basename in the
  * manifest history (the set the `_stats` views read), up to ~18 KiB
  * per entry at the default 2^17 bloom bits: 16 KiB of bloom words
  * plus the 128-entry sample.
  */
class CustomerStore(protected val spark: SparkSession, path: String,
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
    () => currentVersion(), readParquetRows(_, statsSchema))
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

  def all(): DataFrame =
    if (tableExists) allWithFile().select(tableSchema.fieldNames.map(col): _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)

  /** The live table with each row's physical file URI in `_file`,
    * DELETION VECTORS APPLIED. `_file` is captured at the scan (before
    * the anti-join — `input_file_name()` is a task-local scan function
    * and returns nothing above a shuffle), so file-level commit paths
    * (ack, merge) can keep selecting touched files through it.
    */
  private def allWithFile(): DataFrame =
    withVectorsApplied(
      spark.read.schema(physicalize(tableSchema)).parquet(path)
        .withColumn("_file", input_file_name())
        .select(col("_file") +:
          tableSchema.fields.map(f => col(physName(f)).as(f.name)).toIndexedSeq: _*)
        .select(tableSchema.fieldNames.map(col) :+ col("_file"): _*))

  // ---- Merge-on-read deletion vectors --------------------------------

  /** True iff any deletion-vector file exists (fast path: readers skip
    * the anti-join entirely on vector-free tables).
    */
  private def hasDeletes: Boolean = {
    val d = new java.io.File(path, Deletes)
    d.isDirectory && d.listFiles().exists(_.getName.endsWith(".parquet"))
  }

  private def dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("email",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** The committed deletion vectors: (data-file BASENAME, email) rows
    * naming tombstoned rows. FILE-scoped, not key-scoped — a later
    * insert of the same email lands in a NEW file and is untouched,
    * and any commit that rewrites a file makes its vector rows inert
    * (the basename no longer exists), so vectors never have to be
    * rewritten on data commits.
    */
  def deletionVectors(): DataFrame = {
    val files = deletionVectorFiles()
    if (files.nonEmpty)
      spark.read.schema(dvSchema).parquet(files: _*)
        .select(col("file"), col("email"))
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvSchema)
  }

  /** (total vector rows, rows still matching a live data file) — the
    * live count is what merge-on-read reads pay for; compaction
    * materializes the deletes and drives it back to zero. Read on the
    * driver (vectors are metadata-scale, like the manifest), no job.
    */
  def deletionVectorStats(): (Long, Long) = {
    val files = deletionVectorFiles()
    if (files.isEmpty) return (0L, 0L)
    lazy val liveNames = (livePendingFiles().map(_._1) ++ {
      val d = new java.io.File(path, "uploaded=true")
      if (d.exists()) d.listFiles().toSeq.filter(_.getName.endsWith(".parquet")).map(_.getName)
      else Seq.empty
    }).toSet
    var total, live = 0L
    files.foreach(f => readParquetRows(f, dvSchema).foreach { r =>
      total += 1
      if (!r.isNullAt(0) && liveNames(r.getString(0))) live += 1
    })
    (total, live)
  }

  /** Anti-join a `_file`-carrying frame against the deletion vectors
    * (match on basename + email). No-op on vector-free tables.
    */
  private def withVectorsApplied(df: DataFrame): DataFrame =
    if (!hasDeletes) df
    else {
      val dv = deletionVectors()
        .select(col("file").as("_dvf"), col("email").as("_dve"))
      df.join(dv,
        element_at(split(col("_file"), "/"), -1) === col("_dvf") &&
          col("email") === col("_dve"), "left_anti")
    }

  /** Merge-on-read DELETE: tombstone every live row whose email is in
    * `emails` WITHOUT touching any data file — the commit stages only
    * the (file, email) deletion-vector rows plus `delete_pre`
    * retraction feed rows (full pre-images, weight −1 under the
    * standard `_pre` convention, so every incremental consumer
    * subtracts them with no new code), and promotes them by the same
    * atomic rename as every mutation. Readers anti-join the vectors
    * ([[allWithFile]]); [[compact]] materializes them physically.
    * An empty match commits nothing (the reference's empty-batch
    * no-op). Returns the number of rows tombstoned.
    */
  def delete(emails: DataFrame): Long = {
    val n = stageDelete(emails)
    if (n > 0) applyStaged()
    n
  }

  /** Stage a delete commit up to and including the commit-point rename
    * (no promotion) — separated from [[delete]] so crash-recovery
    * specs can stop exactly at the commit point. Returns the number of
    * rows tombstoned; 0 means nothing matched and nothing was staged.
    */
  private[pipeline] def stageDelete(emails: DataFrame): Long = {
    if (!tableExists) return 0L
    recover()
    val keys = emails.select(col("email").as("_del")).distinct()
    val hit = graft.util.Labeled(spark, "store: delete probe") {
      allWithFile()
        .join(keys, col("email") === col("_del"), "left_semi")
        .withColumn("_file", element_at(split(col("_file"), "/"), -1))
        .localCheckpoint(true)
    }
    val n = hit.count()
    if (n == 0) return 0L
    val tmp = freshStagingTmp()
    val dvDir = new java.io.File(tmp, "deletes")
    val v = currentVersion() + 1
    stageConcurrently(
      () => {
        graft.util.Labeled(spark, "store: stage data") {
          hit.select(col("_file").as("file"), col("email")).write.parquet(dvDir.toString)
        }
        val commitId = java.util.UUID.randomUUID().toString.take(8)
        dvDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(dvDir, s"del-$commitId-${f.getName}")),
            s"staging rename failed for $f")
        }
      },
      () => stageChanges(tmp,
        changeRows(hit.drop("_file", "_del"), "delete_pre"), "DELETE", v))
    commitStaged(tmp, v)
    n
  }

  /** Survivor append: new files into the uploaded=false partition,
    * through the SAME staged-commit protocol as every other mutation
    * (stage data + change-feed rows, atomic rename = commit point,
    * idempotent promotion) — an insert and its feed rows land together
    * or not at all.
    */
  protected def appendRows(fresh: DataFrame): Long = {
    val cached = fresh.cache()
    val n = cached.count()
    if (n > 0) {
      recover()
      stageAppend(cached)
      applyStaged()
    }
    cached.unpersist()
    n
  }

  /** Stage an insert commit: the fresh pending rows (commit-unique
    * file names, appended to the pending partition at promotion) plus
    * their change-feed rows.
    */
  private[pipeline] def stageAppend(fresh: DataFrame): Unit = {
    enforceCheckConstraints(fresh, "insert")
    val tmp = freshStagingTmp()
    val stage = new java.io.File(tmp, "pending-append")
    val v = currentVersion() + 1
    // Two independent chains (guide §2.6): [data write → rename →
    // stats] overlaps [change-feed write → markers]; stats needs the
    // staged DATA files only, never the changelog.
    stageConcurrently(
      () => {
        graft.util.Labeled(spark, "store: stage data") {
          toPhysical(fresh.drop("uploaded"), dataLogicalSchema)
            .write.parquet(stage.toString)
        }
        val commitId = java.util.UUID.randomUUID().toString.take(8)
        stage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(stage, s"ins-$commitId-${f.getName}")),
            s"staging rename failed for $f")
        }
        stageStats(tmp, v)
      },
      () => stageChanges(tmp, changeRows(fresh, "insert"), "WRITE", v))
    commitStaged(tmp, v)
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
    */
  def changeFeed(): DataFrame = {
    val dirs = commitDirs()
    // "The whole feed" means from genesis: once vacuumFeed has retired
    // any commit, a full-feed read can no longer be served completely
    // and must fail as loudly as the equivalent feedSince(0, head)
    // (round-14 ADVICE: an inconsistent loud-failure surface is a
    // silent-loss trap for consumers). Readers that want the retained
    // suffix say so explicitly: feedSince(feedLowWatermark(), head).
    if (dirs.nonEmpty) requireFeedRange(0L, dirs.map(_._1).max)
    if (dirs.nonEmpty)
      readPhysical(changeSchema,
        Seq(new java.io.File(path, Changelog).toString), recursive = true)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], changeSchema)
  }

  /** The feed restricted to commits in `(fromExclusive, toInclusive]`,
    * reading ONLY those commits' directories — the feed is laid out
    * one directory per commit (`_changelog/commit-<v>/`), so an
    * incremental consumer's replay lists the log and opens just the
    * delta, never scanning history (manifest-level pruning; at 100 TB
    * the feed is the big artifact and this is what keeps catch-up
    * proportional to the lag, not the lifetime).
    */
  def feedSince(fromExclusive: Long, toInclusive: Long): DataFrame = {
    requireFeedRange(fromExclusive, toInclusive)
    val dirs = commitDirs()
      .filter { case (v, _) => v > fromExclusive && v <= toInclusive }
      .map(_._2.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], changeSchema)
    else
      readPhysical(changeSchema, dirs)
  }

  /** (version, dir) for every commit directory present in the log. */
  private def commitDirs(): Seq[(Long, java.io.File)] = {
    val root = new java.io.File(path, Changelog)
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("commit-"))
      .map(d => d.getName.stripPrefix("commit-").toLong -> d)
      .sortBy(_._1)
  }

  /** The CURRENT table schema: the fixed base contract plus any
    * additively-evolved columns recorded by the last promoted
    * `_schema` manifest (see [[addColumn]]). Every read path — live
    * scans, snapshots, the feed, `asOf` replay, the DSv2 connector —
    * presents THIS schema; files and feed rows written before an
    * evolution lack the column physically and read as typed NULLs
    * (the Iceberg/Delta additive-evolution read contract).
    */
  override def tableSchema: org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(path, SchemaFile)
    if (!f.exists()) CustomerSchema.tableSchema
    else org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** The feed-row schema tracks the evolved table schema (old feed
    * files null-fill the evolved columns on read).
    */
  private def changeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      CustomerSchema.changeSchema.fields.take(2) ++ tableSchema.fields)

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

  /** Logical→physical name for one field of an evolved schema. */
  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("physical")) f.metadata.getString("physical")
    else f.name

  /** The schema as stored in data files: physical names, no metadata. */
  private def physicalize(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(physName(f), f.dataType, f.nullable)))

  /** Rename a logical-named frame's columns to physical for writing
    * (columns not in `logical` — none today — would be dropped; the
    * write choke points all pass exactly the logical column set).
    */
  private def toPhysical(df: DataFrame,
      logical: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(logical.fields.filter(f => df.columns.contains(f.name))
      .map(f => col(f.name).as(physName(f))).toIndexedSeq: _*)

  /** Read parquet written with physical names, presenting `logical`.
    * Missing physical columns (files older than an ADD) null-fill;
    * dead physical columns (a later DROP) are never requested.
    */
  private def readPhysical(logical: org.apache.spark.sql.types.StructType,
      paths: Seq[String], recursive: Boolean = false): DataFrame = {
    val r0 = spark.read.schema(physicalize(logical))
    val r = if (recursive) r0.option("recursiveFileLookup", "true") else r0
    r.parquet(paths: _*)
      .select(logical.fields.map(f => col(physName(f)).as(f.name)).toIndexedSeq: _*)
  }

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
    commitSchema(next, v, "ADD COLUMN")
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
    commitSchema(next, v, "ADD COLUMN"): Unit
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
      .withMetadata(f.metadata).putString("physical", physName(f)).build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.updated(i, f.copy(dataType = to, metadata = meta)))
    commitSchema(next, currentVersion() + 1, "ALTER COLUMN")
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
      .withMetadata(f.metadata).putString("physical", physName(f)).build()
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.updated(i, f.copy(name = to, metadata = meta)))
    commitSchema(next, currentVersion() + 1, "RENAME COLUMN")
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
    commitSchema(next, currentVersion() + 1, "DROP COLUMN")
  }

  /** Stage + promote a schema manifest as a feed-silent versioned
    * METADATA commit (shared by add/rename/drop). DDL racing DML is
    * always a conflict (the rarest commit kind pays the strictest
    * rule).
    */
  private def commitSchema(
      next: org.apache.spark.sql.types.StructType, v: Long,
      op: String): Long =
    commitMetadata("schema", next.json, v, op)

  private def commitMetadata(file: String, body: String, v: Long,
      op: String): Long = {
    val tmp = freshStagingTmp()
    tmp.mkdirs()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    java.nio.file.Files.write(new java.io.File(tmp, file).toPath,
      body.getBytes(utf8))
    java.nio.file.Files.write(new java.io.File(tmp, "version").toPath,
      v.toString.getBytes(utf8))
    java.nio.file.Files.write(new java.io.File(tmp, "commit_ts").toPath,
      nextCommitTs().toString.getBytes(utf8))
    // Metadata commits are feed-silent by construction: 0 change rows.
    java.nio.file.Files.write(new java.io.File(tmp, "operation").toPath,
      s"$op\n0".getBytes(utf8))
    commitStaged(tmp, v, fullReplace = true)
    applyStaged()
    v
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
    commitMetadata("constraints",
      (cur :+ (name, sqlExpr)).map { case (n, e) => s"$n\t$e" }.mkString("\n"),
      currentVersion() + 1, "ADD CONSTRAINT")
  }

  /** Drop a persisted CHECK constraint (versioned metadata commit). */
  def dropCheckConstraint(name: String): Long = {
    recover()
    val cur = checkConstraints()
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"dropCheckConstraint: no constraint '$name'")
    commitMetadata("constraints",
      cur.filterNot(_._1.equalsIgnoreCase(name))
        .map { case (n, e) => s"$n\t$e" }.mkString("\n"),
      currentVersion() + 1, "DROP CONSTRAINT")
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
  def currentVersion(): Long = {
    val f = new java.io.File(path, VersionFile)
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Time travel: the table as of commit `version`, reconstructed from
    * the NEAREST snapshot checkpoint at or below `version` plus a
    * replay of just the feed delta `(snapshot, version]` — per email
    * (the merge key, unique in every committed state) the row with the
    * greatest effective version wins. With no snapshot the replay runs
    * from genesis. `asOf(currentVersion())` equals [[all]]; `asOf(0)`
    * is empty. Cost: one key-partitioned window over snapshot+delta —
    * the log-structured reconstruction every transactional table
    * format uses, and the per-commit feed layout means only the
    * delta's directories are ever opened.
    */
  def asOf(version: Long): DataFrame = {
    val base = snapshotVersions().filter(_ <= version).sorted.lastOption
    if (base.isEmpty && version > 0) {
      // Replay-from-genesis needs the log to actually START at genesis:
      // commit-1 missing means the history below the requested version
      // was vacuumed (including the everything-vacuumed case, where the
      // old `forall` check passed vacuously and asOf returned an EMPTY
      // table instead of erroring). Retention violations must be loud.
      val oldest = commitDirs().headOption.map(_._1)
      require(oldest.exists(_ <= 1L),
        s"cannot reconstruct version $version: commits before " +
          s"${oldest.getOrElse(version + 1)} were vacuumed and no snapshot at " +
          "or below the requested version exists")
    }
    // `delete_pre` rows ride along as TOMBSTONES: a delete commit has
    // no post-image, so its pre-image (kept despite the _pre filter)
    // is the marker — if it wins the per-email last-writer window the
    // email was deleted as of `version` and the row is dropped below.
    val delta = feedSince(base.getOrElse(0L), version)
      .filter(!col("change_type").endsWith("_pre") ||
        col("change_type") === "delete_pre")
      .select(col("commit_version") +: col("change_type") +:
        tableSchema.fieldNames.map(col): _*)
    val merged = base match {
      case Some(v0) =>
        readPhysical(tableSchema, Seq(snapshotDir(v0).toString))
          .select(lit(v0).as("commit_version") +: lit("snapshot").as("change_type") +:
            tableSchema.fieldNames.map(col): _*)
          .unionByName(delta)
      case None => delta
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("email")).orderBy(col("commit_version").desc)
    merged
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .filter(col("change_type") =!= "delete_pre")
      .select(tableSchema.fieldNames.map(col): _*)
  }

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
          new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.next().trim.toLong
      }
      .sortBy(_._1)
  }

  /** The table's COMMIT HISTORY — the Delta `DESCRIBE HISTORY` shape:
    * one row per commit, newest first, with the commit's promotion
    * timestamp, its operation label (WRITE / UPDATE / MERGE / DELETE /
    * OPTIMIZE / RESTORE / ADD|RENAME|DROP COLUMN / ADD|DROP
    * CONSTRAINT) and its change-feed row count (0 for feed-silent
    * layout and DDL commits). Served ENTIRELY from the `_commits`
    * registry — tiny per-commit metadata files that survive
    * [[vacuumFeed]], so history keeps describing commits whose feed
    * dirs are long retired, and the read costs O(commits) driver-side
    * metadata, never a data or feed scan. Entries written before the
    * operation label existed surface NULL operation/row count
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
          val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.map(_.trim).toArray
          org.apache.spark.sql.Row(v, lines(0).toLong,
            if (lines.length > 1) lines(1) else null,
            if (lines.length > 2) java.lang.Long.valueOf(lines(2).toLong)
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
    val snaps = {
      val d = new java.io.File(path, Snapshots)
      if (!d.isDirectory) 0L
      else d.listFiles().count(f => f.isDirectory && !f.getName.startsWith(".tmp")).toLong
    }
    val row = org.apache.spark.sql.Row(
      currentVersion(), live.size.toLong, sizeBytes, dvTotal, dvLive,
      checkConstraints().size.toLong, snaps, feedLowWatermark(),
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
    * LAST commit whose promotion timestamp is ≤ tsMillis, resolved
    * through the `_commits` registry and reconstructed by [[asOf]].
    * A timestamp before the first commit yields the empty version 0;
    * the commit clock is injectable (constructor), so tests and the
    * driver gate plant deterministic timestamps instead of wall time.
    */
  def asOfTimestamp(tsMillis: Long): DataFrame = {
    val ts = commitTimestamps()
    require(ts.nonEmpty || currentVersion() == 0L,
      "store has commits but no timestamp registry (created pre-timestamps?)")
    val v = ts.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(0L)
    asOf(v)
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
      toPhysical(all(), tableSchema).write.parquet(tmp.toString)
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
    val retired = commitDirs().filter(_._1 <= cutoff)
    // Persist the retention horizon (monotonic) BEFORE deleting the
    // retired dirs: a crash between the two steps then OVER-rejects —
    // the range is still physically readable but refused — which is
    // the safe direction. The previous order (delete, then promote)
    // left a window where the watermark was low while the dirs were
    // already gone, so requireFeedRange passed and catch-up reads
    // silently returned partial history — exactly the loss the
    // watermark exists to prevent (round-14 ADVICE, medium).
    val wm = math.max(feedLowWatermark(), cutoff)
    val tmp = new java.io.File(path, FeedWatermark + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      wm.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
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
    *      feed as delete_pre retractions; touched files are found on
    *      the PHYSICAL rows (deletion vectors NOT applied), so a row
    *      the key had merely tombstoned is rewritten away too and the
    *      key's vector rows all become inert BEFORE step 3 removes
    *      them (excising a still-live vector row first would
    *      resurrect the row it tombstones);
    *   3. deletion-vector excision (all inert for the key by now).
    * The commit lands only when steps 1-2 excised something, so
    * re-running a completed purge is version-stable. History row
    * counts in the `_commits` registry keep their ORIGINAL values —
    * the registry is an audit record of what each commit did, not of
    * what later erasure removed.
    *
    * Scale: one metadata-light probe scan per artifact family finds
    * the touched files (at 100 TB the live-data probe rides the same
    * bloom/zone manifests as any point read); rewrite cost ∝ files
    * actually containing the keys. Returns (physical live rows
    * excised, feed rows excised, snapshot rows excised, deletion-
    * vector rows excised).
    */
  def purgeEmails(emails: Seq[String]): (Long, Long, Long, Long) =
    promotionLock.synchronized {
      recover()
      require(tableExists, s"purge: table at $path does not exist")
      val keys = emails.map(_.trim).filter(_.nonEmpty).distinct
      require(keys.nonEmpty, "purge: no keys given")
      require(keys.size <= 1000,
        s"purge is a point operation (got ${keys.size} keys); run batches of <= 1000")
      val emailPhys = physName(tableSchema("email"))

      // 1. Retained feed commits, then snapshots.
      val feedFiles = commitDirs().flatMap { case (_, d) =>
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
      }
      val nFeed = exciseParquet(feedFiles, emailPhys, keys)
      val snapFiles = snapshotVersions().flatMap { v =>
        Option(snapshotDir(v).listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
      }
      val nSnap = exciseParquet(snapFiles, emailPhys, keys)

      // 2. Live data: physical probe (vectors NOT applied), file-level
      // feed-silent PURGE commit rewriting exactly the touched files.
      val phys = spark.read.schema(physicalize(tableSchema)).parquet(path)
        .withColumn("_file", input_file_name())
        .select(col("_file") +:
          tableSchema.fields.map(f => col(physName(f)).as(f.name)).toIndexedSeq: _*)
      val hit = phys.filter(col("email").isInCollection(keys))
        .localCheckpoint(true)
      val nLive = hit.count()
      if (nLive > 0) {
        val touched = hit.select(col("_file")).distinct()
          .collect().map(_.getString(0)).toSeq
        // Survivors: the touched files' rows with OTHER keys' vectors
        // applied (the replacement files make those vectors inert too),
        // minus the purged keys.
        val survivors = withVectorsApplied(
            phys.filter(col("_file").isInCollection(touched)))
          .filter(!col("email").isInCollection(keys))
          .select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
        val noChanges = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType, nullable = false) +:
              tableSchema.fields))
        stageMergeCommit(survivors, touched, noChanges, "PURGE")
        applyStaged()
      }

      // 3. Deletion vectors (plain `email` column; all the purged
      // keys' rows are inert now).
      val dvFiles = Option(new java.io.File(path, Deletes).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).toSeq
      val nDv = exciseParquet(dvFiles, "email", keys)
      (nLive, nFeed, nSnap, nDv)
    }

  /** Rewrite every file in `files` that contains a purged key, without
    * those rows, atomically swapped under the ORIGINAL name (readers
    * see old-or-new, never torn; a fully-excised file is removed —
    * every artifact reader handles a missing part). One probe scan
    * over the whole family finds the touched files; rewrites are
    * per-file so each file's own (possibly evolved) schema is
    * preserved verbatim. Returns rows excised.
    */
  private def exciseParquet(files: Seq[java.io.File], emailCol: String,
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
      .parquet(files.map(_.getAbsolutePath).toIndexedSeq: _*)
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
        val keep = spark.read.parquet(f.getAbsolutePath)
          .filter(!col(emailCol).isInCollection(keys))
        // Dot-prefixed sibling dir: invisible to Spark's globs, same
        // filesystem as the target so the final move is an atomic
        // rename; stale leftovers from a crashed attempt are swept.
        val tmp = new java.io.File(f.getParentFile, s".purge-${f.getName}")
        deleteRecursively(tmp)
        keep.coalesce(1).write.parquet(tmp.toString)
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
  def feedLowWatermark(): Long = {
    val f = new java.io.File(path, FeedWatermark)
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Loud-failure guard for every range feed read: a non-empty range
    * starting below the retention horizon cannot be served completely.
    */
  private def requireFeedRange(fromExclusive: Long, toInclusive: Long): Unit = {
    val wm = feedLowWatermark()
    require(toInclusive <= fromExclusive || fromExclusive >= wm,
      s"change feed ($fromExclusive, $toInclusive] is unavailable: commits at or " +
        s"below version $wm were vacuumed — read from feedFrom >= $wm, or " +
        "reconstruct state via a snapshot (asOf)")
  }

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
    * per-commit zone maps ([[zonesManifest]]) from descriptive
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
    * per-commit zone maps ([[zonesManifest]]: min/max id AND min/max
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
    val rows = withVectorsApplied(
        readPhysical(dataLogicalSchema, delta.map(_._2))
          .withColumn("uploaded", lit(false))
          .withColumn("_file", input_file_name()))
      .select(tableSchema.fieldNames.map(col): _*)
      .repartitionByRange(filesPerDelta, zkey)
    stageMergeCommit(rows, delta.map(_._2),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType, nullable = false) +: tableSchema.fields)),
      "OPTIMIZE")
    applyStaged()
  }

  /** Shared data-only rewrite commit (compaction / clustering): the
    * version advances, the feed stays silent (physical layout, not a
    * logical change), and the full rewrite MATERIALIZES every
    * deletion-vector tombstone (all() below is vector-applied and
    * every pre-rewrite file name is gone) — so the commit stages a
    * truncation marker and promotion clears the vectors inside the
    * idempotent replay (crash-safe: stats stay exact, not just
    * never-wrong).
    */
  private def rewriteTable(shape: DataFrame => DataFrame): Unit = {
    if (!tableExists) return
    recover()
    val cur = all().localCheckpoint(true) // deletion vectors applied
    stageFullCommit(
      shape(cur.filter(!col("uploaded"))),
      shape(cur.filter(col("uploaded"))),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType, nullable = false) +: tableSchema.fields)),
      "OPTIMIZE",
      truncateDeletes = true)
    applyStaged()
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
  def restore(version: Long): Unit = {
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
    val current = all().localCheckpoint(true)
    val rowS = struct(tableSchema.fieldNames.map(col): _*)
    val cur = current.select(col("email").as("_e"), rowS.as("_c"))
    val tgt = target.select(col("email").as("_e"), rowS.as("_t"))
    val diff = cur.join(tgt, Seq("_e"), "full_outer").localCheckpoint(true)
    val ins = changeRows(diff.filter(col("_c").isNull).select(col("_t.*")), "insert")
    val del = changeRows(diff.filter(col("_t").isNull).select(col("_c.*")), "delete_pre")
    val changed = diff.filter(col("_c").isNotNull && col("_t").isNotNull &&
      !(col("_c") <=> col("_t"))).localCheckpoint(true)
    val updPre = changeRows(changed.select(col("_c.*")), "update_pre")
    val upd = changeRows(changed.select(col("_t.*")), "update")
    stageFullCommit(
      target.filter(!col("uploaded")),
      target.filter(col("uploaded")),
      ins.unionByName(del).unionByName(updPre).unionByName(upd),
      "RESTORE",
      // Full replace: every pre-restore file is gone, so the vectors
      // truncate inside the commit's idempotent promotion.
      truncateDeletes = true)
    applyStaged()
  }

  /** Zone-pruned id-range read over the pending partition: consult the
    * per-commit zone manifest and OPEN only live files whose
    * [min_id, max_id] intersects [lo, hi]; a file without manifest
    * coverage degrades to a read, never a wrong answer. The exact
    * predicate is re-applied to the opened files and deletion vectors
    * are honored. Returns (rows, filesRead, filesTotal) so callers can
    * assert the skip actually happened.
    */
  def pendingRangeRead(lo: Long, hi: Long): (DataFrame, Int, Int) =
    zonePrunedPendingRead(
      idZ => idZ.forall { case (mn, mx) => mx >= lo && mn <= hi },
      _ => true,
      col("id") >= lo && col("id") <= hi)

  /** TWO-dimensional zone-pruned read over the pending partition: open
    * only live files whose [min_id,max_id] × [min_hb,max_hb] zone
    * rectangle intersects the query rectangle (id range × hash-shard
    * band). After [[optimizeZorder]] every file's rectangle is tight
    * in BOTH dimensions, so id-only reads, shard-only reads, and true
    * rectangles all prune — a single-key clustering ([[optimize]])
    * serves only its leading column. Missing stats degrade to a read,
    * never a wrong answer; the exact predicate is re-applied and
    * deletion vectors are honored. Returns (rows, filesRead,
    * filesTotal) so callers can assert the skip happened.
    */
  def pendingRectRead(idLo: Long, idHi: Long, hbLo: Long, hbHi: Long)
      : (DataFrame, Int, Int) =
    zonePrunedPendingRead(
      _.forall { case (mn, mx) => mx >= idLo && mn <= idHi },
      _.forall { case (mn, mx) => mx >= hbLo && mn <= hbHi },
      col("id") >= idLo && col("id") <= idHi &&
        CustomerStore.hashBucket(col("id")).between(hbLo, hbHi))

  /** Shared zone-consulted pending read: keep a live file iff its
    * latest zone entry passes BOTH dimension tests (a missing entry or
    * a null dimension keeps the file — may-contain metadata degrades
    * to a read), then re-apply the exact predicate to the opened
    * files.
    */
  private def zonePrunedPendingRead(
      idKeep: Option[(Long, Long)] => Boolean,
      hbKeep: Option[(Long, Long)] => Boolean,
      exact: org.apache.spark.sql.Column): (DataFrame, Int, Int) = {
    recover()
    val files = livePendingFiles()
    val stats = manifest.current()
    val keep = files.filter { case (name, _) =>
      stats.get(name).forall(s => idKeep(s.idZone) && hbKeep(s.hbZone))
    }
    val rows =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else
        withVectorsApplied(
          readPhysical(dataLogicalSchema, keep.map(_._2))
            .filter(exact)
            .withColumn("uploaded", lit(false))
            .withColumn("_file", input_file_name()))
          .select(tableSchema.fieldNames.map(col): _*)
    (rows, keep.size, files.size)
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

  private def statsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bits",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("nbits",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("min_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("min_hb",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_hb",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s_h",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s_id",
      org.apache.spark.sql.types.LongType),
    // kind='e' rows (round 15): per-file min/max of an EVOLVED numeric
    // column, keyed by its PHYSICAL name (stable under renames).
    // Nullable by construction — stats files written before the fields
    // existed read as NULL under this declared schema, which pruning
    // treats as no coverage (the file is read, never skipped).
    org.apache.spark.sql.types.StructField("ecol",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("min_v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("commit_version",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The per-commit skipping-stats manifest, reduced to the LATEST
    * entry set per file (a defence against basename reuse; data files
    * are immutable, so in practice each file has exactly one commit's
    * entries). At 100 TB this is kilobytes per file against gigabytes
    * of data — the manifest the planner consults before any file is
    * opened. This DataFrame backs the public manifest views; the
    * pruning consults read the same rule from [[manifest]] instead.
    */
  private def statsManifest(): DataFrame = {
    val files = StatsSnapshot.commitDirs(new java.io.File(path, StatsManifest)).values
      .flatMap(d => graft.sources.ParquetGroups.parquetFilesIn(d.toString)).toSeq
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], statsSchema)
    val m = spark.read.schema(statsSchema).parquet(files: _*)
      .select(statsSchema.fieldNames.map(col): _*)
    val latest = m.groupBy(col("file"))
      .agg(max(col("commit_version")).as("commit_version"))
    m.join(latest, Seq("file", "commit_version"))
  }

  /** The email bloom manifest: one row per (file, 64-bit word with ≥1
    * bit set) plus the file's filter geometry.
    */
  def bloomManifest(): DataFrame =
    statsManifest().filter(col("kind") === "b")
      .select(col("file"), col("w"), col("bits"), col("nbits"),
        col("commit_version"))

  /** The zone-map manifest (per-file row count, id min/max, and
    * hash-shard min/max — the store's two clustering dimensions),
    * maintained per commit like [[bloomManifest]]. `min_hb`/`max_hb`
    * may be null for files whose commit predates shard stats; pruning
    * treats that as no coverage (the file is read, never skipped).
    */
  def zonesManifest(): DataFrame =
    statsManifest().filter(col("kind") === "z")
      .select(col("file"), col("n_rows"), col("min_id"), col("max_id"),
        col("min_hb"), col("max_hb"), col("commit_version"))

  /** The EVOLVED-column zone manifest (kind='e'): per-file min/max of
    * each evolved numeric column under its PHYSICAL name — stats
    * follow the schema, so data skipping works on columns that did not
    * exist at table creation. Files committed before a column's
    * evolution (or stats rows written before this manifest generation)
    * simply have no row for it — pruning keeps such files.
    */
  def evolvedZonesManifest(): DataFrame =
    statsManifest().filter(col("kind") === "e")
      .select(col("file"), col("ecol"), col("min_v"), col("max_v"),
        col("commit_version"))

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

  /** The per-file KMV sample manifest (kind='s'): each live file's
    * bottom-[[CustomerStore.SampleK]] (md5-word hash, id) pairs,
    * maintained per commit like the zones and blooms.
    */
  def sampleManifest(): DataFrame =
    statsManifest().filter(col("kind") === "s")
      .select(col("file"), col("s_h"), col("s_id"), col("commit_version"))

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
    * partition value) — the current snapshot's complete file list.
    */
  def liveDataFiles(): Seq[(String, String, Boolean)] = {
    recover()
    val done = {
      val d = new java.io.File(path, "uploaded=true")
      if (!d.exists()) Seq.empty
      else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.getAbsolutePath, true))
    }
    livePendingFiles().map { case (n, p) => (n, p, false) } ++ done
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
    val live = liveDataFiles()
    if (live.isEmpty) return Some((0L, None, None))
    coveredZoneRows(live.map(_._1).toSet).map { zones =>
      (zones.map(_._2).sum, Some(zones.map(_._3).min), Some(zones.map(_._4).max))
    }
  }

  /** GROUP BY `uploaded` COUNT(*)/MIN(id)/MAX(id) from the zone
    * manifest alone — the partition-grouped sibling of
    * [[manifestAggregates]] (per-partition counts are manifest-
    * derivable because `uploaded` IS the partition directory). Same
    * exactness refusals; one output row per NON-EMPTY partition (SQL
    * GROUP BY emits no row for an empty group). None when it cannot
    * be exact.
    */
  def manifestAggregatesGrouped(): Option[Seq[(Boolean, Long, Option[Long], Option[Long])]] = {
    val live = liveDataFiles()
    if (live.isEmpty) return Some(Seq.empty)
    coveredZoneRows(live.map(_._1).toSet).map { zones =>
      val uploadedOf = live.map(f => f._1 -> f._3).toMap
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
  def manifestEvolvedExtremaGrouped(physCol: String)
      : Option[Seq[(Boolean, Option[Long], Option[Long])]] = {
    val live = liveDataFiles()
    if (live.isEmpty) return Some(Seq.empty)
    val (_, liveVectors) = deletionVectorStats()
    if (liveVectors > 0L) return None
    val stats = manifest.current()
    val extrema = live.map(f => (f._3, stats.get(f._1).flatMap(_.evolved.get(physCol))))
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
  private def coveredZoneRows(names: Set[String])
      : Option[Seq[(String, Long, Long, Long)]] = {
    val (_, liveVectors) = deletionVectorStats()
    if (liveVectors > 0L) return None
    // Demand complete non-null coverage of the live set.
    val stats = manifest.current()
    val zones = names.toSeq.flatMap(n => stats.get(n).flatMap(s =>
      for (r <- s.nRows; mn <- s.minId; mx <- s.maxId) yield (n, r, mn, mx)))
    if (zones.size != names.size) None // a live file lacks coverage
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
      v0 -> snapshotDir(v0).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }

  /** Feed commit directories with fromExclusive < version ≤
    * toInclusive, in version order — the delta a time-travel scan
    * replays on top of its snapshot base.
    */
  def feedDirsIn(fromExclusive: Long, toInclusive: Long): Seq[(Long, String)] = {
    requireFeedRange(fromExclusive, toInclusive)
    commitDirs()
      .filter { case (v, _) => v > fromExclusive && v <= toInclusive }
      .map { case (v, d) => (v, d.getAbsolutePath) }
  }

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

  /** Bloom-consulted selection of the pending files that may contain
    * any of `emails` (see [[bloomKeepFiles]]). Returns (paths to open,
    * total live).
    */
  private def prunePendingByBloom(emails: Seq[String]): (Seq[String], Int) = {
    val files = livePendingFiles()
    (bloomKeepFiles(files, emails), files.size)
  }

  /** Bloom-manifest file pruning for an email IN-list over an
    * arbitrary live-file list (the generic core of
    * [[pendingPointLookup]]'s consult, also the DSv2 planner's email
    * prune). Returns the paths that MAY contain any of `emails`:
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
    * per-commit bloom manifest: open only may-contain files, re-apply
    * the exact IN predicate. Returns (rows, filesRead, filesTotal) so
    * callers can assert the skip actually happened — the store-native
    * point-read the work-queue's ack path uses.
    */
  def pendingPointLookup(emails: Seq[String]): (DataFrame, Int, Int) = {
    recover()
    val (keep, total) = prunePendingByBloom(emails)
    val rows =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else
        withVectorsApplied(
          readPhysical(dataLogicalSchema, keep)
            .filter(col("email").isin(emails: _*))
            .withColumn("uploaded", lit(false))
            .withColumn("_file", input_file_name()))
          .select(tableSchema.fieldNames.map(col): _*)
    (rows, keep.size, total)
  }

  /** Post-ack state transition (S7, database.go:176-198): flip
    * uploaded=true for the given emails and touch modified_ts — the
    * explicit form of the reference's BEFORE UPDATE trigger
    * (init-db.sh:28-36). A FILE-LEVEL commit: only the pending files
    * that actually contain acked emails are rewritten (their survivors
    * as replacement files, the flipped rows appended to the done
    * partition); every untouched pending file stays in place. Point-
    * lookup-sized ack batches (≤ PointLookupMax) select the touched
    * files through the per-commit bloom manifest — only may-contain
    * files are ever OPENED, the index consult the reference's
    * upload_idx does in Postgres — while larger batches fall back to
    * the pending scan + semi-join (they touch most files anyway).
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
    val acked = ackedEmails.select(col("email").as("_ack")).distinct()
      .localCheckpoint(true)
    // Candidate pending rows, tagged with their physical file. The
    // bloom path reads ONLY may-contain files; missing manifest
    // coverage or a batch past the point-lookup gate reads the
    // pending partition (still pruned to one partition).
    val candidates: DataFrame =
      if (acked.count() <= PointLookupMax) {
        val emails = acked.collect().map(_.getString(0)).toSeq
        val (keep, _) = prunePendingByBloom(emails)
        if (keep.isEmpty)
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              dataLogicalSchema)
            .withColumn("uploaded", lit(false))
            .withColumn("_file", lit(""))
        else
          withVectorsApplied(
            readPhysical(dataLogicalSchema, keep)
              .withColumn("uploaded", lit(false))
              .withColumn("_file", input_file_name()))
      } else
        allWithFile().filter(!col("uploaded"))
    // Pre-image first (the rows about to flip), pinned before any file
    // moves; the post-image derives from it so both reflect ONE scan.
    val (movedPre, touched, moved) = graft.util.Labeled(spark, "store: ack preimage") {
      val pre = candidates.join(acked, col("email") === col("_ack"), "left_semi")
        .select(col("_file") +: tableSchema.fieldNames.map(col): _*)
        .localCheckpoint(true)
      (pre,
        pre.select(col("_file")).distinct()
          .collect().map(_.getString(0)).toSet,
        pre.drop("_file")
          .withColumn("uploaded", lit(true))
          .withColumn("modified_ts", current_timestamp())
          .select(tableSchema.fieldNames.map(col): _*)
          .localCheckpoint(true)) // one evaluation feeds both the commit and its changelog
    }
    val survivors =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else candidates.filter(col("_file").isInCollection(touched))
        .join(acked, col("email") === col("_ack"), "left_anti")
        .select(tableSchema.fieldNames.map(col): _*)
    stageMergeCommit(survivors.unionByName(moved), touched.toSeq,
      changeRows(movedPre.drop("_file"), "ack_pre")
        .unionByName(changeRows(moved, "ack")),
      "UPDATE")
    applyStaged()
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
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
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
    * dir ([[freshStagingTmp]] writes it; promotion records it). Thread-
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
      // effect-less feed-silent commit — a replay must still skip.
      if (!txnSkippedAtCommit.get && currentVersion() == v0) commitMarkerOnly("TXN")
      if (txnSkippedAtCommit.get) None else Some(out)
    } finally { activeTxn.remove(); txnSkippedAtCommit.remove() }
  }

  /** An effect-less commit whose only payload is the staged markers
    * ([[freshStagingTmp]] wrote them from the thread-locals): version +
    * registry advance, zero data files, zero feed rows. NOT a
    * full-replace commit — it touches no files and no keys, so it
    * composes with any interleaved commit.
    */
  private def commitMarkerOnly(op: String): Unit = {
    val tmp = freshStagingTmp()
    tmp.mkdirs()
    writeStagedMarkers(tmp)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val v = currentVersion() + 1
    java.nio.file.Files.write(new java.io.File(tmp, "version").toPath,
      v.toString.getBytes(utf8))
    java.nio.file.Files.write(new java.io.File(tmp, "commit_ts").toPath,
      nextCommitTs().toString.getBytes(utf8))
    java.nio.file.Files.write(new java.io.File(tmp, "operation").toPath,
      s"$op\n0".getBytes(utf8))
    commitStaged(tmp, v)
    applyStaged()
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
      if (currentVersion() == v0) commitMarkerOnly("COPY INTO")
      (fresh.length.toLong, n, nBad)
    } finally activeIngest.remove()
  }

  private val activeIngest = new ThreadLocal[Option[Seq[String]]] {
    override def initialValue(): Option[Seq[String]] = None
  }

  /** Write any active thread-local markers (idempotent txn, ingested
    * file names) into a staging dir — called by [[freshStagingTmp]] so
    * EVERY staging path carries them, and by [[commitMarkerOnly]] for
    * effect-less commits.
    */
  private def writeStagedMarkers(tmp: java.io.File): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    activeTxn.get.foreach { case (app, ver) =>
      tmp.mkdirs()
      java.nio.file.Files.write(new java.io.File(tmp, "txn").toPath,
        s"$app\n$ver".getBytes(utf8)): Unit
    }
    activeIngest.get.foreach { names =>
      tmp.mkdirs()
      java.nio.file.Files.write(new java.io.File(tmp, "ingested").toPath,
        names.mkString("\n").getBytes(utf8)): Unit
    }
  }

  /** MERGE apply (see [[CustomerStoreApi.merge]]): a FILE-LEVEL merge
    * commit — the transactional-format shape (Delta/Iceberg MERGE)
    * rather than a table rewrite. The matched emails first select the
    * TOUCHED physical files (one manifest-sized semi-join + distinct
    * on `input_file_name`); only those files are rewritten (their
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
    * touched-file selection itself is the manifest pattern
    * (at 100 TB the semi-join probe becomes a min/max-stats or bloom
    * consult instead of a scan, but the commit shape is identical).
    * Updates never cross partitions (classification retains the
    * stored `uploaded`), so each partition's removals and
    * replacements pair off independently.
    */
  protected def applyMerge(updates: DataFrame, inserts: DataFrame): Unit = {
    if (updates.isEmpty && inserts.isEmpty) return
    // Inserts are re-checked in stageAppend/appendRows on the
    // table-doesn't-exist path; here one scan covers both legs.
    enforceCheckConstraints(updates.unionByName(inserts), "merge")
    if (!tableExists) { appendRows(inserts): Unit; return }
    recover()
    val withFile = allWithFile()
    // Pre-image: the stored rows the updates replace, pinned before
    // the staged rewrite starts moving the files they live in.
    val (updatesPre, touched) = graft.util.Labeled(spark, "store: merge preimage") {
      val pre = withFile
        .join(updates.select(col("email").as("_ue")), col("email") === col("_ue"), "left_semi")
        .select(col("_file") +: tableSchema.fieldNames.map(col): _*)
        .localCheckpoint(true)
      (pre, pre.select(col("_file")).distinct()
        .collect().map(_.getString(0)).toSet)
    }
    val survivors =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else withFile.filter(col("_file").isInCollection(touched))
        .join(updates.select(col("email").as("_ue")), col("email") === col("_ue"), "left_anti")
        .select(tableSchema.fieldNames.map(col): _*)
    stageMergeCommit(
      survivors.unionByName(updates).unionByName(inserts),
      touched.toSeq,
      changeRows(updatesPre.drop("_file"), "update_pre")
        .unionByName(changeRows(updates, "update"))
        .unionByName(changeRows(inserts, "insert")),
      "MERGE")
    applyStaged()
  }

  /** Stage a file-level MERGE commit: per partition, the replacement
    * rows as commit-unique `mrg-` files plus a `remove-<partition>`
    * list naming the touched files promotion deletes. Same commit
    * point and recovery rules as every staged mutation.
    */
  private[pipeline] def stageMergeCommit(replacement: DataFrame,
      removeUris: Seq[String], changes: DataFrame,
      op: String): Unit = {
    val tmp = freshStagingTmp()
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val v = currentVersion() + 1
    // Three independent chains (guide §2.6): the two partition
    // replacement writes and the change-feed write share no files;
    // stats follows the parallel block (it scans both staged data dirs
    // and keys on the commit-unique promoted basenames).
    def partitionChain(add: String, rm: String, up: Boolean): Unit = {
      val stage = new java.io.File(tmp, add)
      graft.util.Labeled(spark, "store: stage data") {
        toPhysical(replacement.filter(col("uploaded") === up).drop("uploaded"),
            dataLogicalSchema)
          .write.parquet(stage.toString)
      }
      stage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(stage, s"mrg-$commitId-${f.getName}")),
          s"staging rename failed for $f")
      }
      val partToken = if (up) "uploaded=true" else "uploaded=false"
      val names = removeUris
        .filter(_.contains(s"/$partToken/"))
        .map(u => u.substring(u.lastIndexOf('/') + 1))
      java.nio.file.Files.write(new java.io.File(tmp, rm).toPath,
        names.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    stageConcurrently(
      () => partitionChain("merge-pending", "remove-pending", up = false),
      () => partitionChain("merge-done", "remove-done", up = true),
      () => stageChanges(tmp, changes, op, v))
    stageStats(tmp, v)
    commitStaged(tmp, v)
  }

  /** Stage a FULL-replace commit of both partitions (the merge path),
    * then atomically rename to `_staging` — same commit point and
    * recovery rules as [[stageCommit]], but the done partition is
    * replaced wholesale (`done` stage dir) rather than appended to
    * (`done-append`).
    */
  private[pipeline] def stageFullCommit(pending: DataFrame, done: DataFrame,
      changes: DataFrame, op: String,
      truncateDeletes: Boolean = false): Unit = {
    val tmp = freshStagingTmp()
    val v = currentVersion() + 1
    // Three independent chains (guide §2.6): two partition writes plus
    // the change-feed write; stats follows the parallel block.
    stageConcurrently(
      () => graft.util.Labeled(spark, "store: stage data") {
        toPhysical(pending.drop("uploaded"), dataLogicalSchema)
          .write.parquet(new java.io.File(tmp, "pending").toString)
      },
      () => graft.util.Labeled(spark, "store: stage data") {
        toPhysical(done.drop("uploaded"), dataLogicalSchema)
          .write.parquet(new java.io.File(tmp, "done").toString)
      },
      () => stageChanges(tmp, changes, op, v))
    // A full replace materializes every deletion-vector tombstone, so
    // the rewrite commits stage a truncation marker and promotion
    // clears `_deletes/` INSIDE the idempotent replay — a crash
    // between promotion steps can no longer leave stale (inert)
    // vector rows inflating deletionVectorStats' total.
    if (truncateDeletes)
      java.nio.file.Files.write(new java.io.File(tmp, "truncate-deletes").toPath,
        Array.emptyByteArray): Unit
    stageStats(tmp, v)
    // Full replace: ANY interleaved commit conflicts (the rewrite was
    // derived from the whole pre-commit table).
    commitStaged(tmp, v, fullReplace = true)
  }

  /** Stage this commit's change-feed rows next to its data outputs,
    * under commit-unique file names so crash replay cannot clobber
    * files a previous promotion already landed in `_changelog/`.
    * Stamps every row with this commit's version (last committed + 1)
    * and stages the version marker the promotion advances the counter
    * from — the stamp happens HERE, the single staging choke point,
    * so every mutation path versions identically.
    *
    * `op` is the commit's OPERATION label (the DESCRIBE HISTORY verb:
    * WRITE / UPDATE / MERGE / DELETE / OPTIMIZE / RESTORE / DDL verbs)
    * — staged with the commit alongside its change-row count (a
    * footer-only consult of the just-written, page-warm changelog) and
    * promoted into the vacuum-surviving `_commits` registry, so
    * [[history]] can describe commits whose feed dirs are long retired.
    */
  private def stageChanges(tmp: java.io.File, changes: DataFrame,
      op: String, v: Long): Unit = {
    val dir = new java.io.File(tmp, "changelog")
    graft.util.Labeled(spark, "store: stage changes") {
      toPhysical(changes.withColumn("commit_version", lit(v))
          .select(changeSchema.fieldNames.map(col): _*), changeSchema)
        .write.parquet(dir.toString)
    }
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      require(f.renameTo(new java.io.File(dir, s"chg-$commitId-${f.getName}")),
        s"staging rename failed for $f")
    }
    java.nio.file.Files.write(new java.io.File(tmp, "version").toPath,
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // This commit's promotion timestamp, staged with the data so the
    // _commits registry advances atomically with the commit itself.
    java.nio.file.Files.write(new java.io.File(tmp, "commit_ts").toPath,
      nextCommitTs().toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(new java.io.File(tmp, "operation").toPath,
      s"$op\n${parquetRowCount(graft.sources.ParquetGroups.parquetFilesIn(dir.toString))}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Total row count of the given parquet files — footer-only,
    * driver-side, cost ∝ files, opened through the session's Hadoop
    * conf (so any file system the session is configured for works).
    */
  private[pipeline] def parquetRowCount(files: Seq[String]): Long =
    if (files.isEmpty) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

  /** Every row of a metadata-scale parquet file (manifest, deletion
    * vectors), read on the driver without a job: `schema`'s columns in
    * order, null where the file lacks one.
    */
  private def readParquetRows(file: String, schema: org.apache.spark.sql.types.StructType)
      : Iterator[org.apache.spark.sql.Row] =
    graft.sources.ParquetGroups.readAll(file, schema.fieldNames.toSeq).map(a =>
      org.apache.spark.sql.Row.fromSeq(a.toSeq.map {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case x => x
      }))

  /** Stage this commit's SKIPPING STATS — per-file zone maps (row
    * count, min/max id, min/max hash shard), the bottom-SampleK KMV
    * sample, the email bloom filter and evolved-column extrema —
    * computed from the staged data files themselves and promoted by
    * the same atomic rename as the data, so the manifest advances
    * exactly with the commit (never rebuilt per query; cost ∝ the
    * commit's delta, one extra scan of freshly written, page-warm
    * files). Entries key on the file BASENAME: staged names are
    * commit-unique and survive promotion verbatim, so an entry written
    * under `_staging` stays valid in the table. A file absent from the
    * manifest (e.g. written before stats existed) is simply never
    * skipped — stats are may-contain metadata, and missing metadata
    * degrades to a read, never to a wrong answer.
    *
    * Shape: ONE scan job with no shuffle — each task folds its rows
    * into per-file partial states with the TopKAggregator /
    * BloomWordsAggregator `reduce`, the driver `merge`s and finishes
    * them (the states are manifest-sized: one per staged file), and
    * the rows go out in one local write. A staged file with no state
    * has no rows and is deleted here — Spark writes an empty part when
    * a write's side is empty (e.g. an ack that drains a whole file),
    * and such a file would only add a per-scan open cost and a hole in
    * the zone coverage. Staged names are Spark part names behind a
    * commit prefix, so the scan's basename equals the listed name.
    * The rows are kept for [[commitStaged]] to hand to [[manifest]].
    *
    * Must run AFTER each stage method's commit-unique renames (the
    * basenames it records are the promoted ones) and before the
    * atomic rename to `_staging`.
    */
  private def stageStats(tmp: java.io.File, v: Long): Unit = {
    val staged = Seq("pending", "done", "pending-append", "done-append",
        "merge-pending", "merge-done")
      .flatMap(d => graft.sources.ParquetGroups.parquetFilesIn(new java.io.File(tmp, d).toString))
    if (staged.isEmpty) return
    // Evolved NUMERIC columns get per-file zone stats beside the base
    // id zones (kind='e', keyed by PHYSICAL name so renames can't
    // detach a file's stats): every staged data file aligns to the
    // current schema at write time, so the columns are always present
    // in staged files. Non-numeric evolved columns are skipped —
    // min/max zones only help range/equality pruning on ordered types.
    val evoNum: Seq[(String, org.apache.spark.sql.types.DataType)] =
      evolvedFields.collect {
        case f if f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType =>
          (physicalNameOf(f), f.dataType)
      }
    val keySchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("email",
        org.apache.spark.sql.types.StringType)) ++
      evoNum.map { case (p, t) =>
        org.apache.spark.sql.types.StructField(p, t) })
    graft.util.Labeled(spark, "store: stage stats") {
      val rowsIn = spark.read.schema(keySchema).parquet(staged: _*)
        .select(Seq(element_at(split(input_file_name(), "/"), -1).as("file"),
          col("id"), CustomerStore.hashBucket(col("id")).as("hb"),
          (-conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
            .cast("long")).as("neg_h"),
          array((0 until BloomSeeds).map(s =>
            bloomPosition(col("email"), s, lit(bloomBits))): _*).as("bpos")) ++
          evoNum.map { case (p, _) => col(p).cast("long") }: _*)
      val bottomK = new graft.functions.TopKAggregator(SampleK)
      val bloomWords = new graft.functions.BloomWordsAggregator(bloomBits)
      val states = FileStatsState.scan(rowsIn, bottomK, bloomWords, evoNum.size)
      staged.filterNot(f => states.contains(new java.io.File(f).getName))
        .foreach(f => require(new java.io.File(f).delete(), s"could not drop empty staged part $f"))
      if (states.nonEmpty) {
        def box(o: Option[Long]): Any = o.map(Long.box).orNull
        def row(file: String, kind: String, w: Any = null, bits: Any = null,
            nbits: Any = null, nRows: Any = null, minId: Any = null, maxId: Any = null,
            minHb: Any = null, maxHb: Any = null, sH: Any = null, sId: Any = null,
            ecol: Any = null, minV: Any = null, maxV: Any = null) =
          org.apache.spark.sql.Row(file, kind, w, bits, nbits, nRows, minId, maxId,
            minHb, maxHb, sH, sId, ecol, minV, maxV, v)
        val rows = states.toSeq.sortBy(_._1).flatMap { case (f, s) =>
          Seq(row(f, "z", nRows = s.nRows, minId = box(s.minId), maxId = box(s.maxId),
            minHb = box(s.minHb), maxHb = box(s.maxHb))) ++
          // KMV sample: bottom-k of the md5-word hash = top-k of its negation.
          bottomK.finish(s.sample).map { case (negH, id) => row(f, "s", sH = -negH, sId = id) } ++
          // Only words with a set bit are manifest rows (sparse words).
          s.words.indices.filter(s.words(_) != 0L).map(w =>
            row(f, "b", w = w.toLong, bits = s.words(w), nbits = bloomBits)) ++
          // kind='e' rows: one per (file, evolved numeric column); an
          // all-NULL column yields NULL min/max — no coverage for the file.
          evoNum.indices.map(i => row(f, "e", ecol = evoNum(i)._1,
            minV = box(s.evoMin(i)), maxV = box(s.evoMax(i))))
        }
        val dir = new java.io.File(tmp, "stats")
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, statsSchema)
          .coalesce(1).write.parquet(dir.toString)
        val commitId = java.util.UUID.randomUUID().toString.take(8)
        dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(dir, s"sts-$commitId-${f.getName}")),
            s"staging rename failed for $f")
        }
        stagedStats.put(tmp.getAbsolutePath, rows)
      }
    }
  }

  /** Write both partition outputs to `_staging.tmp` and atomically
    * rename it to `_staging` (the commit point). Separated from
    * [[applyStaged]] so crash-recovery specs can stop exactly at the
    * commit point. Partition column is carried by directory name, not
    * file content, so both outputs drop `uploaded`.
    */
  private[pipeline] def stageCommit(moved: DataFrame, kept: DataFrame,
      changes: DataFrame): Unit = {
    val tmp = freshStagingTmp()
    val v = currentVersion() + 1
    // Three independent chains (guide §2.6): the two partition writes
    // and the change-feed write share no files. Stats runs after the
    // parallel block — it scans BOTH staged data dirs and keys on the
    // commit-unique promoted basenames.
    val doneStage = new java.io.File(tmp, "done-append")
    stageConcurrently(
      () => graft.util.Labeled(spark, "store: stage data") {
        toPhysical(kept.drop("uploaded"), dataLogicalSchema)
          .write.parquet(new java.io.File(tmp, "pending").toString)
      },
      () => {
        graft.util.Labeled(spark, "store: stage data") {
          toPhysical(moved.drop("uploaded"), dataLogicalSchema)
            .write.parquet(doneStage.toString)
        }
        // Commit-unique file names now, so replay after a crash cannot
        // clobber files a previous commit already promoted.
        val commitId = java.util.UUID.randomUUID().toString.take(8)
        doneStage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(doneStage, s"ack-$commitId-${f.getName}")),
            s"staging rename failed for $f")
        }
      },
      () => stageChanges(tmp, changes, "UPDATE", v))
    stageStats(tmp, v) // after the renames: stats key on promoted basenames
    // The `pending` stage swaps that whole partition — a full replace
    // of the read set, so any interleaved commit conflicts.
    commitStaged(tmp, v, fullReplace = true)
  }

  /** Promote a committed staging directory into the table. Idempotent:
    * each step checks what a previous (crashed) attempt already did.
    * Serialized per table path within the JVM: promotion moves files,
    * and two concurrent promoters of the SAME staged commit would race
    * each other's renames (loudly — renames are atomic, so the table
    * could not tear — but spuriously). Cross-process, promotion safety
    * rests on replay idempotence: a crashed promoter's successor
    * completes the same steps.
    */
  private[pipeline] def applyStaged(): Unit = promotionLock.synchronized {
    val staging = new java.io.File(path, Staging)
    if (!staging.exists()) { dropPromotedStats(); return }
    val pendingStage = new java.io.File(staging, "pending")
    val doneStage = new java.io.File(staging, "done-append")
    if (pendingStage.exists()) {
      val pendingDir = new java.io.File(path, "uploaded=false")
      deleteRecursively(pendingDir)
      require(pendingStage.renameTo(pendingDir), s"promote $pendingStage failed")
    }
    if (doneStage.exists()) {
      val doneDir = new java.io.File(path, "uploaded=true")
      doneDir.mkdirs()
      doneStage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(doneDir, f.getName)), s"promote $f failed")
      }
      deleteRecursively(doneStage)
    }
    // Insert commit: append the staged fresh files into the pending
    // partition (names are commit-unique, so crash replay is a no-op
    // for files a previous attempt already moved).
    val pendAppend = new java.io.File(staging, "pending-append")
    if (pendAppend.exists()) {
      val pendingDir = new java.io.File(path, "uploaded=false")
      pendingDir.mkdirs()
      pendAppend.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(pendingDir, f.getName)), s"promote $f failed")
      }
      deleteRecursively(pendAppend)
    }
    // Full-replace done stage (the compaction path): swap the whole
    // partition, mirroring the pending swap above.
    val doneFull = new java.io.File(staging, "done")
    if (doneFull.exists()) {
      val doneDir = new java.io.File(path, "uploaded=true")
      deleteRecursively(doneDir)
      require(doneFull.renameTo(doneDir), s"promote $doneFull failed")
    }
    // File-level merge promotion: per partition, delete the touched
    // files named in the remove-list (re-deleting a missing file is a
    // replay no-op), then move the commit-unique replacement files in.
    Seq(("merge-pending", "remove-pending", "uploaded=false"),
        ("merge-done", "remove-done", "uploaded=true")).foreach { case (add, rm, part) =>
      val rmList = new java.io.File(staging, rm)
      val partDir = new java.io.File(path, part)
      if (rmList.exists()) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(rmList.toPath).asScala
          .filter(_.nonEmpty).foreach { name =>
            val f = new java.io.File(partDir, name)
            if (f.exists()) require(f.delete(), s"remove $f failed")
          }
      }
      val addDir = new java.io.File(staging, add)
      if (addDir.exists()) {
        partDir.mkdirs()
        addDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(partDir, f.getName)), s"promote $f failed")
        }
        deleteRecursively(addDir)
      }
    }
    // Deletion-vector promotion: append the staged (file, email)
    // tombstone files into `_deletes/` (commit-unique names, so crash
    // replay is a no-op for files a previous attempt already moved).
    val dvStage = new java.io.File(staging, "deletes")
    if (dvStage.exists()) {
      val dvDir = new java.io.File(path, Deletes)
      dvDir.mkdirs()
      dvStage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(dvDir, f.getName)), s"promote $f failed")
      }
      deleteRecursively(dvStage)
    }
    // Deletion-vector truncation (full-rewrite commits): the rewrite
    // materialized every tombstone, so clearing `_deletes/` is part of
    // the committed promotion — idempotent (clearing an absent dir is
    // a no-op on replay), and a crash mid-promotion re-runs it.
    if (new java.io.File(staging, "truncate-deletes").exists())
      deleteRecursively(new java.io.File(path, Deletes))
    // Schema promotion (additive-evolution commits): one atomic move
    // onto `_schema`; a replay after a crash finds the staged file
    // gone and skips (the move already landed).
    val schemaStage = new java.io.File(staging, "schema")
    if (schemaStage.exists())
      java.nio.file.Files.move(schemaStage.toPath,
        new java.io.File(path, SchemaFile).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    val constraintsStage = new java.io.File(staging, "constraints")
    if (constraintsStage.exists())
      java.nio.file.Files.move(constraintsStage.toPath,
        new java.io.File(path, ConstraintsFile).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    // Change-feed promotion: append this commit's rows (already under
    // commit-unique names, so replay after a crash is a no-op for
    // files a previous attempt landed).
    // Change-feed promotion into this commit's OWN directory
    // (`_changelog/commit-<v>/`) — the per-commit layout feedSince
    // prunes on and vacuumFeed retires wholesale.
    val chgStage = new java.io.File(staging, "changelog")
    if (chgStage.exists()) {
      val vm = new java.io.File(staging, "version")
      val v =
        if (vm.exists())
          new String(java.nio.file.Files.readAllBytes(vm.toPath),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        else currentVersion() + 1
      val chgDir = new java.io.File(path, f"$Changelog%s/commit-$v%09d")
      chgDir.mkdirs()
      chgStage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(f.renameTo(new java.io.File(chgDir, f.getName)), s"promote $f failed")
      }
      deleteRecursively(chgStage)
    }
    // Skipping-stats promotion into this commit's own manifest
    // directory (`_stats/commit-<v>/`) — same per-commit layout and
    // replay rules as the changelog, so the manifest can never
    // describe a commit that did not land.
    locally {
      val st = new java.io.File(staging, "stats")
      if (st.exists()) {
        val vm = new java.io.File(staging, "version")
        val v =
          if (vm.exists())
            new String(java.nio.file.Files.readAllBytes(vm.toPath),
              java.nio.charset.StandardCharsets.UTF_8).trim.toLong
          else currentVersion() + 1
        val dst = new java.io.File(path, f"$StatsManifest%s/commit-$v%09d")
        dst.mkdirs()
        st.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(dst, f.getName)), s"promote $f failed")
        }
        deleteRecursively(st)
      }
    }
    // Idempotent-txn registry promotion: record the staged (appId,
    // version) under `_txns/` BEFORE the version counter advances —
    // monotonic max, so a crash replay rewrites the same value and a
    // late out-of-order commit can never roll the registry back.
    val txnStage = new java.io.File(staging, "txn")
    if (txnStage.exists()) {
      val lines = java.nio.file.Files.readAllLines(txnStage.toPath)
      val app = lines.get(0)
      val ver = lines.get(1).trim.toLong
      val dir = new java.io.File(path, Txns)
      dir.mkdirs()
      val dst = new java.io.File(dir, app)
      val prev =
        if (!dst.exists()) Long.MinValue
        else new String(java.nio.file.Files.readAllBytes(dst.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      if (ver > prev) {
        val t = new java.io.File(dir, app + ".tmp")
        java.nio.file.Files.write(t.toPath,
          ver.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(t.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    // Ingest-registry promotion: the commit's loaded file names land in
    // `_ingested/` under the commit's version (replay rewrites the same
    // file — idempotent).
    val ingStage = new java.io.File(staging, "ingested")
    if (ingStage.exists()) {
      val vm = new java.io.File(staging, "version")
      val v =
        if (vm.exists())
          new String(java.nio.file.Files.readAllBytes(vm.toPath),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        else currentVersion() + 1
      val dir = new java.io.File(path, IngestedDir)
      dir.mkdirs()
      java.nio.file.Files.copy(ingStage.toPath,
        new java.io.File(dir, f"commit-$v%09d").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // Version promotion: advance the counter to the staged commit's
    // version (atomic tmp+rename; replay after a crash rewrites the
    // same value, so promotion stays idempotent).
    val vMarker = new java.io.File(staging, "version")
    if (vMarker.exists()) {
      val v = new String(java.nio.file.Files.readAllBytes(vMarker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      // Commit→timestamp registry entry (idempotent: crash replay
      // rewrites the same staged value). Written BEFORE the version
      // counter advances, so a registry entry can lag the counter only
      // inside an in-flight promotion, never the other way. Line 1 is
      // the promotion timestamp; lines 2-3 (when staged) are the
      // operation label and change-row count [[history]] serves —
      // registry entries survive vacuumFeed, so the history of a
      // retired commit stays describable.
      val tsMarker = new java.io.File(staging, "commit_ts")
      if (tsMarker.exists()) {
        val reg = new java.io.File(path, Commits)
        reg.mkdirs()
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val ts = new String(
          java.nio.file.Files.readAllBytes(tsMarker.toPath), utf8).trim
        val opMarker = new java.io.File(staging, "operation")
        val entry =
          if (opMarker.exists())
            ts + "\n" + new String(
              java.nio.file.Files.readAllBytes(opMarker.toPath), utf8).trim
          else ts
        java.nio.file.Files.write(
          new java.io.File(reg, s"commit-$v").toPath, entry.getBytes(utf8)): Unit
      }
      val vTmp = new java.io.File(path, VersionFile + ".tmp")
      java.nio.file.Files.write(vTmp.toPath,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(vTmp.toPath,
        new java.io.File(path, VersionFile).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // The counter now covers this commit's `_stats` dir: the rows its
      // committer computed join the snapshot without a read-back.
      Option(committedStats.remove(v.toLong)).foreach(manifest.absorb(v.toLong, _))
    }
    deleteRecursively(staging)
    dropPromotedStats()
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

  /** A writer-unique staging directory (`_staging.tmp-<id>`), so two
    * concurrent stagers can prepare commits side by side — only the
    * rename onto `_staging` (the commit point) is contended.
    */
  private def freshStagingTmp(): java.io.File = {
    val f = new java.io.File(path,
      StagingTmp + "-" + java.util.UUID.randomUUID().toString.take(8))
    deleteRecursively(f)
    // Any active idempotent-txn / ingest-registry markers ride EVERY
    // staging dir, so whichever stage method the wrapped op uses, the
    // markers promote atomically with its commit.
    writeStagedMarkers(f)
    f
  }

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
    * rival's state — never a torn mix.
    */
  private def commitStaged(tmp: java.io.File, stagedV: Long,
      fullReplace: Boolean = false): Unit = {
    val staging = new java.io.File(path, Staging)
    // The version this commit was DERIVED from — conflict checks always
    // span (base, head], however many times the commit is re-numbered.
    val base = stagedV - 1
    var v = stagedV
    var attempts = 0
    var committed = false
    val stats = Option(stagedStats.remove(tmp.getAbsolutePath))
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
          val lines = java.nio.file.Files.readAllLines(txnMarker.toPath)
          if (latestTxnVersion(lines.get(0)).exists(_ >= lines.get(1).trim.toLong)) {
            deleteRecursively(tmp)
            txnSkippedAtCommit.set(true)
            committed = true
          }
        }
        if (!committed) {
          val head = currentVersion()
          if (head >= v) {
            checkNoConflict(tmp, base, head, fullReplace)
            v = head + 1
            renumberStaged(tmp, v)
          }
          committed = tmp.renameTo(staging)
          // Past the commit point: promotion hands the rows over.
          if (committed) stats.foreach(committedStats.put(v, _))
        }
      }
    }
  }

  /** Abort unless this staged commit is safe to re-apply on top of the
    * interleaved commits in `(baseV, headV]`. Two independent checks:
    * physical — every file the commit removes (partition-qualified
    * `remove-*` lists) or tombstones (deletion-vector basenames, either
    * partition) must still exist, which catches feed-silent rewrites
    * like compact/OPTIMIZE; logical — no interleaved change row shares
    * an email or id with this commit's change rows, which catches
    * UNIQUE-violating concurrent inserts and lost-update races.
    */
  private def checkNoConflict(tmp: java.io.File, baseV: Long, headV: Long,
      fullReplace: Boolean): Unit = {
    if (fullReplace)
      throw new ConcurrentCommitException(
        s"full-table rewrite staged against version $baseV conflicts with " +
          s"interleaved commits up to $headV")
    import scala.jdk.CollectionConverters._
    def gone(part: String, name: String): Boolean =
      !new java.io.File(new java.io.File(path, part), name).exists()
    val missingListed = Seq("remove-pending" -> "uploaded=false",
        "remove-done" -> "uploaded=true").flatMap { case (rm, part) =>
      val f = new java.io.File(tmp, rm)
      if (!f.exists()) Nil
      else java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.nonEmpty).filter(gone(part, _)).map(n => s"$part/$n").toSeq
    }
    val dvDir = new java.io.File(tmp, "deletes")
    val missingVectored =
      if (!dvDir.isDirectory) Nil
      else spark.read.parquet(dvDir.toString).select("file").distinct()
        .collect().toSeq.map(_.getString(0))
        .filter(n => gone("uploaded=false", n) && gone("uploaded=true", n))
    val missing = missingListed ++ missingVectored
    if (missing.nonEmpty)
      throw new ConcurrentCommitException(
        s"staged commit removes files an interleaved commit already rewrote: " +
          missing.take(5).mkString(", "))
    val chg = new java.io.File(tmp, "changelog")
    if (chg.isDirectory) {
      val mine = readPhysical(changeSchema, Seq(chg.toString))
        .select(col("id"), col("email")).distinct().localCheckpoint(true)
      if (mine.limit(1).count() > 0) {
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
    * `commit_version` baked into its staged changelog and stats rows,
    * then the `version` marker and a fresh `commit_ts` (the commit
    * lands NOW, not when it was first staged).
    */
  private def renumberStaged(tmp: java.io.File, newV: Long): Unit = {
    Seq("changelog" -> "chg", "stats" -> "sts").foreach { case (name, prefix) =>
      val dir = new java.io.File(tmp, name)
      if (dir.isDirectory) {
        val out = new java.io.File(tmp, name + ".renum")
        deleteRecursively(out)
        spark.read.parquet(dir.toString)
          .withColumn("commit_version", lit(newV))
          .coalesce(1).write.parquet(out.toString)
        val commitId = java.util.UUID.randomUUID().toString.take(8)
        out.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          require(f.renameTo(new java.io.File(out, s"$prefix-$commitId-${f.getName}")),
            s"renumber rename failed for $f")
        }
        deleteRecursively(dir)
        require(out.renameTo(dir), s"renumber swap $out -> $dir failed")
      }
    }
    java.nio.file.Files.write(new java.io.File(tmp, "version").toPath,
      newV.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(new java.io.File(tmp, "commit_ts").toPath,
      nextCommitTs().toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

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
    * `operation` / `n_change_rows` are nullable: a registry entry
    * written before the label existed reads as unknown.
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
        org.apache.spark.sql.types.LongType, nullable = true)))

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
    * evaluates it in the stats scan ([[bloomPosition]]) and lookups on
    * the driver ([[bloomPositions]]), so both probe identical bits.
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

  /** Ack/update batches at or below this size consult the per-file
    * bloom manifest to open only may-contain files; larger batches
    * touch most files anyway, so the full pending scan + semi-join is
    * the better plan (the same planner choice a format's metadata
    * index makes between point lookups and batch scans).
    */
  private[pipeline] val PointLookupMax = 256

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

  private[pipeline] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    if (f.exists()) require(f.delete(), s"could not delete $f")
  }
}
