package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Outcome of a [[CustomerStoreApi.merge]]: rows whose payload was
  * rewritten, rows newly inserted, matched rows left untouched because
  * their payload was already identical, and unmatched rows SALVAGED
  * AWAY because their id collided with a stored row or an
  * earlier-batch insert (the reference's UNIQUE-salvage contract) —
  * surfaced so the silent drop is observable by every caller,
  * including SQL MERGE.
  */
case class MergeResult(nUpdated: Long, nInserted: Long, nUnchanged: Long,
    nConflicts: Long)

/** The `customers` state-table contract the reference keeps in Postgres
  * (csv-crm-upload database/database.go:16-19): UNIQUE(id),
  * UNIQUE(email) inserts with first-wins semantics, the uploaded
  * work-queue scan, and the post-ack point update. Two interchangeable
  * implementations: [[CustomerStore]] (partitioned parquet with a
  * staged atomic commit) and [[JdbcCustomerStore]] (embedded relational
  * DB — the reference's actual sink shape, database.go:114-129).
  *
  * The batch-dedup fixpoint is shared here so both stores enforce the
  * identical sequential semantics; only the physical read/append/update
  * differs per backend.
  */
trait CustomerStoreApi {

  import CustomerSchema.uploadColumns

  protected def spark: SparkSession

  /** The table schema this backend serves: the fixed base contract,
    * plus — parquet store only — any additively-evolved columns
    * ([[CustomerStore.addColumn]]). The JDBC backend keeps the fixed
    * schema (its DDL is the reference's, evolution is out of scope).
    */
  def tableSchema: org.apache.spark.sql.types.StructType =
    CustomerSchema.tableSchema

  /** A field's stable PHYSICAL identity under column-mapping
    * evolution: the original name for base-contract columns (renames
    * are metadata-only, the physical name never changes), a
    * version-stamped name for added columns. Identity — not the
    * current logical name — is what the merge classifier, the work
    * queue, and the CRM wire format key on, so a rename can never
    * change external behavior.
    */
  protected def physicalNameOf(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("physical")) f.metadata.getString("physical")
    else f.name

  private def basePhysical: Set[String] =
    CustomerSchema.tableSchema.fieldNames.toSet

  /** Columns beyond the base contract (added via addColumn), under
    * their CURRENT logical names — identity-keyed so a rename or a
    * drop of a BASE column cannot shift the boundary.
    */
  protected def evolvedFields: Seq[org.apache.spark.sql.types.StructField] =
    tableSchema.fields.filterNot(f => basePhysical(physicalNameOf(f))).toSeq

  /** The CURRENT logical name of a base-contract column — None once
    * dropped. */
  protected def logicalFor(physical: String): Option[String] =
    tableSchema.fields.find(f => physicalNameOf(f) == physical).map(_.name)

  /** The reference's wire column (upload JSON key / typed view field)
    * resolved by physical identity: renamed columns serve their values
    * under the ORIGINAL key (the CRM API contract does not follow
    * table renames), dropped ones null-fill.
    */
  protected def wireCol(physical: String): org.apache.spark.sql.Column =
    logicalFor(physical).map(l => col(l).as(physical)).getOrElse(
      lit(null).cast(CustomerSchema.tableSchema(physical).dataType)
        .as(physical))

  /** Align `df` to the CURRENT table schema: project the schema's
    * columns in order, filling columns the batch does not carry
    * (added after the producer was written) with typed NULLs — the
    * additive-evolution write contract every transactional format
    * documents. GENERATED columns are then COMPUTED over the aligned
    * row wherever the batch left them NULL (absent column or explicit
    * NULL); an explicit non-NULL value survives here and is checked
    * against the computed value by the column's auto CHECK constraint
    * at the transaction boundary.
    */
  protected def aligned(df: DataFrame): DataFrame =
    withGenerated(df.select(tableSchema.fields.map { f =>
      // Present columns are cast to the DECLARED type so files always
      // store the schema's physical type (a Long-valued batch into an
      // int column must not write int64 pages under an int schema —
      // the widening read contract depends on files never being WIDER
      // than their column's declared type at write time).
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*))

  /** Fill each generated column's NULLs with its generation expression
    * evaluated over `df` (which carries the full table column set).
    */
  protected def withGenerated(df: DataFrame): DataFrame =
    tableSchema.fields.filter(_.metadata.contains("generated"))
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name, coalesce(col(f.name),
          expr(f.metadata.getString("generated")).cast(f.dataType)))
      }

  /** Full table scan. */
  def all(): DataFrame

  /** Post-ack state transition (S7, database.go:176-198): flip
    * uploaded=true for the given emails and touch modified_ts.
    */
  def markUploaded(ackedEmails: DataFrame): Unit

  /** Append already-deduplicated survivor rows to the table; returns
    * the number of rows actually written (per-row salvage may drop
    * racers in the JDBC impl).
    */
  protected def appendRows(fresh: DataFrame): Long

  /** Typed view (SURVEY §1.3: Dataset[Customer] alongside the untyped
    * SQL surface) — compile-time field checks for callers that want
    * them; same plan underneath, no extra cost until an action.
    */
  def typed(): Dataset[Customer] = {
    val s = spark // stable identifier for the implicits import
    import s.implicits._
    // Wire projection by physical identity: the typed contract keeps
    // the reference's field names whatever the table's logical renames.
    all().select(CustomerSchema.tableSchema.fieldNames.map(wireCol).toIndexedSeq: _*)
      .as[Customer]
  }

  /** Work-queue scan (S6): the uploaded=false subset projected to the
    * 5 upload columns, mirroring database.go:18. Parquet impl prunes to
    * the pending partition; JDBC impl pushes the filter to the DB's
    * upload_idx index.
    */
  def pending(): DataFrame =
    all().filter(!col("uploaded")).select(uploadColumns.map(wireCol): _*)

  /** Eagerly checkpoint `df` in the phase `label`; that one job also
    * observes the aggregates `metrics` over its rows (awaited after it ran).
    */
  protected def pinObserved(label: String, df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val pinned = graft.util.Labeled(spark, label)(
      df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint(true))
    (pinned, scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration.Inf))
  }

  /** Batched insert honoring the UNIQUE(id), UNIQUE(email) contract
    * with the reference's exact sequential semantics: row i survives
    * iff no stored row and no EARLIER SURVIVOR shares its id or email
    * (row-at-a-time INSERTs against both constraints,
    * csvreader.go:87-101). Rows that conflict with the existing store
    * are removed FIRST — the reference's INSERT rejects them outright,
    * so they must not reserve their other key against later batch rows
    * (batch [(storedId, emailA), (newId, emailA)] inserts the second
    * row). The remainder runs the chained-condition fixpoint: "keep
    * rows that are min-ingest-seq for BOTH their id and their email
    * among remaining rows", then remove rows conflicting with the
    * round's winners (a naive id-dedup-then-email-dedup pass gets this
    * wrong when constraints interact; caught by DedupPropertySpec).
    * Each round resolves at least the global-min row, and in practice
    * conflict chains are 1-2 links, so 2 rounds cover real batches.
    *
    * Each round is ONE pin carrying `_win`, whose job observes the
    * round's row and loser counts; a batch with no conflicts ends after
    * it: 5 jobs on JobBudgetSpec's fixture, as under AQE each exchange
    * is a job (store-id and store-email broadcasts, id- and email-window
    * shuffles, the pin), so the insert's floor there is 7 with its two
    * writes. Returns the rows inserted; no winner commits nothing.
    */
  def insertNew(batch: DataFrame): Long = {
    // A caller-provided _seq (Ingest.sequenced — file-order pinning for
    // directory ingests) wins; otherwise partition-ordered ids preserve
    // single-file CSV ingest order.
    val seqd =
      if (batch.columns.contains("_seq")) batch
      else batch.withColumn("_seq", monotonically_increasing_id())
    val existing = all().select(col("id").as("_eid"), col("email").as("_eemail"))
    val byId = Window.partitionBy(col("id"))
    val byEmail = Window.partitionBy(col("email"))
    var remaining = seqd
      .join(existing.select("_eid"), col("id") === col("_eid"), "left_anti")
      .join(existing.select("_eemail"), col("email") === col("_eemail"), "left_anti")
    var survivors = Seq.empty[DataFrame]
    var nWon = 0L
    var nLost = 1L
    while (nLost > 0) {
      val (marked, m) = pinObserved("store: insert classify", remaining
        .withColumn("_mi", min(col("_seq")).over(byId))
        .withColumn("_me", min(col("_seq")).over(byEmail))
        .withColumn("_win", col("_seq") === col("_mi") && col("_seq") === col("_me"))
        .drop("_mi", "_me"),
        count(lit(1)).as("rows"), count(when(!col("_win"), true)).as("losers"))
      nLost = m.getAs[Long]("losers")
      nWon += m.getAs[Long]("rows") - nLost
      val winners = marked.filter(col("_win")).drop("_win")
      survivors :+= winners
      remaining = marked.filter(!col("_win")).drop("_win")
        .join(winners.select(col("id").as("_wid")), col("id") === col("_wid"), "left_anti")
        .join(winners.select(col("email").as("_wem")), col("email") === col("_wem"), "left_anti")
    }
    if (nWon == 0) return 0 // empty batch: reference panics here (SURVEY §2.1 S3)
    appendRows(aligned(survivors.reduce(_ unionByName _).drop("_seq")))
  }

  /** Apply a classified merge: rewrite the payload of `updates` rows
    * (keyed by email, full table rows with the retained id/uploaded/
    * created_ts and a fresh modified_ts) and append `inserts`. Both
    * frames arrive materialized (localCheckpoint) so backends may
    * rewrite the underlying storage while holding them; [[merge]]
    * calls this only when one of them holds a row.
    */
  protected def applyMerge(updates: DataFrame, inserts: DataFrame): Unit

  /** MERGE INTO on the email natural key — the general state-table
    * upsert the reference's INSERT-only path stops short of (its only
    * UPDATE is the uploaded flag, database.go:19; a changed customer
    * record has no path into the store). Sequential row-at-a-time
    * update-else-insert semantics, like [[insertNew]]:
    *
    *  - the batch first NORMALIZES to one row per email, the LAST in
    *    `_seq` ingest order winning as a whole row (row-at-a-time
    *    leaves the last write as the end state — the dual of insert's
    *    first-wins; an insert-then-update chain on a new email within
    *    one batch collapses to its final write, and the chain's
    *    earlier ids are not claimed);
    *  - a row whose email matches a stored row UPDATES the payload
    *    columns (first_name, last_name, phone) and touches
    *    modified_ts — the BEFORE UPDATE trigger analog
    *    (init-db.sh:28-36). id, uploaded, created_ts are retained:
    *    id is immutable once assigned (the UNIQUE(id) arbiter), and
    *    upload state belongs to the uploader, not the ingester;
    *  - a payload-identical match is left untouched and counted
    *    n_unchanged — no spurious modified_ts churn, no needless
    *    re-upload trigger;
    *  - an unmatched row INSERTS, unless its id collides with a
    *    stored row or an earlier-`_seq` insert (UNIQUE(id), first
    *    wins) — those rows drop, exactly like insertNew's losers.
    *
    * Plan shape: one email-keyed window over the batch, one email
    * equi-join against the store, two anti-joins — all shuffle-
    * partitioned by the key, no driver-side row handling; at 100 TB
    * the store side is the big side and stays partitioned. The counts
    * are the classify pins' own row counts (emails, matched, updated,
    * inserted): whoever is neither matched nor inserted was salvaged
    * away on an id conflict — counted, never silent. A merge that
    * neither updates nor inserts writes nothing.
    */
  def merge(batch: DataFrame): MergeResult = {
    val (_, updates, inserts, r) = classifyMergeStages(batch, materialize = true)
    if (r.nUpdated + r.nInserted > 0) applyMerge(updates, inserts)
    r
  }

  /** Spec surface: the lazy or pinned plans behind [[merge]] (matched,
    * updates, inserts).
    */
  private[pipeline] def classifyMerge(batch: DataFrame,
      materialize: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    val (matched, updates, inserts, _) = classifyMergeStages(batch, materialize)
    (matched, updates, inserts)
  }

  /** The classification behind [[merge]]: (matched, updates, inserts,
    * counts). With `materialize` (the merge path) each stage, `latest`
    * (one row per email) included, is pinned BEFORE the backend rewrites
    * storage and its job observes its row count; `latest` thus evaluates
    * `monotonically_increasing_id()` once and `updates` its
    * `current_timestamp()` once (the data and change-feed writes both
    * read it). `materialize = false` returns the lazy plans (zero
    * counts) so MergeSpec can pin their physical shapes (keyed
    * equi-joins + one email window — a lost join key would compile to a
    * cross product and only fail at scale). The 4 pins cost 9 jobs on
    * JobBudgetSpec's fixture, one per exchange under AQE plus the pin:
    * `latest` 2 (email-window shuffle), `matched` 2 (broadcast of
    * `latest`), `updates` 1, `inserts` 4 (store-email and store-id
    * broadcasts, id-window shuffle).
    */
  private def classifyMergeStages(batch: DataFrame, materialize: Boolean)
      : (DataFrame, DataFrame, DataFrame, MergeResult) = {
    def pin(df: DataFrame): (DataFrame, Long) =
      if (!materialize) (df, 0L)
      else {
        val (pinned, m) = pinObserved("store: merge classify", df, count(lit(1)))
        (pinned, m.getLong(0))
      }
    val seqd =
      if (batch.columns.contains("_seq")) batch
      else batch.withColumn("_seq", monotonically_increasing_id())
    val byEmailLast = Window.partitionBy(col("email")).orderBy(col("_seq").desc)
    val (latest, nEmails) = pin(seqd.withColumn("_rn", row_number().over(byEmailLast))
      .filter(col("_rn") === 1).drop("_rn"))
    val stored = all()
    // Payload columns (base payload + evolved alike) ride the
    // classification with _sx_ stored aliases so an UPDATE can carry
    // the stored value when the batch does not carry the column — a
    // batch predating an addColumn OR a rename (its old-name column is
    // ignored like any unknown column, never nulling stored data).
    // Change DETECTION covers every payload column THE BATCH CARRIES —
    // base contract and evolved alike, under their CURRENT logical
    // names: a batch-carried difference in any assignable column (null
    // included) marks the row updated and its value wins; a column the
    // batch does not carry can neither trigger an update nor lose
    // stored data (SQL MERGE WITH SCHEMA EVOLUTION assigns evolved
    // columns, so an evolved-only difference must land). Everything here
    // keys on PHYSICAL identity so logical renames cannot change merge
    // behavior.
    val payload = tableSchema.fields.filterNot(f =>
      Set("id", "email", "uploaded", "created_ts",
        "modified_ts")(physicalNameOf(f))).toSeq
    val storedK = stored.select(Seq(col("id").as("_sid"), col("email").as("_semail"),
      col("uploaded").as("_sup"), col("created_ts").as("_sct")) ++
      payload.map(f => col(f.name).as("_sx_" + f.name)): _*)
    val (matched, nMatched) = pin(latest.join(storedK, col("email") === col("_semail")))
    val detect = payload.map(_.name).filter(seqd.columns.contains)
    val changed = detect.map(n => !(col(n) <=> col("_sx_" + n)))
      .reduceOption(_ || _).getOrElse(lit(false))
    // GENERATED columns the batch does not carry are NOT carried from
    // the stored row: a detected change may have altered a generation
    // INPUT (that is what triggered the update), so the stored value
    // could be stale — they null out here and withGenerated RECOMPUTES
    // them from the post-image. A batch-carried generated value rides
    // like any payload value and answers to its auto constraint.
    val (updates, nUpdated) = pin(withGenerated(matched
      .filter(changed)
      .select(Seq(col("_sid").as("id"), col("email"),
        col("_sup").as("uploaded"), col("_sct").as("created_ts"),
        current_timestamp().as("modified_ts")) ++
        payload.map(f =>
          (if (seqd.columns.contains(f.name)) col(f.name)
           else if (f.metadata.contains("generated"))
             lit(null).cast(f.dataType)
           else col("_sx_" + f.name).cast(f.dataType)).as(f.name)): _*)
      .select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)))
    val byIdFirst = Window.partitionBy(col("id")).orderBy(col("_seq"))
    val (inserts, nInserted) = pin(aligned(latest
      .join(storedK.select("_semail"), col("email") === col("_semail"), "left_anti")
      .join(stored.select(col("id").as("_eid")), col("id") === col("_eid"), "left_anti")
      .withColumn("_rn", row_number().over(byIdFirst))
      .filter(col("_rn") === 1)))
    (matched, updates, inserts,
      MergeResult(nUpdated, nInserted, nMatched - nUpdated, nEmails - nMatched - nInserted))
  }
}
