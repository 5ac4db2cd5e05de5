package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.pipeline.CustomerStore

/** The store's MAINTENANCE OPERATIONS as SQL stored procedures (the
  * DSv2 procedure surface, SPARK-44167 — the `CALL` verbs Iceberg and
  * Delta expose for exactly these lifecycle ops):
  *
  * {{{
  *   CALL graft_store.compact('/path')           -- materialize deletes
  *   CALL graft_store.vacuum('/path')            -- retire pre-snapshot feed
  *   CALL graft_store.snapshot('/path')          -- write a checkpoint
  *   CALL graft_store.restore('/path', 2)        -- roll back to a version
  *   CALL graft_store.zorder('/path')            -- full 2-D re-cluster
  *   CALL graft_store.zorder_incremental('/path')-- cluster only the delta
  * }}}
  *
  * Every procedure routes to the SAME `CustomerStore` op the API path
  * uses (one staged atomic commit each — nothing here bypasses the
  * commit protocol) and returns a one-row result of BIGINT metrics so
  * callers can assert the effect (`version` after the commit, rows/
  * dirs affected). Procedures are non-deterministic by construction
  * (they mutate) and bind as-is: every parameter is required and
  * positional-or-named.
  */
object StoreProcedures {

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** One-row, all-BIGINT result scan (a procedure's metrics row).
    * Spark requires procedure output be a [[LocalScan]] — rows are
    * produced on the driver, which is exactly where the one metrics
    * row already lives.
    */
  private class ProcResultScan(schema: StructType, values: Seq[Long])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        values.map(v => v: Any).toArray))
    override def description(): String = s"GraftStoreProcedureResult$schema"
  }

  private abstract class StoreProc(name: String, doc: String,
      params: Array[ProcedureParameter], outCols: Seq[String])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = name
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val store = new CustomerStore(
        SparkSession.active, input.getUTF8String(0).toString)
      val out = run(store, input)
      java.util.Collections.singletonList(
        new ProcResultScan(
          StructType(outCols.map(StructField(_, LongType, nullable = false))),
          out): Scan).iterator()
    }
    def run(store: CustomerStore, input: InternalRow): Seq[Long]
  }

  /** Multi-row metadata-read procedure (`CALL graft_store.history/
    * detail(path)` — the SQL face of DESCRIBE HISTORY/DETAIL): the
    * result DataFrame resolves on the driver (registry-metadata
    * scale, see [[CustomerStore.history]]) and ships as a LocalScan.
    */
  private abstract class MetaProc(name: String, doc: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = name
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = pathOnly
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val df = run(new CustomerStore(
        SparkSession.active, input.getUTF8String(0).toString))
      val resolved: Array[InternalRow] = df.collect().map { r =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          r.toSeq.map(org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst)
            .toArray): InternalRow
      }
      val schema = df.schema
      java.util.Collections.singletonList(new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = resolved
        override def description(): String =
          s"GraftStoreProcedureResult$schema"
      }: Scan).iterator()
    }
    def run(store: CustomerStore): org.apache.spark.sql.DataFrame
  }

  private val pathOnly = Array(p("path", StringType))

  private val all: Seq[UnboundProcedure] = Seq(
    new StoreProc("compact",
      "materialize deletion vectors and bin-pack the live files (one commit)",
      pathOnly, Seq("version", "live_vectors")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        store.compact()
        val (_, live) = store.deletionVectorStats()
        Seq(store.currentVersion(), live)
      }
    },
    new StoreProc("vacuum",
      "retire feed commit dirs at or below the newest snapshot",
      pathOnly, Seq("retired_dirs")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.vacuumFeed().toLong)
    },
    new StoreProc("snapshot",
      "write a full snapshot checkpoint of the current version",
      pathOnly, Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.writeSnapshot())
    },
    new StoreProc("restore",
      "roll the table back to a version (one feed-complete commit)",
      Array(p("path", StringType), p("version", LongType)), Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        store.restore(in.getLong(1))
        Seq(store.currentVersion())
      }
    },
    new StoreProc("zorder",
      "re-cluster the whole table on the (id, hash-shard) 2-D curve",
      pathOnly, Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        store.optimizeZorder()
        Seq(store.currentVersion())
      }
    },
    new StoreProc("zorder_incremental",
      "absorb post-clustering commits into the curve without touching the standing layer",
      pathOnly, Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        store.optimizeZorderIncremental()
        Seq(store.currentVersion())
      }
    },
    new StoreProc("vacuum_snapshots",
      "retire old snapshot checkpoints, keeping the newest keep_last",
      Array(p("path", StringType), p("keep_last", LongType)),
      Seq("retired_snapshots")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.vacuumSnapshots(in.getLong(1).toInt).toLong)
    },
    new StoreProc("add_constraint",
      "persist a CHECK constraint (must hold on all existing rows); " +
        "inserts/merges violating it are rejected whole",
      Array(p("path", StringType), p("name", StringType),
        p("expression", StringType)), Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.addCheckConstraint(
          in.getUTF8String(1).toString, in.getUTF8String(2).toString))
    },
    new StoreProc("drop_constraint",
      "drop a persisted CHECK constraint",
      Array(p("path", StringType), p("name", StringType)), Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.dropCheckConstraint(in.getUTF8String(1).toString))
    },
    new StoreProc("copy_into",
      "incremental directory ingest: load only CSV files the _ingested " +
        "registry has not seen (one commit; re-runs are no-ops)",
      Array(p("path", StringType), p("source_dir", StringType)),
      Seq("files_loaded", "rows_inserted", "rows_quarantined")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        val (f, r, q) = store.ingestNewFiles(in.getUTF8String(1).toString)
        Seq(f, r, q)
      }
    },
    new StoreProc("clone",
      "shallow-clone (fork) the table to an empty target directory: " +
        "parquet artifacts hard-linked (zero data copy), metadata " +
        "copied, full history/time-travel/CDC preserved; _txns not " +
        "cloned (Delta clone contract)",
      Array(p("path", StringType), p("target", StringType)),
      Seq("cloned_version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.cloneTo(in.getUTF8String(1).toString))
    },
    new StoreProc("add_generated_column",
      "add a GENERATED ALWAYS AS column: the store computes the value " +
        "from the row's other columns at every write (and recomputes " +
        "it on merge updates); explicit values must match or the " +
        "transaction rejects (auto CHECK constraint). type is one of " +
        "int/bigint/string/boolean/timestamp",
      Array(p("path", StringType), p("name", StringType),
        p("type", StringType), p("expr", StringType)),
      Seq("version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.addGeneratedColumn(
          in.getUTF8String(1).toString,
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(in.getUTF8String(2).toString),
          in.getUTF8String(3).toString))
    },
    new StoreProc("purge",
      "right-to-be-forgotten erasure: excise the comma-separated keys " +
        "from live data (feed-silent PURGE commit), retained feed " +
        "commits, snapshots, and deletion vectors; history artifacts " +
        "are rewritten in place (per-fork — clones keep their data)",
      Array(p("path", StringType), p("emails", StringType)),
      Seq("n_live", "n_feed", "n_snapshot", "n_dv")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] = {
        val (a, b, c, d) = store.purgeEmails(
          in.getUTF8String(1).toString.split(',').toSeq)
        Seq(a, b, c, d)
      }
    },
    new StoreProc("last_txn_version",
      "latest committed idempotent-writer transaction version for app_id " +
        "(-1 if the app never committed)",
      Array(p("path", StringType), p("app_id", StringType)),
      Seq("txn_version")) {
      override def run(store: CustomerStore, in: InternalRow): Seq[Long] =
        Seq(store.latestTxnVersion(in.getUTF8String(1).toString).getOrElse(-1L))
    },
    new MetaProc("history",
      "the commit history (DESCRIBE HISTORY): version, timestamp, " +
        "operation, change-row count and operation metrics per commit, newest first") {
      override def run(store: CustomerStore): org.apache.spark.sql.DataFrame =
        store.history()
    },
    new MetaProc("detail",
      "one-row table summary (DESCRIBE DETAIL): version, files, bytes, " +
        "deletion vectors, constraints, snapshots, feed low-watermark") {
      override def run(store: CustomerStore): org.apache.spark.sql.DataFrame =
        store.detail()
    })

  private val byName: Map[String, UnboundProcedure] =
    all.map(pr => pr.name() -> pr).toMap

  def load(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty,
      s"graft_store procedures live at the catalog root, got $ident")
    byName.getOrElse(ident.name().toLowerCase,
      throw new IllegalArgumentException(
        s"unknown graft_store procedure ${ident.name()}; " +
          s"available: ${all.map(_.name()).mkString(", ")}"))
  }

  def list(): Array[Identifier] =
    all.map(pr => Identifier.of(Array.empty, pr.name())).toArray
}
