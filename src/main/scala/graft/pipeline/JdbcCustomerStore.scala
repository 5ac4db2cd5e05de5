package graft.pipeline

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC-backed `customers` store against an embedded relational DB —
  * the reference's actual sink IS a relational database
  * (csv-crm-upload database/database.go:16-19; batch insert via
  * JSON_POPULATE_RECORDSET at database.go:114-129 with per-row salvage,
  * transactional point updates at database.go:131-153,176-198). DDL
  * mirrors postgres/entrypoint-init.d/init-db.sh:11-25: UNIQUE(id),
  * UNIQUE(email), and the upload_idx index backing the work-queue scan.
  *
  * Scale shape: reads go through Spark's JDBC source (predicate
  * pushdown carries the uploaded=false work-queue filter to the DB
  * index; at real scale add partitionColumn/bounds for parallel reads),
  * writes are per-partition transactional batch INSERTs with the
  * reference's per-row salvage on constraint violation — only the
  * offending rows are dropped, the rest of the batch lands
  * (database.go:140-151). The DB enforces UNIQUE as the final arbiter;
  * the shared [[CustomerStoreApi]] fixpoint makes the surviving set
  * deterministic (first-wins in ingest order) rather than race-order.
  *
  * Deployment contract: executors open their own JDBC connections
  * inside foreachPartition, so the URL must reach ONE shared database
  * from every executor. An embedded-Derby URL (`jdbc:derby:<path>`)
  * is per-JVM — on a multi-executor cluster each executor would boot
  * its own empty database and writes would silently vanish from the
  * driver's view. Embedded URLs are therefore rejected unless the
  * master is local; a real cluster uses a client-server URL
  * (`jdbc:derby://host/...`, `jdbc:postgresql://...`).
  */
class JdbcCustomerStore(protected val spark: SparkSession, url: String,
    readPartitions: Int = 1)
    extends CustomerStoreApi {

  import CustomerSchema._
  import JdbcCustomerStore._

  require(!isEmbeddedDerby(url) || spark.sparkContext.isLocal,
    s"embedded-Derby URL '$url' is per-JVM: executors on a non-local " +
      "master would each open a private database; use a client-server " +
      "URL (jdbc:derby://host/..., jdbc:postgresql://...) instead")

  ensureTable(url)

  /** Lowercase aliases: Derby stores identifiers uppercase; aliasing
    * keeps the frame column-compatible with the parquet impl. With
    * readPartitions > 1 the scan is range-partitioned on the primary
    * key (bounds from one MIN/MAX probe) so executors read in parallel
    * — the knob a real cluster sets; tests default to a single
    * partition.
    */
  def all(): DataFrame = {
    val base =
      if (readPartitions <= 1) spark.read.jdbc(url, TableName, new java.util.Properties)
      else idBounds(url) match {
        case Some((lo, hi)) =>
          spark.read.jdbc(url, TableName, "id", lo, hi, readPartitions,
            new java.util.Properties)
        case None => spark.read.jdbc(url, TableName, new java.util.Properties)
      }
    base.select(tableSchema.fieldNames.map(n => col(n).as(n)): _*)
  }

  /** Returned count comes from an accumulator, which on a real cluster
    * can under-report if a task dies after its commit and the retry
    * hits UNIQUE violations — the rows are in the DB, just not in the
    * count. Acceptable for a progress signal (the reference's own count
    * is a log line); anything transactional should query the DB.
    */
  protected def appendRows(fresh: DataFrame): Long = {
    val inserted = spark.sparkContext.longAccumulator("jdbc-inserted")
    val dbUrl = url
    fresh.select(tableSchema.fieldNames.map(col): _*)
      .foreachPartition { (rows: Iterator[Row]) =>
        val buf = rows.toVector
        if (buf.nonEmpty) withConnection(dbUrl) { conn =>
          val ps = conn.prepareStatement(
            s"""INSERT INTO $TableName
                (id, first_name, last_name, email, phone, uploaded, created_ts, modified_ts)
                VALUES (?, ?, ?, ?, ?, ?, ?, ?)""")
          try {
            def bind(r: Row): Unit = {
              ps.setLong(1, r.getLong(0))
              ps.setString(2, r.getString(1))
              ps.setString(3, r.getString(2))
              ps.setString(4, r.getString(3))
              ps.setString(5, r.getString(4))
              ps.setBoolean(6, r.getBoolean(5))
              ps.setTimestamp(7, r.getTimestamp(6))
              ps.setTimestamp(8, r.getTimestamp(7))
            }
            try {
              // Fast path: one transactional batch INSERT (the
              // JSON_POPULATE_RECORDSET analog, database.go:114-129).
              buf.foreach { r => bind(r); ps.addBatch() }
              ps.executeBatch()
              conn.commit()
              inserted.add(buf.size)
            } catch {
              case e: java.sql.SQLException if isConstraint(e) =>
                // Per-row salvage (S5, database.go:140-151): replay the
                // batch row-at-a-time so only offenders are dropped.
                conn.rollback()
                buf.foreach { r =>
                  try {
                    bind(r); ps.executeUpdate(); conn.commit(); inserted.add(1)
                  } catch {
                    case e2: java.sql.SQLException if isConstraint(e2) =>
                      conn.rollback()
                  }
                }
            }
          } finally ps.close()
        }
      }
    inserted.value
  }

  /** MERGE apply (see [[CustomerStoreApi.merge]]): the update half is
    * a batch UPDATE keyed on email with the DB's own CURRENT_TIMESTAMP
    * as the modified_ts touch (the trigger analog, same convention as
    * [[markUploaded]]); the insert half is the batch INSERT with
    * per-row salvage — the DB's UNIQUE constraints stay the final
    * arbiter exactly as on the insert path.
    *
    * ATOMIC as one transaction: merge batches arrive materialized and
    * micro-batch-sized (the reference's 5-row buffers,
    * database/database.go:114-129), so both halves are collected to
    * the driver and executed on ONE connection with ONE commit — a
    * crash mid-merge leaves either the whole merge or none of it,
    * matching the parquet store's staged full commit instead of the
    * earlier per-partition two-step (updates committed, inserts
    * absent). Per-row salvage inside the transaction uses SAVEPOINTs:
    * a constraint-violating insert rolls back to its savepoint and the
    * rest of the merge proceeds, still under the single commit.
    * Corpus-scale merges belong on the parquet/transactional store;
    * the JDBC store is the reference-parity OLTP sink.
    */
  protected def applyMerge(updates: DataFrame, inserts: DataFrame): Unit = {
    val upd = updates
      .select(col("first_name"), col("last_name"), col("phone"), col("email"))
      .collect()
    val ins = inserts.select(tableSchema.fieldNames.map(col): _*).collect()
    withConnection(url) { conn =>
      if (upd.nonEmpty) {
        val ps = conn.prepareStatement(
          s"""UPDATE $TableName
              SET first_name = ?, last_name = ?, phone = ?,
                  modified_ts = CURRENT_TIMESTAMP
              WHERE email = ?""")
        try {
          upd.foreach { r =>
            ps.setString(1, r.getString(0))
            ps.setString(2, r.getString(1))
            ps.setString(3, r.getString(2))
            ps.setString(4, r.getString(3))
            ps.addBatch()
          }
          ps.executeBatch(): Unit
        } finally ps.close()
      }
      if (ins.nonEmpty) {
        val ps = conn.prepareStatement(
          s"""INSERT INTO $TableName
              (id, first_name, last_name, email, phone, uploaded, created_ts, modified_ts)
              VALUES (?, ?, ?, ?, ?, ?, ?, ?)""")
        try {
          ins.foreach { r =>
            val sp = conn.setSavepoint()
            try {
              ps.setLong(1, r.getLong(0))
              ps.setString(2, r.getString(1))
              ps.setString(3, r.getString(2))
              ps.setString(4, r.getString(3))
              ps.setString(5, r.getString(4))
              ps.setBoolean(6, r.getBoolean(5))
              ps.setTimestamp(7, r.getTimestamp(6))
              ps.setTimestamp(8, r.getTimestamp(7))
              ps.executeUpdate(): Unit
              conn.releaseSavepoint(sp)
            } catch {
              case e: java.sql.SQLException if isConstraint(e) =>
                conn.rollback(sp) // only the offender drops (S5)
            }
          } // non-constraint SQLExceptions propagate: withConnection
            // rolls the WHOLE merge back — nothing partial lands
        } finally ps.close()
      }
      conn.commit() // the single commit point for both halves
    }
  }

  /** Transactional point update (database.go:176-198): the BEFORE
    * UPDATE trigger's modified_ts touch is explicit. Idempotent
    * (uploaded=false guard), so at-least-once redelivery is safe.
    */
  def markUploaded(ackedEmails: DataFrame): Unit = {
    val dbUrl = url
    ackedEmails.select(col("email")).distinct()
      .foreachPartition { (rows: Iterator[Row]) =>
        val buf = rows.toVector
        if (buf.nonEmpty) withConnection(dbUrl) { conn =>
          val ps = conn.prepareStatement(
            s"""UPDATE $TableName
                SET uploaded = TRUE, modified_ts = CURRENT_TIMESTAMP
                WHERE email = ? AND uploaded = FALSE""")
          try {
            buf.foreach { r => ps.setString(1, r.getString(0)); ps.addBatch() }
            ps.executeBatch()
            conn.commit()
          } finally ps.close()
        }
      }
  }
}

object JdbcCustomerStore {

  private[pipeline] val TableName = "customers"

  /** Embedded (in-JVM) Derby: `jdbc:derby:<path>` but NOT the
    * client-server form `jdbc:derby://host/...`.
    */
  private[pipeline] def isEmbeddedDerby(url: String): Boolean =
    url.startsWith("jdbc:derby:") && !url.startsWith("jdbc:derby://")

  /** Only integrity violations (SQLState class 23) mean "a row lost
    * the UNIQUE race" and may be salvaged/dropped; any other
    * SQLException (lock timeout, disk full, …) must propagate, or rows
    * would vanish silently while a streaming checkpoint advances past
    * them.
    */
  private[pipeline] def isConstraint(e: java.sql.SQLException): Boolean = {
    val states = Iterator.iterate(e)(ex =>
      ex.getNextException match { case n: java.sql.SQLException => n; case _ => null })
      .takeWhile(_ != null).map(_.getSQLState)
    states.exists(s => s != null && s.startsWith("23"))
  }

  // Keep Derby's log out of the working directory.
  System.setProperty("derby.stream.error.file",
    s"${System.getProperty("java.io.tmpdir")}/derby.log")

  /** (min, max) of the primary key, or None for an empty table. */
  private def idBounds(url: String): Option[(Long, Long)] =
    withConnection(url) { conn =>
      val rs = conn.createStatement()
        .executeQuery(s"SELECT MIN(id), MAX(id) FROM $TableName")
      try {
        if (rs.next() && rs.getObject(1) != null) Some((rs.getLong(1), rs.getLong(2)))
        else None
      } finally {
        rs.close()
        conn.commit() // Derby refuses to close with an open (read) txn
      }
    }

  private def withConnection[A](url: String)(body: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      body(conn)
    } catch {
      case e: Throwable =>
        // Roll back before close: Derby refuses to close a connection
        // with an open transaction, and that secondary error would
        // otherwise mask the real cause.
        try conn.rollback() catch { case _: java.sql.SQLException => () }
        throw e
    } finally conn.close()
  }

  /** init-db.sh:11-25 translated to Derby DDL (no IF NOT EXISTS in
    * Derby — existing-table errors are ignored by SQLState X0Y32).
    */
  private def ensureTable(url: String): Unit = withConnection(url) { conn =>
    val st = conn.createStatement()
    try {
      Seq(
        s"""CREATE TABLE $TableName (
            id BIGINT NOT NULL PRIMARY KEY,
            first_name VARCHAR(256),
            last_name VARCHAR(256),
            email VARCHAR(256) NOT NULL,
            phone VARCHAR(64),
            uploaded BOOLEAN NOT NULL,
            created_ts TIMESTAMP,
            modified_ts TIMESTAMP,
            CONSTRAINT customers_email_uq UNIQUE (email))""",
        s"CREATE INDEX upload_idx ON $TableName (uploaded)"
      ).foreach { ddl =>
        try { st.execute(ddl); conn.commit() }
        catch {
          case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
            conn.rollback() // already exists
        }
      }
    } finally st.close()
  }
}
