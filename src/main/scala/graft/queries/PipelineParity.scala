package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryGroup, Tables}
import graft.pipeline.Ingest
import graft.sources.JsonLines

/** Driver-checkable gates for the reference-parity ingest surface: the
  * CSV scan → validate → quarantine path (csv-crm-upload's csvReader
  * data plane) and the JSONL source/sink, each driven END-TO-END
  * through real files — a deterministic input is materialized from the
  * driver's tables, known-bad lines are appended, and the oracle pins
  * both the salvaged aggregate and the per-reason quarantine counts.
  * Complements the ScalaTest pipeline specs with a hash-gated check
  * the driver runs every round.
  */
object PipelineParity extends QueryGroup {

  import graft.util.Fs
  private def withTempDir[T](prefix: String)(f: java.nio.file.Path => T): T =
    Fs.withTempDir(prefix)(f)

  import StreamGates.withStreamTempDir
  private def appendLines(dir: java.nio.file.Path, lines: Seq[String]): Unit =
    Fs.appendToPartFile(dir, lines)

  /** Fixture-base cap. The parity gates pin OPERATOR contracts whose
    * planted %-of-custkey arithmetic is row-count-independent, so the
    * fixtures need a representative base, not the full SF table — at
    * sf0.1 the uncapped 15k-row base made every store template and
    * mutation ~7.5× more expensive for zero extra coverage (round-14
    * verdict #1: fixture cost, not operator cost, is what outgrew the
    * bench budget). At sf0.001/0.01 the max custkey (150/1500) is
    * below the cap, so the correctness sweep is byte-identical with
    * or without it. Every oracle applies the SAME cap mechanically
    * via [[capCustomer]], keeping both sides exact at every SF.
    */
  private val FixtureCap = 2000L

  /** The capped customer base every pipeline/streaming fixture
    * derives from (Spark side of the [[FixtureCap]] contract).
    */
  private def customerFixture(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter(col("c_custkey") <= FixtureCap)

  /** Oracle side of the [[FixtureCap]] contract: rewrite every
    * `FROM customer` to the capped inline view (same alias, so column
    * references and comma-join shorthand resolve unchanged). String
    * rewrite, not a CTE named `customer` — DuckDB rejects a
    * non-recursive CTE that shadows the table it reads.
    */
  private def capCustomer(sql: String): String =
    sql.replaceAll("FROM customer\\b",
      s"FROM (SELECT * FROM customer WHERE c_custkey <= $FixtureCap) customer")

  /** The S4-S7 cycle against any [[graft.pipeline.CustomerStoreApi]]
    * backend: insert a batch with planted losing conflicts (explicit
    * _seq pins the sequential order, so the survivor set is
    * partition-layout-proof), scan pending, mark the even ids
    * uploaded, re-scan. Returns the four oracle-pinned counts.
    */
  private def workqueueCycle(s: SparkSession, dir: String)(
      mkStore: java.nio.file.Path => graft.pipeline.CustomerStoreApi): DataFrame = {
    import s.implicits._
    val base = customerFixture(s, dir)
      .select(col("c_custkey").as("id"),
        concat(lit("f"), col("c_custkey")).as("first_name"),
        concat(lit("l"), col("c_custkey")).as("last_name"),
        concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"),
        concat(lit("555-"), col("c_custkey")).as("phone"))
    val dupIds = base.filter(col("id") % 100 === 0)
      .withColumn("email", concat(lit("dup"), col("id"), lit("@example.com")))
    val dupEmails = base.filter(col("id") % 100 === 1)
      .withColumn("id", col("id") + 10000000L)
    val batch = base.withColumn("_seq", col("id") * 2)
      .unionByName(dupIds.withColumn("_seq", col("id") * 2 + 1))
      .unionByName(dupEmails.withColumn("_seq", col("id") * 2 + 1))
      .withColumn("uploaded", lit(false))
      .withColumn("created_ts", current_timestamp())
      .withColumn("modified_ts", current_timestamp())
    val out = withTempDir("graft-workqueue-") { tmp =>
      val store = mkStore(tmp)
      val nInserted = store.insertNew(batch)
      val nPendingBefore = store.pending().count()
      store.markUploaded(
        store.pending().filter(col("id") % 2 === 0).select(col("email")))
      val nPendingAfter = store.pending().count()
      val nUploaded = store.all().filter(col("uploaded")).count()
      (nInserted, nPendingBefore, nPendingAfter, nUploaded)
    }
    Seq(out).toDF("n_inserted", "n_pending_before", "n_pending_after", "n_uploaded")
  }

  /** The MERGE/upsert cycle against any backend: seed the store from
    * the customer table, then merge a batch with planted matched-
    * changed rows (new phone), matched-identical rows, new rows, and
    * id-conflicting new rows that must drop. Post-state re-derives
    * n_updated from the store itself (the 999- phones) so the counts
    * can't be right by accident while the update never landed.
    */
  /** The planted merge traffic shared by every merge gate: (base,
    * batch) with changed (999- phones), identical, fresh (new ids +
    * emails), and id-conflicting rows — the oracle re-derives every
    * count from the same %-of-c_custkey arithmetic.
    */
  private def mergeFixtures(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = customerFixture(s, dir)
      .select(col("c_custkey").as("id"),
        concat(lit("f"), col("c_custkey")).as("first_name"),
        concat(lit("l"), col("c_custkey")).as("last_name"),
        concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"),
        concat(lit("555-"), col("c_custkey")).as("phone"))
      .withColumn("uploaded", lit(false))
      .withColumn("created_ts", current_timestamp())
      .withColumn("modified_ts", current_timestamp())
    val changed = base.filter(col("id") % 3 === 0)
      .withColumn("phone", concat(lit("999-"), col("id")))
    val identical = base.filter(col("id") % 3 === 1)
    val fresh = base.filter(col("id") % 10 === 0)
      .withColumn("id", col("id") + 20000000L)
      .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
    val idConflict = base.filter(col("id") % 10 === 3)
      .withColumn("email", concat(lit("conflict"), col("id"), lit("@example.com")))
    val batch = changed.withColumn("_seq", col("id") * 4)
      .unionByName(identical.withColumn("_seq", col("id") * 4 + 1))
      .unionByName(fresh.withColumn("_seq", col("id") * 4 + 2))
      .unionByName(idConflict.withColumn("_seq", col("id") * 4 + 3))
    (base, batch)
  }

  // ---- Fixture-store TEMPLATES (graft.util.FixtureStores) ----------
  //
  // Each distinct multi-commit fixture shape is built ONCE per JVM and
  // keyed by (shape, table dir). Read-only gates open the template in
  // place; mutating gates clone it with a recursive file copy (~10 ms
  // at these sizes) into their own temp dir and mutate the clone. The
  // fixture build is scaffolding, not the operator under test, so it
  // deliberately does NOT ride the bench's between-pass SessionCache
  // eviction (that policy exists for memoized OPERATOR builds) — the
  // round-11 bench spent ~47% of each pass rebuilding these fixtures.
  // The oracles are untouched: they derive from the same planted
  // %-of-custkey arithmetic whether the store was built fresh or
  // cloned, and every worst-case-layout REQUIRE still executes
  // against the (byte-identical) clone.

  import graft.util.FixtureStores

  /** Clone `templateStorePath` under `tmp` and open it. */
  private def cloneStore(s: SparkSession, templateStorePath: String,
      tmp: java.nio.file.Path): graft.pipeline.CustomerStore =
    new graft.pipeline.CustomerStore(s,
      FixtureStores.cloneInto(templateStorePath, tmp))

  /** The 5 raw customer columns every store fixture starts from. */
  private def baseCols(s: SparkSession, dir: String): DataFrame =
    customerFixture(s, dir)
      .select(col("c_custkey").as("id"),
        concat(lit("f"), col("c_custkey")).as("first_name"),
        concat(lit("l"), col("c_custkey")).as("last_name"),
        concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"),
        concat(lit("555-"), col("c_custkey")).as("phone"))

  /** Insert+merge (2-commit) template — the layer under the 3-commit
    * store, cloned directly by the streaming CDC/MV resume gates
    * (their ack must land while the stream is down).
    */
  private def mergeIMTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"mergeIM|$dir") { storePath =>
      val (base, batch) = mergeFixtures(s, dir)
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit
      store.merge(batch): Unit
    }

  /** Insert → merge → ack (3-commit) template: the exact history the
    * planted %-of-custkey oracles derive. Built by cloning the I+M
    * layer and acking the id%5 slice.
    */
  private def mergeIMATemplate(s: SparkSession, dir: String): String = {
    // Resolve the inner template BEFORE entering the outer build: even
    // though FixtureStores.template now builds outside the map's locks,
    // layered fixtures read clearer (and stay safe under any future
    // registry change) when dependencies are acquired first.
    val im = mergeIMTemplate(s, dir)
    FixtureStores.template(s"mergeIMA|$dir") { storePath =>
      FixtureStores.cloneInto(im,
        java.nio.file.Paths.get(storePath).getParent): Unit
      val store = new graft.pipeline.CustomerStore(s, storePath)
      val (base, _) = mergeFixtures(s, dir)
      store.markUploaded(base.filter(col("id") % 5 === 0).select(col("email")))
    }
  }

  /** Shared READ-ONLY view of the 3-commit store (time travel,
    * incremental MV, changelog aggregation).
    */
  private def sharedMergeStore(s: SparkSession,
      dir: String): graft.pipeline.CustomerStore =
    new graft.pipeline.CustomerStore(s, mergeIMATemplate(s, dir))

  /** Single full-insert commit (v1 = the whole enriched customer
    * projection) — the baseline layer of the delete-vector, restore,
    * incremental-z-order and min/max-MV fixtures.
    */
  private def fullV1Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"fullV1|$dir") { storePath =>
      new graft.pipeline.CustomerStore(s, storePath)
        .insertNew(Ingest.enrich(baseCols(s, dir))): Unit
    }

  /** Three id-BLOCK commits (contiguous thirds — zone-DISJOINT files):
    * the layout runtime file pruning bites on. Read-only consumers
    * open it in place.
    */
  private def blocks3Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"blocks3|$dir") { storePath =>
      val store = new graft.pipeline.CustomerStore(s, storePath)
      val base = baseCols(s, dir)
      val (mn, mx) = { val r = base.agg(min(col("id")), max(col("id"))).head()
        (r.getLong(0), r.getLong(1)) }
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * (mx - mn) / 3
      store.insertNew(Ingest.enrich(base.filter(col("id") <= t1))): Unit
      store.insertNew(Ingest.enrich(
        base.filter(col("id") > t1 && col("id") <= t2))): Unit
      store.insertNew(Ingest.enrich(base.filter(col("id") > t2))): Unit
    }

  /** Two id-half commits — the clean (no-deletion-vector) layout the
    * aggregate-pushdown gate clones (it truncates the clone's files).
    */
  private def halves2Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"halves2|$dir") { storePath =>
      val store = new graft.pipeline.CustomerStore(s, storePath)
      val base = baseCols(s, dir)
      val (mn, mx) = { val r = base.agg(min(col("id")), max(col("id"))).head()
        (r.getLong(0), r.getLong(1)) }
      val mid = mn + (mx - mn) / 2
      store.insertNew(Ingest.enrich(base.filter(col("id") <= mid))): Unit
      store.insertNew(Ingest.enrich(base.filter(col("id") > mid))): Unit
    }

  /** Three id-interleaved insert commits (id%3 slices) — the
    * worst-case clustering layout both OPTIMIZE gates start from.
    */
  private def interleaved3Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"interleaved3|$dir") { storePath =>
      val store = new graft.pipeline.CustomerStore(s, storePath)
      val base = baseCols(s, dir)
      for (m <- 0L until 3L)
        store.insertNew(Ingest.enrich(base.filter(col("id") % 3 === m))): Unit
    }

  /** Two id-parity commits — the read-only template the ANALYZE
    * estimate gate consults (the CBO consult never writes).
    */
  private def analyze2Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"analyze2|$dir") { storePath =>
      val base = baseCols(s, dir)
      val st = new graft.pipeline.CustomerStore(s, storePath)
      for (m <- 0L until 2L)
        st.insertNew(Ingest.enrich(base.filter(col("id") % 2 === m))): Unit
    }

  /** Four contiguous id-slice commits with data-driven bloom geometry
    * — the point-lookup gate clones it (the ack mutates). Returns
    * (store path, bloom bits): bloomBits only matters at COMMIT time,
    * but the clone's opener passes the same value for symmetry.
    */
  private def bloom4Template(s: SparkSession, dir: String): (String, Long) = {
    val base = baseCols(s, dir)
    val mm = base.agg(min("id"), max("id"), count(lit(1))).head()
    val (mn, mx, n) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
    val bits = math.max(1L << 17, (n / 4) * 16 / 64 * 64)
    val slice = expr(s"(id - $mn) * 4 DIV ${mx - mn + 1}")
    val tmpl = FixtureStores.template(s"bloom4|$dir") { storePath =>
      val st = new graft.pipeline.CustomerStore(s, storePath,
        bloomBits = bits)
      for (sl <- 0L until 4L)
        st.insertNew(Ingest.enrich(base.filter(slice === sl))): Unit
    }
    (tmpl, bits)
  }

  /** The planted-clock insert→merge→ack history (commit v at
    * v·1000 ms) — read-only for the timestamp-travel probes.
    */
  private def clockIMATemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"clockIMA|$dir") { storePath =>
      val (base, batch) = mergeFixtures(s, dir)
      val clock = new java.util.concurrent.atomic.AtomicLong(0L)
      val st = new graft.pipeline.CustomerStore(s, storePath,
        () => clock.addAndGet(1000L))
      st.insertNew(base): Unit                                          // ts 1000
      st.merge(batch): Unit                                             // ts 2000
      st.markUploaded(
        base.filter(col("id") % 5 === 0).select(col("email")))          // ts 3000
    }

  /** The 4-commit ADDITIVE-EVOLUTION history: insert base → addColumn
    * (feed-silent DDL commit) → snapshot → insert a tier-carrying
    * fresh block → ack the %7 slice (file-level rewrite of
    * pre-evolution rows). Read-only for the evolution gate's probes.
    */
  private def evolveTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"evolve|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit                                     // v1
      require(store.addColumn("loyalty_tier",
        org.apache.spark.sql.types.LongType) == 2L, "DDL commit must be v2")
      require(store.writeSnapshot() == 2L, "snapshot at the DDL commit")
      val fresh = base.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 30000000L)
        .withColumn("email", concat(lit("evo"), col("id"), lit("@example.com")))
        .withColumn("loyalty_tier", col("id") % 3)
      store.insertNew(fresh): Unit                                    // v3
      store.markUploaded(
        base.filter(col("id") % 7 === 0).select(col("email")))        // v4
    }

  /** Three id-block commits with block 1 PRE-evolution and blocks 2/3
    * carrying disjoint planted tier ranges (id+10M / id+20M) — the
    * evolved-column data-skipping fixture (mutating consumers clone).
    */
  private def evoSkipTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"evoskip|$dir") { storePath =>
      val base = baseCols(s, dir)
      val store = new graft.pipeline.CustomerStore(s, storePath)
      val (mn, mx) = { val r = base.agg(min(col("id")), max(col("id"))).head()
        (r.getLong(0), r.getLong(1)) }
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * (mx - mn) / 3
      store.insertNew(Ingest.enrich(base.filter(col("id") <= t1))): Unit // v1
      store.addColumn("tier", org.apache.spark.sql.types.LongType): Unit // v2
      store.insertNew(Ingest.enrich(base.filter(col("id") > t1 && col("id") <= t2))
        .withColumn("tier", col("id") + 10000000L)): Unit // v3
      store.insertNew(Ingest.enrich(base.filter(col("id") > t2))
        .withColumn("tier", col("id") + 20000000L)): Unit // v4
    }

  /** Column-mapping evolution history (8 commits): insert → addColumn
    * (score) → score-carrying insert → RENAME phone→phone_e164 →
    * merge THROUGH the renamed column → RENAME score→quality → DROP
    * last_name → re-ADD last_name (must read all-NULL: the fresh
    * version-stamped physical name cannot resurrect dropped values).
    */
  private def mappingTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"mapping|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit                                     // v1
      require(store.addColumn("score",
        org.apache.spark.sql.types.LongType) == 2L, "DDL commit must be v2")
      val fresh = base.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 40000000L)
        .withColumn("email", concat(lit("map"), col("id"), lit("@example.com")))
        .withColumn("score", col("id") % 7)
      store.insertNew(fresh): Unit                                    // v3
      require(store.renameColumn("phone", "phone_e164") == 4L,
        "rename must be v4")
      // merge THROUGH the renamed column: changed phones force updates
      val upd = base.filter(col("id") % 9 === 0)
        .withColumn("phone", concat(lit("999-"), col("id")))
        .withColumnRenamed("phone", "phone_e164")
      store.merge(upd): Unit                                          // v5
      require(store.writeSnapshot() == 5L, "snapshot at the merge commit")
      require(store.renameColumn("score", "quality") == 6L,
        "evolved-column rename must be v6")
      require(store.dropColumn("last_name") == 7L, "drop must be v7")
      require(store.addColumn("last_name",
        org.apache.spark.sql.types.StringType) == 8L, "re-add must be v8")
    }

  /** Persisted-CHECK-constraint history (6 commits): insert base →
    * add id-cap + email-shape constraints (feed-silent DDL) → insert a
    * block the cap admits → DROP the id cap → insert a block only the
    * drop re-admits. Final state keeps `chk_email_at`, so the gate's
    * rejection probe (read-only — enforcement throws before any
    * staging dir is created) can run against the shared template.
    */
  private def constraintsTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"constr|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit                                     // v1
      require(store.addCheckConstraint("chk_id_cap",
        "id < 20000000") == 2L, "constraint DDL must be v2")
      require(store.addCheckConstraint("chk_email_at",
        "email LIKE '%@%'") == 3L, "constraint DDL must be v3")
      val mid = base.filter(col("id") % 6 === 0)
        .withColumn("id", col("id") + 10000L)
        .withColumn("email", concat(lit("c"), col("id"), lit("@example.com")))
      store.insertNew(mid): Unit                                      // v4
      require(store.dropCheckConstraint("chk_id_cap") == 5L, "drop must be v5")
      val big = base.filter(col("id") % 8 === 0)
        .withColumn("id", col("id") + 60000000L)
        .withColumn("email", concat(lit("d"), col("id"), lit("@example.com")))
      store.insertNew(big): Unit                                      // v6
    }

  /** Type-widening history (6 commits): insert base → ADD points INT →
    * insert an int-valued block ('w' emails) → WIDEN points to BIGINT
    * (feed-silent metadata) → insert a block whose points EXCEED the
    * int range ('x' emails — representable only because the widen
    * landed) → merge a slice of the 'w' block THROUGH the widened
    * column (changed phones force the updates), planting long values
    * over pre-widening int32 files.
    */
  private def widenTemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"widen|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit                                     // v1
      require(store.addColumn("points",
        org.apache.spark.sql.types.IntegerType) == 2L, "DDL must be v2")
      val wBlock = base.filter(col("id") % 5 === 0)
        .withColumn("id", col("id") + 30000000L)
        .withColumn("email", concat(lit("w"), col("id"), lit("@example.com")))
        .withColumn("points", (col("id") % 30000000L % 1000L).cast("int"))
      store.insertNew(wBlock): Unit                                   // v3
      require(store.widenColumn("points",
        org.apache.spark.sql.types.LongType) == 4L, "widen must be v4")
      val xBlock = base.filter(col("id") % 7 === 0)
        .withColumn("id", col("id") + 70000000L)
        .withColumn("email", concat(lit("x"), col("id"), lit("@example.com")))
        .withColumn("points", col("id") - 70000000L + 3000000000L)
      store.insertNew(xBlock): Unit                                   // v5
      val upd = wBlock.filter((col("id") - 30000000L) % 10 === 0)
        .withColumn("phone", concat(lit("999-"), col("id")))
        .withColumn("points", col("id") - 30000000L + 4000000000L)
      store.merge(upd): Unit                                          // v6
    }

  /** Generated-column history (5 commits): insert base → ADD GENERATED
    * band = id%7 + ascii(first phone char) (schema v2 + auto
    * constraint v3) → fresh %10 insert (band computed at write) →
    * merge flipping the %3 slice's phone prefix 555→999 (the update
    * leg must RECOMPUTE band: ascii 53 → 57). Base rows outside %3
    * stay pre-evolution NULL (generation never backfills).
    */
  private def genIMATemplate(s: SparkSession, dir: String): String =
    FixtureStores.template(s"genIMA|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      store.insertNew(base): Unit                                     // v1
      require(store.addGeneratedColumn("band",
        org.apache.spark.sql.types.LongType,
        "id % 7 + CAST(ascii(substring(phone, 1, 1)) AS BIGINT)") == 3L,
        "generated DDL must be v2 (schema) + v3 (auto constraint)")
      val fresh = base.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 40000000L)
        .withColumn("email", concat(lit("gen"), col("id"), lit("@example.com")))
      store.insertNew(fresh): Unit                                    // v4
      store.merge(base.filter(col("id") % 3 === 0)
        .withColumn("phone", concat(lit("999-"), col("id")))): Unit   // v5
    }

  /** Idempotent-writer-transaction history (3 commits): txnInsert v1
    * (base) → txnInsert v2 (fresh block) → a REPLAY of v2 pinned to
    * skip at build time → txnInsert v3 whose rows ALL dedup away (the
    * feed-silent TXN record commit). Read-only for the sink gate's
    * probes: replays at or below the recorded version skip before any
    * work, so probing the shared template cannot mutate it.
    */
  private def txn3Template(s: SparkSession, dir: String): String =
    FixtureStores.template(s"txn3|$dir") { storePath =>
      val base = Ingest.enrich(baseCols(s, dir))
      val store = new graft.pipeline.CustomerStore(s, storePath)
      require(store.txnInsert("loader", 1L, base).isDefined,
        "txn v1 must land")                                           // v1
      val fresh = base.filter(col("id") % 4 === 0)
        .withColumn("id", col("id") + 50000000L)
        .withColumn("email", concat(lit("t"), col("id"), lit("@example.com")))
      require(store.txnInsert("loader", 2L, fresh).isDefined,
        "txn v2 must land")                                           // v2
      require(store.txnInsert("loader", 2L, fresh).isEmpty,
        "a redelivered batch must skip, not duplicate")
      require(store.txnInsert("loader", 3L,
          base.filter(col("id") % 11 === 0)) == Some(0L),
        "an all-duplicate batch still records its version")           // v3
    }

  /** Build every fixture-store template for `dir`, or nothing when
    * no query in `selected` belongs to this group (only its gates
    * clone templates). The bench calls this ONCE before pass 1 and
    * publishes the elapsed time as a separate `fixture_s` setup figure
    * — template construction is scaffolding, and letting it lazily
    * ride the first gate that touched it charged a whole template
    * build to whichever query ran first in name order (round-14: the
    * driver published a 203s `pipeline_asof_timestamp` that was mostly
    * the clockIMA build under contention).
    */
  def prebuildTemplates(s: SparkSession, dir: String, selected: Seq[String],
                        deadlineNanos: Long = Long.MaxValue): Unit = {
    if (!selected.exists(queries.contains)) return
    // Stop STARTING template builds past the deadline (a tiny bench
    // budget must abort promptly, not sit in setup) — anything not
    // prebuilt lazily rides the first gate that touches it, exactly
    // the pre-round-15 behavior, so correctness is unaffected.
    val builds: Seq[(SparkSession, String) => Any] = Seq(
      mergeIMATemplate(_, _), // layers (and therefore builds) mergeIM
      fullV1Template(_, _),
      blocks3Template(_, _),
      halves2Template(_, _),
      interleaved3Template(_, _),
      analyze2Template(_, _),
      bloom4Template(_, _),
      clockIMATemplate(_, _),
      evolveTemplate(_, _),
      evoSkipTemplate(_, _),
      mappingTemplate(_, _),
      constraintsTemplate(_, _),
      widenTemplate(_, _),
      txn3Template(_, _),
      genIMATemplate(_, _))
    // Build CONCURRENTLY on a small pool: each template is an
    // independent sequence of tiny staged-commit Spark jobs — pure
    // driver/commit latency, not CPU — so overlapping builds cuts the
    // setup wall time ~2-3× without changing what is built. Safe by
    // construction: FixtureStores.template handles racing builders,
    // stores live at distinct paths (per-path promotion locks), and
    // the shared SparkSession schedules jobs from many threads.
    // 8 threads (r15 optimization round): 15 templates at ~4-8
    // latency-bound commits each left a 4-thread pool with a long
    // critical path (fixture_s ≈ 22s measured); 8 halves the depth
    // while staying far below the scheduler's capacity for these
    // 1-2-task jobs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = builds.map { b =>
        pool.submit(new Runnable {
          override def run(): Unit =
            if (System.nanoTime() < deadlineNanos) b(s, dir): Unit
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  private def mergeCycle(s: SparkSession, dir: String)(
      mkStore: java.nio.file.Path => graft.pipeline.CustomerStoreApi): DataFrame = {
    import s.implicits._
    val (base, batch) = mergeFixtures(s, dir)
    val out = withTempDir("graft-merge-") { tmp =>
      val store = mkStore(tmp)
      store.insertNew(base): Unit
      val r = store.merge(batch)
      val nPhoneUpdated = store.all().filter(col("phone").startsWith("999-")).count()
      val nTotal = store.all().count()
      (r.nUpdated, r.nInserted, r.nUnchanged, nPhoneUpdated, nTotal)
    }
    Seq(out).toDF("n_updated", "n_inserted", "n_unchanged", "n_phone_updated",
      "n_total_after")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The csvReader data plane end-to-end: a deterministic CSV derived
    // from the customer table (derived columns, so no quoting
    // ambiguity), plus one bad-id line, one empty-email line, and one
    // wrong-arity line. validate() must land every clean row (P1-P3),
    // quarantine EXACTLY the three offenders with the right reasons
    // (P4 per-row salvage — the reference drops only offending rows,
    // csvreader.go:79-83), and preserve the id sum bit-for-bit.
    //
    // Contract pinned by n_malformed_csv = 0: with the all-string CSV
    // schema (types cast in validate, not the parser), Spark's
    // univocity parser never fails a line — arity mismatches pad/drop
    // tokens, so the wrong-arity line surfaces as bad_id, not as a
    // parser error. Go's encoding/csv would reject it (ErrFieldCount);
    // the row is quarantined either way, only the reason differs. The
    // malformed_csv branch remains for typed/charset read failures.
    "pipeline_ingest_csv" -> ((s, dir) => {
      import s.implicits._
      val lines = customerFixture(s, dir)
        .select(col("c_custkey"),
          concat_ws(",",
            col("c_custkey"),
            concat(lit("f"), col("c_custkey")),
            concat(lit("l"), col("c_custkey")),
            concat(lit("u"), col("c_custkey"), lit("@example.com")),
            concat(lit("555-"), col("c_custkey"))).as("line"))
      val agg = withTempDir("graft-ingest-csv-") { tmp =>
        lines.orderBy(col("c_custkey")).select(col("line"))
          .coalesce(1).write.text(s"$tmp/in")
        appendLines(java.nio.file.Paths.get(s"$tmp/in"), Seq(
          "notanint,fx,lx,x@example.com,555-0100",
          "999999991,fx,lx,,555-0100",
          "onlyonefield"))
        val (good, bad) = Ingest.validate(
          Ingest.readCsv(s, s"$tmp/in", header = false))
        val g = good.agg(
          count(lit(1)).as("n_valid"),
          sum(col("id")).as("sum_valid_ids")).head()
        val b = bad.agg(
          sum(when(col("reason") === "bad_id", 1L).otherwise(0L)).as("n_bad_id"),
          sum(when(col("reason") === "empty_email", 1L).otherwise(0L)).as("n_empty_email"),
          sum(when(col("reason") === "malformed_csv", 1L).otherwise(0L)).as("n_malformed_csv"))
          .head()
        (g.getLong(0), g.getLong(1), b.getLong(0), b.getLong(1), b.getLong(2))
      }
      Seq(agg).toDF("n_valid", "sum_valid_ids", "n_bad_id", "n_empty_email",
        "n_malformed_csv")
    }),

    // Multi-file ingest ORDER: the reference's dedup winner is defined
    // by file read order (csvreader.go:54-85); Ingest.sequenced pins
    // it to lexicographic path order. Two CSV files with planted
    // cross-file id- and email-conflicts run through the REAL
    // IngestJob service (scan → validate → enrich → sequence →
    // dedup-insert): every file-00 row must win, so the store holds
    // exactly the customer-derived rows with their ORIGINAL emails —
    // a file-order regression would surface dup* emails and hash-fail.
    "pipeline_ingest_multifile" -> ((s, dir) => {
      import s.implicits._
      def lines(df: DataFrame): DataFrame = df.select(concat_ws(",",
        col("id"), concat(lit("f"), col("id")), concat(lit("l"), col("id")),
        col("email"), concat(lit("555-"), col("id"))).as("line"), col("id"))
      val base = customerFixture(s, dir)
        .select(col("c_custkey").as("id"),
          concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"))
      val idConf = base.filter(col("id") % 100 === 0)
        .withColumn("email", concat(lit("dup"), col("id"), lit("@example.com")))
      val emailConf = base.filter(col("id") % 100 === 1)
        .withColumn("id", col("id") + 10000000L)
      val out = withTempDir("graft-multifile-") { tmp =>
        def writeOne(df: DataFrame, name: String): Unit = {
          val stage = s"$tmp/stage_$name"
          lines(df).orderBy(col("id")).select(col("line")).coalesce(1)
            .write.text(stage)
          Fs.movePartFile(Fs.path(stage), Fs.path(s"$tmp/in", name))
        }
        writeOne(base, "00.csv")
        writeOne(idConf.unionByName(emailConf), "01.csv")
        val store = new graft.pipeline.CustomerStore(s, s"$tmp/store")
        val (inserted, bad) = graft.pipeline.IngestJob.run(
          s, s"$tmp/in", store, header = false)
        val nQuarantined = bad.count()
        val nOriginalEmails = store.all()
          .filter(col("email").startsWith("u")).count()
        (inserted, store.pending().count(), nOriginalEmails, nQuarantined)
      }
      Seq(out).toDF("n_inserted", "n_pending", "n_original_emails", "n_quarantined")
    }),

    // The work-queue cycle (S4-S7) end-to-end against a real store:
    // batched UNIQUE-semantics insert (with planted id- and email-
    // conflict rows that must lose — explicit _seq pins the sequential
    // order, so the survivor SET is partition-layout-proof), the
    // uploaded=false pending scan, the post-ack point update, and the
    // drained re-scan. Every count the oracle pins is derivable from
    // the customer table: conflicts never survive, marking the even
    // ids leaves exactly the odd ones pending.
    "pipeline_workqueue_cycle" -> ((s, dir) =>
      workqueueCycle(s, dir)(tmp => new graft.pipeline.CustomerStore(s, s"$tmp/store"))),

    // RESTORE to an earlier version (the Delta RESTORE shape): after
    // insert (v1) → merge with phone changes + fresh rows (v2) →
    // vector delete (v3), restore(1) commits the email-keyed DIFF back
    // to v1 — inserts for the deleted rows, delete_pre retractions for
    // the fresh rows, update pairs for the changed ones — as commit
    // v4. REQUIREd: the restored table equals asOf(1) row-for-row, and
    // the +1/−1 feed replay still reconstructs the live count (the
    // restore is CDC-consistent, not a history rewrite). The
    // per-change-type counts of the restore commit are oracle-pinned
    // from the planted arithmetic.
    "pipeline_restore" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      withTempDir("graft-restore-") { tmp =>
        // Clone of the full-insert v1 layer; merge/delete/restore
        // mutate the copy.
        val store = cloneStore(s, fullV1Template(s, dir), tmp)
        val nV1 = store.all().count()
        val changed = base.filter(col("id") % 3 === 0)
          .withColumn("phone", concat(lit("999-"), col("id")))
        val fresh = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 30000000L)
          .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
        store.merge(Ingest.enrich(changed.unionByName(fresh))): Unit // v2
        store.delete(base.filter(col("id") % 5 === 0).select(col("email"))): Unit // v3
        val nBefore = store.all().count()
        store.restore(1L) // v4
        val after = store.all().localCheckpoint(true)
        val tgt = store.asOf(1L)
        require(graft.util.MultisetEq(after, tgt),
          "restore did not reproduce the target version row-for-row")
        val weighted = store.changeFeed()
          .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
          .agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
        val nAfter = after.count()
        require(weighted == nAfter,
          s"feed replay $weighted != live count $nAfter after restore")
        val byType = store.feedSince(3L, 4L)
          .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(byType.getOrElse("update", 0L) == byType.getOrElse("update_pre", 0L),
          "restore update rows must pair with their retractions")
        Seq((nV1, nBefore, nAfter,
            byType.getOrElse("insert", 0L), byType.getOrElse("delete_pre", 0L),
            byType.getOrElse("update", 0L)))
          .toDF("n_v1", "n_before_restore", "n_after_restore",
            "n_restore_inserts", "n_restore_deletes", "n_restore_updates")
      }
    }),

    // OPTIMIZE with range clustering (the Delta OPTIMIZE ZORDER /
    // liquid-clustering maintenance shape, 1-D): three id-interleaved
    // insert commits build a worst-case layout — every pending file
    // spans the full id range, so the per-commit zone maps can prune
    // NOTHING for a range read (REQUIREd: all files opened). One
    // optimize() rewrite range-partitions the rows into disjoint-range
    // files, after which the same read must open strictly fewer files
    // (REQUIREd) and return the identical rows. Counts + id-sum are
    // oracle-pinned from the same quantile arithmetic.
    "pipeline_optimize_clustered" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val mm = base.agg(min(col("id")), max(col("id")), count(lit(1))).head()
      val (mn, mx, nTotal) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
      val lo = mn + (mx - mn) / 4
      val hi = mn + (mx - mn) / 2
      withTempDir("graft-optimize-") { tmp =>
        // Clone of the worst-case interleaved layout; optimize()
        // rewrites the copy.
        val store = cloneStore(s, interleaved3Template(s, dir), tmp)
        val (r1, read1, total1) = store.pendingRangeRead(lo, hi)
        val first = r1.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val (n1, sum1) = (first.getLong(0), first.getLong(1))
        require(read1 == total1,
          s"interleaved layout pruned $read1/$total1 — fixture not worst-case")
        store.optimize(4)
        val (r2, read2, total2) = store.pendingRangeRead(lo, hi)
        val second = r2.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        require(second.getLong(0) == n1 && second.getLong(1) == sum1,
          "clustered read returned different rows than the unclustered read")
        require(read2 < total2,
          s"clustered zone maps must prune the range read ($read2/$total2 opened)")
        Seq((nTotal, n1, sum1))
          .toDF("n_rows", "n_in_range", "id_sum_in_range")
      }
    }),

    // OPTIMIZE with two-dimensional Z-ORDER clustering (the Delta
    // OPTIMIZE ZORDER BY (a,b) shape, task-7 lifecycle form of the
    // layout_zorder_skipping demo): the store's second clustering
    // dimension is an engine-neutral hash shard of id (plain bigint
    // arithmetic both engines compute), DECORRELATED from id order —
    // so the three id-interleaved insert commits are worst-case on
    // BOTH dimensions and the rectangle read must open every file
    // (REQUIREd). One optimizeZorder() rewrite interleaves (id
    // bucket, shard) into a z-curve; after it the id-only range read,
    // the shard-only band read, AND the rectangle read each open
    // strictly fewer files through the per-commit zone manifest
    // (REQUIREd; the rectangle never opens more than either 1-D
    // read), while every count stays identical to the unclustered
    // answer — counts and the rect id-sum are oracle-pinned from the
    // same integer arithmetic.
    "pipeline_optimize_zorder" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val mm = base.agg(min(col("id")), max(col("id")), count(lit(1))).head()
      val (mn, mx, nTotal) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
      val idLo = mn + (mx - mn) / 4
      val idHi = mn + (mx - mn) / 2
      val (hbLo, hbHi) = (16L, 31L)
      withTempDir("graft-zorder-store-") { tmp =>
        // Clone of the same worst-case interleaved layout;
        // optimizeZorder() rewrites the copy.
        val store = cloneStore(s, interleaved3Template(s, dir), tmp)
        val (r0, read0, total0) = store.pendingRectRead(idLo, idHi, hbLo, hbHi)
        val first = r0.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val (nRect, sumRect) = (first.getLong(0), first.getLong(1))
        require(read0 == total0,
          s"interleaved layout pruned $read0/$total0 — fixture not worst-case")
        store.optimizeZorder(16)
        val (rid, readId, total) = store.pendingRectRead(idLo, idHi, 0L, 63L)
        val (rhb, readHb, _) = store.pendingRectRead(mn, mx, hbLo, hbHi)
        val (rr, readRect, _) = store.pendingRectRead(idLo, idHi, hbLo, hbHi)
        val second = rr.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        require(second.getLong(0) == nRect && second.getLong(1) == sumRect,
          "clustered rectangle read returned different rows than unclustered")
        require(readId < total && readHb < total && readRect < total,
          s"z-order zone maps must prune BOTH dimensions " +
            s"(id $readId, shard $readHb, rect $readRect of $total opened)")
        require(readRect <= math.min(readId, readHb),
          s"rectangle read ($readRect files) must not open more than " +
            s"either 1-D read ($readId id-only, $readHb shard-only)")
        val nId = rid.count()
        val nHb = rhb.count()
        Seq((nTotal, nId, nHb, nRect, sumRect))
          .toDF("n_rows", "n_in_id_range", "n_in_shard_band",
            "n_in_rect", "id_sum_in_rect")
      }
    }),

    // INCREMENTAL Z-ORDER maintenance — the lifecycle claim a 100 TB
    // table lives or dies by: absorbing a delta must NOT rewrite the
    // standing layer. Fixture: one baseline insert commit → two
    // delta insert commits (fresh ids in disjoint +50M/+60M blocks,
    // fresh emails; their hash shards spread over all 64, so a
    // shard-band read must open every delta file).
    // optimizeZorderIncremental identifies the delta from the stats
    // manifest alone (oldest live commit_version = the standing
    // baseline), z-orders ONLY those rows on the shared curve, and
    // lands them through the file-level merge commit. REQUIREd: every
    // baseline file survives IN PLACE, every delta file is gone, the
    // band read returns identical aggregates and opens strictly fewer
    // files than before the maintenance (the delta's shard zones are
    // now tight; the full-rewrite clustering claim lives in
    // pipeline_optimize_zorder). Totals, band count, and band id-sum
    // are oracle-pinned from the planted arithmetic.
    "pipeline_optimize_incremental" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val aggs = Seq(min(col("id")), max(col("id")), count(lit(1))) ++
        Seq(0L, 1L).map(m =>
          sum(when(col("id") % 7 === m, 1L).otherwise(0L)))
      val mm = base.agg(aggs.head, aggs.tail: _*).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val nTotal = mm.getLong(2) + mm.getLong(3) + mm.getLong(4)
      val (hbLo, hbHi) = (16L, 23L)
      def deltaBatch(m: Long, off: Long) =
        base.filter(col("id") % 7 === m)
          .withColumn("id", col("id") + off)
          .withColumn("email", concat(lit("w"), col("id"), lit("@example.com")))
      val offsets = Seq(0L -> 50000000L, 1L -> 60000000L)
      withTempDir("graft-inc-zorder-") { tmp =>
        // Clone of the full-insert baseline; the two delta commits and
        // the incremental maintenance mutate the copy.
        val store = cloneStore(s, fullV1Template(s, dir), tmp)
        val baseline = store.pendingDataFiles().toSet
        for ((m, off) <- offsets)
          store.insertNew(Ingest.enrich(deltaBatch(m, off))): Unit
        val deltaFiles = store.pendingDataFiles().toSet -- baseline
        require(deltaFiles.size >= 2,
          s"fixture produced only ${deltaFiles.size} delta files — no layering to prove")
        val idHiAll = mx + 60000000L
        val (rPre, readPre, totalPre) = store.pendingRectRead(mn, idHiAll, hbLo, hbHi)
        val pre = rPre.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        val (nBand, sumBand) = (pre.getLong(0), pre.getLong(1))
        // Unclustered worst case: every live file spans the full shard
        // range, so the band read can prune NOTHING.
        require(readPre == totalPre,
          s"unclustered band read pruned $readPre/$totalPre — fixture not worst-case")
        store.optimizeZorderIncremental(16)
        val after = store.pendingDataFiles().toSet
        require(baseline.subsetOf(after),
          s"incremental optimize rewrote the standing layer " +
            s"(${(baseline -- after).size} baseline files gone)")
        require((deltaFiles & after).isEmpty,
          "incremental optimize left unclustered delta files in place")
        val (rInc, readInc, totalInc) = store.pendingRectRead(mn, idHiAll, hbLo, hbHi)
        val post = rInc.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
        require(post.getLong(0) == nBand && post.getLong(1) == sumBand,
          "band read changed across incremental optimize")
        // Clustered delta: the band read now SKIPS a real share of the
        // delta files (their shard zones are tight), where the
        // pre-maintenance read could skip none.
        require(readInc + 2 <= totalInc,
          s"incremental clustering must make the band read prune " +
            s"($readInc of $totalInc files opened)")
        Seq((nTotal, nBand, sumBand))
          .toDF("n_rows", "n_in_band", "id_sum_in_band")
      }
    }),

    // ANALYZE-style table statistics — the CBO consult: every commit's
    // stats stage a per-file bottom-k KMV sample (kind='s') beside the
    // zones and blooms, and estimatePendingRange answers "how many
    // rows match id BETWEEN lo AND hi" from the MANIFEST ALONE — the
    // live files' samples re-trim to the exact table-level uniform
    // sample (KMV merge is exact, whatever commits wrote which files),
    // the row total comes from the zone rows, and the estimate is
    // integer arithmetic total·|sample∩range|/k. No data file is
    // opened (StoreStatsSpec pins this physically: every data file
    // truncated to zero bytes, the estimate is unchanged). Three
    // ranges (decile/quartile/half) audited within 15% of N
    // (REQUIRE'd; k=128 → 3σ ≈ 13%); the oracle recomputes the same
    // sample, estimates, and audit booleans from the same md5-word
    // integer arithmetic.
    "pipeline_analyze_estimate" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val mm = base.agg(min(col("id")), max(col("id"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val ranges = Seq(
        ("1_decile", mn, mn + (mx - mn) / 10),
        ("2_quartile", mn + (mx - mn) / 4, mn + (mx - mn) / 2),
        ("3_half", mn, mn + (mx - mn) / 2))
      val exact = ranges.map { case (name, lo, hi) =>
        name -> base.filter(col("id").between(lo, hi)).count()
      }.toMap
      // The two-commit store is a read-only template: the CBO consult
      // never writes (recover() on a cleanly-committed store is a
      // no-op), so the gate opens it in place.
      val path = analyze2Template(s, dir)
      val store = new graft.pipeline.CustomerStore(s, path)
      val out =
        ranges.map { case (name, lo, hi) =>
          val (est, total, k) = store.estimatePendingRange(lo, hi)
          require(k == graft.pipeline.CustomerStore.SampleK,
            s"table sample re-trimmed to $k rows, expected SampleK")
          val within = math.abs(est - exact(name)) * 100L <= total * 15L
          require(within,
            s"$name estimate $est vs exact ${exact(name)} drifted past 15% of $total")
          (name, est, exact(name), total, k, within)
        }
      out.toDF("range_name", "est_rows", "exact_rows", "n_rows",
          "sample_k", "within_15pct_of_total")
        .orderBy(col("range_name"))
    }),

    // The store's WRITE surface through the connector + SQL catalog:
    // v1 lands via df.write.format("graft-store") (append), v2 is a
    // batch with planted id-conflicts (stored id, new email),
    // email-conflicts (new id, stored email) and fresh rows — the
    // UNIQUE first-wins dedup must drop both conflict classes through
    // the connector exactly as through the API — and v3 arrives via
    // SQL INSERT INTO graft_store.`path` SELECT …, with VERSION AS OF
    // reads pinning every intermediate state. Each write is REQUIREd
    // to be exactly one staged commit (version advances by one).
    "pipeline_catalog_write" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = Ingest.enrich(baseCols(s, dir))
      val out = withTempDir("graft-catwrite-") { tmp =>
        val path = s"$tmp/store"
        base.write.format("graft-store").option("path", path).mode("append").save()
        val store = new graft.pipeline.CustomerStore(s, path)
        require(store.currentVersion() == 1L, "v1 write must be one commit")
        val nV1 = s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        val idConf = base.filter(col("id") % 10 === 3)
          .withColumn("email", concat(lit("conf"), col("id"), lit("@example.com")))
        val emailConf = base.filter(col("id") % 5 === 0)
          .withColumn("id", col("id") + 40000000L)
        val fresh = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 30000000L)
          .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
        idConf.unionByName(emailConf).unionByName(fresh)
          .write.format("graft-store").option("path", path).mode("append").save()
        require(store.currentVersion() == 2L, "v2 write must be one commit")
        val nAfterV2 = s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        val nAsOf1 = s.sql(s"SELECT count(*) FROM graft_store.`$path` VERSION AS OF 1")
          .head().getLong(0)
        require(nAsOf1 == nV1, s"VERSION AS OF 1 read $nAsOf1 != v1 count $nV1")
        s.sql(
          s"""INSERT INTO graft_store.`$path`
              SELECT id + 90000000, first_name, last_name, concat('z', email),
                phone, uploaded, created_ts, modified_ts
              FROM graft_store.`$path` VERSION AS OF 1 WHERE id % 97 = 0""")
        require(store.currentVersion() == 3L, "INSERT INTO must be one commit")
        val nAfterV3 = s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        // The connector write must be indistinguishable from the API
        // read side: catalog count ≡ store.all() count at every step.
        require(nAfterV3 == store.all().count(),
          "catalog count diverged from the API read after SQL INSERT")
        (nV1, nAfterV2, nAfterV2 - nV1, nAfterV3 - nAfterV2)
      }
      Seq(out).toDF("n_v1", "n_after_v2", "n_inserted_v2", "n_inserted_v3")
    }),

    // SQL MERGE INTO through the catalog: the analyzed MergeIntoTable is
    // rewritten post-hoc (plans.ResolveStoreMerge) into the SAME
    // CustomerStoreApi.merge the API path runs — email-keyed upsert,
    // payload update + modified_ts touch keeping id/uploaded/created_ts,
    // identical matches untouched, unmatched inserts salvaged on id
    // conflict. Planted classes: %3==0 changed-phone updates, %3==1
    // identical, %10==0 fresh (+30M ids), %10==3 id-conflicts (stored
    // id, new email — must salvage away). REQUIREs: one staged commit,
    // a MERGE shape outside the contract (WHEN MATCHED DELETE) rejected
    // at analysis with NO commit, zero conflict emails in the table.
    // The statement returns the merge counters; post-state re-derived
    // from the STORE pins the effect, all oracle-checked.
    "pipeline_catalog_merge" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = baseCols(s, dir)
      withTempDir("graft-catmerge-") { tmp =>
        val path = FixtureStores.cloneInto(fullV1Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val updates = base.filter(col("id") % 3 === 0)
          .withColumn("phone", concat(lit("999-"), col("id")))
        val identical = base.filter(col("id") % 3 === 1)
        val fresh = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 30000000L)
          .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
        val conf = base.filter(col("id") % 10 === 3)
          .withColumn("email", concat(lit("conf"), col("id"), lit("@example.com")))
        updates.unionByName(identical).unionByName(fresh).unionByName(conf)
          .createOrReplaceTempView("graft_catalog_merge_src")
        val res = s.sql(
          s"""MERGE INTO graft_store.`$path` t USING graft_catalog_merge_src s
              ON t.email = s.email
              WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
                t.last_name = s.last_name, t.phone = s.phone
              WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
                VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
          .head()
        require(store.currentVersion() == 2L,
          "SQL MERGE must be exactly one staged commit")
        val rejected = try {
          s.sql(s"""MERGE INTO graft_store.`$path` t USING graft_catalog_merge_src s
                    ON t.email = s.email WHEN MATCHED THEN DELETE""")
          false
        } catch { case scala.util.control.NonFatal(_) => true }
        require(rejected, "a MERGE shape outside the store contract must be rejected")
        require(store.currentVersion() == 2L, "a rejected MERGE must not commit")
        // Conflicting duplicate source emails (same email, different
        // payloads — no ingest order to break the tie) must be rejected
        // like standard SQL MERGE, with no commit.
        updates.unionByName(updates.withColumn("phone", lit("888-dup")))
          .createOrReplaceTempView("graft_catalog_merge_dup")
        val dupRejected = try {
          s.sql(s"""MERGE INTO graft_store.`$path` t USING graft_catalog_merge_dup s
                    ON t.email = s.email
                    WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
                      t.last_name = s.last_name, t.phone = s.phone
                    WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone)
                      VALUES (s.id, s.first_name, s.last_name, s.email, s.phone)""")
          false
        } catch { case scala.util.control.NonFatal(_) => true }
        require(dupRejected,
          "conflicting duplicate source emails must be rejected (no deterministic winner)")
        require(store.currentVersion() == 2L,
          "a rejected duplicate-source MERGE must not commit")
        val st = store.all().localCheckpoint(true)
        val nTotal = st.count()
        val nPhone = st.filter(col("phone").startsWith("999-")).count()
        require(st.filter(col("email").startsWith("conf")).count() == 0L,
          "id-conflict inserts must salvage away")
        Seq((res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3),
            nTotal, nPhone))
          .toDF("n_updated", "n_inserted", "n_unchanged", "n_conflicts",
            "n_total_after", "n_phone_updated")
      }
    }),

    // DATA SKIPPING ON AN EVOLVED COLUMN: stats follow the schema.
    // Three id-block commits — block 1 BEFORE the column exists, blocks
    // 2/3 after, with disjoint planted tier ranges (id+10M / id+20M) —
    // then a connector read filtered to block 3's tier range. REQUIREs:
    // the kind='e' zone manifest prunes block 2's files while keeping
    // the no-coverage pre-evolution block (missing stats degrade to a
    // read, never a wrong answer), and the pruned files TRUNCATED TO
    // ZERO BYTES leave the result byte-identical — pruned files are
    // never opened. The filtered aggregate is oracle-pinned.
    "pipeline_evolved_skipping" -> ((s, dir) => {
      import s.implicits._
      withTempDir("graft-evoskip-") { tmp =>
        // The gate truncates files, so it owns a clone of the template.
        val path = FixtureStores.cloneInto(evoSkipTemplate(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val live = store.liveDataFiles()
        val physTier = graft.pipeline.CustomerStore.physicalMapAt(path)("tier")
        val kept = store.evolvedZoneKeepFiles(
          live.map(f => (f._1, f._2)), physTier, 20000000L, Long.MaxValue)
          .map(_._2).toSet
        require(kept.nonEmpty && kept.size < live.size,
          s"evolved zones must skip files (kept ${kept.size}/${live.size})")
        val pruned = live.map(_._2).filterNot(kept)
        require(pruned.nonEmpty, "block 2's files must be prunable")
        pruned.foreach(p => new java.io.FileOutputStream(p).close())
        val r = s.read.format("graft-store").option("path", path).load()
          .filter(col("tier") >= 20000000L)
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
            min(col("tier")).as("min_tier"), max(col("tier")).as("max_tier"))
          .head()
        Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toDF("n_rows", "id_sum", "min_tier", "max_tier")
      }
    }),

    // SQL MERGE WITH SCHEMA EVOLUTION: the statement's missing source
    // column rides Spark's own ResolveMergeIntoSchemaEvolution into
    // this catalog's alterTable (gated by the store table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability — the keyword alone does
    // nothing without it), so ONE statement = one ADD COLUMN schema
    // commit + one merge commit. Planted classes: %3==0 changed-phone
    // + tier, %3==1 TIER-ONLY difference (must count updated — the
    // round-15 detection extension: a batch-carried evolved diff
    // lands rather than silently dropping), %10==0 fresh (+30M ids,
    // even → all tier t0) with tier, %10==3 id-conflicts salvage
    // away. REQUIREs: the keyword-less statement fails analysis with
    // NO commit; versions pin v2=ADD v3=MERGE; tier is the appended
    // nullable string; pre-evolution untouched rows read NULL.
    "pipeline_catalog_merge_evolution" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = baseCols(s, dir)
      withTempDir("graft-catmevo-") { tmp =>
        val path = FixtureStores.cloneInto(fullV1Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val changed = base.filter(col("id") % 3 === 0)
          .withColumn("phone", concat(lit("999-"), col("id")))
        val tierOnly = base.filter(col("id") % 3 === 1)
        val fresh = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 30000000L)
          .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
        val conf = base.filter(col("id") % 10 === 3)
          .withColumn("email", concat(lit("conf"), col("id"), lit("@example.com")))
        changed.unionByName(tierOnly).unionByName(fresh).unionByName(conf)
          .withColumn("tier", concat(lit("t"), col("id") % 2))
          .createOrReplaceTempView("graft_catalog_mevo_src")
        // NB: the evolving UPDATE key is UNQUALIFIED (`tier`, not
        // `t.tier`) — Spark treats an assignment as a new-column copy
        // only when the key's name path EQUALS the source field path.
        def stmt(kw: String) =
          s"""MERGE $kw INTO graft_store.`$path` t USING graft_catalog_mevo_src s
              ON t.email = s.email
              WHEN MATCHED THEN UPDATE SET t.first_name = s.first_name,
                t.last_name = s.last_name, t.phone = s.phone, tier = s.tier
              WHEN NOT MATCHED THEN INSERT (id, first_name, last_name, email, phone, tier)
                VALUES (s.id, s.first_name, s.last_name, s.email, s.phone, s.tier)"""
        val rejected = try { s.sql(stmt("")); false }
          catch { case scala.util.control.NonFatal(_) => true }
        require(rejected && store.currentVersion() == 1L,
          "without the keyword an unknown column must fail analysis with no commit")
        val res = s.sql(stmt("WITH SCHEMA EVOLUTION")).head()
        require(store.currentVersion() == 3L,
          "evolution must be one ADD COLUMN commit + one merge commit")
        val tierField = store.tableSchema.fields.last
        require(tierField.name == "tier" && tierField.nullable &&
          tierField.dataType == org.apache.spark.sql.types.StringType,
          "tier must be the appended nullable string column")
        val st = store.all().localCheckpoint(true)
        require(st.filter(col("email").startsWith("conf")).count() == 0L,
          "id-conflict inserts must salvage away")
        Seq((res.getLong(0), res.getLong(1), res.getLong(2), res.getLong(3),
            st.count(), st.filter(col("tier") === "t0").count(),
            st.filter(col("tier") === "t1").count(),
            st.filter(col("tier").isNull).count()))
          .toDF("n_updated", "n_inserted", "n_unchanged", "n_conflicts",
            "n_total_after", "n_tier0", "n_tier1", "n_null_tier")
      }
    }),

    // DSv2 RUNTIME FILTERING (dynamic file pruning, SPARK-35779): a
    // broadcast join's build side delivers its join-key VALUES to the
    // store scan at execution time, and the scan re-plans its file set
    // through the same zone/bloom manifests as static pushdown — the
    // dimension's predicate (tag = 'a') is NOT expressible on the fact
    // side, so every skipped file is the RUNTIME filter's doing, the
    // case static pushdown can never serve. Store = 3 id-block commits
    // (zone-disjoint files); dim = a parquet table (file-backed so its
    // selective Filter survives to the DPP heuristic) whose 'a' rows
    // are exactly the third block. REQUIREs: Spark delivered runtime
    // predicates (JVM counter), the executed scan shows the In(id)
    // runtime filter, and files were actually skipped. At 100 TB this
    // is the join-driven partition elimination Iceberg/Delta serve.
    "pipeline_catalog_runtime_prune" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = baseCols(s, dir)
      withTempDir("graft-catrtf-") { tmp =>
        val path = blocks3Template(s, dir) // read-only: opened in place
        val (mn, mx) = base.agg(min(col("id")), max(col("id")))
          .as[(Long, Long)].head()
        val t1 = mn + (mx - mn) / 3
        val t2 = mn + 2 * (mx - mn) / 3
        val dimPath = s"$tmp/dim"
        base.filter(col("id") > t2).select(col("id").as("k"), lit("a").as("tag"))
          .unionByName(base.filter(col("id") <= t1)
            .select(col("id").as("k"), lit("b").as("tag")))
          .write.mode("overwrite").parquet(dimPath)
        graft.sources.ParquetGroups.read(s, dimPath).createOrReplaceTempView("graft_rtf_dim")
        val before = graft.sources.CustomerStoreScan.runtimePruneCalls.get()
        val q = s.sql(
          s"""SELECT /*+ BROADCAST(d) */ count(*) AS n_matched, sum(t.id) AS id_sum
              FROM graft_store.`$path` t JOIN graft_rtf_dim d ON t.id = d.k
              WHERE d.tag = 'a'""")
        val row = q.collect().head
        require(graft.sources.CustomerStoreScan.runtimePruneCalls.get() > before,
          "Spark did not deliver runtime join-key predicates to the store scan")
        val plan = q.queryExecution.executedPlan.toString()
        require(plan.contains("RuntimeFilters: [In(id"),
          "runtime In(id) filter missing from the executed scan")
        val filesRe = """files=(\d+)/(\d+)""".r
        val m = filesRe.findFirstMatchIn(plan).getOrElse(
          throw new IllegalStateException(s"no files=k/n in plan:\n$plan"))
        require(m.group(1).toInt < m.group(2).toInt,
          s"runtime prune skipped nothing: ${m.matched}")
        Seq((row.getLong(0), row.getLong(1))).toDF("n_matched", "id_sum")
      }
    }),

    // CHANGE DATA FEED through the connector (the table_changes read):
    // feedFrom/feedTo options serve the per-commit feed directories in
    // (from, to] — one input partition per commit, so a consumer's
    // catch-up read opens exactly its lag. REQUIREd: the full-range
    // read is row-identical to the API changeFeed() in both
    // directions, and the (1, 3] slice plans exactly the merge + ack
    // commits' dirs. The slice's per-type counts re-derive the shared
    // insert→merge→ack fixture arithmetic WITHOUT the v1 insert bulk —
    // only the merge's fresh block appears as insert.
    "pipeline_catalog_changes" -> ((s, dir) => {
      val path = mergeIMATemplate(s, dir) // read-only 3-commit template
      val store = new graft.pipeline.CustomerStore(s, path)
      def cdc(from: Long, to: Option[Long]) = {
        var r = s.read.format("graft-store").option("path", path)
          .option("feedFrom", from)
        to.foreach(t => r = r.option("feedTo", t))
        r.load()
      }
      val full = cdc(0L, None)
      require(graft.util.MultisetEq(full, store.changeFeed()),
        "connector feed read diverged from the API changeFeed")
      val slice = cdc(1L, Some(3L))
      require(slice.rdd.getNumPartitions == 2,
        "the (1,3] slice must plan exactly the two commits' feed dirs")
      slice.groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_changes"), sum(col("id")).as("id_sum"))
        .orderBy(col("change_type"))
    }),

    // SQL STORED PROCEDURES (DSv2 ProcedureCatalog, SPARK-44167): the
    // store's maintenance verbs as CALL statements, each routing to
    // the SAME CustomerStore op as the API — compact materializes the
    // SQL DELETE's vectors (one commit, REQUIREd zero live after),
    // restore rolls back to v1 across the compact (the feed is
    // complete, so the composition works), snapshot checkpoints, and
    // vacuum retires pre-snapshot feed dirs (REQUIREd > 0) without
    // touching the live read. Version numbers are part of the oracle:
    // the whole maintenance history is deterministic.
    "pipeline_catalog_procedures" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = baseCols(s, dir)
      withTempDir("graft-catproc-") { tmp =>
        val path = FixtureStores.cloneInto(fullV1Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val nBefore = store.all().count()
        val (mn, mx) = base.agg(min(col("id")), max(col("id")))
          .as[(Long, Long)].head()
        val lo = mn + (mx - mn) / 4
        val hi = mn + (mx - mn) / 2
        s.sql(s"DELETE FROM graft_store.`$path` WHERE id >= $lo AND id < $hi")
        val nAfterDelete = store.all().count()
        val c = s.sql(s"CALL graft_store.compact('$path')").collect().head
        require(c.getLong(1) == 0L,
          "CALL compact must drive live deletion vectors to zero")
        val vCompact = c.getLong(0)
        val nAfterCompact =
          s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        val vRestore = s.sql(s"CALL graft_store.restore('$path', 1)")
          .collect().head.getLong(0)
        val nAfterRestore =
          s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        val vSnap = s.sql(s"CALL graft_store.snapshot('$path')")
          .collect().head.getLong(0)
        require(s.sql(s"CALL graft_store.vacuum('$path')")
          .collect().head.getLong(0) > 0L,
          "vacuum after a snapshot must retire feed dirs")
        require(store.all().count() == nAfterRestore,
          "maintenance must not change the live data")
        Seq((nBefore, nAfterDelete, nAfterCompact, nAfterRestore,
            vCompact, vRestore, vSnap))
          .toDF("n_before", "n_after_delete", "n_after_compact",
            "n_after_restore", "v_compact", "v_restore", "snapshot_version")
      }
    }),

    // AGGREGATE PUSHDOWN through the catalog: unfiltered COUNT(*)/
    // MIN(id)/MAX(id) answer from the ZONE MANIFEST alone (the
    // metadata-only-count shape every table format serves). The gate
    // proves the physical claim the hard way: after the pushdown leg
    // runs, EVERY data file is truncated to zero bytes and the same
    // query must return the same row — nothing was opened. A sum(id)
    // leg (not manifest-derivable) runs BEFORE truncation and REQUIREs
    // the data path was taken (no PushedAggregates in its plan), so
    // both sides of the exactness boundary are pinned. At 100 TB this
    // is the difference between a catalog lookup and a table scan.
    "pipeline_catalog_agg_pushdown" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      withTempDir("graft-catagg-") { tmp =>
        // Clone: the truncation pin destroys the copy's data files.
        val path = FixtureStores.cloneInto(halves2Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val qSum = s.sql(s"SELECT sum(id) AS id_sum FROM graft_store.`$path`")
        val idSum = qSum.collect().head.getLong(0)
        require(!qSum.queryExecution.executedPlan.toString().contains("PushedAggregates"),
          "sum(id) is not manifest-derivable and must take the data path")
        val q1 = s.sql(s"SELECT count(*) AS n_rows, min(id) AS min_id, " +
          s"max(id) AS max_id FROM graft_store.`$path`")
        val r1 = q1.collect().head
        require(q1.queryExecution.executedPlan.toString().contains("PushedAggregates"),
          "COUNT/MIN/MAX over the clean store must push to the manifest")
        // The physical pin: zero-byte every data file (ABSOLUTE paths —
        // basenames would resolve against the CWD and pin nothing),
        // ask again.
        val pinned = store.pendingDataFilePaths()
        require(pinned.nonEmpty &&
          pinned.forall(p => new java.io.File(p).isAbsolute),
          "truncation pin needs absolute data-file paths")
        pinned.foreach(p => new java.io.FileOutputStream(p).close())
        require(pinned.forall(p => new java.io.File(p).length() == 0L),
          "truncation pin did not reach the real data files")
        val r2 = s.sql(s"SELECT count(*) AS n_rows, min(id) AS min_id, " +
          s"max(id) AS max_id FROM graft_store.`$path`").collect().head
        require(r1 == r2,
          "manifest-only aggregates changed after data-file truncation — " +
            "a data file was opened")
        Seq((r2.getLong(0), r2.getLong(1), r2.getLong(2), idSum))
          .toDF("n_rows", "min_id", "max_id", "id_sum")
      }
    }),

    // PARTITION-GROUPED aggregate pushdown: GROUP BY uploaded COUNT/
    // MIN/MAX(id) is zone-manifest-derivable PER PARTITION DIRECTORY
    // (uploaded IS the partition), so the whole aggregation — groups
    // included — answers from the manifest with no data file opened
    // and no final re-aggregation (complete pushdown). Store = the
    // shared 3-commit insert→merge→ack history cloned (both partitions
    // populated, no deletion vectors). REQUIREs: the plan shows the
    // pushed group, a filtered grouped aggregate refuses (data path),
    // and the truncation pin — every LIVE data file zero-byted, same
    // rows back. The oracle re-derives both groups from the planted
    // %-of-custkey arithmetic.
    "pipeline_catalog_agg_grouped" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      withTempDir("graft-cataggrp-") { tmp =>
        // Clone: the truncation pin destroys the copy's data files.
        val path = FixtureStores.cloneInto(mergeIMATemplate(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        def grouped() = s.sql(
          s"""SELECT uploaded, count(*) AS n_rows, min(id) AS min_id,
                max(id) AS max_id
              FROM graft_store.`$path` GROUP BY uploaded ORDER BY uploaded""")
        val q1 = grouped()
        val r1 = q1.collect().toSeq
        val plan = q1.queryExecution.executedPlan.toString()
        require(plan.contains("PushedAggregates") &&
            plan.contains("PushedGroupBy: [uploaded]"),
          s"grouped aggregation was not pushed to the manifest scan:\n$plan")
        // A NON-PARTITION filter makes per-group manifest sums inexact —
        // the grouped consult must refuse and take the data path.
        val qf = s.sql(
          s"""SELECT uploaded, count(*) AS n FROM graft_store.`$path`
              WHERE phone LIKE '999%' GROUP BY uploaded""")
        qf.collect(): Unit
        require(!qf.queryExecution.executedPlan.toString().contains("PushedAggregates"),
          "a non-partition-filtered grouped aggregate must refuse the manifest shortcut")
        // The PARTITION predicate stays manifest-exact: the work-queue
        // COUNT (WHERE uploaded = false) pushes and must equal the
        // grouped read's pending row.
        val qp = s.sql(
          s"SELECT count(*) AS n FROM graft_store.`$path` WHERE uploaded = false")
        val nPendPushed = qp.collect().head.getLong(0)
        val pPlan = qp.queryExecution.executedPlan.toString()
        require(pPlan.contains("PushedAggregates") &&
            pPlan.contains("PushedFilters: [EqualTo(uploaded,false)]"),
          s"the partition-filtered work-queue COUNT must push to the manifest:\n$pPlan")
        require(nPendPushed == r1.head.getLong(1),
          "filtered manifest count diverged from the grouped pending row")
        // The physical pin: zero-byte every LIVE data file (both
        // partitions), ask again — nothing may be opened.
        val pinned = store.liveDataFiles().map(_._2)
        require(pinned.nonEmpty &&
          pinned.forall(p => new java.io.File(p).isAbsolute),
          "truncation pin needs absolute data-file paths")
        pinned.foreach(p => new java.io.FileOutputStream(p).close())
        require(pinned.forall(p => new java.io.File(p).length() == 0L),
          "truncation pin did not reach the real data files")
        require(grouped().collect().toSeq == r1,
          "grouped manifest aggregates changed after data-file truncation — " +
            "a data file was opened")
        r1.map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toDF("uploaded", "n_rows", "min_id", "max_id")
          .orderBy(col("uploaded"))
      }
    }),

    // SQL UPDATE through the catalog: SET over the payload columns with
    // an arbitrary WHERE, routed through the SAME merge as the API and
    // MERGE INTO paths (batch = snapshot ⋅ WHERE ⋅ SET expressions, so
    // nothing needs to be pushable — this is a read + one staged merge
    // commit, never a rewrite). REQUIREs: one commit, the idempotency
    // contract (SET phone = phone matches everything, updates nothing,
    // commits nothing), and key/meta assignments (email) rejected at
    // analysis with no commit.
    "pipeline_catalog_update" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      withTempDir("graft-catupd-") { tmp =>
        val path = FixtureStores.cloneInto(fullV1Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val res = s.sql(
          s"""UPDATE graft_store.`$path`
              SET phone = concat('999-', id) WHERE id % 4 = 1""").head()
        require(store.currentVersion() == 2L,
          "SQL UPDATE must be exactly one staged commit")
        val res2 = s.sql(
          s"UPDATE graft_store.`$path` SET phone = phone WHERE id % 4 = 1").head()
        require(res2.getLong(0) == 0L && res2.getLong(1) == 0L,
          "a value-identical UPDATE must update nothing (merge idempotency)")
        val vAfterNoop = store.currentVersion()
        val rejected = try {
          s.sql(s"UPDATE graft_store.`$path` SET email = 'x@example.com' WHERE id = 1")
          false
        } catch { case scala.util.control.NonFatal(_) => true }
        require(rejected, "assigning the email merge key must be rejected")
        require(store.currentVersion() == vAfterNoop,
          "a rejected UPDATE must not commit")
        val st = store.all().localCheckpoint(true)
        val nPhone = st.filter(col("phone").startsWith("999-")).count()
        Seq((res.getLong(0), res.getLong(2), res2.getLong(2), nPhone, st.count()))
          .toDF("n_updated", "n_unchanged", "n_noop_unchanged",
            "n_phone_after", "n_total")
      }
    }),

    // SQL DELETE through the catalog (SupportsDelete): the row-level
    // mutation face of the store's deletion vectors. A zone-prunable
    // range delete (id ∈ [quartile, half)) and a bloom-prunable point
    // delete (email equality) each stage exactly ONE deletion-vector
    // commit — REQUIREd: version +1 per statement, the live data-file
    // set untouched (merge-on-read, never a rewrite), live vectors > 0
    // after. A NON-translatable predicate (id % 7 = 0) must be
    // rejected at plan time with NO commit — the no-silent-full-scan
    // contract that keeps SQL DELETE metadata-scale at 100 TB. VERSION
    // AS OF 1 still reads the pre-delete snapshot, and the catalog
    // count stays identical to the API read at every step.
    "pipeline_catalog_delete" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val base = baseCols(s, dir)
      withTempDir("graft-catdel-") { tmp =>
        val path = FixtureStores.cloneInto(fullV1Template(s, dir), tmp)
        val store = new graft.pipeline.CustomerStore(s, path)
        val nBefore = store.all().count()
        val filesBefore = store.pendingDataFiles().toSet
        val (mn, mx) = base.agg(min(col("id")), max(col("id")))
          .as[(Long, Long)].head()
        val lo = mn + (mx - mn) / 4
        val hi = mn + (mx - mn) / 2
        s.sql(s"DELETE FROM graft_store.`$path` WHERE id >= $lo AND id < $hi")
        require(store.currentVersion() == 2L,
          "SQL range DELETE must be exactly one staged commit")
        require(store.pendingDataFiles().toSet == filesBefore,
          "SQL DELETE rewrote data files — merge-on-read contract broken")
        val nAfterRange =
          s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        s.sql(s"DELETE FROM graft_store.`$path` WHERE email = 'u$mn@example.com'")
        require(store.currentVersion() == 3L,
          "SQL point DELETE must be exactly one staged commit")
        val nAfterPoint =
          s.sql(s"SELECT count(*) FROM graft_store.`$path`").head().getLong(0)
        val rejected =
          try { s.sql(s"DELETE FROM graft_store.`$path` WHERE id % 7 = 0"); false }
          catch { case scala.util.control.NonFatal(_) => true }
        require(rejected, "non-translatable DELETE predicate must be rejected")
        require(store.currentVersion() == 3L,
          "a rejected DELETE must not commit anything")
        val (_, liveVectors) = store.deletionVectorStats()
        require(liveVectors > 0L,
          "SQL DELETE must stage deletion vectors, not rewrite rows")
        require(nAfterPoint == store.all().count(),
          "catalog count diverged from the API read after SQL DELETE")
        val nAsOf1 = s.sql(
          s"SELECT count(*) FROM graft_store.`$path` VERSION AS OF 1")
          .head().getLong(0)
        require(nAsOf1 == nBefore,
          "VERSION AS OF 1 must still read the pre-delete snapshot")
        Seq((nBefore, nBefore - nAfterRange, nAfterRange, nAfterPoint))
          .toDF("n_before", "n_deleted_range", "n_after_range", "n_after_point")
      }
    }),

    // Two-table CBO consult: |store ⋈ batch| on the id key estimated
    // from the manifest KMV samples alone (store side: exact re-trim
    // of the per-file bottom-k manifests, no data file opened — the
    // truncation pin lives in StoreStatsSpec; batch side: one bounded
    // sketch pass with the same engine-neutral md5-word hash). The
    // planted batch half-overlaps the store (even custkeys) and adds
    // a disjoint +30M block, so the estimator must see a genuine
    // partial intersection; the REQUIRE bounds the estimate against
    // the true join count within 15% of the estimated union — the
    // accuracy a join-order decision actually needs. The oracle
    // recomputes the entire estimator (samples, merged bottom-k,
    // union and intersection estimates) from the same integer
    // arithmetic, so the sketch STATE is cross-engine exact, not just
    // plausible.
    "pipeline_join_estimate" -> ((s, dir) => {
      import s.implicits._
      val path = mergeIMATemplate(s, dir) // read-only 3-commit template
      val store = new graft.pipeline.CustomerStore(s, path)
      val base = baseCols(s, dir)
      val batchIds = base.filter(col("id") % 2 === 0).select(col("id"))
        .unionByName(base.filter(col("id") % 3 === 0)
          .select((col("id") + 30000000L).as("id")))
      val (est, unionEst, k) = store.estimateJoinOnId(batchIds)
      val exact = store.all().select(col("id"))
        .join(batchIds, Seq("id"), "left_semi").count()
      require(math.abs(est - exact) * 100L <= unionEst * 15L,
        s"join estimate $est vs exact $exact drifted past 15% of union $unionEst")
      Seq((est, exact, unionEst, k))
        .toDF("est_rows", "exact_rows", "union_est", "sample_k")
    }),

    // MERGE-ON-READ DELETE via deletion vectors (the Delta/Iceberg
    // row-level-delete shape): a delete commit stages ONLY (file,
    // email) tombstone rows + delete_pre retraction feed rows — no
    // data file is touched (REQUIREd by comparing the live file set
    // across the commit). Readers anti-join the vectors; a later
    // insert of the same key lands in a new file the FILE-scoped
    // vector cannot hide; time travel sees pre-delete versions intact
    // and post-delete versions tombstoned; compaction materializes
    // the deletes and drives the live-vector count to zero (REQUIREd).
    // The weighted feed replay (+1 post, −1 _pre — no delete-specific
    // consumer code) must equal the live count at every step.
    "pipeline_delete_vectors" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      withTempDir("graft-delvec-") { tmp =>
        // Clone of the full-insert v1 layer; delete/reinsert/compact
        // mutate the copy.
        val store = cloneStore(s, fullV1Template(s, dir), tmp)
        val nBefore = store.pending().count()
        val filesBefore = store.pendingDataFiles().toSet
        val nDeleted = store.delete(
          base.filter(col("id") % 7 === 0).select(col("email"))) // v2
        require(store.pendingDataFiles().toSet == filesBefore,
          "delete rewrote data files — merge-on-read contract broken")
        val nAfterDelete = store.all().count()
        // Re-insert the smallest deleted email under a fresh id (v3):
        // visible again despite the tombstone (file-scoped vectors).
        val m = base.filter(col("id") % 7 === 0).agg(min(col("id"))).head().getLong(0)
        store.insertNew(Ingest.enrich(
          base.filter(col("id") === m).withColumn("id", col("id") + 50000000L)))
        val nAfterReinsert = store.all().count()
        val nAsOf1 = store.asOf(1).count()
        val nAsOf2 = store.asOf(2).count()
        // Feed replay parity at the current state.
        val weighted = store.changeFeed()
          .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
          .agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
        require(weighted == nAfterReinsert,
          s"feed replay $weighted != live count $nAfterReinsert")
        store.compact() // v4: materialize
        val (_, liveVectors) = store.deletionVectorStats()
        require(liveVectors == 0L,
          s"compaction left $liveVectors live deletion-vector rows")
        val nAfterCompact = store.all().count()
        Seq((nBefore, nDeleted, nAfterDelete, nAfterReinsert,
            nAsOf1, nAsOf2, nAfterCompact))
          .toDF("n_before", "n_deleted", "n_after_delete", "n_after_reinsert",
            "n_asof_v1", "n_asof_v2", "n_after_compact")
      }
    }),

    // CHECK-constraint enforcement at the store commit boundary (the
    // Delta-style table-constraint surface; see pipeline.Constraints):
    // a batch with planted violations — negative ids (k % 97),
    // at-stripped emails (k % 89), empty phones (k % 83), keyed on the
    // ORIGINAL custkey so overlapping plants stay deterministic — is
    // split before the staged commit; valid rows commit to a real
    // CustomerStore, rejects carry their first-declared-violation
    // reason. The oracle re-derives every per-reason count AND the
    // committed (count, id-sum) from the same arithmetic, and a
    // REQUIRE re-checks the constraints over the store's post-commit
    // state — table data can never contain a violation, not merely
    // "the counts look right". Enforcement is one projection over the
    // batch (no shuffle); at 100 TB it rides the ingest scan.
    "pipeline_constraints" -> ((s, dir) => {
      val k = col("k")
      val raw = customerFixture(s, dir)
        .select(col("c_custkey").as("k"))
        .select(k,
          when(k % 97 === 0, -k).otherwise(k).as("id"),
          concat(lit("f"), k).as("first_name"),
          concat(lit("l"), k).as("last_name"),
          when(k % 89 === 0, concat(lit("u"), k, lit("_at_example.com")))
            .otherwise(concat(lit("u"), k, lit("@example.com"))).as("email"),
          when(k % 83 === 0, lit("")).otherwise(concat(lit("555-"), k)).as("phone"))
      val checks = Seq(
        graft.pipeline.CheckConstraint("chk_email_has_at", col("email").like("%@%")),
        graft.pipeline.CheckConstraint("chk_id_positive", col("id") > 0),
        graft.pipeline.CheckConstraint("chk_phone_nonempty", length(col("phone")) > 0))
      val (valid, rejected) = graft.pipeline.Constraints.enforce(raw, checks)
      withTempDir("graft-constraints-") { tmp =>
        val store = new graft.pipeline.CustomerStore(s, s"$tmp/store")
        store.insertNew(Ingest.enrich(valid.drop("k")))
        // The committed row is derived from the STORE's state, and the
        // constraints re-checked over it — the invariant, not the plan.
        val pending = store.pending()
        require(pending
            .withColumn("_v", graft.pipeline.Constraints.violation(checks))
            .filter(col("_v").isNotNull).count() == 0L,
          "constraint violation observed in committed table data")
        val committed = pending
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
          .withColumn("reason", lit("committed"))
        val rej = rejected.groupBy(col("_violation").as("reason"))
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("id_sum"))
        committed.select(col("reason"), col("n_rows"), col("id_sum"))
          .unionByName(rej.select(col("reason"), col("n_rows"), col("id_sum")))
          .orderBy(col("reason"))
          .localCheckpoint(true)
      }
    }),

    // The identical cycle against the JDBC backend (embedded Derby —
    // the reference's actual sink shape: transactional batch INSERT
    // with per-row salvage, indexed pending scan, keyed UPDATE). Same
    // oracle: the two store implementations are interchangeable under
    // the CustomerStoreApi contract, and this pair of queries pins it.
    "pipeline_workqueue_jdbc" -> ((s, dir) =>
      workqueueCycle(s, dir)(tmp =>
        new graft.pipeline.JdbcCustomerStore(s, s"jdbc:derby:$tmp/cust;create=true"))),

    // Point reads THROUGH the store's per-commit skipping stats: four
    // insert commits (id-range slices, one pending file each under
    // AQE) build a multi-file pending partition whose email bloom
    // manifest is maintained INCREMENTALLY (each commit stages its own
    // files' filters and promotes them with the same atomic rename —
    // never rebuilt per query); a 2-email point lookup must open only
    // may-contain files, and the ack that follows must rewrite only
    // the touched files (file-level commit, untouched pending files
    // survive in place) — both REQUIREd, so a manifest or commit-shape
    // regression fails the round even though the counts would still be
    // right. The 1/7- and 5/7-quantile keys land in range slices 0 and
    // 2 at EVERY SF, so the two touched files are always distinct.
    // Bloom geometry is data-driven (~16 bits per key per file, like
    // layout_bloom_skipping) so the filter cannot saturate as the SF
    // grows.
    "pipeline_bloom_pointread" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val mm = base.agg(min("id"), max("id")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val ks = Seq(1L, 5L).map(j => mn + (mx - mn) * j / 7)
      val keys = ks.map(k => s"u$k@example.com")
      // The 4-slice store (its data-driven bloom geometry rides the
      // template key's dir) is a template; the ack mutates a clone.
      // bloomBits only matters at COMMIT time — the probe reads the
      // staged nbits from the manifest.
      val (tmpl, bits) = bloom4Template(s, dir)
      val out = withTempDir("graft-bloomread-") { tmp =>
        val store = new graft.pipeline.CustomerStore(s,
          FixtureStores.cloneInto(tmpl, tmp), bloomBits = bits)
        val (rows, nRead, nTotal) = store.pendingPointLookup(keys)
        require(nTotal >= 4, s"expected >=4 pending files, got $nTotal")
        require(nRead < nTotal,
          s"store bloom manifest skipped nothing ($nRead of $nTotal files)")
        val found = rows.agg(count(lit(1)), sum(col("id"))).head()
        val before = store.pendingDataFiles().toSet
        store.markUploaded(keys.toDF("email"))
        val after = store.pendingDataFiles().toSet
        require((before -- after).size <= keys.size,
          s"ack rewrote ${(before -- after).size} files for ${keys.size} acked " +
            "keys — the file-level commit contract is broken")
        val up = store.all().filter(col("uploaded"))
          .agg(count(lit(1)), sum(col("id"))).head()
        (found.getLong(0), found.getLong(1), store.pending().count(),
          up.getLong(0), up.getLong(1))
      }
      Seq(out).toDF("n_found", "sum_found_id", "n_pending_after",
        "n_uploaded", "sum_uploaded_id")
    }),

    // The store served through its DataSource V2 connector
    // (sources.CustomerStoreSource, format "graft-store") — the
    // SQL-addressable face of the table: a full catalog read must be
    // row-identical to the API read (deletion-vector and partition
    // semantics included), an id-range + partition filter must reach
    // the scan as PushedFilters AND zone/partition-prune files (the
    // scan description's files=k/n is REQUIREd k<n), an email point
    // lookup must bloom-prune files, and versionAsOf must reconstruct
    // exactly what the API's asOf serves. Planning consults only
    // manifests — the files-before-bytes discipline that makes the
    // 100 TB scan open the files the query needs and nothing else.
    "pipeline_catalog_read" -> ((s, dir) => {
      import s.implicits._
      val path = mergeIMATemplate(s, dir) // read-only 3-commit template
      val store = new graft.pipeline.CustomerStore(s, path)
      def cat(opts: (String, String)*): DataFrame = {
        val r = s.read.format("graft-store").option("path", path)
        opts.foreach { case (k, v) => r.option(k, v): Unit }
        r.load()
      }
      def filesKeptTotal(df: DataFrame): (Int, Int) = {
        val plan = df.queryExecution.executedPlan.toString()
        require(plan.contains("PushedFilters: ["), s"no pushdown in plan:\n$plan")
        val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        require(m.isDefined, s"no files=k/n in plan:\n$plan")
        (m.get.group(1).toInt, m.get.group(2).toInt)
      }
      // 1. Full catalog read ≡ API read.
      val full = cat()
      require(graft.util.MultisetEq(full, store.all()),
        "catalog full read diverged from store.all()")
      // One aggregate answers both counts (r16; one catalog scan).
      val totUp = full.agg(count(lit(1)),
        coalesce(sum(when(col("uploaded"), 1L).otherwise(0L)), lit(0L))).head()
      val (nTotal, nUploaded) = (totUp.getLong(0), totUp.getLong(1))
      // 2. Quartile id-range over the pending partition: pushed +
      // file-pruned (the merge's +20M fresh file must zone-skip).
      val mm = baseCols(s, dir).agg(min("id"), max("id")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
      val ranged = cat().filter(col("id").between(lo, hi) &&
        col("uploaded") === false)
      val (kR, nR) = filesKeptTotal(ranged)
      require(kR < nR, s"range read skipped nothing ($kR/$nR files)")
      val rr = ranged.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
      // 3. Email point lookup: bloom-pruned.
      val ks = Seq(1L, 5L).map(j => mn + (mx - mn) * j / 7)
      val probe = cat().filter(col("email").isin(ks.map(k => s"u$k@example.com"): _*))
      val (kB, nB) = filesKeptTotal(probe)
      require(kB < nB, s"point lookup skipped nothing ($kB/$nB files)")
      val pr = probe.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head()
      // 4. Time travel through the connector ≡ asOf.
      val asof2 = cat("versionAsOf" -> "2")
      require(graft.util.MultisetEq(asof2, store.asOf(2L)),
        "catalog versionAsOf=2 diverged from store.asOf(2)")
      Seq((nTotal, nUploaded, nTotal - nUploaded,
          rr.getLong(0), rr.getLong(1), pr.getLong(0), pr.getLong(1),
          cat("versionAsOf" -> "1").count(), asof2.count()))
        .toDF("n_total", "n_uploaded", "n_pending", "n_in_range",
          "id_sum_in_range", "n_found", "sum_found_id", "n_asof_v1", "n_asof_v2")
    }),

    // MERGE INTO on the email natural key (update-matched +
    // insert-new, the state-table operation the reference's
    // INSERT-only path stops short of) against the parquet
    // staged-commit store, with planted matched-changed /
    // matched-identical / new / id-conflicting rows. Every count
    // derives from the customer table; the id-conflict rows must
    // vanish without a trace.
    "pipeline_merge_upsert" -> ((s, dir) =>
      mergeCycle(s, dir)(tmp => new graft.pipeline.CustomerStore(s, s"$tmp/store"))),

    // The identical merge cycle against the JDBC backend (Derby
    // UPDATE-keyed-on-email + salvaged batch INSERT): the two store
    // implementations stay interchangeable under the merge contract.
    "pipeline_merge_jdbc" -> ((s, dir) =>
      mergeCycle(s, dir)(tmp =>
        new graft.pipeline.JdbcCustomerStore(s, s"jdbc:derby:$tmp/cust;create=true"))),

    // The store's change data feed, driver-gated: run the full
    // mutation cycle (insert the base, merge the planted traffic, ack
    // a third slice) against a real parquet store and aggregate the
    // committed feed per change kind. The feed rows are staged inside
    // the same commit directory as the data and promoted by the same
    // atomic rename (atomicity pinned by CrashRecoverySpec), so this
    // pins exactly-once CDC emission end-to-end: insert = base +
    // merge-inserted (id-conflict rows emit NOTHING — they were never
    // committed), update = changed-payload matches only (identical
    // matches emit nothing), ack = the flipped rows.
    "pipeline_merge_changelog" -> ((s, dir) => {
      import s.implicits._
      // Read-only aggregation of the SHARED 3-commit fixture's feed —
      // the identical insert→merge→ack history it used to rebuild.
      val store = sharedMergeStore(s, dir)
      val out = store.changeFeed()
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_changes"), sum(col("id")).as("id_sum"))
        .orderBy(col("change_type"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      out.toDF("change_type", "n_changes", "id_sum")
        .orderBy(col("change_type"))
    }),

    // SCD TYPE 2 dimension derived from the change feed — the classic
    // warehouse consumption of CDC: each post-image (insert / update /
    // ack) opens a validity interval at its commit version; the next
    // change to the same email closes it (lead over the key's feed
    // history). Emits current/closed row counts, identity sums, and
    // closed-interval spans per change kind, all re-derivable from the
    // planted %-of-custkey arithmetic of the shared insert→merge→ack
    // fixture. Scale: ONE window shuffle partitioned by the natural
    // key over the FEED (the retained change mass), never a table
    // rescan — at 100 TB the dimension build cost tracks the churn,
    // and an incremental rebuild would feed feedSince() through the
    // same window.
    "pipeline_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val store = sharedMergeStore(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("email")).orderBy(col("valid_from"))
      val out = store.changeFeed()
        .filter(!col("change_type").endsWith("_pre"))
        .select(col("email"), col("id"), col("change_type"),
          col("commit_version").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .groupBy(
          when(col("valid_to").isNull, lit("current"))
            .otherwise(lit("closed")).as("state"),
          col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("id")).as("id_sum"),
          sum(coalesce(col("valid_to") - col("valid_from"), lit(0L)))
            .as("span_sum"))
        .orderBy(col("state"), col("change_type"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      out.toDF("state", "change_type", "n_rows", "id_sum", "span_sum")
        .orderBy(col("state"), col("change_type"))
    }),

    // SHALLOW CLONE (zero-copy table fork), driver-gated end to end:
    // fork the 3-commit fixture, REQUIRE every forked parquet is a
    // hard link (no data byte copied — the Delta/Iceberg clone cost
    // law, realized as inode sharing on a local filesystem), prove the
    // fork carries the full lineage (asOf v1 + the complete feed),
    // then mutate BOTH sides with disjoint ack slices — the outputs
    // only match the oracle if neither side's commit leaked across
    // the fork. At 100 TB the clone costs O(file count) metadata
    // writes; experimentation on a production table becomes free.
    "pipeline_clone_divergence" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withTempDir("graft-clone-gate-") { tmp =>
        val src = cloneStore(s, mergeIMATemplate(s, dir), tmp)
        val forked = s"$tmp/fork"
        val vAtFork = src.cloneTo(forked)
        val cl = new graft.pipeline.CustomerStore(s, forked)
        // Zero-copy pinned: every forked parquet shares its inode.
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(forked))
        val linked =
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
          } finally walk.close()
        require(linked.nonEmpty && linked.forall(p =>
            java.nio.file.Files.getAttribute(p, "unix:nlink")
              .asInstanceOf[Number].intValue >= 2),
          "clone gate: a forked parquet was copied, not hard-linked")
        val nAsOf1 = cl.asOf(1L).count()
        val feedAtFork = cl.changeFeed().count()
        // Disjoint divergence: %7 ack on the clone, %11 ack on the
        // source (both minus the already-acked %5 slice).
        cl.markUploaded(base.filter(col("id") % 7 === 0 && col("id") % 5 =!= 0)
          .select(col("email")))
        src.markUploaded(base.filter(col("id") % 11 === 0 && col("id") % 5 =!= 0)
          .select(col("email")))
        (vAtFork, nAsOf1, feedAtFork,
          src.all().filter(col("uploaded")).count(),
          cl.all().filter(col("uploaded")).count(),
          src.all().count(), cl.all().count(),
          src.currentVersion(), cl.currentVersion())
      }
      Seq(out).toDF("v_at_fork", "n_asof1_clone", "feed_rows_at_fork",
        "n_uploaded_src", "n_uploaded_clone", "n_total_src",
        "n_total_clone", "v_src_after", "v_clone_after")
    }),

    // PURGE (right-to-be-forgotten), driver-gated end to end: erase
    // the %13 key slice from the 3-commit store — live data via a
    // feed-SILENT file-level PURGE commit, every retained feed commit
    // rewritten in place — then prove NO read path can see the keys
    // again: the live table, the full feed, and BOTH time-travel
    // replays are re-derived by the oracle with the slice subtracted
    // from the planted arithmetic. A feed row that survived excision,
    // a resurrected live row, or a purge that leaked into the feed
    // all hash-fail. At 100 TB the rewrite cost is ∝ files actually
    // containing the keys (probe scan per artifact family).
    "pipeline_purge_erasure" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withTempDir("graft-purge-gate-") { tmp =>
        val store = cloneStore(s, mergeIMATemplate(s, dir), tmp)
        val keys = base.filter(col("id") % 13 === 0)
          .select(col("email")).collect().map(_.getString(0)).toSeq
        val (nLive, nFeed, nSnap, nDv) = store.purgeEmails(keys)
        require(nSnap == 0L && nDv == 0L,
          "template has no snapshots or vectors — purge reported some")
        // One aggregate over the live table answers all three live
        // figures (r16) — no checkpoint, no per-figure rescans.
        val liveAgg = store.all().agg(count(lit(1)), sum(col("id")),
          sum(when(col("uploaded"), 1L).otherwise(0L))).head()
        (nLive, nFeed, store.currentVersion(),
          liveAgg.getLong(0), liveAgg.getLong(1), liveAgg.getLong(2),
          store.changeFeed().count(),
          store.asOf(1L).count(), store.asOf(2L).count())
      }
      Seq(out).toDF("n_live_excised", "n_feed_excised", "v_after",
        "n_rows", "id_sum", "n_uploaded", "n_feed_rows",
        "n_asof1", "n_asof2")
    }),

    // GENERATED columns end to end: band = id%7 + ascii(first phone
    // char) is COMPUTED by the store at every write — the fresh block
    // lands it without carrying the column, and the %3 merge flips the
    // phone prefix 555→999 so the update leg must RECOMPUTE (53→57)
    // while untouched base rows stay pre-evolution NULL (no backfill,
    // Delta's contract). Live table AND the CDC post-/pre-images are
    // banded against the oracle's re-derivation — a stale band, a
    // backfilled row, or a feed image with the wrong generation all
    // hash-fail. Skipping: numeric generated columns ride the evolved
    // zone stats, so a derived partition key prunes like any column.
    "pipeline_generated_column" -> ((s, dir) => {
      import s.implicits._
      val store = new graft.pipeline.CustomerStore(s, genIMATemplate(s, dir))
      val live = store.all()
        .groupBy(coalesce(col("band"), lit(-1L)).as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
        .withColumn("src", lit("live"))
      val feed = store.changeFeed()
        .groupBy(concat(lit("feed_"), col("change_type")).as("src"),
          coalesce(col("band"), lit(-1L)).as("band"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
      val out = live.select("src", "band", "n_rows", "id_sum")
        .unionByName(feed.select("src", "band", "n_rows", "id_sum"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.toDF("src", "band", "n_rows", "id_sum")
        .orderBy(col("src"), col("band"))
    }),

    // The incremental CDC consumer: the change-feed directory consumed
    // AS A STREAM (file source over _changelog, raw passthrough to a
    // parquet sink) in TWO checkpointed AvailableNow runs — the first
    // after insert+merge, the second after the ack commit. The source
    // log must deliver each commit's files exactly once across the
    // restart, so the sink aggregate equals the batch feed aggregate
    // (same oracle arithmetic as pipeline_merge_changelog) — the
    // downstream-materialization shape CDC exists for.
    "streaming_cdc_resume" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withStreamTempDir(s, "graft-cdc-stream-") { (s, tmp) =>
        // Clone of the insert+merge layer: the ack commit must land
        // while the stream is down, so the gate owns a mutable copy.
        val store = cloneStore(s, mergeIMTemplate(s, dir), tmp)
        val feedSchema = store.changeFeed().schema
        def consume(): Unit =
          // One directory per commit under _changelog — the glob picks
          // up every commit's files as they land.
          s.readStream.schema(feedSchema).parquet(s"$tmp/store/_changelog/*")
            .writeStream.format("parquet")
            .option("path", s"$tmp/sink")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
        consume()
        store.markUploaded(
          base.filter(col("id") % 5 === 0).select(col("email")))
        consume()
        s.read.schema(feedSchema).parquet(s"$tmp/sink")
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_changes"), sum(col("id")).as("id_sum"))
          .orderBy(col("change_type"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      }
      out.toDF("change_type", "n_changes", "id_sum")
        .orderBy(col("change_type"))
    }),

    // The WRITE-side dual of the CDC gates: a Structured Streaming
    // query lands micro-batches in the store through the NATIVE sink
    // (`writeStream.format("graft-store")`), whose addBatch is one
    // idempotent transaction txnInsert(app, batchId) — the Delta sink
    // recipe (foreachBatch + txnInsert is the identical user-land
    // spelling). Two checkpointed AvailableNow runs straddle a new
    // input file, with a deliberate REDELIVERY of the last committed
    // batchId in between (exactly what a crash after the store commit
    // but before the checkpoint advances produces): the replay must
    // skip, the restart must process only the new file, and the final
    // table must hold each input row exactly once.
    "streaming_store_sink_parity" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val out = withStreamTempDir(s, "graft-sink-stream-") { (s, tmp) =>
        val in = s"$tmp/in"
        // One FILE per block (single-part writes renamed into the
        // watched dir): with maxFilesPerTrigger=1 the file stream
        // yields exactly one micro-batch per block.
        val b0 = base.filter(col("id") % 3 === 0).coalesce(1)
        val b1 = base.filter(col("id") % 3 === 1).coalesce(1)
        val b2 = base.filter(col("id") % 3 === 2).coalesce(1)
        def land(df: DataFrame, name: String): Unit = {
          df.write.parquet(s"$tmp/stage/$name")
          val part = new java.io.File(s"$tmp/stage/$name").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          new java.io.File(in).mkdirs()
          require(part.renameTo(new java.io.File(in, s"$name.parquet")),
            "stage rename failed")
        }
        land(b0, "b0"); land(b1, "b1")
        val store = new graft.pipeline.CustomerStore(s, s"$tmp/store")
        def consume(): Long = {
          val q = s.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1).parquet(in)
            .writeStream.format("graft-store")
            .option("path", s"$tmp/store")
            .option("txnAppId", "stream-sink")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.count(_.numInputRows > 0L).toLong
        }
        require(consume() == 2L, "run 1 must land one batch per input file")
        val countAfter1 = store.all().count()
        // Crash-redelivery: the checkpoint never advanced past batch 1,
        // so a restart re-delivers it. The sink must skip — content
        // does not matter, the recorded version does.
        require(store.txnInsert("stream-sink", 1L, Ingest.enrich(b1)).isEmpty,
          "redelivered batch must skip")
        require(store.all().count() == countAfter1 &&
          store.latestTxnVersion("stream-sink") == Some(1L),
          "a skipped redelivery must leave no trace")
        land(b2, "b2")
        require(consume() == 1L,
          "run 2 must resume from the checkpoint and process only the new file")
        require(store.latestTxnVersion("stream-sink") == Some(2L) &&
          store.currentVersion() == 3L,
          "three batches, three commits, newest txn recorded")
        store.all()
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
            countDistinct(col("email")).as("n_emails"))
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      out.toDF("n_rows", "id_sum", "n_emails")
    }),

    // CDC REPLICATION — the round's read and write sides composed into
    // the lakehouse table-replication recipe: stream the source store's
    // change feed (offsets = commit versions, one commit per
    // micro-batch) through the NATIVE merge-mode sink into a replica
    // store. Entity post-images (insert/update) apply as idempotent
    // upserts in commit order; the ack commit's entity delta filters to
    // EMPTY and the empty micro-batch still records its txn version (a
    // restart never re-reads it). REQUIREd: one replica commit per
    // source commit, and the replica's entity state equals the
    // source's row-for-row — including the absence of the salvaged
    // id-conflict rows, which never produced feed rows.
    "pipeline_replication" -> ((s, dir) => {
      import s.implicits._
      val srcPath = mergeIMATemplate(s, dir)
      val out = withStreamTempDir(s, "graft-repl-") { (s, tmp) =>
        val dstPath = s"$tmp/replica"
        s.readStream.format("graft-store")
          .option("path", srcPath)
          .option("feedFrom", 0)
          .option("maxCommitsPerTrigger", 1)
          .load()
          .filter(col("change_type").isin("insert", "update"))
          .select(graft.pipeline.CustomerSchema.tableSchema.fieldNames
            .map(col).toSeq: _*)
          .writeStream.format("graft-store")
          .option("path", dstPath)
          .option("txnAppId", "repl")
          .option("merge", true)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        val replica = new graft.pipeline.CustomerStore(s, dstPath)
        val src = new graft.pipeline.CustomerStore(s, srcPath)
        require(replica.currentVersion() == 3L &&
          replica.latestTxnVersion("repl") == Some(2L),
          "one replica commit per source commit, newest txn recorded " +
            s"(got v${replica.currentVersion()}, " +
            s"txn ${replica.latestTxnVersion("repl")})")
        val ent = Seq("id", "email", "first_name", "last_name", "phone")
        val a = src.all().select(ent.map(col): _*)
        val b = replica.all().select(ent.map(col): _*)
        require(graft.util.MultisetEq(a, b),
          "replica entity state must equal the source row-for-row")
        replica.all()
          .groupBy(substring(col("email"), 1, 1).as("block"))
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
            sum(when(col("phone").startsWith("999-"), 1L).otherwise(0L))
              .as("n_updated"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      out.toDF("block", "n_rows", "id_sum", "n_updated")
        .orderBy(col("block"))
    }),

    // The same incremental-CDC contract through the CONNECTOR's
    // streaming source (spark.readStream.format("graft-store"),
    // the Delta-streaming-source analog): offsets ARE commit versions,
    // so the consumer follows the feed without knowing the _changelog/
    // layout. Two checkpointed AvailableNow runs straddle the ack
    // commit with maxCommitsPerTrigger=1 — REQUIREd: run 1 drains the
    // insert+merge history one commit per micro-batch (exactly 2
    // batches), run 2 resumes from the checkpointed offset and serves
    // exactly the ack commit once. The sink aggregate equals the batch
    // feed aggregate (identical oracle arithmetic to
    // streaming_cdc_resume) — exactly-once across the restart.
    "streaming_catalog_cdc_parity" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withStreamTempDir(s, "graft-cdc-cat-") { (s, tmp) =>
        // Clone of the insert+merge layer: the ack commit must land
        // while the stream is down, so the gate owns a mutable copy.
        val store = cloneStore(s, mergeIMTemplate(s, dir), tmp)
        val feedSchema = store.changeFeed().schema
        def consume(): Long = {
          val q = s.readStream.format("graft-store")
            .option("path", s"$tmp/store")
            .option("feedFrom", 0)
            .option("maxCommitsPerTrigger", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", s"$tmp/sink")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.count(_.numInputRows > 0L).toLong
        }
        val batches1 = consume()
        require(batches1 == 2L,
          s"run 1 must drain insert+merge as one commit per micro-batch, got $batches1")
        store.markUploaded(
          base.filter(col("id") % 5 === 0).select(col("email")))
        val batches2 = consume()
        require(batches2 == 1L,
          s"run 2 must resume at the checkpoint and serve exactly the ack commit, got $batches2")
        s.read.schema(feedSchema).parquet(s"$tmp/sink")
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_changes"), sum(col("id")).as("id_sum"))
          .orderBy(col("change_type"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      }
      out.toDF("change_type", "n_changes", "id_sum")
        .orderBy(col("change_type"))
    }),

    // STREAMING SCD2: the warehouse dimension maintained INCREMENTALLY
    // by keyed state (flatMapGroupsWithState over the connector's CDC
    // stream) instead of the batch lead-window rescan — state = one
    // open interval per key, cost per trigger ∝ arriving changes. The
    // ack commit lands while the stream is DOWN; run 2 must recover
    // the open-interval state from the checkpoint and close exactly
    // the %5 intervals. The final dimension is REQUIREd equal to the
    // batch twin recomputed from the same store, and the aggregate is
    // pinned by pipeline_scd2_history's oracle verbatim.
    "streaming_scd2_parity" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withStreamTempDir(s, "graft-scd2-stream-") { (s, tmp) =>
        val store = cloneStore(s, mergeIMTemplate(s, dir), tmp)
        def consume(): Long = {
          val changes = s.readStream.format("graft-store")
            .option("path", s"$tmp/store")
            .option("feedFrom", 0)
            .option("maxCommitsPerTrigger", 1)
            .load()
          val q = graft.streaming.Scd2Stream.scd2(changes)
            .writeStream.format("parquet")
            .option("path", s"$tmp/sink")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.count(_.numInputRows > 0L).toLong
        }
        val batches1 = consume()
        require(batches1 == 2L,
          s"run 1 must fold insert+merge one commit per micro-batch, got $batches1")
        store.markUploaded(
          base.filter(col("id") % 5 === 0).select(col("email")))
        val batches2 = consume()
        require(batches2 == 1L,
          s"run 2 must resume open-interval state and fold the ack, got $batches2")
        val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("email",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("valid_from",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("valid_to",
            org.apache.spark.sql.types.LongType)))
        val sink = s.read.schema(sinkSchema).parquet(s"$tmp/sink")
          .localCheckpoint(true)
        val closed = sink.filter(col("valid_to").isNotNull)
        // A candidate superseded later appears as a closed row with
        // the same (email, valid_from); the survivors are current.
        val current = sink.filter(col("valid_to").isNull)
          .join(closed.select(col("email").as("c_email"),
              col("valid_from").as("c_vf")),
            col("email") === col("c_email") &&
              col("valid_from") === col("c_vf"), "left_anti")
          .select(sink.columns.map(col).toIndexedSeq: _*)
        val dim = closed.unionByName(current)
        // Twin check: the batch lead-window derivation over the SAME
        // final feed must produce the identical interval set.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("email")).orderBy(col("valid_from"))
        val batchDim = store.changeFeed()
          .filter(!col("change_type").endsWith("_pre"))
          .select(col("email"), col("id"), col("change_type"),
            col("commit_version").as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        require(graft.util.MultisetEq(dim, batchDim),
          "streaming SCD2 dimension diverged from the batch lead-window twin")
        dim.groupBy(
            when(col("valid_to").isNull, lit("current"))
              .otherwise(lit("closed")).as("state"),
            col("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("id")).as("id_sum"),
            sum(coalesce(col("valid_to") - col("valid_from"), lit(0L)))
              .as("span_sum"))
          .orderBy(col("state"), col("change_type"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
      }
      out.toDF("state", "change_type", "n_rows", "id_sum", "span_sum")
        .orderBy(col("state"), col("change_type"))
    }),

    // TIME TRAVEL over the commit-versioned change feed: run the full
    // mutation history (insert base = v1, merge the planted traffic =
    // v2, ack the id%5 slice = v3) and reconstruct the table AS OF
    // each version via asOf() feed replay — per email, the post-image
    // with the greatest commit_version ≤ v. The oracle re-derives all
    // three snapshots' aggregates from the customer-table arithmetic,
    // so a feed that misses a change, double-counts one, or stamps a
    // wrong version hash-fails. asOf(currentVersion) is additionally
    // cross-checked against the live table inside the query.
    "pipeline_time_travel" -> ((s, dir) => {
      import s.implicits._
      // Read-only gate over the SHARED 3-commit fixture store (the
      // build is charged to the first reader per pass — see
      // sharedMergeStore).
      val store = sharedMergeStore(s, dir)
      require(store.currentVersion() == 3L, "three commits must be three versions")
      val live = store.all()
        .select("id", "email", "phone", "uploaded").localCheckpoint(true)
      val head = store.asOf(3L).select("id", "email", "phone", "uploaded")
      require(graft.util.MultisetEq(head, live),
        "asOf(currentVersion) diverged from the live table")
      val out = (1L to 3L).map { v =>
        val snap = store.asOf(v)
          .agg(count(lit(1)), sum(when(col("uploaded"), 1L).otherwise(0L)),
            sum(col("id"))).head()
        (v, snap.getLong(0), snap.getLong(1), snap.getLong(2))
      }
      out.toDF("version", "n_rows", "n_uploaded", "id_sum")
        .orderBy(col("version"))
    }),

    // TABLE-MAINTENANCE LIFECYCLE: insert → merge → ack → compact →
    // snapshot → vacuum on a real store, pinning the retention
    // contract the way pipeline_time_travel pins replay. Compaction
    // must advance the version with a SILENT feed (physical layout is
    // not a logical change) and bin-pack each partition to one file;
    // after the snapshot+vacuum, asOf at the snapshot version must
    // still reconstruct (from the checkpoint, the log being gone), and
    // asOf BEFORE the vacuum horizon must raise the documented
    // retention error rather than silently return an empty table (the
    // exact failure mode the asOf genesis-check guards).
    "pipeline_compact_vacuum" -> ((s, dir) => {
      import s.implicits._
      val out = withTempDir("graft-compactvac-") { tmp =>
        // Clone of the 3-commit insert→merge→ack history; compaction,
        // snapshot and vacuum mutate the copy.
        val store = cloneStore(s, mergeIMATemplate(s, dir), tmp)
        val liveBefore = store.all()
          .select("id", "email", "phone", "uploaded").localCheckpoint(true)
        store.compact(targetFilesPerPartition = 1)                        // v4
        val vAfterCompact = store.currentVersion()
        val nFeedRowsCompact = store.feedSince(3L, 4L).count()
        val nFilesAfterCompact = Seq("uploaded=false", "uploaded=true").map { p =>
          Option(new java.io.File(s"$tmp/store/$p").listFiles())
            .getOrElse(Array.empty[java.io.File])
            .count(_.getName.endsWith(".parquet")).toLong
        }.sum
        // Compaction is physical only: the table must be unchanged.
        val liveAfter = store.all().select("id", "email", "phone", "uploaded")
        require(graft.util.MultisetEq(liveAfter, liveBefore),
          "compaction changed the logical table contents")
        val snapV = store.writeSnapshot()
        val nVacuumed = store.vacuumFeed().toLong
        val head = store.asOf(snapV)
          .agg(count(lit(1)), sum(when(col("uploaded"), 1L).otherwise(0L)),
            sum(col("id"))).head()
        val pastHorizonFails =
          try { store.asOf(2L); 0L }
          catch { case _: IllegalArgumentException => 1L }
        (vAfterCompact, nFeedRowsCompact, nFilesAfterCompact, nVacuumed,
          head.getLong(0), head.getLong(1), head.getLong(2), pastHorizonFails)
      }
      Seq(out).toDF("version_after_compact", "n_feed_rows_compact",
        "n_files_after_compact", "n_commits_vacuumed", "n_rows_head",
        "n_uploaded_head", "id_sum_head", "past_horizon_fails")
    }),

    // TIMESTAMP time travel: the same 3-commit history promoted under
    // a PLANTED deterministic commit clock (1000 ms per commit), then
    // reconstructed as-of wall timestamps between/at/before/after the
    // commit times — "as of t" = last commit with promotion ts ≤ t,
    // resolved through the _commits registry, replayed by asOf. The
    // before-genesis probe (ts 500) must yield the empty version 0,
    // pinned via COALESCE'd aggregates on both sides.
    "pipeline_asof_timestamp" -> ((s, dir) => {
      import s.implicits._
      // The planted-clock 3-commit history is its own template (the
      // clock only matters at COMMIT time; asOfTimestamp reads the
      // promoted _commits registry), and every probe is read-only —
      // the gate opens the template in place.
      val path = clockIMATemplate(s, dir)
      val store = new graft.pipeline.CustomerStore(s, path)
      require(store.commitTimestamps() == Seq(1L -> 1000L, 2L -> 2000L, 3L -> 3000L),
        s"commit registry mismatch: ${store.commitTimestamps()}")
      val out = Seq(500L, 1000L, 1500L, 2999L, 999999L).map { ts =>
        val r = store.asOfTimestamp(ts)
          .agg(coalesce(count(lit(1)), lit(0L)),
            coalesce(sum(when(col("uploaded"), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(col("id")), lit(0L))).head()
        (ts, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      out.toDF("ts_ms", "n_rows", "n_uploaded", "id_sum").orderBy(col("ts_ms"))
    }),

    // INCREMENTAL VIEW MAINTENANCE from the feed's retraction stream:
    // a grouped aggregate (by uploaded state) maintained purely from
    // change rows — post-images weighted +1, `_pre` pre-images −1 —
    // without ever scanning the table. After the same 3-commit
    // history, the maintained view must equal the batch recompute;
    // the oracle derives both groups' counts and id-sums from the
    // planted arithmetic. This is the consumer shape the pre-image
    // rows exist for (a downstream aggregate kept fresh per commit
    // instead of rescanned — at 100 TB the feed delta is the only
    // thing read).
    "pipeline_incremental_mv" -> ((s, dir) => {
      import s.implicits._
      // Reads ONLY the change feed of the shared 3-commit fixture.
      val store = sharedMergeStore(s, dir)
      val out = store.changeFeed()
        .withColumn("w", when(col("change_type").endsWith("_pre"), -1L).otherwise(1L))
        .groupBy(col("uploaded").cast("long").as("uploaded"))
        .agg(sum(col("w")).as("n"), sum(col("w") * col("id")).as("id_sum"))
        .filter(col("n") =!= 0)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      out.toDF("uploaded", "n", "id_sum").orderBy(col("uploaded"))
    }),

    // NON-DISTRIBUTIVE incremental view maintenance (the boundary the
    // retraction-weighted MV cannot cross): per-group MIN/MAX under
    // DELETE. A +1/−1 weighted sketch absorbs a retraction of a sum
    // or count but not of an extremum (the runner-up is gone from the
    // sketch), so MinMaxView folds inserts and interior deletes in
    // monotonically and falls back to PER-GROUP re-aggregation only
    // when a retraction reaches a stored extremum. The fixture's
    // delete (multiples of 7) hits the minimum of exactly the groups
    // whose smallest member is a multiple of 7 and the maximum of
    // those whose largest is; the follow-up insert commit (fresh
    // emails, ids +50M ≡ 0 mod 8 so groups are preserved) must fold
    // in with ZERO further recomputes (REQUIREd: recompute count
    // strictly between 0 and the group count, unchanged by the
    // insert-only commit; maintained view equals the batch recompute
    // row-for-row). Final per-group min/max/count oracle-pinned from
    // the planted arithmetic.
    "pipeline_incremental_mv_minmax" -> ((s, dir) => {
      import s.implicits._
      val base = baseCols(s, dir)
      val out = withTempDir("graft-mvminmax-") { tmp =>
        // Clone of the full-insert v1 layer; delete + follow-up insert
        // mutate the copy.
        val store = cloneStore(s, fullV1Template(s, dir), tmp)
        store.delete(
          base.filter(col("id") % 7 === 0).select(col("email"))): Unit  // v2
        val grp = pmod(col("id"), lit(8L))
        val (_, recomputesAfterDelete) =
          graft.pipeline.MinMaxView.maintain(store, grp)
        store.insertNew(Ingest.enrich(                                   // v3
          base.filter(col("id") % 11 === 0)
            .withColumn("id", col("id") + 50000000L)
            .withColumn("email",
              concat(lit("u"), col("id"), lit("@example.com"))))): Unit
        val (view, recomputes) = graft.pipeline.MinMaxView.maintain(store, grp)
        val nGroups = view.count()
        require(recomputesAfterDelete > 0L && recomputesAfterDelete < nGroups,
          s"extremum deletes must recompute SOME but not ALL groups " +
            s"($recomputesAfterDelete of $nGroups)")
        require(recomputes == recomputesAfterDelete,
          s"insert-only commit must fold in without re-aggregation " +
            s"($recomputes vs $recomputesAfterDelete)")
        val batch = store.all().select(grp.as("g"), col("id"))
          .groupBy(col("g")).agg(min(col("id")).as("mn"),
            max(col("id")).as("mx"), count(lit(1)).as("n"))
        require(graft.util.MultisetEq(view, batch),
          "maintained min/max view diverged from the batch recompute")
        view.localCheckpoint(true)
      }
      out.select(col("g"), col("mn").as("min_id"), col("mx").as("max_id"),
        col("n").as("n_rows")).orderBy(col("g"))
    }),

    // The STREAMING materialized view (StreamingView): the same
    // retraction-weighted aggregate as pipeline_incremental_mv, but
    // maintained by a checkpointed stream over the feed's commit
    // directories through the transactional batchId-versioned state
    // sink, across a RESTART — run 1 drains the insert+merge commits,
    // the ack commit lands while the stream is down, run 2 resumes
    // from the checkpoint and applies only the ack delta. The final
    // state must equal the batch recompute (same oracle arithmetic);
    // a double-applied or dropped delta hash-fails.
    "streaming_mv_resume" -> ((s, dir) => {
      import s.implicits._
      val (base, _) = mergeFixtures(s, dir)
      val out = withStreamTempDir(s, "graft-smv-") { (s, tmp) =>
        // Clone of the insert+merge layer (the ack lands mid-restart).
        val store = cloneStore(s, mergeIMTemplate(s, dir), tmp)
        val feedSchema = store.changeFeed().schema
        def drain(): Unit =
          graft.streaming.StreamingView.start(s, s"$tmp/store/_changelog/*",
            feedSchema, s"$tmp/state", s"$tmp/ckpt").awaitTermination()
        drain()
        store.markUploaded(
          base.filter(col("id") % 5 === 0).select(col("email")))
        drain()
        graft.streaming.StreamingView.read(s, s"$tmp/state")
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      out.toDF("uploaded", "n", "id_sum").orderBy(col("uploaded"))
    }),

    // The graft-customers DataSource V2 connector end-to-end: the
    // same deterministic CSV (plus the three planted offenders) read
    // through spark.read.format("graft-customers"), with a >max/2 id
    // filter and a 2-column projection. The query REQUIRES the
    // executed plan to show the filter pushed into the scan and the
    // ReadSchema pruned to (id, email) — a silent pushdown regression
    // fails the round, not just a microbenchmark. The oracle
    // recomputes both aggregates and the valid-row total (offenders
    // excluded) from the customer table.
    "pipeline_dsv2_source" -> ((s, dir) => {
      import s.implicits._
      val lines = customerFixture(s, dir)
        .select(col("c_custkey"),
          concat_ws(",",
            col("c_custkey"),
            concat(lit("f"), col("c_custkey")),
            concat(lit("l"), col("c_custkey")),
            concat(lit("u"), col("c_custkey"), lit("@example.com")),
            concat(lit("555-"), col("c_custkey"))).as("line"))
      val out = withTempDir("graft-dsv2-") { tmp =>
        lines.orderBy(col("c_custkey")).select(col("line"))
          .coalesce(1).write.text(s"$tmp/in")
        appendLines(java.nio.file.Paths.get(s"$tmp/in"), Seq(
          "notanint,fx,lx,x@example.com,555-0100", // bad id -> skipped
          "999999991,fx,lx,,555-0100", // empty email -> skipped
          "onlyonefield")) // bad id -> skipped
        val src = s.read.format("graft-customers")
          .option("header", "false").load(s"$tmp/in")
        val half = src.agg(max(col("id"))).head().getLong(0) / 2
        val filtered = src.filter(col("id") > half).select("id", "email")
        val plan = filtered.queryExecution.executedPlan.toString
        require(plan.contains(s"GreaterThan(id,$half"),
          s"id filter did not push into the DSv2 scan:\n$plan")
        require(plan.contains("struct<id:bigint,email:string>"),
          s"projection did not prune the scan schema:\n$plan")
        val r = filtered.agg(count(lit(1)), sum(col("id"))).head()
        (r.getLong(0), r.getLong(1), src.count())
      }
      Seq(out).toDF("n_filtered", "id_sum_filtered", "n_valid_total")
    }),

    // Streaming UPSERT ingestion (StreamingIngest.startUpsert): the
    // same planted merge traffic arriving as a CSV change-feed through
    // a checkpointed file stream, merged per micro-batch. Seed via the
    // batch insert, stream the revision file, then pin the final table
    // state — updates landed (999- phones), inserts landed, id
    // conflicts vanished. Counts re-derived from the store only (the
    // stream returns nothing), same oracle arithmetic as the batch
    // merge gates.
    "pipeline_merge_stream" -> ((s, dir) => {
      import s.implicits._
      val base = customerFixture(s, dir)
        .select(col("c_custkey").as("id"),
          concat(lit("f"), col("c_custkey")).as("first_name"),
          concat(lit("l"), col("c_custkey")).as("last_name"),
          concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"),
          concat(lit("555-"), col("c_custkey")).as("phone"))
        .withColumn("uploaded", lit(false))
        .withColumn("created_ts", current_timestamp())
        .withColumn("modified_ts", current_timestamp())
      def lines(df: DataFrame): DataFrame = df.select(col("id"), concat_ws(",",
        col("id"), col("first_name"), col("last_name"), col("email"),
        col("phone")).as("line"))
      val changed = base.filter(col("id") % 3 === 0)
        .withColumn("phone", concat(lit("999-"), col("id")))
      val identical = base.filter(col("id") % 3 === 1)
      val fresh = base.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 20000000L)
        .withColumn("email", concat(lit("new"), col("id"), lit("@example.com")))
      val idConflict = base.filter(col("id") % 10 === 3)
        .withColumn("email", concat(lit("conflict"), col("id"), lit("@example.com")))
      val out = withStreamTempDir(s, "graft-merge-stream-") { (s, tmp) =>
        val stage = s"$tmp/stage"
        lines(changed.unionByName(identical).unionByName(fresh).unionByName(idConflict))
          .orderBy(col("id")).select(col("line")).coalesce(1).write.text(stage)
        Fs.movePartFile(Fs.path(stage), Fs.path(s"$tmp/in", "00.csv"))
        val store = new graft.pipeline.CustomerStore(s, s"$tmp/store")
        store.insertNew(base): Unit
        graft.streaming.StreamingIngest.startUpsert(
          s, s"$tmp/in", store, s"$tmp/ckpt", header = false)
          .awaitTermination()
        val all = store.all().localCheckpoint(true)
        (all.filter(col("phone").startsWith("999-")).count(),
          all.filter(col("email").startsWith("new")).count(),
          all.count(),
          all.filter(col("email").startsWith("conflict")).count())
      }
      Seq(out).toDF("n_phone_updated", "n_new_emails", "n_total_after",
        "n_conflict_rows")
    }),

    // Hive-style PARTITIONED layout: the corpus written partitionBy
    // (lang) and read back with a partition filter — the layout every
    // data-lake corpus uses so language/source slices scan only their
    // directories. The aggregate pins partition-column round-tripping
    // (lang moves from column to directory key and back) and the
    // filtered totals; the scan-level pruning itself is pinned by
    // PlanContractsSpec on the same layout.
    "pipeline_partition_pruning" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val out = withTempDir("graft-partitioned-") { tmp =>
        docs.write.partitionBy("lang").parquet(s"$tmp/corpus")
        val part = graft.sources.ParquetGroups.read(s, s"$tmp/corpus")
        val en = part.filter(col("lang") === "en")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c")).head()
        val all = part.agg(count(lit(1)).as("n"),
          countDistinct(col("lang")).as("l")).head()
        (en.getLong(0), en.getLong(1), all.getLong(0), all.getLong(1))
      }
      Seq(out).toDF("n_en_docs", "sum_en_chars", "n_total_docs", "n_langs")
    }),

    // Schema EVOLUTION on read: a corpus directory whose newer files
    // carry an added column (the standard additive-evolution case for
    // long-lived training corpora). mergeSchema unions the file
    // schemas; rows from pre-evolution files surface the new column
    // as null. The gate pins the merged row count, the null/non-null
    // split, and that the old columns aggregate identically across
    // both generations.
    "pipeline_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val out = withTempDir("graft-evolve-") { tmp =>
        docs.filter(col("doc_id") % 2 === 0)
          .write.parquet(s"$tmp/corpus")
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("quality_tier", (col("doc_id") % 3).cast("long"))
          .write.mode("append").parquet(s"$tmp/corpus")
        val merged = s.read.option("mergeSchema", "true").parquet(s"$tmp/corpus")
        val r = merged.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality_tier").isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
          sum(when(col("quality_tier").isNotNull, 1L).otherwise(0L)).as("n_post_evolution"),
          sum(col("n_chars")).as("sum_chars")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      Seq(out).toDF("n_docs", "n_pre_evolution", "n_post_evolution", "sum_chars")
    }),

    // ADDITIVE STORE SCHEMA EVOLUTION end-to-end: insert the base →
    // addColumn (a feed-silent versioned metadata commit) → snapshot →
    // insert a fresh block CARRYING the column → ack a slice (file-
    // level rewrite of pre-evolution rows). REQUIREs pin the contract
    // surfaces the aggregate can't: asOf BELOW the evolution presents
    // the CURRENT schema with all-null tiers (resolved through the
    // pre-evolution snapshot), the DDL commit emitted no feed rows,
    // and the connector serves the evolved schema. The output is the
    // final per-tier census (nulls keyed -1), every figure derivable
    // from the planted %-of-custkey arithmetic.
    "pipeline_schema_evolution_store" -> ((s, dir) => {
      import s.implicits._
      // The 4-commit evolved history is a read-only template (every
      // probe below is a read); see evolveTemplate.
      val store = new graft.pipeline.CustomerStore(s, evolveTemplate(s, dir))
      // DDL is feed-silent; v1 rows read back null-tiered at asOf(1)
      require(store.feedSince(1L, 2L).isEmpty,
        "the addColumn commit must emit no feed rows")
      val v1 = store.asOf(1)
      require(v1.columns.contains("loyalty_tier"),
        "asOf below the evolution must present the CURRENT schema")
      require(v1.filter(col("loyalty_tier").isNotNull).count() == 0L,
        "pre-evolution rows must read as NULL tiers")
      require(s.read.format("graft-store").option("path", evolveTemplate(s, dir))
        .load().columns.contains("loyalty_tier"),
        "the connector must serve the evolved schema")
      val out = store.all()
        .groupBy(coalesce(col("loyalty_tier"), lit(-1L)).as("tier"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
          sum(when(col("uploaded"), 1L).otherwise(0L)).as("n_uploaded"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.toDF("tier", "n_rows", "id_sum", "n_uploaded").orderBy(col("tier"))
    }),

    // Persisted CHECK constraints at the transaction boundary: DDL
    // commits are feed-silent and versioned; a violating transaction
    // is rejected WHOLE (probed read-only against the template); a
    // dropped constraint re-admits. The aggregate re-derives from the
    // planted arithmetic (u/c/d email prefixes name the three blocks).
    "pipeline_constraints_persisted" -> ((s, dir) => {
      import s.implicits._
      val store = new graft.pipeline.CustomerStore(s,
        constraintsTemplate(s, dir))
      require(store.checkConstraints() ==
        Seq(("chk_email_at", "email LIKE '%@%'")),
        "final state must keep exactly the email constraint")
      // constraint DDL is feed-silent (v2, v3, v5)
      require(store.feedSince(1L, 3L).isEmpty && store.feedSince(4L, 5L).isEmpty,
        "constraint DDL commits must emit no feed rows")
      // a violating transaction rejects WHOLE, leaving no trace
      val before = store.all().count()
      val threw =
        try {
          store.insertNew(Ingest.enrich(baseCols(s, dir))
            .filter(col("id") === 1L)
            .withColumn("id", col("id") + 90000000L)
            .withColumn("email", lit("no-at-sign"))): Unit
          false
        } catch { case _: graft.pipeline.ConstraintViolationException => true }
      require(threw, "a violating insert must throw")
      require(store.all().count() == before && store.currentVersion() == 6L,
        "a rejected transaction must leave the table untouched")
      val out = store.all()
        .groupBy(substring(col("email"), 1, 1).as("block"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      out.toDF("block", "n_rows", "id_sum").orderBy(col("block"))
    }),

    // Column-mapping evolution (rename/drop) through the full read
    // surface: files store PHYSICAL names that never change, so every
    // DDL here is metadata-only; the aggregate re-derives from the
    // planted arithmetic in DuckDB, pinning that renamed columns serve
    // their historical values, merges update THROUGH the renamed name,
    // and a drop-then-re-add reads all-NULL (no resurrection).
    "pipeline_schema_mapping_store" -> ((s, dir) => {
      import s.implicits._
      val store = new graft.pipeline.CustomerStore(s, mappingTemplate(s, dir))
      // DDL commits are feed-silent
      Seq(2L, 4L, 6L, 7L, 8L).foreach { v =>
        require(store.feedSince(v - 1, v).isEmpty,
          s"DDL commit v$v must emit no feed rows")
      }
      val cols = store.all().columns.toSet
      require(cols("phone_e164") && !cols("phone") &&
        cols("quality") && !cols("score") && cols("last_name"),
        s"mapped schema wrong: $cols")
      // the re-added last_name must NOT resurrect dropped values
      require(store.all().filter(col("last_name").isNotNull).count() == 0L,
        "re-added column resurrected dropped values")
      // the connector serves the mapped schema and renamed values
      val cat = s.read.format("graft-store")
        .option("path", mappingTemplate(s, dir)).load()
      require(cat.columns.contains("phone_e164") &&
        !cat.columns.toSet("score"),
        "connector must serve the mapped schema")
      // asOf below every rename presents the CURRENT schema over the
      // pre-rename snapshot/feed bytes
      require(store.asOf(1).columns.contains("phone_e164"),
        "asOf must present the current mapped schema")
      // the work queue keeps the reference's WIRE keys across renames
      val api: graft.pipeline.CustomerStoreApi = store
      require(api.pending().columns.toSeq ==
        Seq("id", "first_name", "last_name", "email", "phone"),
        "the upload wire format must not follow table renames")
      val out = store.all()
        .groupBy(coalesce(col("quality"), lit(-1L)).as("quality"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
          sum(when(col("phone_e164").startsWith("999-"), 1L).otherwise(0L))
            .as("n_updated"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.toDF("quality", "n_rows", "id_sum", "n_updated")
        .orderBy(col("quality"))
    }),

    // Commit HISTORY + table DETAIL (the DESCRIBE HISTORY / DESCRIBE
    // DETAIL faces): every commit's operation label and change-row
    // count, recorded at promotion in the vacuum-surviving `_commits`
    // registry and served from registry metadata alone — probed
    // read-only on the 6-commit constraints template, whose planted
    // arithmetic the oracle re-derives (DDL commits are pinned at 0
    // rows, insert commits at their block's %-of-custkey count).
    // REQUIREs pin what the aggregate can't: the connector metadata
    // read equals the API's, registry timestamps are strictly
    // monotonic, and detail() reports the planted version/constraint
    // state without opening a data file.
    "pipeline_history" -> ((s, dir) => {
      import s.implicits._
      val store = new graft.pipeline.CustomerStore(s,
        constraintsTemplate(s, dir))
      val h = store.history()
      val viaConn = s.read.format("graft-store")
        .option("path", constraintsTemplate(s, dir))
        .option("history", true).load()
      require(viaConn.orderBy(col("commit_version")).collect().toSeq ==
        h.orderBy(col("commit_version")).collect().toSeq,
        "connector history must equal the API's")
      // ... and the SQL procedure face (CALL graft_store.history)
      s.conf.set("spark.sql.catalog.graft_store",
        "graft.sources.GraftStoreCatalog")
      require(s.sql(s"CALL graft_store.history('${constraintsTemplate(s, dir)}')")
        .orderBy(col("commit_version")).collect().toSeq ==
        h.orderBy(col("commit_version")).collect().toSeq,
        "CALL graft_store.history must equal the API's")
      val ts = store.commitTimestamps().map(_._2)
      require(ts == ts.sorted && ts.distinct.size == ts.size,
        "commit timestamps must be strictly monotonic")
      val d = store.detail().head()
      require(d.getLong(0) == 6L && d.getLong(5) == 1L,
        "detail must report version 6 with exactly 1 constraint")
      h.select(col("commit_version"), col("operation"),
          col("n_change_rows"))
        .orderBy(col("commit_version"))
    }),

    // TYPE WIDENING end-to-end (int → bigint, the Delta/Iceberg ALTER
    // COLUMN TYPE evolution): probed read-only on the 6-commit widen
    // template — an int column added and populated, widened as a
    // feed-silent metadata commit, then values EXCEEDING the int
    // range inserted and merged over pre-widening int32 files. The
    // per-block aggregate (sums above 2^31 only representable post-
    // widen) re-derives from planted arithmetic in DuckDB. REQUIREs
    // pin the contract surfaces the aggregate can't: the widen commit
    // emitted no feed rows and is history-labeled ALTER COLUMN, the
    // connector serves the widened type, asOf BELOW the widening
    // presents the CURRENT (widened) schema, and no data file was
    // rewritten by the widen (zone manifest coverage is unchanged).
    "pipeline_type_widening" -> ((s, dir) => {
      import s.implicits._
      val store = new graft.pipeline.CustomerStore(s, widenTemplate(s, dir))
      require(store.feedSince(3L, 4L).isEmpty,
        "the widen commit must emit no feed rows")
      require(store.history().collect()
        .find(_.getLong(0) == 4L).get.getString(2) == "ALTER COLUMN",
        "the widen commit must be history-labeled ALTER COLUMN")
      val conn = s.read.format("graft-store")
        .option("path", widenTemplate(s, dir)).load()
      require(conn.schema("points").dataType ==
        org.apache.spark.sql.types.LongType,
        "the connector must serve the widened type")
      require(store.asOf(3L).schema("points").dataType ==
        org.apache.spark.sql.types.LongType,
        "asOf below the widening must present the widened schema")
      val out = store.all()
        .groupBy(substring(col("email"), 1, 1).as("block"))
        .agg(count(lit(1)).as("n_rows"), sum(col("points")).as("points_sum"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(r.getLong(2))))
      out.toDF("block", "n_rows", "points_sum").orderBy(col("block"))
    }),

    // JSONL sink → source round trip with per-line salvage: documents
    // written as JSON lines, two garbage lines appended, read back
    // under the explicit schema. The md5-prefix checksum over the
    // round-tripped text pins JSON string escaping exactly; the
    // quarantine count pins the PERMISSIVE corrupt-line contract.
    "pipeline_jsonl_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val agg = withTempDir("graft-jsonl-rt-") { tmp =>
        JsonLines.write(docs.orderBy(col("doc_id")).coalesce(1), s"$tmp/out")
        appendLines(java.nio.file.Paths.get(s"$tmp/out"), Seq(
          "{not json at all",
          "}{ also not json"))
        val split = JsonLines.salvage(
          JsonLines.read(s, s"$tmp/out", docs.schema))
        val g = split.good.agg(
          count(lit(1)).as("n_good"),
          sum(col("doc_id")).as("sum_doc_ids"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
          .head()
        val nBad = split.bad.count()
        split.release()
        (g.getLong(0), g.getLong(1), g.getLong(2), nBad)
      }
      Seq(agg).toDF("n_good", "sum_doc_ids", "text_checksum", "n_quarantined")
    }),

    // ORC sink → source round trip — the columnar-format breadth leg
    // beside parquet (native tables), CSV, JSONL, JDBC, and the DSv2
    // connector: a reference user switching corpus formats keeps the
    // same query surface. Written partitionBy(lang) so the read-back
    // exercises directory-level partition pruning in the second
    // columnar format; the md5-prefix checksum pins value fidelity
    // (including the text column's UTF-8) through the ORC
    // writer/reader pair.
    // The exactly-once store SINK contract (Delta txnAppId/txnVersion):
    // a writer tags each commit with its own (app, version); the pair
    // rides the commit's atomic promotion into the `_txns` registry, so
    // a redelivered foreachBatch batch — the restart case every
    // streaming sink must survive — skips instead of duplicating.
    // Probes are read-only: replays at/below the recorded version skip
    // before any work ever starts.
    "pipeline_idempotent_sink" -> ((s, dir) => {
      import s.implicits._
      val storePath = txn3Template(s, dir)
      val store = new graft.pipeline.CustomerStore(s, storePath)
      require(store.latestTxnVersion("loader") == Some(3L),
        "registry must hold the newest committed txn version")
      require(store.currentVersion() == 3L,
        "replays must not have advanced the version")
      require(store.feedSince(2L, 3L).isEmpty,
        "the TXN record commit must be feed-silent")
      require(store.txnInsert("loader", 1L,
          Ingest.enrich(baseCols(s, dir))).isEmpty &&
        store.txnInsert("loader", 3L,
          Ingest.enrich(baseCols(s, dir))).isEmpty,
        "replays at or below the recorded version must skip")
      require(store.currentVersion() == 3L && store.latestTxnVersion("loader")
        == Some(3L), "a skipped replay must leave no trace")
      // the SQL face reads the same registry
      s.conf.set("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      val sqlV = s.sql(
        s"CALL graft_store.last_txn_version('$storePath', 'loader')")
        .collect().head.getLong(0)
      require(sqlV == 3L, s"SQL last_txn_version returned $sqlV")
      val out = store.all()
        .groupBy(substring(col("email"), 1, 1).as("block"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      out.toDF("block", "n_rows", "id_sum").orderBy(col("block"))
    }),

    // COPY INTO / Auto Loader: a directory ingest loads each file
    // exactly once however many times it re-runs — the loaded names
    // ride the insert commit's atomic promotion into the `_ingested`
    // registry, so a crash or re-run can neither double-load nor drop
    // a file. The second call after new files arrive loads ONLY them.
    "pipeline_ingest_incremental" -> ((s, dir) => {
      import s.implicits._
      val ids = customerFixture(s, dir)
        .select(col("c_custkey")).orderBy(col("c_custkey"))
        .as[Long].collect().toSeq
      def uLine(k: Long) = s"$k,f$k,l$k,u$k@example.com,555-$k"
      def block(p: String, off: Long)(k: Long) = {
        val id = k + off; s"$id,f$id,l$id,$p$id@example.com,555-$id"
      }
      val out = withTempDir("graft-copyinto-") { tmp =>
        val in = new java.io.File(tmp.toFile, "in")
        in.mkdirs()
        def put(name: String, lines: Seq[String]): Unit =
          java.nio.file.Files.write(new java.io.File(in, name).toPath,
            ("id,first_name,last_name,email,phone" +: lines).mkString("\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        val store = new graft.pipeline.CustomerStore(s, s"$tmp/store")
        put("b01.csv", ids.filter(_ % 3 == 0).map(uLine))
        put("b02.csv", ids.filter(_ % 3 == 1).map(uLine))
        put("b03.csv", ids.filter(_ % 3 == 2).map(uLine))
        val first = store.ingestNewFiles(in.toString)
        require(first == ((3L, ids.size.toLong, 0L)), s"first ingest: $first")
        require(store.ingestNewFiles(in.toString) == ((0L, 0L, 0L)),
          "a re-run with nothing new must be a no-op")
        require(store.currentVersion() == 1L,
          "the no-op re-run must not commit")
        put("b04.csv", ids.filter(_ % 5 == 0).map(block("n", 20000000L)))
        put("b05.csv", ids.filter(_ % 7 == 0).map(block("m", 25000000L)))
        val second = store.ingestNewFiles(in.toString)
        require(second._1 == 2L && second._3 == 0L, s"second ingest: $second")
        require(store.currentVersion() == 2L,
          "each real ingest is exactly one commit")
        require(store.ingestedFiles() ==
          Set("b01.csv", "b02.csv", "b03.csv", "b04.csv", "b05.csv"),
          "every loaded file must be registered")
        store.all()
          .groupBy(substring(col("email"), 1, 1).as("block"))
          .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      }
      out.toDF("block", "n_rows", "id_sum").orderBy(col("block"))
    }),

    "pipeline_orc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val out = withTempDir("graft-orc-rt-") { tmp =>
        docs.write.partitionBy("lang").orc(s"$tmp/orc")
        val r = s.read.orc(s"$tmp/orc")
          .filter(col("lang") === "en")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_doc_ids"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_checksum"))
          .head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      Seq(out).toDF("n_docs", "sum_doc_ids", "sum_chars", "text_checksum")
    }))

  val oracles: Map[String, String] = {
    val raw = rawOracles
    // The streaming SCD2 twin folds the IDENTICAL commit history
    // (insert → merge → ack) into the identical dimension — one oracle
    // pins both faces.
    (raw + ("streaming_scd2_parity" -> raw("pipeline_scd2_history"))).map {
      case (k, v) => k -> capCustomer(v)
    }
  }

  private def rawOracles: Map[String, String] = Map(
    "pipeline_ingest_csv" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_valid_ids,
           CAST(2 AS BIGINT) AS n_bad_id,
           CAST(1 AS BIGINT) AS n_empty_email,
           CAST(0 AS BIGINT) AS n_malformed_csv
         FROM customer""",
    // Every file-00 row wins; conflicts from file 01 all lose.
    "pipeline_ingest_multifile" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_pending,
           CAST(COUNT(*) AS BIGINT) AS n_original_emails,
           CAST(0 AS BIGINT) AS n_quarantined
         FROM customer""",
    // Conflicts never survive; marking the evens leaves the odds.
    "pipeline_workqueue_cycle" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_pending_before,
           CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pending_after,
           CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_uploaded
         FROM customer""",
    "pipeline_workqueue_jdbc" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted,
           CAST(COUNT(*) AS BIGINT) AS n_pending_before,
           CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pending_after,
           CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_uploaded
         FROM customer""",
    // Restore-commit change-type counts from the planted arithmetic:
    // inserts = rows deleted in v3 (k%5), delete_pre = fresh merge rows
    // (k%10), updates = phone-changed survivors (k%3 minus deleted).
    "pipeline_restore" ->
      """WITH c AS (SELECT COUNT(*) AS n,
              SUM(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END) AS d,
              SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS f,
              SUM(CASE WHEN c_custkey % 3 = 0 AND c_custkey % 5 <> 0
                  THEN 1 ELSE 0 END) AS u
            FROM customer)
         SELECT CAST(n AS BIGINT) AS n_v1,
           CAST(n - d + f AS BIGINT) AS n_before_restore,
           CAST(n AS BIGINT) AS n_after_restore,
           CAST(d AS BIGINT) AS n_restore_inserts,
           CAST(f AS BIGINT) AS n_restore_deletes,
           CAST(u AS BIGINT) AS n_restore_updates
         FROM c""",
    // Range bounds derive from the same min/max quantile arithmetic
    // (integer division, positive operands — // and Scala / agree).
    "pipeline_optimize_clustered" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx,
              COUNT(*) AS n FROM customer),
         r AS (SELECT n, mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi FROM b)
         SELECT CAST(r.n AS BIGINT) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer, r
            WHERE c_custkey BETWEEN lo AND hi) AS n_in_range,
           (SELECT CAST(SUM(c_custkey) AS BIGINT) FROM customer, r
            WHERE c_custkey BETWEEN lo AND hi) AS id_sum_in_range
         FROM r""",
    // The shard is engine-neutral integer arithmetic — DuckDB
    // recomputes ((k % 65537) * 48271) % 65537 % 64 exactly; range
    // bounds derive from the same min/max quantile arithmetic as
    // pipeline_optimize_clustered.
    "pipeline_optimize_zorder" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx,
              COUNT(*) AS n FROM customer),
         r AS (SELECT n, mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi FROM b),
         h AS (SELECT c_custkey AS k,
               ((c_custkey % 65537) * 48271) % 65537 % 64 AS hb FROM customer)
         SELECT CAST(r.n AS BIGINT) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM h, r
            WHERE k BETWEEN lo AND hi) AS n_in_id_range,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM h
            WHERE hb BETWEEN 16 AND 31) AS n_in_shard_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM h, r
            WHERE k BETWEEN lo AND hi AND hb BETWEEN 16 AND 31) AS n_in_rect,
           (SELECT CAST(COALESCE(SUM(k), 0) AS BIGINT) FROM h, r
            WHERE k BETWEEN lo AND hi AND hb BETWEEN 16 AND 31) AS id_sum_in_rect
         FROM r""",
    // The planted live set (base plus the two disjoint +50M/+60M
    // delta blocks) and the engine-neutral shard arithmetic give the
    // band census exactly.
    "pipeline_optimize_incremental" ->
      """WITH live AS (
           SELECT c_custkey AS id FROM customer
           UNION ALL SELECT c_custkey + 50000000 FROM customer WHERE c_custkey % 7 = 0
           UNION ALL SELECT c_custkey + 60000000 FROM customer WHERE c_custkey % 7 = 1),
         h AS (SELECT id, ((id % 65537) * 48271) % 65537 % 64 AS hb FROM live)
         SELECT CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN hb BETWEEN 16 AND 23 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_band,
           CAST(COALESCE(SUM(CASE WHEN hb BETWEEN 16 AND 23 THEN id END), 0)
             AS BIGINT) AS id_sum_in_band
         FROM h""",
    // The KMV table sample, the integer estimates, and the audit
    // booleans all recomputed from the same md5-word arithmetic; range
    // bounds from the min/max quantile arithmetic.
    "pipeline_analyze_estimate" ->
      """WITH o AS (SELECT c_custkey AS id,
              CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                AS UBIGINT) AS BIGINT) AS h
            FROM customer),
          b AS (SELECT MIN(id) AS mn, MAX(id) AS mx,
                  CAST(COUNT(*) AS BIGINT) AS total FROM o),
          sk AS (SELECT id FROM o ORDER BY h, id LIMIT 128),
          r AS (SELECT '1_decile' AS range_name, mn AS lo,
                  mn + (mx - mn) // 10 AS hi FROM b
                UNION ALL
                SELECT '2_quartile', mn + (mx - mn) // 4,
                  mn + (mx - mn) // 2 FROM b
                UNION ALL
                SELECT '3_half', mn, mn + (mx - mn) // 2 FROM b),
          e AS (SELECT r.range_name, r.lo, r.hi,
                  (SELECT total FROM b) *
                    (SELECT COUNT(*) FROM sk WHERE id BETWEEN r.lo AND r.hi)
                    // 128 AS est_rows,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM o
                   WHERE id BETWEEN r.lo AND r.hi) AS exact_rows
                FROM r)
          SELECT range_name, CAST(est_rows AS BIGINT) AS est_rows,
            exact_rows, (SELECT total FROM b) AS n_rows,
            CAST(128 AS BIGINT) AS sample_k,
            ABS(est_rows - exact_rows) * 100 <= (SELECT total FROM b) * 15
              AS within_15pct_of_total
          FROM e ORDER BY range_name""",
    // Writer-path arithmetic: v1 = all custkeys; v2 adds only the
    // fresh %10 block (both conflict classes drop); v3's SQL INSERT
    // adds the %97 multiples of the v1 snapshot.
    "pipeline_catalog_write" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_v1,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_after_v2,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted_v2,
           CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted_v3
         FROM customer""",
    // MERGE arithmetic from the same planted custkey fixture: %3==0
    // update (and exactly those get 999- phones), %3==1 identical,
    // %10==0 insert, %10==3 conflicts drop.
    "pipeline_catalog_merge" ->
      """SELECT
           CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(SUM(CASE WHEN c_custkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_conflicts,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_total_after,
           CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone_updated
         FROM customer""",
    // Block-3 arithmetic over the capped base: ids above the second
    // third, tiers planted as id+20M.
    "pipeline_evolved_skipping" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx
              FROM customer)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS id_sum,
           CAST(MIN(c_custkey) + 20000000 AS BIGINT) AS min_tier,
           CAST(MAX(c_custkey) + 20000000 AS BIGINT) AS max_tier
         FROM customer, b
         WHERE c_custkey > b.mn + 2 * (b.mx - b.mn) // 3""",
    // Evolution-merge arithmetic: %3 IN (0,1) update (tier-only diffs
    // count — the detection extension), %10==0 insert (even ids → all
    // t0), %10==3 conflicts drop; tier parity follows c_custkey parity.
    "pipeline_catalog_merge_evolution" ->
      """SELECT
           CAST(SUM(CASE WHEN c_custkey % 3 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updated,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted,
           CAST(0 AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_conflicts,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_total_after,
           CAST(SUM(CASE WHEN c_custkey % 3 IN (0, 1) AND c_custkey % 2 = 0
                         THEN 1 ELSE 0 END)
              + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tier0,
           CAST(SUM(CASE WHEN c_custkey % 3 IN (0, 1) AND c_custkey % 2 = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tier1,
           CAST(SUM(CASE WHEN c_custkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_tier
         FROM customer""",
    // The (1,3] slice of the insert→merge→ack feed: the merge's fresh
    // +20M block is the only insert, %3==0 update pairs, %5==0 ack
    // pairs (identical matches and id-conflicts emit nothing).
    "pipeline_catalog_changes" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          ack AS (SELECT 'ack' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ackp AS (SELECT 'ack_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ins AS (SELECT 'insert' AS change_type,
                    (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_changes,
                    CAST((SELECT COALESCE(SUM(id + 20000000), 0) FROM c
                          WHERE id % 10 = 0) AS BIGINT) AS id_sum),
          upd AS (SELECT 'update' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0),
          updp AS (SELECT 'update_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0)
          SELECT * FROM ack UNION ALL SELECT * FROM ackp UNION ALL SELECT * FROM ins
          UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM updp
          ORDER BY change_type""",
    // Procedure-gate arithmetic: the delete kills the quartile range,
    // compact keeps the post-delete count, restore(1) brings every
    // custkey back; the version history is constant (v1 insert,
    // v2 delete, v3 compact, v4 restore, snapshot at 4).
    "pipeline_catalog_procedures" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx,
              CAST(COUNT(*) AS BIGINT) AS n FROM customer),
          r AS (SELECT n, mn + (mx - mn) // 4 AS lo,
                  mn + (mx - mn) // 2 AS hi FROM b),
          d AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer, r
                  WHERE c_custkey >= lo AND c_custkey < hi) AS ndel)
         SELECT r.n AS n_before, r.n - d.ndel AS n_after_delete,
           r.n - d.ndel AS n_after_compact, r.n AS n_after_restore,
           CAST(3 AS BIGINT) AS v_compact, CAST(4 AS BIGINT) AS v_restore,
           CAST(4 AS BIGINT) AS snapshot_version
         FROM r, d""",
    // Every figure the pushdown gate returns is plain custkey
    // arithmetic over the full table.
    "pipeline_catalog_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(c_custkey) AS BIGINT) AS min_id,
           CAST(MAX(c_custkey) AS BIGINT) AS max_id,
           CAST(SUM(c_custkey) AS BIGINT) AS id_sum
         FROM customer""",
    // Per-partition arithmetic of the 3-commit fixture: acked = base
    // %5==0 (uploaded=true); pending = the rest of the base plus the
    // merge's +20M fresh block.
    "pipeline_catalog_agg_grouped" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          pend AS (SELECT FALSE AS uploaded, CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(MIN(id) AS BIGINT) AS min_id,
                     CAST(MAX(id) AS BIGINT) AS max_id
                   FROM (SELECT id FROM c WHERE id % 5 <> 0
                         UNION ALL SELECT id + 20000000 FROM c WHERE id % 10 = 0)),
          up AS (SELECT TRUE AS uploaded, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(id) AS BIGINT) AS min_id,
                   CAST(MAX(id) AS BIGINT) AS max_id
                 FROM c WHERE id % 5 = 0)
         SELECT * FROM pend UNION ALL SELECT * FROM up ORDER BY uploaded""",
    // Runtime-prune arithmetic: the 'a'-tagged dim rows are exactly the
    // custkeys above the two-thirds point, all present in the store.
    "pipeline_catalog_runtime_prune" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx FROM customer),
          t AS (SELECT mn + 2 * (mx - mn) // 3 AS t2 FROM b)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(c_custkey) AS BIGINT) AS id_sum
         FROM customer, t WHERE c_custkey > t2""",
    // Update arithmetic: %4==1 rows get 999- phones; the no-op pass
    // leaves every matched row unchanged.
    "pipeline_catalog_update" ->
      """SELECT
           CAST(SUM(CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(0 AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_noop_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone_after,
           CAST(COUNT(*) AS BIGINT) AS n_total
         FROM customer""",
    // Delete arithmetic from the same planted custkey fixture: the
    // range kills custkeys in [quartile, half); the point delete kills
    // exactly the min custkey (outside the range, so always −1 more).
    "pipeline_catalog_delete" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx,
              CAST(COUNT(*) AS BIGINT) AS n FROM customer),
          r AS (SELECT n, mn + (mx - mn) // 4 AS lo,
                  mn + (mx - mn) // 2 AS hi FROM b),
          d AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer, r
                  WHERE c_custkey >= lo AND c_custkey < hi) AS ndel)
         SELECT r.n AS n_before, d.ndel AS n_deleted_range,
           r.n - d.ndel AS n_after_range, r.n - d.ndel - 1 AS n_after_point
         FROM r, d""",
    // The full KMV join estimator re-run in SQL: store ids = custkeys
    // + the merge's +20M fresh block, batch ids = evens + a disjoint
    // +30M block; bottom-k sketches by the md5-word hash, merged
    // bottom-k, integer union/intersection estimates — every
    // intermediate identical to the Scala side's arithmetic.
    "pipeline_join_estimate" ->
      """WITH s_ids AS (SELECT c_custkey AS id FROM customer
              UNION ALL SELECT c_custkey + 20000000 FROM customer
              WHERE c_custkey % 10 = 0),
          b_ids AS (SELECT c_custkey AS id FROM customer WHERE c_custkey % 2 = 0
              UNION ALL SELECT c_custkey + 30000000 FROM customer
              WHERE c_custkey % 3 = 0),
          sh AS (SELECT id, CAST(CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)
                AS UBIGINT) AS BIGINT) AS h FROM s_ids),
          bh AS (SELECT id, CAST(CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)
                AS UBIGINT) AS BIGINT) AS h FROM b_ids),
          ss AS (SELECT h, id FROM (SELECT h, id,
                ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM sh) WHERE rn <= 128),
          bs AS (SELECT h, id FROM (SELECT h, id,
                ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM bh) WHERE rn <= 128),
          kk AS (SELECT LEAST(128, (SELECT COUNT(*) FROM ss),
                (SELECT COUNT(*) FROM bs)) AS k),
          u AS (SELECT DISTINCT h, id FROM
                (SELECT h, id FROM ss UNION ALL SELECT h, id FROM bs)),
          l AS (SELECT h, id FROM (SELECT h, id,
                ROW_NUMBER() OVER (ORDER BY h, id) AS rn FROM u)
                WHERE rn <= (SELECT k FROM kk)),
          ue AS (SELECT CASE
                WHEN (SELECT COUNT(*) FROM u) <= (SELECT k FROM kk)
                  THEN (SELECT COUNT(*) FROM u)
                ELSE ((SELECT k FROM kk) - 1) * 4294967296
                  // GREATEST((SELECT MAX(h) FROM l), 1) END AS union_est),
          m AS (SELECT COUNT(*) AS matches FROM l
                JOIN ss USING (h, id) JOIN bs USING (h, id))
         SELECT CAST((SELECT matches FROM m) * (SELECT union_est FROM ue)
             // (SELECT k FROM kk) AS BIGINT) AS est_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
            WHERE c_custkey % 2 = 0) AS exact_rows,
           CAST((SELECT union_est FROM ue) AS BIGINT) AS union_est,
           CAST((SELECT k FROM kk) AS BIGINT) AS sample_k""",
    // All seven counts derive from the same %-of-custkey arithmetic:
    // N rows inserted, D = multiples of 7 deleted, one re-inserted.
    "pipeline_delete_vectors" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM customer)
         SELECT n AS n_before, d AS n_deleted, n - d AS n_after_delete,
           n - d + 1 AS n_after_reinsert, n AS n_asof_v1, n - d AS n_asof_v2,
           n - d + 1 AS n_after_compact
         FROM c""",
    // Re-derives the planted violations and the committed remainder
    // from the same %-of-custkey arithmetic; CASE order mirrors the
    // declared constraint order (first violated names the row).
    "pipeline_constraints" ->
      """WITH b AS (SELECT c_custkey AS k,
              CASE WHEN c_custkey % 97 = 0 THEN -c_custkey ELSE c_custkey END AS id,
              CASE WHEN c_custkey % 89 = 0 THEN 'u' || c_custkey || '_at_example.com'
                   ELSE 'u' || c_custkey || '@example.com' END AS email,
              CASE WHEN c_custkey % 83 = 0 THEN '' ELSE '555-' || c_custkey END AS phone
            FROM customer),
          t AS (SELECT k, id,
              CASE WHEN NOT COALESCE(email LIKE '%@%', FALSE) THEN 'chk_email_has_at'
                   WHEN NOT COALESCE(id > 0, FALSE) THEN 'chk_id_positive'
                   WHEN NOT COALESCE(length(phone) > 0, FALSE) THEN 'chk_phone_nonempty'
              END AS reason
            FROM b)
         SELECT reason, n_rows, id_sum FROM (
           SELECT 'committed' AS reason, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(id) AS BIGINT) AS id_sum
           FROM t WHERE reason IS NULL
           UNION ALL
           SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(k) AS BIGINT) AS id_sum
           FROM t WHERE reason IS NOT NULL GROUP BY reason)
         ORDER BY reason""",
    // Lookup keys are the 1/7 and 5/7 quantile custkeys (contiguous
    // keys, so each exists). The found/uploaded sums tie the point
    // reads and the ack to the exact planted rows.
    "pipeline_bloom_pointread" ->
      """WITH b AS (SELECT min(c_custkey) AS mn, max(c_custkey) AS mx,
                           count(*) AS n FROM customer),
              k AS (SELECT mn + (mx - mn) * 1 // 7 AS k1,
                           mn + (mx - mn) * 5 // 7 AS k5, n FROM b)
         SELECT CAST(2 AS BIGINT) AS n_found,
           CAST(k1 + k5 AS BIGINT) AS sum_found_id,
           CAST(n - 2 AS BIGINT) AS n_pending_after,
           CAST(2 AS BIGINT) AS n_uploaded,
           CAST(k1 + k5 AS BIGINT) AS sum_uploaded_id
         FROM k""",
    // Every figure the catalog read returns derives from the planted
    // insert→merge→ack arithmetic: +%10-of-custkey fresh rows, %5
    // acked, quartile range over the un-acked base, quantile-key point
    // lookups; the REQUIREs (row parity with the API read, pushed
    // filters, files actually skipped) run inside the query.
    "pipeline_catalog_read" ->
      """WITH b AS (SELECT MIN(c_custkey) AS mn, MAX(c_custkey) AS mx,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f,
              CAST(SUM(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u
            FROM customer),
          r AS (SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi,
              mn + (mx - mn) * 1 // 7 AS k1, mn + (mx - mn) * 5 // 7 AS k5 FROM b)
         SELECT b.n + b.f AS n_total, b.u AS n_uploaded,
           b.n + b.f - b.u AS n_pending,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer, r
            WHERE c_custkey BETWEEN lo AND hi AND c_custkey % 5 <> 0) AS n_in_range,
           (SELECT CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) FROM customer, r
            WHERE c_custkey BETWEEN lo AND hi AND c_custkey % 5 <> 0) AS id_sum_in_range,
           CAST(2 AS BIGINT) AS n_found,
           CAST(r.k1 + r.k5 AS BIGINT) AS sum_found_id,
           b.n AS n_asof_v1, b.n + b.f AS n_asof_v2
         FROM b, r""",
    // %3==0 update, %3==1 unchanged, %10==0 insert, %10==3 id-conflict
    // (dropped); phones re-derived from the stored table must equal
    // the update count.
    "pipeline_merge_upsert" ->
      """SELECT CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(SUM(CASE WHEN c_custkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_updated,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_total_after
         FROM customer""",
    "pipeline_merge_changelog" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          ack AS (SELECT 'ack' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ackp AS (SELECT 'ack_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ins AS (SELECT 'insert' AS change_type,
                    (SELECT COUNT(*) FROM c) +
                      (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_changes,
                    CAST((SELECT SUM(id) FROM c) +
                      (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                      AS BIGINT) AS id_sum),
          upd AS (SELECT 'update' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0),
          updp AS (SELECT 'update_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0)
          SELECT * FROM ack UNION ALL SELECT * FROM ackp UNION ALL SELECT * FROM ins
          UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM updp
          ORDER BY change_type""",
    // SCD2 over the v1-insert → v2-merge → v3-ack history. Current
    // row per key: ack if %5, else update if %3, else insert (fresh
    // %10 keys are insert-current, never touched again). Closed rows:
    // every %3 insert closes at v2 (span 1), every non-%3 %5 insert
    // closes at v3 (span 2), and the %15 updates close at v3 (span 1).
    "pipeline_scd2_history" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          cur AS (
            SELECT 'current' AS state, 'ack' AS change_type,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(id) AS BIGINT) AS id_sum,
              CAST(0 AS BIGINT) AS span_sum
            FROM c WHERE id % 5 = 0
            UNION ALL
            SELECT 'current', 'insert',
              CAST((SELECT COUNT(*) FROM c WHERE id % 3 <> 0 AND id % 5 <> 0)
                 + (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS BIGINT),
              CAST((SELECT SUM(id) FROM c WHERE id % 3 <> 0 AND id % 5 <> 0)
                 + (SELECT COALESCE(SUM(id + 20000000), 0) FROM c
                    WHERE id % 10 = 0) AS BIGINT),
              CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'current', 'update', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(id) AS BIGINT), CAST(0 AS BIGINT)
            FROM c WHERE id % 3 = 0 AND id % 5 <> 0),
          cls AS (
            SELECT 'closed' AS state, 'insert' AS change_type,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(id) AS BIGINT) AS id_sum,
              CAST(SUM(CASE WHEN id % 3 = 0 THEN 1 ELSE 2 END) AS BIGINT)
                AS span_sum
            FROM c WHERE id % 3 = 0 OR id % 5 = 0
            UNION ALL
            SELECT 'closed', 'update', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(id) AS BIGINT), CAST(COUNT(*) AS BIGINT)
            FROM c WHERE id % 3 = 0 AND id % 5 = 0)
          SELECT * FROM cls UNION ALL SELECT * FROM cur
          ORDER BY state, change_type""",
    // Fork at v3 of the insert→merge→ack history. Feed mass at the
    // fork = inserts (base + %10 fresh) + update/update_pre (%3) +
    // ack/ack_pre (%5). Divergent acks: %7\%5 on the clone, %11\%5 on
    // the source — the sides only match if no commit crossed the fork.
    "pipeline_clone_divergence" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f,
              CAST(SUM(CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u3,
              CAST(SUM(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a5,
              CAST(SUM(CASE WHEN id % 7 = 0 AND id % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS a7,
              CAST(SUM(CASE WHEN id % 11 = 0 AND id % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS a11
            FROM c)
         SELECT CAST(3 AS BIGINT) AS v_at_fork,
           n AS n_asof1_clone,
           n + f + 2 * u3 + 2 * a5 AS feed_rows_at_fork,
           a5 + a11 AS n_uploaded_src,
           a5 + a7 AS n_uploaded_clone,
           n + f AS n_total_src,
           n + f AS n_total_clone,
           CAST(4 AS BIGINT) AS v_src_after,
           CAST(4 AS BIGINT) AS v_clone_after
         FROM b""",
    // Erase the %13 slice from the insert→merge→ack history: live
    // state loses the slice, the feed loses its inserts plus the
    // %3/%5 update/ack pairs, and both time-travel replays lose the
    // slice (no feed rows left to replay).
    "pipeline_purge_erasure" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(id) AS BIGINT) AS sid,
              CAST(SUM(CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f,
              CAST(SUM(CASE WHEN id % 10 = 0 THEN id + 20000000 ELSE 0 END)
                AS BIGINT) AS fsid,
              CAST(SUM(CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u3,
              CAST(SUM(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a5,
              CAST(SUM(CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k,
              CAST(SUM(CASE WHEN id % 13 = 0 THEN id ELSE 0 END) AS BIGINT) AS ksid,
              CAST(SUM(CASE WHEN id % 13 = 0 AND id % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS k3,
              CAST(SUM(CASE WHEN id % 13 = 0 AND id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS k5
            FROM c)
         SELECT k AS n_live_excised,
           k + 2 * k3 + 2 * k5 AS n_feed_excised,
           CAST(4 AS BIGINT) AS v_after,
           n + f - k AS n_rows,
           sid + fsid - ksid AS id_sum,
           a5 - k5 AS n_uploaded,
           (n + f + 2 * u3 + 2 * a5) - (k + 2 * k3 + 2 * k5) AS n_feed_rows,
           n - k AS n_asof1,
           n + f - k AS n_asof2
         FROM b""",
    // Re-derive every generated band: base rows pre-evolution (-1 =
    // NULL) except the %3 slice recomputed at the merge (phone 999- →
    // ascii 57), fresh %10 rows computed at insert (555- → 53); the
    // feed carries v1 inserts pre-evolution, v4 inserts computed, and
    // the %3 update pair as (stored NULL pre, recomputed post).
    "pipeline_generated_column" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          u AS (SELECT id, CAST(-1 AS BIGINT) AS band FROM c WHERE id % 3 <> 0
            UNION ALL SELECT id, id % 7 + 57 FROM c WHERE id % 3 = 0
            UNION ALL SELECT id + 40000000, (id + 40000000) % 7 + 53
              FROM c WHERE id % 10 = 0),
          f AS (SELECT 'feed_insert' AS src, id, CAST(-1 AS BIGINT) AS band FROM c
            UNION ALL SELECT 'feed_insert', id + 40000000,
              (id + 40000000) % 7 + 53 FROM c WHERE id % 10 = 0
            UNION ALL SELECT 'feed_update_pre', id, CAST(-1 AS BIGINT)
              FROM c WHERE id % 3 = 0
            UNION ALL SELECT 'feed_update', id, id % 7 + 57
              FROM c WHERE id % 3 = 0),
          g AS (SELECT 'live' AS src, band, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(id) AS BIGINT) AS id_sum FROM u GROUP BY band
            UNION ALL SELECT src, band, CAST(COUNT(*) AS BIGINT),
              CAST(SUM(id) AS BIGINT) FROM f GROUP BY src, band)
          SELECT src, band, n_rows, id_sum FROM g ORDER BY src, band""",
    // Identical arithmetic to streaming_cdc_resume: the connector's
    // streaming source must deliver exactly the same feed rows across
    // the checkpointed restart as the file stream over _changelog/.
    "streaming_catalog_cdc_parity" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          ack AS (SELECT 'ack' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ackp AS (SELECT 'ack_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ins AS (SELECT 'insert' AS change_type,
                    (SELECT COUNT(*) FROM c) +
                      (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_changes,
                    CAST((SELECT SUM(id) FROM c) +
                      (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                      AS BIGINT) AS id_sum),
          upd AS (SELECT 'update' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0),
          updp AS (SELECT 'update_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0)
          SELECT * FROM ack UNION ALL SELECT * FROM ackp UNION ALL SELECT * FROM ins
          UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM updp
          ORDER BY change_type""",
    "streaming_cdc_resume" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          ack AS (SELECT 'ack' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ackp AS (SELECT 'ack_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0),
          ins AS (SELECT 'insert' AS change_type,
                    (SELECT COUNT(*) FROM c) +
                      (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_changes,
                    CAST((SELECT SUM(id) FROM c) +
                      (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                      AS BIGINT) AS id_sum),
          upd AS (SELECT 'update' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0),
          updp AS (SELECT 'update_pre' AS change_type, COUNT(*) AS n_changes,
                    CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 3 = 0)
          SELECT * FROM ack UNION ALL SELECT * FROM ackp UNION ALL SELECT * FROM ins
          UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM updp
          ORDER BY change_type""",
    "pipeline_time_travel" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          v1 AS (SELECT CAST(1 AS BIGINT) AS version,
                   COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_uploaded,
                   CAST(SUM(id) AS BIGINT) AS id_sum FROM c),
          v2 AS (SELECT CAST(2 AS BIGINT) AS version,
                   (SELECT COUNT(*) FROM c) +
                     (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_rows,
                   CAST(0 AS BIGINT) AS n_uploaded,
                   CAST((SELECT SUM(id) FROM c) +
                     (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                     AS BIGINT) AS id_sum),
          v3 AS (SELECT CAST(3 AS BIGINT) AS version,
                   (SELECT COUNT(*) FROM c) +
                     (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_rows,
                   (SELECT COUNT(*) FROM c WHERE id % 5 = 0) AS n_uploaded,
                   CAST((SELECT SUM(id) FROM c) +
                     (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                     AS BIGINT) AS id_sum)
          SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
          ORDER BY version""",
    // v3-state arithmetic as in pipeline_time_travel; the lifecycle
    // counters (version 4 after compact, silent feed, 1 file per
    // partition, 4 commits vacuumed, loud past-horizon asOf) are
    // structural constants of the planted history.
    "pipeline_compact_vacuum" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer)
         SELECT CAST(4 AS BIGINT) AS version_after_compact,
           CAST(0 AS BIGINT) AS n_feed_rows_compact,
           CAST(2 AS BIGINT) AS n_files_after_compact,
           CAST(4 AS BIGINT) AS n_commits_vacuumed,
           CAST((SELECT COUNT(*) FROM c) +
             (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS BIGINT) AS n_rows_head,
           CAST((SELECT COUNT(*) FROM c WHERE id % 5 = 0) AS BIGINT) AS n_uploaded_head,
           CAST((SELECT SUM(id) FROM c) +
             (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
             AS BIGINT) AS id_sum_head,
           CAST(1 AS BIGINT) AS past_horizon_fails""",
    // Planted clock: commit v lands at v*1000 ms; "as of t" = last
    // commit with ts <= t. ts 500 predates genesis (empty, COALESCE'd
    // zeros), 1000/1500 resolve v1, 2999 resolves v2, 999999 the head.
    "pipeline_asof_timestamp" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          v1 AS (SELECT COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_uploaded,
                   CAST(SUM(id) AS BIGINT) AS id_sum FROM c),
          v2 AS (SELECT (SELECT COUNT(*) FROM c) +
                     (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n_rows,
                   CAST(0 AS BIGINT) AS n_uploaded,
                   CAST((SELECT SUM(id) FROM c) +
                     (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                     AS BIGINT) AS id_sum),
          v3 AS (SELECT (SELECT n_rows FROM v2) AS n_rows,
                   (SELECT COUNT(*) FROM c WHERE id % 5 = 0) AS n_uploaded,
                   (SELECT id_sum FROM v2) AS id_sum)
          SELECT CAST(500 AS BIGINT) AS ts_ms, CAST(0 AS BIGINT) AS n_rows,
                 CAST(0 AS BIGINT) AS n_uploaded, CAST(0 AS BIGINT) AS id_sum
          UNION ALL SELECT 1000, n_rows, n_uploaded, id_sum FROM v1
          UNION ALL SELECT 1500, n_rows, n_uploaded, id_sum FROM v1
          UNION ALL SELECT 2999, n_rows, n_uploaded, id_sum FROM v2
          UNION ALL SELECT 999999, n_rows, n_uploaded, id_sum FROM v3
          ORDER BY ts_ms""",
    "pipeline_dsv2_source" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          half AS (SELECT MAX(id) // 2 AS h FROM c)
          SELECT
            CAST((SELECT COUNT(*) FROM c WHERE id > (SELECT h FROM half)) AS BIGINT)
              AS n_filtered,
            CAST((SELECT SUM(id) FROM c WHERE id > (SELECT h FROM half)) AS BIGINT)
              AS id_sum_filtered,
            CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_valid_total""",
    "streaming_mv_resume" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          pend AS (SELECT CAST(0 AS BIGINT) AS uploaded,
                     (SELECT COUNT(*) FROM c WHERE id % 5 <> 0) +
                       (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n,
                     CAST((SELECT SUM(id) FROM c WHERE id % 5 <> 0) +
                       (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                       AS BIGINT) AS id_sum),
          up AS (SELECT CAST(1 AS BIGINT) AS uploaded, COUNT(*) AS n,
                   CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0)
          SELECT * FROM pend UNION ALL SELECT * FROM up
          ORDER BY uploaded""",
    "pipeline_incremental_mv" ->
      """WITH c AS (SELECT c_custkey AS id FROM customer),
          pend AS (SELECT CAST(0 AS BIGINT) AS uploaded,
                     (SELECT COUNT(*) FROM c WHERE id % 5 <> 0) +
                       (SELECT COUNT(*) FROM c WHERE id % 10 = 0) AS n,
                     CAST((SELECT SUM(id) FROM c WHERE id % 5 <> 0) +
                       (SELECT COALESCE(SUM(id + 20000000), 0) FROM c WHERE id % 10 = 0)
                       AS BIGINT) AS id_sum),
          up AS (SELECT CAST(1 AS BIGINT) AS uploaded, COUNT(*) AS n,
                   CAST(SUM(id) AS BIGINT) AS id_sum FROM c WHERE id % 5 = 0)
          SELECT * FROM pend UNION ALL SELECT * FROM up
          ORDER BY uploaded""",
    // Final per-group min/max/count over the planted live set: all
    // custkeys minus multiples of 7 (the vector delete) plus the
    // +50M re-keys of multiples of 11 (group-preserving: 50M ≡ 0
    // mod 8).
    "pipeline_incremental_mv_minmax" ->
      """WITH live AS (
           SELECT c_custkey AS id FROM customer WHERE c_custkey % 7 <> 0
           UNION ALL
           SELECT c_custkey + 50000000 FROM customer WHERE c_custkey % 11 = 0)
         SELECT CAST(id % 8 AS BIGINT) AS g,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM live GROUP BY 1 ORDER BY g""",
    "pipeline_merge_jdbc" ->
      """SELECT CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(SUM(CASE WHEN c_custkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_updated,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_total_after
         FROM customer""",
    "pipeline_merge_stream" ->
      """SELECT CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_updated,
           CAST(SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new_emails,
           CAST(COUNT(*) + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_total_after,
           CAST(0 AS BIGINT) AS n_conflict_rows
         FROM customer""",
    "pipeline_partition_pruning" ->
      """SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS sum_en_chars,
           CAST(COUNT(*) AS BIGINT) AS n_total_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         FROM documents""",
    "pipeline_schema_evolution" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_evolution,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents""",
    // Final per-tier census from the planted arithmetic: base rows are
    // null-tiered (-1) with the %7 slice acked; the fresh +30M block
    // carries tier = id % 3 (30000000 ≡ 0 mod 3, so tier = c_custkey % 3),
    // all pending.
    "pipeline_schema_evolution_store" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          b AS (SELECT CAST(-1 AS BIGINT) AS tier,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum,
                  CAST(SUM(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_uploaded
                FROM c),
          f AS (SELECT CAST(k % 3 AS BIGINT) AS tier,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 30000000) AS BIGINT) AS id_sum,
                  CAST(0 AS BIGINT) AS n_uploaded
                FROM c WHERE k % 10 = 0 GROUP BY 1)
         SELECT * FROM b UNION ALL SELECT * FROM f ORDER BY tier""",
    "pipeline_constraints_persisted" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          u AS (SELECT 'u' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum FROM c),
          m AS (SELECT 'c' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 10000) AS BIGINT) AS id_sum
                FROM c WHERE k % 6 = 0),
          d AS (SELECT 'd' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 60000000) AS BIGINT) AS id_sum
                FROM c WHERE k % 8 = 0)
         SELECT * FROM u UNION ALL SELECT * FROM m UNION ALL SELECT * FROM d
         ORDER BY block""",
    "pipeline_schema_mapping_store" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          b AS (SELECT CAST(-1 AS BIGINT) AS quality,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum,
                  CAST(SUM(CASE WHEN k % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_updated
                FROM c),
          f AS (SELECT CAST((k + 40000000) % 7 AS BIGINT) AS quality,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 40000000) AS BIGINT) AS id_sum,
                  CAST(0 AS BIGINT) AS n_updated
                FROM c WHERE k % 10 = 0 GROUP BY 1)
         SELECT * FROM b UNION ALL SELECT * FROM f ORDER BY quality""",
    "pipeline_history" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer)
         SELECT CAST(v AS BIGINT) AS commit_version, op AS operation,
                CAST(n AS BIGINT) AS n_change_rows
         FROM (VALUES
           (1, 'WRITE', (SELECT COUNT(*) FROM c)),
           (2, 'ADD CONSTRAINT', 0),
           (3, 'ADD CONSTRAINT', 0),
           (4, 'WRITE', (SELECT COUNT(*) FROM c WHERE k % 6 = 0)),
           (5, 'DROP CONSTRAINT', 0),
           (6, 'WRITE', (SELECT COUNT(*) FROM c WHERE k % 8 = 0))
         ) AS t(v, op, n)
         ORDER BY v""",
    "pipeline_type_widening" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          u AS (SELECT 'u' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(NULL AS BIGINT) AS points_sum FROM c),
          w AS (SELECT 'w' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CASE WHEN k % 10 = 0 THEN k + 4000000000
                           ELSE k % 1000 END) AS BIGINT) AS points_sum
                FROM c WHERE k % 5 = 0),
          x AS (SELECT 'x' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 3000000000) AS BIGINT) AS points_sum
                FROM c WHERE k % 7 = 0)
         SELECT * FROM u UNION ALL SELECT * FROM w UNION ALL SELECT * FROM x
         ORDER BY block""",
    "pipeline_replication" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          u AS (SELECT 'u' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum,
                  CAST(SUM(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_updated
                FROM c),
          n AS (SELECT 'n' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 20000000) AS BIGINT) AS id_sum,
                  CAST(0 AS BIGINT) AS n_updated
                FROM c WHERE k % 10 = 0)
         SELECT * FROM u UNION ALL SELECT * FROM n ORDER BY block""",
    "streaming_store_sink_parity" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS id_sum,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_emails
         FROM customer""",
    "pipeline_idempotent_sink" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          u AS (SELECT 'u' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum FROM c),
          t AS (SELECT 't' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 50000000) AS BIGINT) AS id_sum
                FROM c WHERE k % 4 = 0)
         SELECT * FROM u UNION ALL SELECT * FROM t ORDER BY block""",
    "pipeline_ingest_incremental" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
          u AS (SELECT 'u' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k) AS BIGINT) AS id_sum FROM c),
          n AS (SELECT 'n' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 20000000) AS BIGINT) AS id_sum
                FROM c WHERE k % 5 = 0),
          m AS (SELECT 'm' AS block, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(k + 25000000) AS BIGINT) AS id_sum
                FROM c WHERE k % 7 = 0)
         SELECT * FROM u UNION ALL SELECT * FROM n UNION ALL SELECT * FROM m
         ORDER BY block""",
    "pipeline_jsonl_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
           CAST(SUM(CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) AS BIGINT)) AS BIGINT) AS text_checksum,
           CAST(2 AS BIGINT) AS n_quarantined
         FROM documents""",
    "pipeline_orc_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) AS BIGINT)) AS BIGINT) AS text_checksum
         FROM documents WHERE lang = 'en'""")
}
