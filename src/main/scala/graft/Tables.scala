package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet testdata (see
  * TESTDATA.md). Each scale-factor directory holds one parquet file per
  * table; reads go straight to the vectorized parquet reader so Catalyst
  * can push filters and prune columns into the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One base table, its schema resolved from the file's footer on the
    * driver ([[graft.sources.ParquetGroups.read]]): no Spark job and no
    * session conf written, every action still scans the file.
    *
    * The events table has shipped with `ts` as TIMESTAMP(NANOS) (which
    * Spark 4 rejects unless read as long) and as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false). Both generations come back under the same
    * query-facing contract — `ts` as epoch-NANOS BIGINT — so every
    * downstream `ts DIV 1000` keeps meaning "microseconds". That rests
    * on two parquet settings [[GraftSession]] sets once per session:
    *  - nanosAsLong reads the nanos generation as the long verbatim;
    *  - inferTimestampNTZ=false reads the micros generation as
    *    TIMESTAMP (epoch micros verbatim, no session-timezone math),
    *    which the branch below rescales to nanos.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.ParquetGroups.read(spark, s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
    else df
  }

  /** Table feed for KERNEL-BOUND stages (per-token md5 signatures,
    * n-gram language scoring): round-robin repartition to the cluster's
    * core count before the expensive projection. Scan parallelism is
    * row-group granularity — a compact table (one row group) otherwise
    * pins the whole kernel pass to ONE task no matter how many cores
    * exist, and even at scale round-robin balances doc-length skew that
    * file splits preserve. The shuffle ships each row once, which is
    * noise next to a kernel that hashes every token; do NOT use this
    * for scan-bound or filter-then-project queries, where it would
    * defeat pushdown locality for nothing.
    */
  def forKernels(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)
}

/** A named bundle of driver-checkable queries. Every query takes the
  * SparkSession and a scale-factor directory and returns a DataFrame whose
  * column names match its DuckDB oracle exactly (the driver sorts columns
  * by name before hashing). Queries with no exact SQL equivalent (e.g.
  * approximate/MinHash operators) omit the oracle and get a rows-only
  * check.
  */
trait QueryGroup {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
