package graft.util

import graft.sources.ParquetGroups
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps (per-file min/max/count statistics) and the
  * pruned reads they enable — the manifest-statistics pattern every
  * large table format uses for data skipping: a range predicate first
  * consults the stats table, then opens ONLY the files whose zone may
  * intersect. On a sorted or z-ordered layout that turns an O(table)
  * scan into an O(matching files) scan; at 100 TB the stats table (one
  * row per file) is millions of times smaller than the data and lives
  * happily broadcast or on the driver, exactly like a format manifest.
  *
  * Zone pruning is MAY-CONTAIN: the surviving files are a superset of
  * the matching rows, so [[readRange]] re-applies the exact predicate
  * after the scan (same contract as parquet row-group statistics, one
  * level up).
  */
object DataSkipping {

  /** Per-file stats for `cols`: `_file`, `n_rows`, and `min_c`/`max_c`
    * per column. One pass over the directory; at scale this is the
    * artifact you persist per table snapshot and maintain per commit.
    */
  def collectStats(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    ParquetGroups.read(spark, dir)
      .select(input_file_name().as("_file") +: cols.map(col): _*)
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)

  /** Files whose `[min, max]` zone intersects `[lo, hi]` on every
    * given column (conjunctive ranges — the multi-dimensional case a
    * z-ordered layout serves).
    */
  def pruneRanges(stats: DataFrame, ranges: Seq[(String, Long, Long)]): Seq[String] = {
    val pred = ranges.map { case (c, lo, hi) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    stats.filter(pred).select(col("_file")).collect().map(_.getString(0)).toSeq
  }

  /** Read only the files that may contain rows matching the ranges and
    * re-apply the exact predicate. Returns (rows, filesRead,
    * filesTotal) so callers can assert the skip actually happened.
    */
  def readRanges(spark: SparkSession, dir: String,
      ranges: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    val stats = collectStats(spark, dir, ranges.map(_._1)).localCheckpoint(true)
    val total = stats.count().toInt
    val keep = pruneRanges(stats, ranges)
    val exact = ranges.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    val df =
      if (keep.isEmpty)
        ParquetGroups.read(spark, dir).filter(exact).limit(0)
      else ParquetGroups.read(spark, keep: _*).filter(exact)
    (df, keep.size, total)
  }

  // Per-file bloom filter: `bits` bits packed into bits/64 longs,
  // BLOOM_SEEDS hash functions (xxhash64 with distinct salt
  // literals). Size `bits` to ≳16× the distinct keys per file (the
  // caller knows its layout): fill stays ≲20%, so a point lookup
  // false-positives on a non-containing file with probability
  // ~0.2^3 ≈ 1% — may-contain semantics, exact re-filter after the
  // scan, same contract as the min/max zones. An UNDER-sized bloom
  // degrades to read-everything (saturated filters pass every
  // probe), which is why sizing scales with the data, not a
  // constant — the round-9 10× measurement caught exactly that.
  val DEFAULT_BLOOM_BITS = 1024L
  private val BLOOM_SEEDS = 3

  /** Per-file BLOOM FILTER over a point-lookup key — the skipping
    * index for equality predicates that min/max zones cannot serve
    * (a hash-clustered or unsorted layout has full-range zones on
    * every file, but each file still contains only its own keys).
    * One row per (file, word): `_file`, `w` (word index), `bits`
    * (the OR of all members' hash bits in that word). At 100 TB this
    * is the per-file bloom every table format embeds in its manifest:
    * BLOOM_WORDS longs per file, maintained per commit, consulted
    * before any file is opened.
    */
  def collectBloom(spark: SparkSession, dir: String, keyCol: String,
      bits: Long = DEFAULT_BLOOM_BITS): DataFrame = {
    val pos = explode(array((0 until BLOOM_SEEDS).map(s =>
      pmod(xxhash64(col(keyCol), lit(s)), lit(bits))): _*)).as("p")
    ParquetGroups.read(spark, dir)
      .select(input_file_name().as("_file"), col(keyCol))
      .select(col("_file"), pos)
      .select(col("_file"), expr("p DIV 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy(col("_file"), col("w"))
      .agg(expr("bit_or(b)").as("bits"))
  }

  /** Files that MAY contain at least one of `keys` under the bloom
    * index: a key hits a file iff all BLOOM_SEEDS of its bits are set.
    * The membership probe is computed with the SAME xxhash64
    * expressions that built the index (both sides are Spark column
    * math, so the hash can never drift between build and probe). The
    * result is manifest-scale (≤ files × keys rows) — the collect is
    * the planner consulting an index, not data flowing to the driver.
    */
  def pruneBloom(spark: SparkSession, bloom: DataFrame, keyCol: String,
      keys: Seq[Long], bits: Long = DEFAULT_BLOOM_BITS): Seq[String] = {
    import spark.implicits._
    pruneBloomKeys(spark, bloom, keyCol, keys.toDF(keyCol), bits)
  }

  /** String-key overload — xxhash64 hashes any atomic type, so the
    * index and probe expressions are type-generic; only the driver-side
    * probe list needs its own entry point.
    */
  def pruneBloomStrings(spark: SparkSession, bloom: DataFrame, keyCol: String,
      keys: Seq[String], bits: Long = DEFAULT_BLOOM_BITS): Seq[String] = {
    import spark.implicits._
    pruneBloomKeys(spark, bloom, keyCol, keys.toDF(keyCol), bits)
  }

  /** Core bloom consult: probe keys arrive as a single-column DataFrame
    * (any atomic key type), so a planner-sized IN-list and a
    * small-batch join probe share one code path. The probe side must be
    * point-lookup sized (it broadcasts into a file×key grid); for batch
    * probes beyond that, a semi-join scan beats consulting per-file
    * blooms anyway — the caller gates.
    */
  def pruneBloomKeys(spark: SparkSession, bloom: DataFrame, keyCol: String,
      keysDf: DataFrame, bits: Long = DEFAULT_BLOOM_BITS): Seq[String] = {
    val probes = keysDf.select(col(keyCol)).distinct()
      .select(col(keyCol),
        explode(array((0 until BLOOM_SEEDS).map(s =>
          pmod(xxhash64(col(keyCol), lit(s)), lit(bits))): _*)).as("p"))
      .select(col(keyCol), expr("p DIV 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
    // LEFT join from the (file × probe-bit) grid: a bloom word with no
    // bits set in a file has NO row in the index, and that absence is a
    // DEFINITE miss — an inner join on `w` would silently drop the
    // probe bit and let min(hit) over the surviving bits claim
    // may_contain, weakening the skip rate for no reason.
    val files = bloom.select(col("_file")).distinct()
    files.crossJoin(broadcast(probes))
      .join(bloom, Seq("_file", "w"), "left")
      .withColumn("hit",
        coalesce((col("bits").bitwiseAND(col("b"))) === col("b"), lit(false)))
      .groupBy(col("_file"), col(keyCol))
      // a key may be in the file iff EVERY seed bit is set
      .agg(min(col("hit")).as("may_contain"))
      .filter(col("may_contain"))
      .select(col("_file")).distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** Point-lookup read through the bloom index: open only files whose
    * bloom may contain one of the keys, re-apply the exact IN
    * predicate. Returns (rows, filesRead, filesTotal) so callers can
    * assert the skip actually happened.
    */
  def readPointLookups(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], bits: Long = DEFAULT_BLOOM_BITS): (DataFrame, Int, Int) = {
    val bloom = collectBloom(spark, dir, keyCol, bits).localCheckpoint(true)
    val total = bloom.select(col("_file")).distinct().count().toInt
    val keep = pruneBloom(spark, bloom, keyCol, keys, bits)
    val exact = col(keyCol).isin(keys: _*)
    val df =
      if (keep.isEmpty) ParquetGroups.read(spark, dir).filter(exact).limit(0)
      else ParquetGroups.read(spark, keep: _*).filter(exact)
    (df, keep.size, total)
  }

  /** Bit-interleaved z-order key over two already-bounded non-negative
    * columns (each < 2^bits): locality in BOTH dimensions maps to
    * locality in the key, so range-partitioning by the key gives every
    * file a tight zone in each dimension — the layout that makes
    * multi-dimensional zone pruning effective where a single-column
    * sort only serves its leading column.
    */
  def zorderKey(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
}
