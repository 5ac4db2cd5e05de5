package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe: every main (Bench, Verify, Explain,
  * ScaleCommit, PipelineDemo) and the shared spec session build through
  * it, so their timings and plans are comparable. The mains pass
  * [[envCores]]; specs pin their own core count.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The JVM-wide codegen class cache holds 100 entries by default;
      // ~170 queries × several codegen stages each cycle it completely
      // between passes, so every pass re-pays each query's generated-
      // class compile (~0.5-1s on the bigger kernels — text_lm_score
      // measured 2.0s/pass vs 1.2s warm from exactly this in round 9).
      // Size it to hold the whole inventory so pass 2+ is genuinely
      // warm; a few thousand compiled classes are megabytes, noise
      // against the 128 GiB heap.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The events table's `ts` contract (see Tables.apply): the nanos
      // generation reads as its long, the micros one as TIMESTAMP.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
