package graft.tools

import org.apache.spark.sql.functions._

/** SCALING.md experiment (r16): drive ONE large batch through the
  * store's staged-commit protocol — insert, payload merge, ack — and
  * print per-phase wall seconds. The parity gates clamp their fixtures
  * to FixtureCap rows by design (operator contracts, not scale), so
  * this main is how the COMMIT MACHINERY itself (staged writes,
  * change-feed write, stats job, promotion) is measured at 10×: run it
  * against /tmp/sfbig (150k customers) on old and new code
  * back-to-back. Dev-time only; never run by the driver.
  */
object ScaleCommit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfbig")
    val spark = graft.GraftSession(graft.GraftSession.envCores)
    val base = graft.Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"),
        concat(lit("f"), col("c_custkey")).as("first_name"),
        concat(lit("l"), col("c_custkey")).as("last_name"),
        concat(lit("u"), col("c_custkey"), lit("@example.com")).as("email"),
        concat(lit("555-"), col("c_custkey")).as("phone"))
      .withColumn("uploaded", lit(false))
      .withColumn("created_ts", current_timestamp())
      .withColumn("modified_ts", current_timestamp())
      .localCheckpoint(true)
    val changed = base.filter(col("id") % 3 === 0)
      .withColumn("phone", concat(lit("999-"), col("id")))
      .localCheckpoint(true)
    def timed[T](what: String)(op: => T): T = {
      val t0 = System.nanoTime()
      val r = op
      println(f"[scale-commit] $what%-12s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    for (round <- 1 to 2) graft.util.Fs.withTempDir("graft-scale-commit-") { tmp =>
      println(s"[scale-commit] round $round (${base.count()} rows)")
      val store = new graft.pipeline.CustomerStore(spark, s"$tmp/store")
      timed("insert")(store.insertNew(base))
      timed("merge")(store.merge(changed))
      timed("ack")(store.markUploaded(
        base.filter(col("id") % 2 === 0).select(col("email").as("email"))))
      timed("feed-count")(store.changeFeed().count())
    }
    spark.stop()
  }
}
