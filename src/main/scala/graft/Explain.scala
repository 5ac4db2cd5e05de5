package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Query profiler and plan auditor. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName...]
  *
  * Prebuilds the fixture-store templates when a named query is a
  * parity gate (as the bench does, so gate numbers are operator
  * cost), then runs the named queries through the
  * bench's noop sink for two passes, dropping the memoized and
  * persisted builds before each pass. Per pass and query it prints the
  * wall time and a histogram of the Spark jobs it ran, grouped by job
  * description (the `graft.util.Labeled` phases); pass 1 pays codegen
  * and JIT, pass 2 is the warm number. Then it prints each query's
  * formatted physical plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession(GraftSession.envCores)

    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        started.put(js.jobId, (desc, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.remove(je.jobId)).foreach { case (desc, t0) =>
          done.add((desc, je.time - t0))
        }
    })

    try graft.queries.PipelineParity.prebuildTemplates(spark, sfDir, names)
    catch { case e: Throwable => System.err.println(s"[explain] prebuild: $e") }

    val last = scala.collection.mutable.Map[String, DataFrame]()
    for (p <- 1 to 2) {
      graft.util.SessionCache.clearAll()
      graft.util.IndexStore.invalidate(sfDir)
      names.foreach { name =>
        done.clear()
        // Time construction + materialization: queries with an eager
        // driver loop (connected components) do real work at construction.
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        last(name) = df
        Thread.sleep(200) // let straggler listener events land
        val jobs = done.asScala.toSeq
        println(f"[explain] p$p $name%-28s ${sec}%7.2f s  jobs=${jobs.size}%3d  jobms=${jobs.map(_._2).sum}%6d")
        jobs.groupBy(_._1).toSeq
          .map { case (d, js) => (d, js.size, js.map(_._2).sum) }
          .sortBy(-_._3).take(20)
          .foreach { case (d, n, ms) =>
            println(f"    $n%4d jobs $ms%7d ms  ${if (d.isEmpty) "(unlabeled)" else d.take(70)}")
          }
      }
    }
    names.foreach { name =>
      println(s"========== $name ==========")
      last(name).explain("formatted")
    }
    spark.stop()
  }
}
