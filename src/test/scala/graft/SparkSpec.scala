package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  /** The mains' recipe on 4 cores, independent of `$SPARK_GRAFT_CPUS`:
    * spec partitioning and the pinned job budgets assume 4.
    */
  lazy val session: SparkSession = GraftSession(4)

  /** `op`'s result and the descriptions of the Spark jobs it ran on the
    * shared session (on this thread and the staging threads it spawns).
    */
  def jobsOf[T](op: => T): (T, Seq[String]) = {
    val sc = session.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("graft.spec.budget") == tag)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.budget", tag)
    try {
      val out = op
      org.apache.spark.SpecBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.spec.budget", null)
      sc.removeSparkListener(listener)
    }
  }
}
