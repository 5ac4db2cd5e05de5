package graft.pipeline

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The store's live reads are the connector's scan planned over the
  * calling store: planning builds no second store and runs no recovery,
  * so a read completes while a committer holds the promotion lock, and
  * CustomerStore names a row's file only through that scan's `_file`
  * column.
  */
class LiveReadSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long]): DataFrame =
    Ingest.enrich(ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone"))

  test("reads plan and run while the promotion lock is held, and never recover") {
    val path = tmpDir("live-lock") + "/s"
    val store = new CustomerStore(spark, path)
    store.insertNew(batch(1L to 40L)): Unit
    store.insertNew(batch(41L to 80L)): Unit
    // A commit past its commit point but not promoted: recovery would
    // promote it, and would need the promotion lock to do so.
    store.stage(store.appendCommit(batch(81L to 90L)))
    val staged = new File(new File(path, CustomerStore.Staging), "version")
    assert(staged.exists())
    val lock = CustomerStore.promotionLockFor(new File(path).getAbsolutePath)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => lock.synchronized {
      held.countDown()
      release.await(): Unit
    })
    holder.setDaemon(true)
    holder.start()
    try {
      assert(held.await(30, TimeUnit.SECONDS))
      implicit val ec: ExecutionContext = ExecutionContext.global
      val reads = Future {
        (store.all().count(),
          store.pendingPointLookup(Seq("user7@example.com", "user77@example.com"))._1.count())
      }
      assert(Await.result(reads, 120.seconds) === ((80L, 2L)),
        "the reads serve the last promoted state")
      assert(staged.exists() && store.currentVersion() === 2L,
        "a read must not run recovery")
    } finally {
      release.countDown()
      holder.join()
    }
    store.recover()
    assert(store.currentVersion() === 3L && store.all().count() === 90L)
  }

  /** A member definition of a top-level class or object (two-space
    * indent): the method a line sits in, not a local helper.
    */
  private val definer = """^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r

  private def sourceLines(f: File): IndexedSeq[String] = {
    assert(f.isFile, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    scala.io.Source.fromFile(f, "UTF-8").getLines().toIndexedSeq
  }

  /** The method each line matching `hit` sits in. */
  private def callers(lines: IndexedSeq[String], hit: String => Boolean): Seq[String] =
    lines.indices.filter(i => hit(lines(i))).map { i =>
      (i to 0 by -1).iterator.flatMap(j => definer.findFirstMatchIn(lines(j)).map(_.group(1)))
        .nextOption().getOrElse(s"line ${i + 1}")
    }

  test("CustomerStore names a row's file only through the scan, bar purge's raw probes") {
    val lines = sourceLines(new File("src/main/scala/graft/pipeline/CustomerStore.scala"))
    val found = callers(lines, _.contains("input_file_name("))
    assert(found === Seq("exciseParquet"), s"input_file_name( outside exciseParquet: $found")
  }

  test("no main file reads `_stats` or `_deletes` with Spark") {
    val sparkRead = """spark\.read\b|\.read\.parquet|ParquetGroups\.read\(|readStream""".r
    val storeMeta = """_stats|_deletes|StatsManifest|\bDeletes\b|deletionVectorFiles|statsSchema|dvSchema|"stats"|"deletes"""".r
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f).filter(_.getName.endsWith(".scala"))
    val main = walk(new File("src/main/scala"))
    assert(main.nonEmpty, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val hits = main.flatMap { f =>
      sourceLines(f).zipWithIndex.collect {
        case (l, i) if sparkRead.findFirstIn(l).nonEmpty && storeMeta.findFirstIn(l).nonEmpty =>
          s"${f.getName}:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, s"Spark reads of the store's manifest or vectors: $hits")
    assert(sparkRead.findFirstIn(sourceLines(
      new File("src/main/scala/graft/pipeline/StatsSnapshot.scala")).mkString("\n")).isEmpty)
    // CustomerStore's Spark reads, bar the connector's own: the staged
    // change rows at the commit point, and purge's history excision.
    val store = sourceLines(new File("src/main/scala/graft/pipeline/CustomerStore.scala"))
    val found = callers(store, l => sparkRead.findFirstIn(l).nonEmpty && !l.contains("\"graft-store\""))
    assert(found.distinct.sorted === Seq("checkNoConflict", "exciseParquet", "renumberStaged"),
      s"Spark reads in CustomerStore: $found")
  }
}
