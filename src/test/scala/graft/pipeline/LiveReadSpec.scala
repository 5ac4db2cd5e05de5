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

  test("CustomerStore names a row's file only through the scan, bar purge's raw probes") {
    val src = new File("src/main/scala/graft/pipeline/CustomerStore.scala")
    assert(src.isFile, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    val lines = scala.io.Source.fromFile(src, "UTF-8").getLines().toIndexedSeq
    val definer = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    // Each input_file_name( call, by the method it sits in.
    val callers = lines.indices.filter(i => lines(i).contains("input_file_name(")).map { i =>
      (i to 0 by -1).iterator.flatMap(j => definer.findFirstMatchIn(lines(j)).map(_.group(1)))
        .nextOption().getOrElse(s"line ${i + 1}")
    }
    assert(callers.sorted === Seq("exciseParquet", "purgeEmails"),
      s"input_file_name( outside purge's raw probes: $callers")
  }
}
