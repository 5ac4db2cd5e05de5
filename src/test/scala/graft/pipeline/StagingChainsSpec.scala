package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.SparkSpec

/** A local file system reachable only under the `graftfs` scheme. */
class SessionOnlyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** Failure paths of the commit's staging machinery: concurrent staging
  * chains keep every error and never lose the caller's interrupt, and
  * footer reads honour the session's Hadoop configuration.
  */
class StagingChainsSpec extends SparkSpec {

  test("two failing chains: the first error is thrown, the other is suppressed on it") {
    val e = intercept[RuntimeException] {
      CustomerStore.stageConcurrently(
        () => throw new IllegalStateException("chain a"),
        () => throw new IllegalArgumentException("chain b"),
        () => ())
    }
    assert((e +: e.getSuppressed.toSeq).map(_.getMessage).toSet === Set("chain a", "chain b"))
  }

  test("an interrupted caller keeps its flag and returns only after every chain") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[InterruptedException] {
      CustomerStore.stageConcurrently(
        () => Thread.currentThread().interrupt(),
        () => { Thread.sleep(300); finished.set(true) })
    }
    assert(Thread.interrupted(), "the caller's interrupt flag was swallowed")
    assert(finished.get, "stageConcurrently returned while a chain was still running")
  }

  test("footer row counts resolve file systems registered only in the session conf") {
    val dir = tmpDir("footer")
    spark.range(0, 37).write.parquet(dir + "/t")
    val part = new java.io.File(dir, "t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val uris = part.map("graftfs://" + _)
    // A bare Hadoop conf cannot open the scheme at all.
    intercept[java.io.IOException] {
      new Path(uris.head).getFileSystem(new Configuration(false))
    }
    val store = new CustomerStore(spark, tmpDir("footer-store") + "/s")
    spark.conf.set("fs.graftfs.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.graftfs.impl.disable.cache", "true")
    try assert(store.parquetRowCount(uris) === 37L)
    finally {
      spark.conf.unset("fs.graftfs.impl")
      spark.conf.unset("fs.graftfs.impl.disable.cache")
    }
  }
}
