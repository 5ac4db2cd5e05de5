package graft.util

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Persisted index artifacts: build-once/load-after, content-addressed
  * invalidation, and the trained-IVF reuse contract.
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session

  private def withTempRoot(body: => Unit): Unit = {
    val root = Files.createTempDirectory("graft-idx-spec-").toString
    sys.props("graft.index.dir") = root
    try body
    finally sys.props -= "graft.index.dir"
  }

  test("loadOrBuild builds once, loads after, and invalidates on demand") {
    withTempRoot {
      val dataDir = Files.createTempDirectory("graft-idx-data-").toString
      spark.range(10).write.parquet(s"$dataDir/t.parquet")
      var builds = 0
      def build = { builds += 1; spark.range(5).toDF("v") }
      assert(IndexStore.loadOrBuild(spark, dataDir, "art")(build).count() === 5)
      assert(builds === 1)
      val m1 = IndexStore.artifactMtime(dataDir, "art").get
      // Second call must LOAD: the by-name build block never runs.
      assert(IndexStore.loadOrBuild(spark, dataDir, "art")(build).count() === 5)
      assert(builds === 1)
      assert(IndexStore.artifactMtime(dataDir, "art").get === m1)
      // ...and a repeat load in the same session opens nothing: the
      // load memo answers without a footer-read job.
      assert(SparkSpec.jobsOf(IndexStore.loadOrBuild(spark, dataDir, "art")(build))._2.isEmpty)
      assert(builds === 1)
      // Explicit invalidation re-pays the build.
      IndexStore.invalidate(dataDir)
      assert(IndexStore.loadOrBuild(spark, dataDir, "art")(build).count() === 5)
      assert(builds === 2)
    }
  }

  test("an artifact on disk but not memoized loads without a Spark job") {
    withTempRoot {
      val dataDir = Files.createTempDirectory("graft-idx-data-").toString
      spark.range(10).write.parquet(s"$dataDir/t.parquet")
      var builds = 0
      def build = { builds += 1; spark.range(5).toDF("v") }
      IndexStore.loadOrBuild(spark, dataDir, "art")(build): Unit
      // A new session's view: the memo is empty, the artifact persisted.
      // Its schema comes from one footer read on the driver.
      SessionCache.clearAll()
      val (loaded, jobs) =
        SparkSpec.jobsOf(IndexStore.loadOrBuild(spark, dataDir, "art")(build))
      assert(jobs.isEmpty, s"loading a persisted artifact ran Spark jobs: $jobs")
      assert(builds === 1)
      assert(loaded.count() === 5)
    }
  }

  test("rewriting the source data orphans the persisted artifact") {
    withTempRoot {
      val dataDir = Files.createTempDirectory("graft-idx-data-").toString
      spark.range(10).write.parquet(s"$dataDir/t.parquet")
      IndexStore.loadOrBuild(spark, dataDir, "art")(spark.range(5).toDF("v")): Unit
      assert(IndexStore.artifactMtime(dataDir, "art").isDefined)
      // Regenerate the data (different size → different fingerprint):
      // the old artifact is no longer addressable.
      spark.range(1000).write.mode("overwrite").parquet(s"$dataDir/t.parquet")
      assert(IndexStore.artifactMtime(dataDir, "art").isEmpty)
    }
  }

  test("regenerating the data dir garbage-collects the stale fingerprint dir") {
    withTempRoot {
      val root = sys.props("graft.index.dir")
      val dataDir = Files.createTempDirectory("graft-idx-data-").toString
      spark.range(10).write.parquet(s"$dataDir/t.parquet")
      IndexStore.loadOrBuild(spark, dataDir, "art")(spark.range(5).toDF("v")): Unit
      val fpDirsBefore = new java.io.File(root).listFiles().filter(_.isDirectory)
      assert(fpDirsBefore.length === 1)
      // Regenerate the data → new fingerprint. The next load-or-build
      // must collect the orphaned dir, not leak it forever.
      spark.range(1000).write.mode("overwrite").parquet(s"$dataDir/t.parquet")
      IndexStore.loadOrBuild(spark, dataDir, "art")(spark.range(7).toDF("v")): Unit
      val fpDirsAfter = new java.io.File(root).listFiles().filter(_.isDirectory)
      assert(fpDirsAfter.length === 1, s"stale fingerprint dir leaked: ${fpDirsAfter.toSeq}")
      assert(fpDirsAfter.head.getName !== fpDirsBefore.head.getName)
      // A DIFFERENT data dir's artifacts are untouched by this dir's GC.
      val otherDir = Files.createTempDirectory("graft-idx-other-").toString
      spark.range(3).write.parquet(s"$otherDir/t.parquet")
      IndexStore.loadOrBuild(spark, otherDir, "art")(spark.range(3).toDF("v")): Unit
      spark.range(2000).write.mode("overwrite").parquet(s"$dataDir/t.parquet")
      IndexStore.loadOrBuild(spark, dataDir, "art")(spark.range(9).toDF("v")): Unit
      assert(IndexStore.artifactMtime(otherDir, "art").isDefined,
        "GC for one data dir must not collect another dir's artifacts")
    }
  }

  test("a fresh session answers sim_ivf_ann from the persisted index without retraining") {
    withTempRoot {
      val sf = "/root/testdata/sf0.001"
      assume(new java.io.File(s"$sf/embeddings.parquet").exists())
      // Another suite in the same JVM may have memoized this dir's
      // index under the DEFAULT store root; drop the memo so the first
      // call below really builds under this test's temp root.
      SessionCache.clearAll()
      val r1 = graft.SparkEntry.queries("sim_ivf_ann")(spark, sf).collect()
      val m1 = IndexStore.artifactMtime(sf, "ivf_postings_l32r2a2").get
      // A fresh session has an empty memo but the same persisted store.
      SessionCache.clearAll()
      val r2 = graft.SparkEntry.queries("sim_ivf_ann")(spark, sf).collect()
      assert(IndexStore.artifactMtime(sf, "ivf_postings_l32r2a2").get === m1,
        "index was retrained instead of loaded")
      assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
      // Same contract for the dedup family's persisted pair table.
      val c1 = graft.SparkEntry.queries("dedup_clusters")(spark, sf).collect()
      val pm = IndexStore.artifactMtime(sf, "verified_pairs_j50_n3k128b64").get
      SessionCache.clearAll()
      val c2 = graft.SparkEntry.queries("dedup_clusters")(spark, sf).collect()
      assert(IndexStore.artifactMtime(sf, "verified_pairs_j50_n3k128b64").get === pm,
        "pair table was rebuilt instead of loaded")
      assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    }
  }
}
