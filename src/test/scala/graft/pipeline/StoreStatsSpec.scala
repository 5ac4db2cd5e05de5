package graft.pipeline

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The store's per-commit skipping stats (the `_stats` manifest):
  * maintained incrementally by every commit (never rebuilt per query),
  * promoted atomically with the commit, consulted by the email
  * point-lookup path, and safe to lose (missing stats degrade to a
  * read, never a wrong answer).
  */
class StoreStatsSpec extends SparkSpec {

  private def batch(from: Int, until: Int) = {
    import spark.implicits._
    (from until until).map(i =>
      (i.toLong, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone")
  }

  /** Seed across `commits` insert commits — AQE coalesces each small
    * commit's write to one file, so this yields one pending file per
    * commit and a genuinely multi-file, multi-commit manifest.
    */
  private def seed(path: String, n: Int, commits: Int = 1): CustomerStore = {
    val store = new CustomerStore(spark, path)
    val per = n / commits
    for (c <- 0 until commits) {
      val from = 1 + c * per
      val until = if (c == commits - 1) n + 1 else from + per
      store.insertNew(Ingest.enrich(batch(from, until)))
    }
    store
  }

  private def liveFiles(path: String): Set[String] =
    Seq("uploaded=false", "uploaded=true")
      .map(p => new File(path, p)).filter(_.exists())
      .flatMap(_.listFiles().toSeq).filter(_.getName.endsWith(".parquet"))
      .map(_.getName).toSet

  test("every commit stages fresh manifests; all live files stay covered") {
    val path = tmpDir("stats") + "/s"
    val store = seed(path, 100)                       // commit 1
    store.insertNew(Ingest.enrich(batch(101, 151)))   // commit 2
    import spark.implicits._
    store.markUploaded(Seq("user7@example.com", "user120@example.com")
      .toDF("email"))                                 // commit 3 (file-level)
    assert(store.currentVersion() === 3L)
    for (v <- 1L to 3L; root <- Seq("_stats"))
      assert(new File(path, f"$root%s/commit-$v%09d").exists(),
        s"$root manifest missing for commit $v")
    val model = new SparkManifestModel(spark, store, path)
    val bloomFiles = model.bloomManifest().select("file")
      .distinct().collect().map(_.getString(0)).toSet
    val zoneFiles = model.zonesManifest().select("file")
      .collect().map(_.getString(0)).toSet
    val live = liveFiles(path)
    assert(live.nonEmpty)
    assert(live.subsetOf(bloomFiles), s"uncovered files: ${live -- bloomFiles}")
    assert(live.subsetOf(zoneFiles), s"unzoned files: ${live -- zoneFiles}")
  }

  test("zone manifest rows match the files' actual id stats") {
    val path = tmpDir("stats") + "/z"
    val store = seed(path, 80)
    val actual = store.all()
      .select(element_at(split(col("_file"), "/"), -1).as("file"), col("id"))
      .groupBy("file")
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val zoned = new SparkManifestModel(spark, store, path).zonesManifest()
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for ((f, stats) <- actual)
      assert(zoned.get(f).contains(stats), s"zone drift for $f")
  }

  test("pendingPointLookup opens only may-contain files, exact rows") {
    val path = tmpDir("stats") + "/p"
    val store = seed(path, 200, commits = 4)
    val keys = Seq("user13@example.com", "user177@example.com")
    val (rows, nRead, nTotal) = store.pendingPointLookup(keys)
    assert(nTotal > 1, "fixture produced a single pending file — no skip possible")
    assert(nRead < nTotal, s"bloom skipped nothing ($nRead of $nTotal)")
    val got = rows.select("id", "email").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((13L, keys.head), (177L, keys.last)))
  }

  test("missing manifest degrades to reading every file, same rows") {
    val path = tmpDir("stats") + "/m"
    val store = seed(path, 60)
    CustomerStore.deleteRecursively(new File(path, "_stats"))
    val (rows, nRead, nTotal) = store.pendingPointLookup(Seq("user5@example.com"))
    assert(nRead === nTotal, "uncovered files must all be read")
    assert(rows.count() === 1L)
  }

  test("ack is file-level: untouched pending files survive in place") {
    val path = tmpDir("stats") + "/f"
    val store = seed(path, 200, commits = 4)
    val before = store.pendingDataFiles().toSet
    assert(before.size > 1)
    import spark.implicits._
    store.markUploaded(Seq("user42@example.com").toDF("email"))
    val after = store.pendingDataFiles().toSet
    assert((before -- after).size <= 1, "ack rewrote files beyond the touched one")
    assert((before & after).size >= before.size - 1,
      "untouched pending files did not survive the ack commit")
    assert(store.pending().count() === 199L)
    assert(store.all().filter(col("uploaded")).count() === 1L)
  }

  test("optimizeZorder: tight zone rectangles prune BOTH dimensions") {
    val path = tmpDir("stats") + "/zorder"
    val store = new CustomerStore(spark, path)
    // Interleave ids across 4 insert commits so every pending file
    // spans the full id range AND (hash decorrelation) the full shard
    // range — worst case for both dimensions.
    for (m <- 0 until 4)
      store.insertNew(Ingest.enrich(batch(1, 601).filter(col("id") % 4 === m)))
    val (_, read0, total0) = store.pendingRectRead(150L, 300L, 16L, 31L)
    assert(read0 === total0, "interleaved fixture must prune nothing")
    store.optimizeZorder(16)
    val (rows, readRect, total) = store.pendingRectRead(150L, 300L, 16L, 31L)
    val (_, readId, _) = store.pendingRectRead(150L, 300L, 0L, 63L)
    val (_, readHb, _) = store.pendingRectRead(1L, 600L, 16L, 31L)
    assert(readId < total, s"id-only read must prune ($readId/$total)")
    assert(readHb < total, s"shard-only read must prune ($readHb/$total)")
    assert(readRect <= math.min(readId, readHb),
      "rectangle read opened more files than a 1-D read")
    // Exact-predicate parity with a naive full-scan filter.
    val expect = store.pending().filter(col("id").between(150L, 300L) &&
      CustomerStore.hashBucket(col("id")).between(16L, 31L))
      .select(CustomerSchema.uploadColumns.map(col): _*)
    val got = rows.select(CustomerSchema.uploadColumns.map(col): _*)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "zone-pruned rectangle read and full-scan filter disagree")
  }

  test("sample manifest rows are each file's exact bottom-k") {
    val path = tmpDir("stats") + "/sm"
    val store = seed(path, 300, commits = 3)
    val actual = store.all()
      .select(element_at(split(col("_file"), "/"), -1).as("file"),
        conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"),
        col("id"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted
          .take(CustomerStore.SampleK).toSeq
      }
    val manifest = new SparkManifestModel(spark, store, path).sampleManifest()
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
      }
    assert(manifest.keySet === actual.keySet, "sample coverage differs from files")
    for ((f, expect) <- actual)
      assert(manifest(f) === expect, s"sample drift for $f")
  }

  test("incremental optimize: no delta is a no-op; no stats coverage falls back to a full rewrite") {
    val path = tmpDir("stats") + "/inc"
    val store = seed(path, 200, commits = 2)
    store.optimizeZorder(8)
    val vAfterFull = store.currentVersion()
    val filesAfterFull = store.pendingDataFiles().toSet
    // Everything carries the rewrite's version — nothing to absorb.
    store.optimizeZorderIncremental()
    assert(store.currentVersion() === vAfterFull, "no-delta call committed")
    assert(store.pendingDataFiles().toSet === filesAfterFull)
    // Without stats coverage the conservative path is the full rewrite
    // (missing metadata degrades to more work, never a wrong answer).
    CustomerStore.deleteRecursively(new File(path, "_stats"))
    store.optimizeZorderIncremental(4)
    assert(store.currentVersion() === vAfterFull + 1, "fallback did not commit")
    assert((store.pendingDataFiles().toSet & filesAfterFull).isEmpty,
      "fallback full rewrite left old files in place")
    assert(store.pending().count() === 200L)
  }

  test("incremental optimize layering: the next call absorbs earlier delta layers, never the baseline") {
    val path = tmpDir("stats") + "/layer"
    val store = seed(path, 200, commits = 1)
    store.optimizeZorder(4)
    val baseline = store.pendingDataFiles().toSet
    store.insertNew(Ingest.enrich(batch(201, 261)))
    store.optimizeZorderIncremental(4)
    val layer1 = store.pendingDataFiles().toSet -- baseline
    assert(layer1.nonEmpty)
    store.insertNew(Ingest.enrich(batch(261, 321)))
    store.optimizeZorderIncremental(4)
    val after = store.pendingDataFiles().toSet
    assert(baseline.subsetOf(after), "baseline rewritten by a later incremental call")
    assert((layer1 & after).isEmpty,
      "earlier delta layer survived — layers must compact into one")
    assert(store.pending().count() === 320L)
  }

  test("ANALYZE estimate consults only the stats manifest — data files may be unreadable") {
    val path = tmpDir("stats") + "/analyze"
    val store = seed(path, 400, commits = 4)
    val (est, total, k) = store.estimatePendingRange(100L, 300L)
    assert(total === 400L && k === CustomerStore.SampleK)
    // Exact selectivity is 201/400; the estimate must land within 15% of N.
    assert(math.abs(est - 201L) * 100L <= total * 15L,
      s"estimate $est drifted past 15% of $total from exact 201")
    // Truncate every pending data file: any attempt to OPEN one now
    // fails loudly — the estimate must not notice.
    val dir = new File(path, "uploaded=false")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      new java.io.FileOutputStream(f).close()
    }
    assert(store.estimatePendingRange(100L, 300L) === ((est, total, k)),
      "estimate changed after data files were truncated — it read data")
  }

  test("estimates keep pre-delete counts while vectors are live; compaction re-derives them") {
    import spark.implicits._
    val path = tmpDir("stats") + "/estdel"
    val store = seed(path, 400, commits = 2)
    val (_, total0, _) = store.estimatePendingRange(1L, 400L)
    assert(total0 === 400L)
    // Merge-on-read delete: data files untouched, so the documented
    // may-contain boundary applies — stats still count deleted rows.
    store.delete((1 to 100).map(i => s"user$i@example.com").toDF("email"))
    val (_, totalDel, _) = store.estimatePendingRange(1L, 400L)
    assert(totalDel === 400L,
      "stats changed under a merge-on-read delete (no file was rewritten)")
    // Compaction materializes the tombstones; the rewrite commit's
    // stats are exact again.
    store.compact(targetFilesPerPartition = 2)
    val (est, totalC, k) = store.estimatePendingRange(1L, 200L)
    assert(totalC === 300L, s"post-compaction stats total $totalC != live 300")
    assert(k === CustomerStore.SampleK)
    // Exact live count in [1,200] is 100; bound is 15% of N=300.
    assert(math.abs(est - 100L) * 100L <= totalC * 15L,
      s"post-compaction estimate $est drifted from exact 100")
  }

  test("rect reads equal the naive filter for random rectangles across clustering and deletes") {
    import spark.implicits._
    val path = tmpDir("stats") + "/rect"
    val store = seed(path, 400, commits = 4)
    val rnd = new scala.util.Random(17)
    def checkRects(stage: String): Unit =
      (1 to 4).foreach { _ =>
        val (a, b) = (1L + rnd.nextInt(400), 1L + rnd.nextInt(400))
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val (h1, h2) = (rnd.nextInt(64).toLong, rnd.nextInt(64).toLong)
        val (hbLo, hbHi) = (math.min(h1, h2), math.max(h1, h2))
        val (rows, _, _) = store.pendingRectRead(lo, hi, hbLo, hbHi)
        val expect = store.pending().filter(col("id").between(lo, hi) &&
          CustomerStore.hashBucket(col("id")).between(hbLo, hbHi))
          .select(CustomerSchema.uploadColumns.map(col): _*)
        val got = rows.select(CustomerSchema.uploadColumns.map(col): _*)
        assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
          s"rect read drifted from naive filter ($stage, [$lo,$hi]x[$hbLo,$hbHi])")
      }
    checkRects("unclustered")
    store.optimizeZorder(8)
    checkRects("clustered")
    store.delete((1 to 40).map(i => s"user${i * 10}@example.com").toDF("email"))
    checkRects("with deletion vectors")
  }

  test("stats promote with crash recovery at the commit point") {
    val path = tmpDir("stats") + "/c"
    val store = seed(path, 50)
    // Stage an ack commit but crash before promotion (CrashRecoverySpec
    // pattern): the staged manifests must land when recovery replays.
    locally {
      import spark.implicits._
      store.stage(store.ackCommit(Seq("user3@example.com").toDF("email")))
    }
    assert(!new File(path, f"_stats/commit-${2L}%09d").exists())
    val reopened = new CustomerStore(spark, path) // recovery promotes
    assert(new File(path, f"_stats/commit-${2L}%09d").exists())
    assert(new File(path, f"_stats/commit-${2L}%09d").exists())
    val live = liveFiles(path)
    val covered = new SparkManifestModel(spark, reopened, path).bloomManifest().select("file")
      .distinct().collect().map(_.getString(0)).toSet
    assert(live.subsetOf(covered), s"uncovered after recovery: ${live -- covered}")
  }

  test("join estimate consults only the manifest samples — data files may be unreadable") {
    import spark.implicits._
    val path = tmpDir("stats") + "/joinest"
    val store = seed(path, 400, commits = 4)
    // Half-overlapping batch: evens of [1,400] plus a disjoint block.
    val batchIds = ((2 to 400 by 2) ++ (1001 to 1100)).map(_.toLong).toDF("id")
    val (est, unionEst, k) = store.estimateJoinOnId(batchIds)
    assert(k === CustomerStore.SampleK.toLong)
    // Exact |store ⋈ batch| = 200 evens; the bound is the one the
    // driver gate REQUIREs: within 15% of the estimated union.
    assert(math.abs(est - 200L) * 100L <= unionEst * 15L,
      s"join estimate $est drifted past 15% of union $unionEst from exact 200")
    // Truncate every data file: any open now fails loudly — the store
    // side of the estimate must not notice.
    val dir = new File(path, "uploaded=false")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      new java.io.FileOutputStream(f).close()
    }
    assert(store.estimateJoinOnId(batchIds) === ((est, unionEst, k)),
      "join estimate changed after data files were truncated — it read data")
  }

  test("join estimate clamps k to the smaller sketch and stays in bound below SampleK") {
    import spark.implicits._
    val path = tmpDir("stats") + "/joinsmall"
    val store = seed(path, 60) // < SampleK: the manifest sample IS the id set
    val batchIds = ((31 to 90).map(_.toLong)).toDF("id")
    val (est, unionEst, k) = store.estimateJoinOnId(batchIds)
    assert(k === 60L, s"k should clamp to the smaller sketch, got $k")
    // Exact |store ∩ batch| = 30 (ids 31..60), union = 90.
    assert(math.abs(est - 30L) * 100L <= unionEst * 15L,
      s"small-sketch estimate $est drifted past 15% of union $unionEst from exact 30")
  }
}
