package graft.pipeline

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.SparkSpec

/** The driver-resident manifest snapshot against its reference model:
  * the Spark-side consults the store ran before the snapshot existed
  * (kept here, and only here, in [[SparkManifestModel]]), evaluated
  * over the model's Spark reads of the `_stats` and `_deletes` files.
  * On a seeded store every snapshot
  * lookup must return exactly the model's answer after every kind of
  * commit, a commit by a second instance, a lost `_stats` dir and a
  * crash between the stats promotion and the version-counter advance —
  * and every commit's `_stats` rows must equal, as a multiset, the rows
  * the old per-file aggregate computes over the same files.
  */
class ManifestSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long], score: Option[Long => Long] = None): DataFrame = {
    val df = ids.map(i => (i, s"F$i", s"L$i", s"user$i@example.com", s"555-$i"))
      .toDF("id", "first_name", "last_name", "email", "phone")
    val e = Ingest.enrich(df)
    score.fold(e)(f => e.withColumn("score", udf(f).apply(col("id"))))
  }

  private def liveFiles(path: String): Seq[(String, String)] =
    Seq("uploaded=false", "uploaded=true").flatMap { p =>
      Option(new File(path, p).listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.getAbsolutePath)
    }

  private def pendingFiles(path: String): Seq[(String, String)] =
    liveFiles(path).filter(_._2.contains("/uploaded=false/"))

  test("every snapshot lookup equals the Spark-side model across commits, rivals, loss and crash") {
    val path = tmpDir("snap") + "/s"
    val store = new CustomerStore(spark, path)
    val rnd = new scala.util.Random(11)
    val model = new SparkManifestModel(spark, store, path)
    def emailsOf(ids: Seq[Long]) = ids.map(i => s"user$i@example.com")

    /** Lookups that never recover() — safe to run in a crash state. */
    def checkPassive(stage: String): Unit = {
      val pending = pendingFiles(path)
      val live = liveFiles(path)
      val keys = Seq(
        emailsOf(Seq(1L + rnd.nextInt(500), 1L + rnd.nextInt(500))) :+ "nobody@example.com",
        emailsOf((1 to 300).map(_ => 1L + rnd.nextInt(600))))
      for (k <- keys; files <- Seq(pending, live))
        assert(store.bloomKeepFiles(files, k).sorted === model.bloomKeepFiles(files, k).sorted,
          s"[$stage] bloomKeepFiles(${files.size} files, ${k.size} keys)")
      for (_ <- 1 to 2) {
        val (a, b) = (1L + rnd.nextInt(600), 1L + rnd.nextInt(600))
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        assert(store.zoneKeepFiles(live, lo, hi) === model.zoneKeepFiles(live, lo, hi),
          s"[$stage] zoneKeepFiles [$lo, $hi]")
        model.scorePhys.foreach { p =>
          val (slo, shi) = (lo % 50, lo % 50 + 7)
          assert(store.evolvedZoneKeepFiles(live, p, slo, shi) ===
            model.evolvedZoneKeepFiles(live, p, slo, shi),
            s"[$stage] evolvedZoneKeepFiles [$slo, $shi]")
        }
      }
    }

    def checkAll(stage: String): Unit = {
      checkPassive(stage)
      store.recover()
      val pending = pendingFiles(path).map(_._1)
      val (a, b) = (1L + rnd.nextInt(600), 1L + rnd.nextInt(600))
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val (hbLo, hbHi) = (rnd.nextInt(32).toLong, 32L + rnd.nextInt(32))
      val (_, rangeKept, rangeTotal) = store.pendingRangeRead(lo, hi)
      assert((rangeKept, rangeTotal) === ((model.zoneKept(pending,
        _.forall { case (mn, mx) => mx >= lo && mn <= hi }, _ => true), pending.size)),
        s"[$stage] pendingRangeRead [$lo, $hi]")
      val (_, rectKept, _) = store.pendingRectRead(lo, hi, hbLo, hbHi)
      assert(rectKept === model.zoneKept(pending,
        _.forall { case (mn, mx) => mx >= lo && mn <= hi },
        _.forall { case (mn, mx) => mx >= hbLo && mn <= hbHi }),
        s"[$stage] pendingRectRead")
      val keys = emailsOf(Seq(lo, hi))
      val (_, pointKept, pointTotal) = store.pendingPointLookup(keys)
      assert((pointKept, pointTotal) ===
        ((model.bloomKeepFiles(pendingFiles(path), keys).size, pending.size)),
        s"[$stage] pendingPointLookup")
      assert(store.manifestAggregates() === model.manifestAggregates(), s"[$stage] aggregates")
      assert(store.manifestAggregatesGrouped() === model.manifestAggregatesGrouped(),
        s"[$stage] grouped aggregates")
      model.scorePhys.foreach(p =>
        assert(store.manifestEvolvedExtremaGrouped(p) === model.manifestEvolvedExtremaGrouped(p),
          s"[$stage] evolved extrema"))
      assert(store.estimatePendingRange(lo, hi) === model.estimatePendingRange(lo, hi),
        s"[$stage] estimatePendingRange")
      val batchIds = ((lo to hi by 3) ++ (5000L to 5040L)).toDF("id")
      assert(store.estimateJoinOnId(batchIds) === model.estimateJoinOnId(batchIds),
        s"[$stage] estimateJoinOnId")
      val names = liveFiles(path).map(_._1).toSet
      assert(store.manifestRowCount(names) === model.rowCount(names), s"[$stage] row count")
    }

    /** The newest commit's `_stats` rows vs the old aggregate. */
    def checkStatsRows(stage: String): Unit = {
      val v = store.currentVersion()
      val dir = new File(path, f"_stats/commit-$v%09d")
      assert(dir.isDirectory, s"[$stage] commit $v wrote no stats")
      val written = model.statsFileRows(dir)
      val files = written.select("file").distinct().collect().map(_.getString(0)).toSet
      val paths = liveFiles(path).filter(f => files(f._1)).map(_._2)
      assert(paths.size === files.size, s"[$stage] stats describe files that are not live")
      val expect = model.oldStageStats(paths, v)
      assert(written.exceptAll(expect).isEmpty && expect.exceptAll(written).isEmpty,
        s"[$stage] new stats rows differ from the old aggregate")
    }

    for (c <- 0 until 3) {
      store.insertNew(batch((1 + c * 100).toLong to ((c + 1) * 100).toLong))
      checkStatsRows(s"insert $c")
    }
    store.addColumn("score", LongType)
    store.insertNew(batch(301L to 400L, Some(i => i % 50)))
    checkStatsRows("insert with evolved column")
    checkAll("seeded")

    store.markUploaded(emailsOf(Seq(5L, 150L, 333L)).toDF("email"))
    checkStatsRows("ack <= 256")
    checkAll("ack <= 256")

    store.markUploaded(emailsOf((1L to 400L).filter(_ % 4 != 0)).toDF("email"))
    checkStatsRows("ack > 256")
    checkAll("ack > 256")

    store.merge(batch((390L to 420L), Some(i => (i * 7) % 50)))
    checkStatsRows("merge")
    checkAll("merge")
    val beforeDelete = store.currentVersion()

    store.delete(emailsOf((10L to 30L) ++ Seq(402L)).toDF("email"))
    checkAll("delete")

    store.compact(2)
    checkStatsRows("compact")
    checkAll("compact")

    store.optimizeZorder(4)
    checkStatsRows("optimizeZorder")
    checkAll("optimizeZorder")

    store.restore(beforeDelete)
    checkStatsRows("restore")
    checkAll("restore")

    new CustomerStore(spark, path).insertNew(batch(421L to 470L, Some(i => i % 13)))
    checkStatsRows("second instance")
    checkAll("second instance")

    CustomerStore.deleteRecursively(new File(path, "_stats"))
    checkAll("_stats deleted")
    store.insertNew(batch(471L to 500L, Some(i => i % 11)))
    checkStatsRows("insert after _stats loss")
    checkAll("insert after _stats loss")

    // Crash after the stats promotion, before the counter advance: a
    // rival lands commit v completely, then the counter and registry
    // entry are rolled back and `_staging` holds only the promotion's
    // remaining step (the version marker).
    new CustomerStore(spark, path).insertNew(batch(501L to 560L, Some(i => i % 17)))
    val v = store.currentVersion()
    val reg = new File(path, s"_commits/commit-$v")
    val lines = new String(java.nio.file.Files.readAllBytes(reg.toPath), "UTF-8").split("\n")
    val staging = new File(path, CustomerStore.Staging)
    staging.mkdirs()
    def put(f: File, s: String): Unit = java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8")): Unit
    put(new File(staging, "version"), v.toString)
    put(new File(staging, "commit_ts"), lines(0))
    put(new File(staging, "operation"), lines.drop(1).mkString("\n"))
    assert(reg.delete())
    put(new File(path, CustomerStore.VersionFile), (v - 1).toString)
    assert(store.currentVersion() === v - 1)
    checkPassive("crashed before the counter advance")
    checkAll("recovered")
    assert(store.currentVersion() === v)
    checkStatsRows("recovered")
  }
}

/** The Spark-side manifest consults the store ran before its manifest
  * moved to the driver, verbatim over the manifest views the store used
  * to serve — the reference model of [[ManifestSnapshotSpec]], and the
  * Spark reader of `_stats` and `_deletes` the other store specs check
  * the driver-side readers against.
  */
final class SparkManifestModel(spark: SparkSession, store: CustomerStore, path: String) {
  import spark.implicits._

  private val BloomSeeds = 3

  /** The `_stats` rows at each file's newest `commit_version`, by Spark. */
  def statsManifest(): DataFrame = {
    val schema = StatsSnapshot.statsSchema
    val files = StatsSnapshot.commitDirs(new File(path, CustomerStore.StatsManifest)).values
      .flatMap(d => graft.sources.ParquetGroups.parquetFilesIn(d.toString)).toSeq
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val m = spark.read.schema(schema).parquet(files: _*)
      .select(schema.fieldNames.map(col): _*)
    val latest = m.groupBy(col("file"))
      .agg(max(col("commit_version")).as("commit_version"))
    m.join(latest, Seq("file", "commit_version"))
  }

  /** One row per (file, 64-bit bloom word with ≥1 bit set), with geometry. */
  def bloomManifest(): DataFrame =
    statsManifest().filter(col("kind") === "b")
      .select(col("file"), col("w"), col("bits"), col("nbits"), col("commit_version"))

  /** Per-file row count, id and hash-shard min/max. */
  def zonesManifest(): DataFrame =
    statsManifest().filter(col("kind") === "z")
      .select(col("file"), col("n_rows"), col("min_id"), col("max_id"),
        col("min_hb"), col("max_hb"), col("commit_version"))

  /** Per-file min/max of each evolved numeric column, by physical name. */
  def evolvedZonesManifest(): DataFrame =
    statsManifest().filter(col("kind") === "e")
      .select(col("file"), col("ecol"), col("min_v"), col("max_v"), col("commit_version"))

  /** Each file's bottom-k (md5-word hash, id) KMV sample pairs. */
  def sampleManifest(): DataFrame =
    statsManifest().filter(col("kind") === "s")
      .select(col("file"), col("s_h"), col("s_id"), col("commit_version"))

  /** The committed deletion vectors as (data-file basename, email) rows, by Spark. */
  def deletionVectors(): DataFrame = SparkManifestModel.deletionVectors(spark, path)

  def scorePhys: Option[String] = CustomerStore.physicalMapAt(path).get("score")

  def bloomKeepFiles(files: Seq[(String, String)], emails: Seq[String]): Seq[String] = {
    if (files.isEmpty || emails.isEmpty) return Seq.empty
    val bloom = bloomManifest()
    val covered = bloom.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val coveredLive = files.filter { case (name, _) => covered(name) }
    val mayContain: Set[String] =
      if (coveredLive.isEmpty) Set.empty
      else {
        val filesDf = coveredLive.map(_._1).toDF("file")
        val geom = filesDf.join(
          bloom.select(col("file"), col("nbits")).distinct(), Seq("file"))
        geom.crossJoin(broadcast(emails.toDF("k")))
          .select(col("file"), col("k"),
            explode(array((0 until BloomSeeds).map(s =>
              pmod(xxhash64(col("k"), lit(s)), col("nbits"))): _*)).as("p"))
          .select(col("file"), col("k"), expr("p DIV 64").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
          .join(bloom.select(col("file"), col("w"), col("bits")),
            Seq("file", "w"), "left")
          .withColumn("hit",
            coalesce((col("bits").bitwiseAND(col("b"))) === col("b"), lit(false)))
          .groupBy(col("file"), col("k")).agg(min(col("hit")).as("may"))
          .filter(col("may")).select(col("file")).distinct()
          .collect().map(_.getString(0)).toSet
      }
    files.filter { case (name, _) => mayContain(name) || !covered(name) }.map(_._2)
  }

  def zoneKeepFiles[A](files: Seq[(String, A)], lo: Long, hi: Long): Seq[(String, A)] = {
    val zones = zonesManifest()
      .select(col("file"), col("min_id"), col("max_id"))
      .collect().flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) None
        else Some(r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      }.toMap
    files.filter { case (name, _) =>
      zones.get(name).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
  }

  def evolvedZoneKeepFiles[A](files: Seq[(String, A)], physCol: String,
      lo: Long, hi: Long): Seq[(String, A)] = {
    val zones = evolvedZonesManifest()
      .filter(col("ecol") === physCol)
      .select(col("file"), col("min_v"), col("max_v"))
      .collect().flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) None
        else Some(r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      }.toMap
    files.filter { case (name, _) =>
      zones.get(name).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
  }

  /** Files the zone-pruned pending read keeps. */
  def zoneKept(files: Seq[String], idKeep: Option[(Long, Long)] => Boolean,
      hbKeep: Option[(Long, Long)] => Boolean): Int = {
    val zones = zonesManifest()
      .select(col("file"), col("min_id"), col("max_id"), col("min_hb"), col("max_hb"))
      .collect().map { r =>
        r.getString(0) -> ((
          if (r.isNullAt(1) || r.isNullAt(2)) None
          else Some((r.getLong(1), r.getLong(2))),
          if (r.isNullAt(3) || r.isNullAt(4)) None
          else Some((r.getLong(3), r.getLong(4)))))
      }.toMap
    files.count(name =>
      zones.get(name).forall { case (idZ, hbZ) => idKeep(idZ) && hbKeep(hbZ) })
  }

  private def liveVectors(): Long = {
    val dv = deletionVectors()
    val liveNames = store.liveDataFiles().map(_._1)
    dv.join(liveNames.toDF("file"), Seq("file"), "left_semi").count()
  }

  private def coveredZoneRows(names: Set[String]): Option[Seq[(String, Long, Long, Long)]] = {
    if (liveVectors() > 0L) return None
    val zones = zonesManifest()
      .select(col("file"), col("n_rows"), col("min_id"), col("max_id"),
        col("commit_version"))
      .collect()
      .filter(r => names(r.getString(0)) &&
        !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3))
      .groupBy(_.getString(0)).view
      .mapValues(_.maxBy(_.getLong(4))).values.toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    if (zones.map(_._1).toSet != names) None else Some(zones)
  }

  def manifestAggregates(): Option[(Long, Option[Long], Option[Long])] = {
    val live = store.liveDataFiles()
    if (live.isEmpty) return Some((0L, None, None))
    coveredZoneRows(live.map(_._1).toSet).map { zones =>
      (zones.map(_._2).sum, Some(zones.map(_._3).min), Some(zones.map(_._4).max))
    }
  }

  def manifestAggregatesGrouped(): Option[Seq[(Boolean, Long, Option[Long], Option[Long])]] = {
    val live = store.liveDataFiles()
    if (live.isEmpty) return Some(Seq.empty)
    coveredZoneRows(live.map(_._1).toSet).map { zones =>
      val uploadedOf = live.map(f => f._1 -> f._3).toMap
      zones.groupBy(z => uploadedOf(z._1)).toSeq.map { case (u, zs) =>
        (u, zs.map(_._2).sum, Some(zs.map(_._3).min), Some(zs.map(_._4).max))
      }.sortBy(_._1)
    }
  }

  def manifestEvolvedExtremaGrouped(physCol: String)
      : Option[Seq[(Boolean, Option[Long], Option[Long])]] = {
    val live = store.liveDataFiles()
    if (live.isEmpty) return Some(Seq.empty)
    if (liveVectors() > 0L) return None
    val names = live.map(_._1).toSet
    val rows = evolvedZonesManifest()
      .filter(col("ecol") === physCol)
      .select(col("file"), col("min_v"), col("max_v"), col("commit_version"))
      .collect()
      .filter(r => names(r.getString(0)))
      .groupBy(_.getString(0)).view
      .mapValues(_.maxBy(_.getLong(3))).values.toSeq
    if (rows.map(_.getString(0)).toSet != names) return None
    val uploadedOf = live.map(f => f._1 -> f._3).toMap
    Some(rows.groupBy(r => uploadedOf(r.getString(0))).toSeq.map { case (u, rs) =>
      val mns = rs.filter(!_.isNullAt(1)).map(_.getLong(1))
      val mxs = rs.filter(!_.isNullAt(2)).map(_.getLong(2))
      (u, mns.minOption, mxs.maxOption)
    }.sortBy(_._1))
  }

  def estimatePendingRange(lo: Long, hi: Long): (Long, Long, Long) = {
    val live = store.pendingDataFiles()
    if (live.isEmpty) return (0L, 0L, 0L)
    val liveDf = live.toDF("file")
    val total = zonesManifest().join(liveDf, Seq("file"))
      .agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0)
    val sample = sampleManifest().join(liveDf, Seq("file"))
      .orderBy(col("s_h"), col("s_id")).limit(CustomerStore.SampleK)
      .select(col("s_id")).collect().map(_.getLong(0))
    if (sample.isEmpty) return (total, total, 0L)
    val inRange = sample.count(id => id >= lo && id <= hi).toLong
    (total * inRange / sample.length, total, sample.length.toLong)
  }

  def estimateJoinOnId(batchIds: DataFrame): (Long, Long, Long) = {
    val SampleK = CustomerStore.SampleK
    val live = store.liveDataFiles().map(_._1).toDF("file")
    val storeSample = sampleManifest().join(live, Seq("file"))
      .orderBy(col("s_h"), col("s_id")).limit(SampleK)
      .select(col("s_h"), col("s_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idCol = col(batchIds.columns.head).cast("long")
    val batchSample = batchIds
      .select(conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"), idCol.as("id"))
      .orderBy(col("h"), col("id")).limit(SampleK)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (storeSample.isEmpty || batchSample.isEmpty)
      return (0L, storeSample.length.toLong + batchSample.length.toLong, 0L)
    val k = math.min(SampleK, math.min(storeSample.length, batchSample.length))
    val union = (storeSample ++ batchSample).distinct.sorted
    val l = union.take(k)
    val unionEst =
      if (union.length <= k) union.length.toLong
      else (k - 1).toLong * 4294967296L / math.max(l.last._1, 1L)
    val sSet = storeSample.toSet
    val bSet = batchSample.toSet
    val matches = l.count(p => sSet(p) && bSet(p)).toLong
    (matches * unionEst / k, unionEst, k.toLong)
  }

  def rowCount(names: Set[String]): Option[Long] = {
    val rows = zonesManifest().select(col("file"), col("n_rows"))
      .collect().filter(r => !r.isNullAt(1) && names(r.getString(0)))
      .map(r => (r.getString(0), r.getLong(1))).toMap
    if (rows.keySet == names) Some(rows.values.sum) else None
  }

  private def asStatsRows(df: DataFrame): DataFrame =
    df.select(StatsSnapshot.statsSchema.fields.toSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*)

  /** The rows of one `_stats/commit-<v>` dir as written. */
  def statsFileRows(dir: File): DataFrame =
    asStatsRows(spark.read.parquet(dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toIndexedSeq: _*))

  /** The per-file stats aggregate the store staged before its stats
    * scan moved to per-file task states, over the given data files.
    */
  def oldStageStats(files: Seq[String], v: Long): DataFrame = {
    val schema = CustomerStore.schemaAt(path)
    val base = CustomerSchema.tableSchema.fieldNames.toSet
    val evoNum: Seq[(String, DataType)] = schema.fields.toSeq.collect {
      case f if (f.dataType == LongType || f.dataType == IntegerType) &&
          !base(if (f.metadata.contains("physical")) f.metadata.getString("physical") else f.name) =>
        (f.metadata.getString("physical"), f.dataType)
    }
    val bloomBits = CustomerStore.DefaultBloomBits
    val keySchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("id", LongType),
        org.apache.spark.sql.types.StructField("email",
          org.apache.spark.sql.types.StringType)) ++
        evoNum.map { case (p, t) => org.apache.spark.sql.types.StructField(p, t) })
    val staged = spark.read.schema(keySchema).parquet(files: _*)
      .select(Seq(element_at(split(input_file_name(), "/"), -1).as("file"),
        col("id"), col("email")) ++ evoNum.map { case (p, _) => col(p) }: _*)
    val bottomK = udaf(new graft.functions.TopKAggregator(CustomerStore.SampleK))
    val bloomWords = udaf(new graft.functions.BloomWordsAggregator(bloomBits))
    val evoAggs = evoNum.flatMap { case (p, _) => Seq(
      min(col(p).cast("long")).as(s"_emin_$p"),
      max(col(p).cast("long")).as(s"_emax_$p")) }
    val fileAgg = staged
      .withColumn("neg_h",
        -conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long"))
      .withColumn("bpos", array((0 until BloomSeeds).map(s =>
        pmod(xxhash64(col("email"), lit(s)), lit(bloomBits))): _*))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        Seq(min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        min(CustomerStore.hashBucket(col("id"))).as("min_hb"),
        max(CustomerStore.hashBucket(col("id"))).as("max_hb"),
        bottomK(col("neg_h"), col("id")).as("sample"),
        bloomWords(col("bpos")).as("bwords")) ++ evoAggs: _*)
    val zones = fileAgg.select(col("file"), lit("z").as("kind"),
      col("n_rows"), col("min_id"), col("max_id"), col("min_hb"), col("max_hb"))
    val sample = fileAgg.select(col("file"), explode(col("sample")).as("p"))
      .select(col("file"), lit("s").as("kind"),
        (-col("p._1")).as("s_h"), col("p._2").as("s_id"))
    val bloom = fileAgg
      .select(col("file"), posexplode(col("bwords")).as(Seq("w", "bits")))
      .filter(col("bits") =!= 0L)
      .select(col("file"), lit("b").as("kind"), col("w").cast("long").as("w"),
        col("bits"), lit(bloomBits).as("nbits"))
    val evo = evoNum.map { case (p, _) =>
      fileAgg.select(col("file"), lit("e").as("kind"), lit(p).as("ecol"),
        col(s"_emin_$p").as("min_v"), col(s"_emax_$p").as("max_v"))
    }
    (Seq(zones, sample, bloom) ++ evo).map(asStatsRows).reduce(_ unionByName _)
      .withColumn("commit_version", lit(v))
  }
}

object SparkManifestModel {
  /** The deletion vectors of the store at `path` as (file, email) rows, by Spark. */
  def deletionVectors(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq("file", "email").map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
    val files = graft.sources.ParquetGroups.parquetFilesIn(new File(path, CustomerStore.Deletes).toString)
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }
}
