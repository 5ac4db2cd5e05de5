package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One data file's NEWEST skipping-stats entry from the `_stats`
  * manifest history: its zone (row count, id and hash-shard min/max),
  * bottom-k KMV sample, bloom filter (dense words at the file's own
  * geometry) and evolved-column extrema. Every field is may-contain
  * metadata — a `None` means "no coverage", which every consult treats
  * as "read the file".
  */
private[pipeline] final case class FileStats(
    version: Long,
    nRows: Option[Long],
    minId: Option[Long], maxId: Option[Long],
    minHb: Option[Long], maxHb: Option[Long],
    sample: Vector[(Long, Long)],
    bloom: Option[BloomFilterWords],
    evolved: Map[String, (Option[Long], Option[Long])]) {
  def idZone: Option[(Long, Long)] = for (a <- minId; b <- maxId) yield (a, b)
  def hbZone: Option[(Long, Long)] = for (a <- minHb; b <- maxHb) yield (a, b)
}

/** A file's bloom filter: `nbits` bits as dense 64-bit words (`nbits`
  * is 0 when its manifest rows carry no geometry; such a filter
  * matches nothing, as no probe could match those rows).
  */
private[pipeline] final class BloomFilterWords(val nbits: Long, val words: Array[Long]) {
  /** True iff every probe position of some key's `positions` is set. */
  def mayContainAny(positions: Seq[Array[Long]]): Boolean =
    positions.exists(_.forall { p =>
      val w = (p >>> 6).toInt
      w < words.length && (words(w) & (1L << (p & 63))) != 0L
    })
}

/** The driver-resident snapshot of a store's `_stats` manifest, and the
  * manifest's only reader: per file basename, the newest entry across
  * every `_stats/commit-<v>` directory (the rows at each file's
  * greatest `commit_version`). Lookups
  * call [[current]], which lists `_stats`, folds in only directories it
  * has not seen, rebuilds from disk when a folded directory has
  * disappeared, and never caches a directory above the promoted version
  * counter (such a directory may still be mid-promotion; it is read
  * for that one lookup and forgotten). A committer hands its freshly
  * computed rows over with [[absorb]] once its promotion has advanced
  * the counter, so its own next lookup reads nothing back.
  *
  * Memory: one entry per basename in the manifest history; at the
  * default 2^17 bloom bits an entry is at most ~18 KiB (16 KiB of
  * dense bloom words plus the 128-pair sample).
  */
private[pipeline] final class StatsSnapshot(root: java.io.File, headVersion: () => Long) {
  import StatsSnapshot._

  private val accs = mutable.HashMap.empty[String, Acc]
  private var folded = Set.empty[Long]
  private var built = false
  private var view = Map.empty[String, FileStats]

  def current(): Map[String, FileStats] = synchronized {
    val head = headVersion() // read BEFORE listing: a dir at or below it is complete
    val dirs = commitDirs(root)
    if (!folded.subsetOf(dirs.keySet)) {
      accs.clear(); folded = Set.empty; view = Map.empty
    }
    val fresh = dirs.toSeq.filter { case (v, _) => v <= head && !folded(v) }.sortBy(_._1)
    if (fresh.nonEmpty) {
      val touched = fresh.flatMap { case (v, d) =>
        folded += v
        fold(accs, dirRows(d))
      }.toSet
      view = view ++ touched.iterator.map(f => f -> accs(f).result())
    }
    built = true
    val above = dirs.toSeq.filter(_._1 > head).sortBy(_._1)
    if (above.isEmpty) view
    else {
      val overlay = mutable.HashMap.empty[String, Acc]
      val touched = above.flatMap { case (_, d) =>
        fold(overlay, dirRows(d), base = Some(accs))
      }.toSet
      view ++ touched.iterator.map(f => f -> overlay(f).result())
    }
  }

  /** Fold a promoted commit's rows (as staged, re-stamped `v`) into a
    * snapshot that has already been built; an unbuilt one will read
    * them from disk on its first lookup.
    */
  def absorb(v: Long, rows: Seq[Row]): Unit = synchronized {
    if (built && !folded(v)) {
      folded += v
      val touched = fold(accs, rows.iterator, stamp = Some(v))
      view = view ++ touched.iterator.map(f => f -> accs(f).result())
    }
  }

  /** Every `_stats` row of one commit dir, read on the driver under
    * [[StatsSnapshot.statsSchema]] (null where a file lacks a column).
    */
  private def dirRows(d: java.io.File): Iterator[Row] =
    graft.sources.ParquetGroups.parquetFilesIn(d.toString).iterator.flatMap(f =>
      graft.sources.ParquetGroups.readAll(f, statsSchema.fieldNames.toSeq,
        statsSchema.fields.map(c => c.name -> c.dataType).toMap).map(a =>
        Row.fromSeq(a.toSeq.map {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case x => x
        })))
}

private[pipeline] object StatsSnapshot {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  /** The `_stats` row schema, written by the store's stats staging and
    * read by [[StatsSnapshot]]: one row per file and kind — a zone
    * (`z`: row count, id and hash-shard extrema), a KMV sample pair
    * (`s`), a bloom word with a set bit (`b`) or an evolved column's
    * extrema (`e`, keyed by the column's PHYSICAL name, so renames
    * cannot detach it) — stamped with the version that wrote it. The
    * `e` fields are nullable: stats files written before they existed
    * read as NULL, which pruning treats as no coverage.
    */
  val statsSchema: StructType = StructType(
    Seq(StructField("file", StringType, nullable = false),
      StructField("kind", StringType, nullable = false)) ++
      Seq("w", "bits", "nbits", "n_rows", "min_id", "max_id", "min_hb", "max_hb", "s_h", "s_id")
        .map(StructField(_, LongType)) ++
      Seq(StructField("ecol", StringType), StructField("min_v", LongType),
        StructField("max_v", LongType), StructField("commit_version", LongType, nullable = false)))

  // Column ordinals of statsSchema.
  private val File = 0; private val Kind = 1; private val W = 2; private val Bits = 3
  private val NBits = 4; private val NRows = 5; private val MinId = 6; private val MaxId = 7
  private val MinHb = 8; private val MaxHb = 9; private val SH = 10; private val SId = 11
  private val ECol = 12; private val MinV = 13; private val MaxV = 14; private val Version = 15

  /** The `commit-<v>` dirs under `root`, by version. */
  def commitDirs(root: java.io.File): Map[Long, java.io.File] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).iterator
      .filter(d => d.isDirectory && d.getName.startsWith("commit-"))
      .flatMap(d => d.getName.stripPrefix("commit-").toLongOption.map(_ -> d))
      .toMap

  private def opt(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  /** Fold `rows` into `into` under the newest-version rule: a row older
    * than the file's entry is ignored, a newer one replaces it, an equal
    * one joins it. With `base`, entries not yet in `into` start from a
    * copy of the base entry (the overlay never mutates the cache).
    * Returns the files whose entry changed.
    */
  private def fold(into: mutable.HashMap[String, Acc], rows: Iterator[Row],
      base: Option[mutable.HashMap[String, Acc]] = None,
      stamp: Option[Long] = None): Iterator[String] = {
    val touched = mutable.LinkedHashSet.empty[String]
    rows.foreach { r =>
      val v = stamp.getOrElse(r.getLong(Version))
      val f = r.getString(File)
      val cur = into.get(f).orElse(base.flatMap(_.get(f)).map(_.copy()))
      cur match {
        case Some(a) if a.version > v => ()
        case Some(a) if a.version == v =>
          into(f) = a; a.add(r); touched += f
        case _ =>
          val a = new Acc(v); a.add(r); into(f) = a; touched += f
      }
    }
    touched.iterator
  }

  /** A file's entry under construction (rows of one version). */
  private final class Acc(val version: Long) {
    private var nRows, minId, maxId, minHb, maxHb: Option[Long] = None
    private val sample = mutable.ArrayBuffer.empty[(Long, Long)]
    private var bloomRows = false
    private var nbits = 0L
    private var words: Array[Long] = Array.emptyLongArray
    private val evolved = mutable.LinkedHashMap.empty[String, (Option[Long], Option[Long])]

    def add(r: Row): Unit = r.getString(Kind) match {
      case "z" =>
        nRows = opt(r, NRows); minId = opt(r, MinId); maxId = opt(r, MaxId)
        minHb = opt(r, MinHb); maxHb = opt(r, MaxHb)
      case "s" =>
        for (h <- opt(r, SH); id <- opt(r, SId)) sample += ((h, id))
      case "b" =>
        bloomRows = true
        for (n <- opt(r, NBits) if n > 0; w <- opt(r, W); b <- opt(r, Bits)) {
          if (nbits != n) { nbits = n; words = new Array[Long](((n + 63) / 64).toInt) }
          if (w >= 0 && w < words.length) words(w.toInt) |= b
        }
      case "e" =>
        if (!r.isNullAt(ECol))
          evolved(r.getString(ECol)) = (opt(r, MinV), opt(r, MaxV))
      case _ => ()
    }

    def copy(): Acc = {
      val c = new Acc(version)
      c.nRows = nRows; c.minId = minId; c.maxId = maxId; c.minHb = minHb; c.maxHb = maxHb
      c.sample ++= sample; c.bloomRows = bloomRows; c.nbits = nbits; c.words = words.clone()
      c.evolved ++= evolved
      c
    }

    def result(): FileStats = FileStats(version, nRows, minId, maxId, minHb, maxHb,
      sample.toVector,
      if (bloomRows) Some(new BloomFilterWords(nbits, words.clone())) else None,
      evolved.toMap)
  }
}

/** One staged file's partial skipping stats while [[StatsFold]] folds
  * the rows a partition write writes into it: row count, id and
  * hash-shard extrema, the KMV sample and bloom words as
  * [[graft.functions.TopKAggregator]] / [[graft.functions.BloomWordsAggregator]]
  * buffers, and evolved-column extrema. Write tasks `add` rows, the
  * driver `merge`s the tasks' states per file.
  */
private[pipeline] final class FileStatsState(nEvo: Int,
    var sample: Seq[(Long, Long)], var words: Array[Long]) extends Serializable {
  import org.apache.spark.sql.catalyst.InternalRow

  var nRows = 0L
  private var ids, hbs = false
  private var mnId, mxId, mnHb, mxHb = 0L
  private val evoSeen = new Array[Boolean](nEvo)
  private val evoMn, evoMx = new Array[Long](nEvo)

  def minId: Option[Long] = Option.when(ids)(mnId)
  def maxId: Option[Long] = Option.when(ids)(mxId)
  def minHb: Option[Long] = Option.when(hbs)(mnHb)
  def maxHb: Option[Long] = Option.when(hbs)(mxHb)
  def evoMin(i: Int): Option[Long] = Option.when(evoSeen(i))(evoMn(i))
  def evoMax(i: Int): Option[Long] = Option.when(evoSeen(i))(evoMx(i))

  /** Fold one projected row: (id, hb, neg_h, bloom positions, evolved…). */
  def add(r: InternalRow, topK: graft.functions.TopKAggregator,
      bloom: graft.functions.BloomWordsAggregator): Unit = {
    nRows += 1
    if (!r.isNullAt(0)) {
      val id = r.getLong(0)
      if (!ids || id < mnId) mnId = id
      if (!ids || id > mxId) mxId = id
      ids = true
      if (!r.isNullAt(2)) sample = topK.reduce(sample, (r.getLong(2), id))
    }
    if (!r.isNullAt(1)) {
      val hb = r.getLong(1)
      if (!hbs || hb < mnHb) mnHb = hb
      if (!hbs || hb > mxHb) mxHb = hb
      hbs = true
    }
    words = bloom.reduce(words,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(r.getArray(3).toLongArray()))
    var i = 0
    while (i < nEvo) {
      if (!r.isNullAt(4 + i)) {
        val x = r.getLong(4 + i)
        if (!evoSeen(i) || x < evoMn(i)) evoMn(i) = x
        if (!evoSeen(i) || x > evoMx(i)) evoMx(i) = x
        evoSeen(i) = true
      }
      i += 1
    }
  }

  def merge(o: FileStatsState, topK: graft.functions.TopKAggregator,
      bloom: graft.functions.BloomWordsAggregator): FileStatsState = {
    nRows += o.nRows
    if (o.ids) {
      if (!ids || o.mnId < mnId) mnId = o.mnId
      if (!ids || o.mxId > mxId) mxId = o.mxId
      ids = true
    }
    if (o.hbs) {
      if (!hbs || o.mnHb < mnHb) mnHb = o.mnHb
      if (!hbs || o.mxHb > mxHb) mxHb = o.mxHb
      hbs = true
    }
    sample = topK.merge(sample, o.sample)
    words = bloom.merge(words, o.words)
    for (i <- 0 until nEvo if o.evoSeen(i)) {
      if (!evoSeen(i) || o.evoMn(i) < evoMn(i)) evoMn(i) = o.evoMn(i)
      if (!evoSeen(i) || o.evoMx(i) > evoMx(i)) evoMx(i) = o.evoMx(i)
      evoSeen(i) = true
    }
    this
  }
}

/** The stats fold of a staged partition write: the Catalyst columns it
  * evaluates per written row (id, its hash shard, the negated md5-word
  * hash the KMV sample keeps the bottom-k of, the email's bloom bit
  * positions, and each evolved numeric column `evoCols` as a long —
  * NULL where the written frame lacks it), the per-file
  * [[FileStatsState]] it folds them into, and the `_stats` rows a
  * finished state becomes.
  */
private[pipeline] final class StatsFold(evoCols: Seq[String], bloomBits: Long)
    extends org.apache.spark.sql.graft.StagedWrite.FileFold[FileStatsState] {
  import org.apache.spark.sql.functions._

  private val topK = new graft.functions.TopKAggregator(CustomerStore.SampleK)
  private val bloom = new graft.functions.BloomWordsAggregator(bloomBits)

  /** The fold's columns over a written frame with columns `present`. */
  def columns(present: Set[String]): Seq[org.apache.spark.sql.Column] =
    Seq(col("id"), CustomerStore.hashBucket(col("id")),
      (-conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long")),
      array((0 until CustomerStore.BloomSeeds).map(s =>
        CustomerStore.bloomPosition(col("email"), s, lit(bloomBits))): _*)) ++
      evoCols.map(p => if (present(p)) col(p).cast("long") else lit(null).cast("long"))

  def zero(): FileStatsState = new FileStatsState(evoCols.size, topK.zero, bloom.zero)
  def add(s: FileStatsState, row: org.apache.spark.sql.catalyst.InternalRow): FileStatsState = {
    s.add(row, topK, bloom)
    s
  }
  def merge(a: FileStatsState, b: FileStatsState): FileStatsState = a.merge(b, topK, bloom)

  /** The `_stats` rows of `states` (by file basename) at version `v`, in
    * file order: one zone row, the KMV sample rows, one row per bloom
    * word with a set bit, and one extrema row per evolved column (an
    * all-NULL column yields NULL min/max — no coverage for the file).
    */
  def rows(states: Seq[(String, FileStatsState)], v: Long): Seq[Row] = {
    def box(o: Option[Long]): Any = o.map(Long.box).orNull
    def row(file: String, kind: String, w: Any = null, bits: Any = null,
        nb: Any = null, nRows: Any = null, minId: Any = null, maxId: Any = null,
        minHb: Any = null, maxHb: Any = null, sH: Any = null, sId: Any = null,
        ecol: Any = null, minV: Any = null, maxV: Any = null) =
      Row(file, kind, w, bits, nb, nRows, minId, maxId, minHb, maxHb, sH, sId, ecol, minV, maxV, v)
    states.sortBy(_._1).flatMap { case (f, s) =>
      Seq(row(f, "z", nRows = s.nRows, minId = box(s.minId), maxId = box(s.maxId),
        minHb = box(s.minHb), maxHb = box(s.maxHb))) ++
        // KMV sample: bottom-k of the md5-word hash = top-k of its negation.
        topK.finish(s.sample).map { case (negH, id) => row(f, "s", sH = -negH, sId = id) } ++
        s.words.indices.filter(s.words(_) != 0L).map(w =>
          row(f, "b", w = w.toLong, bits = s.words(w), nb = bloomBits)) ++
        evoCols.indices.map(i => row(f, "e", ecol = evoCols(i),
          minV = box(s.evoMin(i)), maxV = box(s.evoMax(i))))
    }
  }
}
