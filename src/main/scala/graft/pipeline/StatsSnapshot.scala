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

/** The driver-resident snapshot of a store's `_stats` manifest: per
  * file basename, the newest entry across every `_stats/commit-<v>`
  * directory — the same rule the `statsManifest()` DataFrame view
  * applies (rows at each file's greatest `commit_version`). Lookups
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
private[pipeline] final class StatsSnapshot(root: java.io.File, headVersion: () => Long,
    readRows: String => Iterator[Row]) {
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

  private def dirRows(d: java.io.File): Iterator[Row] =
    graft.sources.ParquetGroups.parquetFilesIn(d.toString).iterator
      .flatMap(readRows)
}

private[pipeline] object StatsSnapshot {
  // Column ordinals of the `_stats` row schema (CustomerStore.statsSchema).
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

/** One staged file's partial skipping stats while
  * [[CustomerStore]]'s stats scan folds its rows in: row count, id and
  * hash-shard extrema, the KMV sample and bloom words as
  * [[graft.functions.TopKAggregator]] / [[graft.functions.BloomWordsAggregator]]
  * buffers, and evolved-column extrema. Scan tasks `add` rows, the
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

  /** Fold one scan row: (file, id, hb, neg_h, bloom positions, evolved…). */
  def add(r: InternalRow, topK: graft.functions.TopKAggregator,
      bloom: graft.functions.BloomWordsAggregator): Unit = {
    nRows += 1
    if (!r.isNullAt(1)) {
      val id = r.getLong(1)
      if (!ids || id < mnId) mnId = id
      if (!ids || id > mxId) mxId = id
      ids = true
      if (!r.isNullAt(3)) sample = topK.reduce(sample, (r.getLong(3), id))
    }
    if (!r.isNullAt(2)) {
      val hb = r.getLong(2)
      if (!hbs || hb < mnHb) mnHb = hb
      if (!hbs || hb > mxHb) mxHb = hb
      hbs = true
    }
    words = bloom.reduce(words,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(r.getArray(4).toLongArray()))
    var i = 0
    while (i < nEvo) {
      if (!r.isNullAt(5 + i)) {
        val x = r.getLong(5 + i)
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

private[pipeline] object FileStatsState {
  /** One job, no shuffle: per-file states built in the scan tasks over
    * `rows` (file, id, hb, neg_h, bloom positions, evolved columns…),
    * merged per file on the driver.
    */
  def scan(rows: org.apache.spark.sql.DataFrame, topK: graft.functions.TopKAggregator,
      bloom: graft.functions.BloomWordsAggregator, nEvo: Int): Map[String, FileStatsState] =
    rows.queryExecution.toRdd.mapPartitions { it =>
      val m = mutable.HashMap.empty[String, FileStatsState]
      it.foreach { r =>
        m.getOrElseUpdate(r.getUTF8String(0).toString,
          new FileStatsState(nEvo, topK.zero, bloom.zero)).add(r, topK, bloom)
      }
      m.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_.merge(_, topK, bloom))
}
