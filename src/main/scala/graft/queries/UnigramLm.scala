package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._

/** Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
  * algorithm beside BPE): seed a candidate vocabulary from frequent
  * substrings, Viterbi-segment every word under the current piece
  * scores (hard-EM E-step), re-estimate piece scores from the
  * segmentation counts (M-step), and emit the re-estimated vocabulary
  * (pieces whose expected count is zero are pruned by the ranking —
  * the algorithm's prune step).
  *
  * Oracle-exactness: the real algorithm scores a segmentation by
  * Σ log p(piece) — a float surface no two engines compute to the same
  * last ulp. Here the log is an integer FIXED-POINT base-2 log with
  * linear interpolation inside the octave:
  *   L(x) = m·K + (x − 2^m)·K div 2^m,   m = ⌊log2 x⌋ = len(bin(x)) − 1
  * (max error ~0.086 bits, monotone). Both engines evaluate the SAME
  * integer formula from the same counts — `bin`, shifts, and integer
  * division only — so Viterbi costs are identical by construction and
  * the whole trajectory is hash-exact. piece cost = L(total) − L(cnt)
  * (≥ 0, the −log of the piece's probability in K-scaled bits).
  *
  * Determinism: the DP minimizes the tuple (cost, pieces, split point)
  * — a total order, so the chosen segmentation is unique; vocabulary
  * ranking orders by (uses DESC, piece).
  *
  * Scale: the only corpus-scale pass is the word count (one word-count
  * shuffle); seeding, the UNI_MAXW-round DP, and re-estimation all run
  * on the DISTINCT-WORD table (vocabulary-bounded, Heaps' law) with
  * the ≤ UNI_SEED+σ piece table broadcast — the same scale shape as
  * [[BpeTraining]]. The trained vocabulary persists via IndexStore
  * (the model artifact), so serving never re-trains.
  *
  * Reference scope: csv-crm-upload has no tokenizer; this extends the
  * engine's LLM-data-pipeline surface (SURVEY §6) beside BPE.
  */
object UnigramLm extends QueryGroup {

  /** Max trainable word length (longer words are out of the training
    * set, like BPE's `^[a-z]+$` gate) — also the DP round count.
    */
  val UNI_MAXW = 12

  /** Max piece length: DP candidates look back at most this far. */
  val UNI_MAXP = 4

  /** Multi-char seed candidates kept (top by count); single chars are
    * always kept so every word stays segmentable.
    */
  val UNI_SEED = 256

  /** Vocabulary rows emitted. */
  val UNI_TOPV = 40

  /** Fixed-point scale of the integer log (K units per bit). */
  val UNI_K = 4096L

  /** The shared integer-log formula, generated per SQL dialect from
    * ONE definition so Spark and the DuckDB oracle can never drift.
    */
  private def ilogSql(x: String, duck: Boolean): String = {
    val m = s"(length(bin($x)) - 1)"
    val p2 = if (duck) s"(1::BIGINT << $m)"
             else s"shiftleft(CAST(1 AS BIGINT), $m)"
    val div = if (duck) "//" else "DIV"
    s"($m * $UNI_K + (($x - $p2) * $UNI_K $div $p2))"
  }

  // ---- Spark training --------------------------------------------------

  /** (w, freq) over the trainable words. */
  private def words(s: SparkSession, dir: String): DataFrame =
    Tables.forKernels(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike(s"^[a-z]{1,$UNI_MAXW}$$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** All (piece, cnt) substrings of length 1..UNI_MAXP, weighted by
    * word frequency. The (start, len) grid is flattened to ONE index
    * k ∈ [0, 4·len) with i = k div 4 + 1, l = k mod 4 + 1 — the same
    * single-unnest formulation the oracle uses, so the two engines
    * enumerate identical candidate sets.
    */
  private def candidates(w: DataFrame): DataFrame =
    w.select(col("w"), col("freq"),
        explode(sequence(lit(0), length(col("w")) * UNI_MAXP - 1)).as("k"))
      .select(col("w"), col("freq"),
        expr(s"CAST(k DIV $UNI_MAXP AS INT) + 1").as("i"),
        expr(s"CAST(k % $UNI_MAXP AS INT) + 1").as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(expr("substring(w, i, l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** Train: returns (vocabulary (rank, piece, n_uses), per-word
    * segmentation (w, np)) — the second frame is the ENCODE artifact:
    * the Viterbi piece count of every trainable word under the final
    * model, persisted so the apply leg never re-trains.
    *
    * The corpus-scale passes are DISTRIBUTED: the word count and the
    * substring (seed-candidate) count, both classic word-count
    * shuffles with map-side partials. The Viterbi E-step then runs on
    * the DRIVER over the collected (word, freq) vocabulary — the
    * standard single-node tokenizer-trainer shape (SentencePiece
    * trains exactly this way): the vocabulary is sub-linear in corpus
    * size (Heaps' law; tens of MB where the corpus is 100 TB), the
    * piece table is ≤ UNI_SEED+σ entries, and the per-word DP is
    * microseconds. [[BpeTraining]] demonstrates the distributed-rounds
    * alternative for the vocabulary-exceeds-one-node case; a 12-round
    * DataFrame DP was measured at 161s at sf0.01 against ~4s for this
    * shape — per-round job/codegen overhead on vocabulary-bounded
    * data, the wrong tool (SCALING.md).
    */
  private[queries] def train(s: SparkSession, dir: String): Seq[DataFrame] = {
    import s.implicits._
    val w = words(s, dir).localCheckpoint(true)
    val cand = candidates(w)
    val single = cand.filter(length(col("piece")) === 1)
    val multi = cand.filter(length(col("piece")) > 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("piece"))))
      .filter(col("rk") <= UNI_SEED).drop("rk")
    val seed = single.unionByName(multi)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = seed.map(_._2).sum
    val lTot = ilogLong(total)
    val pcost: Map[String, Long] =
      seed.map { case (p, cnt) => p -> (lTot - ilogLong(cnt)) }.toMap

    // Vocabulary-bounded collect (see scaladoc) + driver Viterbi:
    // minimize (cost, pieces, split point) — the same total order the
    // oracle's unrolled DP CTEs use, so segmentation ties can't drift.
    val vocab = w.collect().map(r => r.getString(0) -> r.getLong(1))
    val uses = scala.collection.mutable.HashMap.empty[String, Long]
    val segNp = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for ((word, freq) <- vocab) {
      val n = word.length
      val best = Array.fill(n + 1)((Long.MaxValue, Long.MaxValue, -1)) // (cost, np, pred)
      best(0) = (0L, 0L, 0)
      for (i <- 1 to n; l <- 1 to math.min(UNI_MAXP, i)) {
        val j = i - l
        if (best(j)._3 >= 0 || j == 0) pcost.get(word.substring(j, i)).foreach { c =>
          val candT = (best(j)._1 + c, best(j)._2 + 1L, j)
          val cur = best(i)
          if (candT._1 < cur._1 || (candT._1 == cur._1 && (candT._2 < cur._2 ||
              (candT._2 == cur._2 && candT._3 < cur._3))))
            best(i) = candT
        }
      }
      segNp += ((word, best(n)._2))
      var i = n
      while (i > 0) { // single chars are always seeded, so the path exists
        val j = best(i)._3
        val p = word.substring(j, i)
        uses.update(p, uses.getOrElse(p, 0L) + freq)
        i = j
      }
    }
    val vocabDf = uses.toSeq.sortBy { case (p, u) => (-u, p) }
      .take(UNI_TOPV).zipWithIndex
      .map { case ((p, u), i) => (i + 1L, p, u) }
      .toDF("rank", "piece", "n_uses")
      .orderBy(col("rank"))
    Seq(vocabDf, segNp.toSeq.toDF("w", "np"))
  }

  /** Driver-side mirror of the ilog formula (for the literal L(total)
    * both engines fold into the cost column).
    */
  private def ilogLong(x: Long): Long = {
    val m = 63 - java.lang.Long.numberOfLeadingZeros(x)
    m * UNI_K + (x - (1L << m)) * UNI_K / (1L << m)
  }

  /** (vocab, per-word segmentation) — one atomic persisted group. */
  private def model(s: SparkSession, dir: String): Seq[DataFrame] =
    graft.util.IndexStore.loadOrBuildAll(s, dir,
      Seq(s"unigram_vocab_w${UNI_MAXW}_p${UNI_MAXP}_s$UNI_SEED",
        s"unigram_seg_w${UNI_MAXW}_p${UNI_MAXP}_s$UNI_SEED")) {
      train(s, dir)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_train" -> ((s, dir) =>
      model(s, dir).head.orderBy(col("rank"))),

    // The ENCODE leg — apply the trained segmenter to the corpus (the
    // text_bpe_tokenize analog for the unigram model): per-token piece
    // counts come from ONE keyed join of the token instances against
    // the persisted per-word segmentation (vocabulary-sized, far under
    // any broadcast threshold — Heaps' law), then a per-doc rollup.
    // The corpus-scale work is the tokenize scan + one doc_id-keyed
    // aggregate; no DP runs at encode time. Compression is reported as
    // integer pieces-per-char ppm, so the whole surface is
    // oracle-exact — the oracle re-derives np per word from the SAME
    // unrolled Viterbi CTEs the trainer pins.
    "text_unigram_encode" -> ((s, dir) => {
      val seg = model(s, dir)(1)
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike(s"^[a-z]{1,$UNI_MAXW}$$"))
        .join(seg, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("np")).as("n_pieces"),
          sum(length(col("w"))).cast("long").as("n_chars"))
        .withColumn("pieces_per_char_ppm",
          expr("n_pieces * 1000000 DIV n_chars"))
        .orderBy(col("doc_id"))
    }))

  // ---- oracle ----------------------------------------------------------

  private val toksSql = graft.functions.TextFunctions.toksSql

  /** One DP position as a CTE: candidates from the ≤ UNI_MAXP prior
    * positions, argmin by (cost, np, split point).
    */
  private def dpSql(i: Int): String = {
    val legs = (1 to math.min(UNI_MAXP, i)).map { l =>
      val j = i - l
      s"""SELECT d.w, d.cost + c.pcost AS cost, d.np + 1 AS np,
              d.seg || '|' || c.piece AS seg, CAST($j AS BIGINT) AS j
            FROM d$j d JOIN costs c
              ON c.plen = $l AND c.piece = substr(d.w, ${j + 1}, $l)
            WHERE strlen(d.w) >= $i"""
    }.mkString("\n            UNION ALL ")
    // MATERIALIZED: each DP level is referenced by up to UNI_MAXP later
    // levels — default CTE inlining would re-expand the chain
    // exponentially (4^12 scans of `documents`; measured as DuckDB
    // dying on file handles before it could even misplan).
    s"""d$i AS MATERIALIZED (
          SELECT w, cost, np, seg FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY w ORDER BY cost, np, j) AS rn
            FROM ($legs)) WHERE rn = 1)"""
  }

  /** Per-final-length projection over the DP tables (w + the requested
    * columns) — shared by the train oracle (seg paths) and the encode
    * oracle (piece counts).
    */
  private def finalsSel(cols: String): String = (1 to UNI_MAXW)
    .map(i => s"SELECT $cols FROM d$i WHERE strlen(w) = $i")
    .mkString("\n          UNION ALL ")

  /** The model CTE chain (word count → seed → costs → unrolled Viterbi
    * levels), shared verbatim by both oracles so the trained model and
    * its application can never drift.
    */
  private def modelCtes: String = {
    val dps = (1 to UNI_MAXW).map(dpSql).mkString(",\n        ")
    s"""u0 AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
              SELECT unnest($toksSql) AS w FROM documents)
            WHERE regexp_matches(w, '^[a-z]{1,$UNI_MAXW}${"$"}') GROUP BY 1),
          cand AS MATERIALIZED (
            SELECT substr(w, CAST(k // $UNI_MAXP + 1 AS INT),
                          CAST(k % $UNI_MAXP + 1 AS INT)) AS piece,
              CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT w, freq, unnest(range(0, strlen(w) * $UNI_MAXP)) AS k FROM u0)
            WHERE k // $UNI_MAXP + 1 + k % $UNI_MAXP <= strlen(w)
            GROUP BY 1),
          seed AS MATERIALIZED (
            SELECT piece, cnt FROM cand WHERE strlen(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
              SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
              FROM cand WHERE strlen(piece) > 1) WHERE rk <= $UNI_SEED),
          tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM seed),
          costs AS MATERIALIZED (
            SELECT piece, strlen(piece) AS plen,
              ${ilogSql("total", duck = true)} - ${ilogSql("cnt", duck = true)} AS pcost
            FROM seed, tot),
          d0 AS MATERIALIZED (
            SELECT w, CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS np,
              '' AS seg FROM u0),
          $dps"""
  }

  val oracles: Map[String, String] = Map(
    "text_unigram_train" ->
      s"""WITH $modelCtes,
          dp AS (${finalsSel("w, seg")}),
          uses AS (
            SELECT piece, CAST(SUM(freq) AS BIGINT) AS n_uses FROM (
              SELECT u0.freq, unnest(string_split(dp.seg, '|')) AS piece
              FROM dp JOIN u0 USING (w))
            WHERE piece <> '' GROUP BY 1)
          SELECT * FROM (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_uses DESC, piece) AS BIGINT) AS rank,
              piece, n_uses
            FROM uses)
          WHERE rank <= $UNI_TOPV ORDER BY rank""",
    "text_unigram_encode" ->
      s"""WITH $modelCtes,
          npw AS (${finalsSel("w, np")}),
          tk AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
            CAST(SUM(n.np) AS BIGINT) AS n_pieces,
            CAST(SUM(strlen(tk.w)) AS BIGINT) AS n_chars,
            CAST(SUM(n.np) AS BIGINT) * 1000000
              // CAST(SUM(strlen(tk.w)) AS BIGINT) AS pieces_per_char_ppm
          FROM tk JOIN npw n USING (w)
          GROUP BY doc_id ORDER BY doc_id""")
}
