package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016, the
  * tokenizer-training algorithm behind BPE/GPT-style vocabularies) as a
  * deterministic, oracle-able Spark operator — the second pass of
  * tokenizer training after the `text_vocabulary` tf/df table.
  *
  * Algorithm: words are split into character symbols plus an explicit
  * end-of-word marker; each round counts adjacent symbol pairs weighted
  * by word frequency, merges the single most frequent pair everywhere
  * (ties broken on the pair's symbols for a total order), and repeats.
  * The emitted merge table IS the trained tokenizer model.
  *
  * Scale design: the ONLY corpus-scale pass is the word count (classic
  * word-count shuffle with map-side partials). Every merge round then
  * operates on the distinct-word symbol table, which is vocabulary-
  * bounded (sub-linear in corpus size — heaps' law), exactly how
  * production BPE trainers work. Per round: one pair aggregation
  * (shuffle carries (pair, partial count)) and three window passes over
  * the symbol table keyed on the word. At extreme scale the standard
  * shortcut is to collect the (word, freq) vocabulary to one node and
  * train there; the distributed rounds here are the vocabulary-
  * exceeds-one-node path. The per-round argmax `collect()` moves ONE
  * row — the model parameter being learned — not data.
  *
  * Determinism / oracle: integer pair counts, total-order tie-break
  * (count DESC, lhs, rhs), and greedy left-to-right merge application
  * (in a run of overlapping matches, which only arise when lhs = rhs,
  * every other position merges — pinned by BpeSpec). Training is
  * restricted to `^[a-z]+$` words so character indexing is ASCII on
  * both engines. The DuckDB oracle replays the identical K rounds as
  * CTEs GENERATED from the same BPE_MERGES constant, so retuning the
  * round count retunes the oracle with it (the `sim_ivf_ann` unrolled-
  * CTE technique).
  */
object BpeTraining extends QueryGroup {

  /** Merge rounds to train. Kept modest so the oracle's unrolled CTE
    * chain stays tractable; production would run thousands of rounds
    * with the same per-round plan.
    */
  val BPE_MERGES = 8

  /** End-of-word marker symbol (never collides with [a-z] symbols). */
  val EOW = "</w>"

  private val byPos = Window.partitionBy("w").orderBy("pos")

  /** (word, freq, pos, sym) symbol table: chars 1..len plus the marker. */
  private def initialSymbols(s: SparkSession, dir: String): DataFrame =
    Tables.forKernels(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) + 1)).as("pos"))
      .withColumn("sym",
        when(col("pos") <= length(col("w")), expr("substring(w, pos, 1)"))
          .otherwise(lit(EOW)))

  /** Greedy left-to-right application of one merge (l, r) to the symbol
    * table. Overlapping matches (possible only when l = r, e.g. merging
    * (a,a) into "aaaa") are resolved exactly as a sequential scanner
    * would: within each maximal run of consecutive matched positions,
    * every other position starting from the first merges.
    */
  private[queries] def applyMerge(syms: DataFrame, l: String, r: String): DataFrame = {
    val matchedRank = Window.partitionBy("w", "m").orderBy("pos")
    val runMin = Window.partitionBy("w", "m", "grp")
    syms
      .withColumn("m", coalesce(
        col("sym") === lit(l) && lead(col("sym"), 1).over(byPos) === lit(r),
        lit(false)))
      // Consecutive matched positions share (pos − rank-among-matched):
      // the standard run-grouping trick, so run parity is a window min.
      .withColumn("grp",
        when(col("m"), col("pos") - row_number().over(matchedRank)))
      .withColumn("mg",
        col("m") && (col("pos") - min(col("pos")).over(runMin)) % 2 === 0)
      .withColumn("pm", coalesce(lag(col("mg"), 1).over(byPos), lit(false)))
      .filter(!col("pm")) // right half of a merged pair disappears
      .withColumn("pos", row_number().over(byPos))
      .withColumn("sym", when(col("mg"), lit(l + r)).otherwise(col("sym")))
      .select("w", "freq", "pos", "sym")
  }

  /** Run the K-round training loop: the merge table plus the final
    * segmented vocabulary (word → subtoken count, end-of-word marker
    * excluded — a standalone marker is not a token). `rounds` and the
    * per-round timing hook exist for the depth proof (BpeDepthSpec:
    * ≥128 rounds with flat per-round cost — the vocabulary-bounded
    * claim measured, not asserted); production callers use the
    * default.
    */
  private[queries] def train(s: SparkSession, dir: String,
      rounds: Int = BPE_MERGES,
      onRound: (Int, Double) => Unit = (_, _) => ()): (DataFrame, DataFrame) = {
    import s.implicits._
    // Eager checkpoint per round: bounds the lineage across the merge
    // loop (same pattern as the IVF Lloyd loop) and makes each round
    // read the previous round's materialized table, not replay it.
    var syms = initialSymbols(s, dir).localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (round <- 1 to rounds) {
      val t0 = System.nanoTime()
      val best = syms
        .withColumn("nxt", lead(col("sym"), 1).over(byPos))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("l"), col("nxt").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((round.toLong, l, r, cnt))
        syms = applyMerge(syms, l, r).localCheckpoint(true)
      }
      onRound(round, (System.nanoTime() - t0) / 1e9)
    }
    val mergesDf = merges.result().toDF("merge_rank", "lhs", "rhs", "pair_count")
    val segDf = syms.filter(col("sym") =!= lit(EOW))
      .groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    (mergesDf, segDf)
  }

  /** The trained tokenizer is a build artifact: merge table + segmented
    * vocabulary persist as one atomic [[graft.util.IndexStore]] group
    * (train once, load after).
    */
  private def trained(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val loaded = graft.util.IndexStore.loadOrBuildAll(
      s, dir, s"bpe_merges_k$BPE_MERGES" :: s"bpe_vocab_segments_k$BPE_MERGES" :: Nil) {
      val (m, g) = train(s, dir)
      Seq(m, g)
    }
    (loaded(0), loaded(1))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> ((s, dir) =>
      trained(s, dir)._1.orderBy(col("merge_rank"))),

    // Tokenizer APPLICATION — the deploy half of BPE. Segmentation is a
    // pure function of the word, so the expensive merge application
    // already happened once on the vocabulary-bounded symbol table at
    // training time; applying to the corpus is one explode + one
    // broadcast-able join on the word + one per-doc aggregation, linear
    // at any corpus size. Words outside the trained [a-z]+ vocabulary
    // pass through as single tokens (the untrained-symbol fallback).
    "text_bpe_tokenize" -> ((s, dir) => {
      val seg = trained(s, dir)._2
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(broadcast(seg), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("n_sub"), lit(1L))).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }))

  // ---- oracle ----------------------------------------------------------

  private val normSql = graft.functions.TextFunctions.normSql
  private val toksSql = graft.functions.TextFunctions.toksSql

  /** One merge round as CTEs: pair counts from s{i}, argmax b{i+1},
    * greedy application → s{i+1}. Mirror of the Spark round above,
    * window for window.
    */
  private def roundSql(i: Int): String = {
    val s = s"s$i"
    val b = s"b${i + 1}"
    s"""p${i + 1} AS (
          SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT sym, freq, LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $s)
          WHERE nxt IS NOT NULL GROUP BY 1, 2),
        $b AS (SELECT l, r, cnt FROM p${i + 1} ORDER BY cnt DESC, l, r LIMIT 1),
        s${i + 1} AS (
          SELECT w, freq, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
            CASE WHEN mg THEN bl || br ELSE sym END AS sym
          FROM (
            SELECT *, COALESCE(LAG(mg) OVER (PARTITION BY w ORDER BY pos), FALSE) AS pm
            FROM (
              SELECT *, m AND ((pos - MIN(pos) OVER (PARTITION BY w, m, grp)) % 2 = 0) AS mg
              FROM (
                SELECT *, CASE WHEN m THEN pos - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY pos) END AS grp
                FROM (
                  SELECT s.w, s.freq, s.pos, s.sym, b.l AS bl, b.r AS br,
                    COALESCE(s.sym = b.l
                      AND LEAD(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) = b.r,
                      FALSE) AS m
                  FROM $s s CROSS JOIN $b b))))
          WHERE NOT pm)"""
  }

  /** Shared training CTE chain (w0 → s0 → K unrolled rounds). */
  private def trainSql: String = {
    val rounds = (0 until BPE_MERGES).map(roundSql).mkString(",\n        ")
    s"""w0 AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest($toksSql) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY 1),
        s0 AS (
          SELECT w, freq, CAST(i AS INT) AS pos,
            CASE WHEN i <= strlen(w) THEN substr(w, CAST(i AS INT), 1) ELSE '$EOW' END AS sym
          FROM (SELECT w, freq, unnest(range(1, strlen(w) + 2)) AS i FROM w0)),
        $rounds"""
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_merges" -> {
      val out = (1 to BPE_MERGES)
        .map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM b$i")
        .mkString("\n          UNION ALL ")
      s"""WITH $trainSql
          $out
          ORDER BY merge_rank"""
    },
    "text_bpe_tokenize" ->
      s"""WITH $trainSql,
          seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sub
                  FROM s$BPE_MERGES WHERE sym <> '$EOW' GROUP BY 1),
          tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(SUM(COALESCE(n_sub, 1)) AS BIGINT) AS n_bpe_tokens
          FROM tok LEFT JOIN seg USING (w)
          GROUP BY doc_id ORDER BY doc_id""")
}
