package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryGroup, Tables}
import graft.functions.Exprs
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: token counting,
  * language ID, quality scoring, fingerprinting, per-source profiling.
  *
  * All column math is codegen'd built-ins (no UDFs); ratio outputs are
  * emitted as integer micro-units (floor(x*1e6)) so the DuckDB oracle
  * compares longs, not rounded decimals — identical IEEE doubles on both
  * engines then yield identical integers.
  */
object TextAnalysis extends QueryGroup {

  private def ppm(c: Column): Column = floor(c * lit(1000000.0)).cast("long")

  /** Fixed pocket-perceptron round count (text_quality_classifier) —
    * fixed, not to-convergence, so training is bit-reproducible and
    * the oracle unrolls the same number of CTE rounds.
    */
  private val CLS_ROUNDS = 6
  // Conjunctive-search query derivation: the 8 rarest tokens with
  // df ≥ 3, consecutive pairs → 7 two-term AND queries.
  private val SEARCH_TERMS = 8

  /** Positional postings + bigram doc-frequency dictionary, persisted
    * as ONE atomic index group from a SINGLE tokenize pass (the
    * checkpoint feeds both derivations) — the phrase dictionary is
    * part of the index build, not a per-query corpus pass. Shared by
    * text_search_phrase and the two index-lifecycle-under-deletion
    * legs so the three probes can never drift from one another.
    */
  private def phraseIndex(s: SparkSession, dir: String): Seq[DataFrame] =
    graft.util.IndexStore.loadOrBuildAll(
      s, dir, Seq("search_postings_pos", "search_bigram_df")) {
      val toks = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .localCheckpoint(true)
      // Adjacent-bigram table (guard: a <2-token doc yields no
      // bigrams; an unguarded sequence(1, size-1) would auto-step
      // DOWN to [1, 0] and fabricate grams — the trigram-edge-case
      // lesson).
      val bigrams = toks
        .withColumn("bgs", when(size(col("w")) >= 2,
            expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
          .otherwise(array().cast("array<string>")))
        .select(col("doc_id"), explode(col("bgs")).as("bg"))
      Seq(
        toks.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "t"))),
        bigrams.distinct().groupBy(col("bg")).agg(count(lit(1)).as("df")))
    }

  /** The persisted (doc_id, t, tf) posting lists served by
    * text_search_conjunctive and text_search_bm25 — one definition
    * under the one artifact name.
    */
  private def searchPostingsTf(s: SparkSession, dir: String): DataFrame =
    graft.util.IndexStore.loadOrBuild(s, dir, "search_postings_tf")(
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf")))

  /** The search workload over a (t, df) table: the SEARCH_TERMS rarest
    * terms with df ≥ 3, consecutive pairs → SEARCH_TERMS − 1 two-term
    * queries (query_id, t). The windows run over ≤8 term rows.
    */
  private def searchQueryTerms(dfx: DataFrame): DataFrame = {
    val wTop = Window.orderBy(col("df").asc, col("t"))
    val top = dfx.filter(col("df") >= 3)
      .orderBy(col("df").asc, col("t")).limit(SEARCH_TERMS)
      .withColumn("r", row_number().over(wTop))
    top.filter(col("r") <= SEARCH_TERMS - 1)
      .select(col("r").cast("long").as("query_id"), col("t"))
      .unionByName(top.filter(col("r") >= 2)
        .select((col("r") - 1).cast("long").as("query_id"), col("t")))
  }

  /** The 5 rarest adjacent bigrams with doc-df ≥ 3, split into their
    * two probe terms — the deterministic phrase workload fixture.
    */
  private def phraseWorkload(bgdf: DataFrame): DataFrame = {
    val wPh = Window.orderBy(col("df").asc, col("bg")) // ≤5 rows
    bgdf.filter(col("df") >= 3)
      .orderBy(col("df").asc, col("bg")).limit(5)
      .withColumn("phrase_id", row_number().over(wPh).cast("long"))
      .withColumn("ta", split(col("bg"), " ").getItem(0))
      .withColumn("tb", split(col("bg"), " ").getItem(1))
  }

  /** Adjacency join of the two retrieved posting lists + per-phrase
    * top-5 ranking — the shared probe tail of the phrase-search family.
    */
  private def phraseMatch(pa: DataFrame, pb: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("phrase_id"))
      .orderBy(col("n_occ").desc, col("doc_id"))
    pa.join(pb, col("phrase_id") === col("pid2") &&
        col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
      .groupBy(col("phrase_id"), col("bg"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("phrase_id"), col("bg").as("phrase"), col("rank"),
        col("doc_id"), col("n_occ"))
      .orderBy(col("phrase_id"), col("rank"))
  }

  /** A trained pocket model: the checkpointed feature projection
    * (`source`, label `y`, integer features x0..x3), the per-round
    * (round, n_updates, n_correct) trajectory, and the pocket pick.
    */
  private[queries] case class PocketModel(feats: DataFrame,
      hist: Seq[(Long, Long, Long)], pocketRound: Long, pocketW: Vector[Long])

  private[queries] def pocketDot(ws: Vector[Long]): Column =
    (0 until 4).map(i => lit(ws(i)) * col(s"x$i")).reduce(_ + _)

  /** Train the quality-filter perceptron (see text_quality_classifier
    * for the full rationale); memoized per (session, dir) — the
    * trained model is a build artifact shared by the trajectory query
    * and the apply-filter query, like any persisted model would be.
    */
  private val pocketCache = new graft.util.SessionCache[PocketModel]

  /** The classifier's feature projection over any documents-shaped
    * DataFrame (batch or stream): doc_id, source, label y, integer
    * features x0..x3 — ONE definition, so the offline trainer and the
    * online (streaming) filter can never drift apart.
    */
  private[queries] def classifierFeatures(docs: DataFrame): DataFrame = {
    val norm = normText(col("text"))
    val toks = tokens(col("text"))
    val nt = size(toks).cast("long")
    val idiv = (a: Column, b: Column) =>
      floor(a.cast("double") / b.cast("double")).cast("long")
    docs.select(
      col("doc_id"), col("source"),
      when(ppm(qualityScore(norm, toks)) >= 500000L, 1L).otherwise(-1L).as("y"),
      lit(1000L).as("x0"),
      (least(nt, lit(64L)) * 16L).as("x1"),
      least(idiv(markerHits(toks, stopwords) * 4096L, greatest(nt, lit(1L))),
        lit(1024L)).as("x2"),
      idiv(size(array_distinct(toks)).cast("long") * 1024L,
        greatest(nt, lit(1L))).as("x3"))
  }

  private[queries] def trainedPocket(s: SparkSession, dir: String): PocketModel =
    pocketCache.getOrCompute(s, dir) {
      val feats = classifierFeatures(Tables.forKernels(s, dir, "documents"))
        .localCheckpoint(true) // read twice per round — materialize the tiny projection once
      var w = Vector.fill(4)(0L)
      var pocket = (0L, Vector.fill(4)(0L), -1L) // (round, weights, n_correct)
      val hist = (1 to CLS_ROUNDS).map { r =>
        val mis = (col("y") * pocketDot(w)) <= 0
        val aggs = count(when(mis, lit(1))).cast("long").as("nu") +:
          (0 until 4).map(i => sum(when(mis, col("y") * col(s"x$i"))).as(s"u$i"))
        val u = feats.agg(aggs.head, aggs.tail: _*).head()
        w = Vector.tabulate(4)(i =>
          w(i) + (if (u.isNullAt(i + 1)) 0L else u.getLong(i + 1)))
        val nc = feats
          .agg(count(when(when(pocketDot(w) > 0, 1L).otherwise(-1L) === col("y"),
            lit(1))).cast("long")).head().getLong(0)
        if (nc > pocket._3) pocket = (r.toLong, w, nc) // strict >: ties keep the earliest
        (r.toLong, u.getLong(0), nc)
      }
      PocketModel(feats, hist, pocket._1, pocket._2)
    }

  /** Shared SQL fragments so Spark and oracle stay in lockstep. */
  private def inList(items: Seq[String]): String =
    items.map(s => s"'$s'").mkString("(", ", ", ")")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + BPE-ish subword estimate.
    // Narrow projection → parquet reads only (doc_id, text).
    "text_token_stats" -> ((s, dir) => {
      val d = Tables.forKernels(s, dir, "documents")
      val norm = normText(col("text"))
      val toks = tokens(col("text"))
      d.select(
        col("doc_id"),
        length(norm).cast("long").as("n_chars_norm"),
        size(toks).cast("long").as("n_tokens"),
        tokenEstimate(norm, toks).as("token_est"),
        ppm(avgTokenLen(norm, toks)).as("avg_token_len_ppm"))
        .orderBy(col("doc_id"))
    }),

    // BPE-style pre-tokenization counts: the GPT-2 pre-tokenizer's
    // class pattern (word / number / punctuation chunks with optional
    // leading space; the lookahead-free form, since RE2 on the oracle
    // side has no lookahead) counted per document — the number a data
    // budget multiplies by tokens-per-chunk. Pure regexp_count column
    // math; the identical RE2/Java semantics are checked by the oracle
    // running the same pattern through regexp_extract_all.
    "text_pretokenize" -> ((s, dir) => {
      // Explicit whitespace class (= RE2's \s): Java's \s also matches
      // \x0B, which would diverge from the DuckDB oracle.
      val all = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
      Tables.forKernels(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(all)).cast("long").as("n_pretokens"),
          regexp_count(col("text"), lit(" ?[\\p{L}]+")).cast("long").as("n_word_chunks"),
          regexp_count(col("text"), lit(" ?[\\p{N}]+")).cast("long").as("n_num_chunks"),
          regexp_count(col("text"), lit(" ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+")).cast("long").as("n_other_chunks"))
        .orderBy(col("doc_id"))
    }),

    // Language ID via marker-lexicon argmax; reports prediction and
    // agreement with the generator's label.
    "text_langid" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables.forKernels(s, dir, "documents")
        .select(
          col("doc_id"), col("lang"),
          langId(toks).as("lang_pred"))
        .withColumn("is_match", (col("lang") === col("lang_pred")).as("is_match"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: punctuation ratio, stopword ratio, composite score.
    "text_quality" -> ((s, dir) => {
      val norm = normText(col("text"))
      val toks = tokens(col("text"))
      Tables.forKernels(s, dir, "documents")
        .select(
          col("doc_id"),
          ppm(punctRatio(norm)).as("punct_ppm"),
          ppm(stopwordRatio(toks)).as("stopword_ppm"),
          ppm(qualityScore(norm, toks)).as("quality_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals — the curation filter class that
    // catches boilerplate and spam: duplicate 2-/3-gram fractions
    // (1 − distinct/total) and the top token's share of the document.
    // Everything is computed IN the projection: distinct-set sizes from
    // the one-pass shingle kernel, max token multiplicity as the
    // longest equal-run over the sorted token array (an `aggregate`
    // HOF whose lambda touches only its own arguments, so the
    // captured-child re-evaluation trap documented in TextKernels does
    // not apply). No aggregation shuffle — unlike the naive
    // explode+groupBy reformulation, the metrics cost one map pass at
    // any scale (the only exchanges are the kernel-balancing
    // round-robin and the output sort; pinned by PlanContractsSpec).
    "text_repetition" -> ((s, dir) => {
      val w = tokens(col("text"))
      val topRun = aggregate(
        array_sort(w),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val r = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1L))
          struct(x.as("prev"), r.as("run"),
            greatest(acc.getField("best"), r).as("best"))
        },
        acc => acc.getField("best"))
      val nTok = size(w).cast("long")
      val n2 = greatest(nTok - 1, lit(0L))
      val n3 = greatest(nTok - 2, lit(0L))
      val d2 = size(Exprs.shingles(col("text"), 2)).cast("long")
      val d3 = size(Exprs.shingles(col("text"), 3)).cast("long")
      def ratioPpm(part: Column, total: Column): Column =
        when(total === 0, lit(0L))
          .otherwise(floor(part.cast("double") * lit(1000000.0) / total).cast("long"))
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), nTok.as("n_tokens"),
          ratioPpm(n2 - d2, n2).as("dup_2gram_ppm"),
          ratioPpm(n3 - d3, n3).as("dup_3gram_ppm"),
          ratioPpm(topRun, nTok).as("top_token_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary / IDF table builder — the first pass of tokenizer
    // training and stopword derivation: global term frequency +
    // document frequency, top-k by frequency (ties broken on the
    // token for a total order). The classic word-count shape: explode
    // → aggregate with map-side partial counts; the shuffle carries
    // (token, partials), never documents — linear at any scale.
    "text_vocabulary" -> ((s, dir) => {
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("t").as("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token"))
        .limit(50)
    }),

    // Heavy hitters via COUNT-MIN SKETCH, audit-gated like the other
    // approx queries: the exact top-20 token frequencies (oracle-
    // checkable) plus a boolean per term pinning the sketch estimate
    // inside its published bound — never below the true count (CMS
    // only over-counts) and at most eps·N above it. The sketch is the
    // 100 TB path for frequency queries: one pass, fixed 5×2719-cell
    // state, mergeable partials (Spark's count_min_sketch aggregate),
    // no token-keyed shuffle at all — where the exact word count
    // shuffles the whole vocabulary. A broken sketch (seed drift,
    // merge bug) flips a boolean and hash-fails against the oracle's
    // literal TRUE.
    "approx_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.forKernels(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("t"))
        .localCheckpoint(true) // one tokenizer pass feeds exact + sketch
      val nTokens = toks.count()
      val bound = Math.ceil(0.001 * nTokens).toLong
      val bytes = toks
        .agg(expr("count_min_sketch(t, 0.001d, 0.99d, 42)")).head()
        .getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val top = toks.groupBy(col("t").as("token"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(20)
        .collect().toSeq
        .map { r =>
          val est = cms.estimateCount(r.getString(0))
          (r.getString(0), r.getLong(1),
            est >= r.getLong(1) && est <= r.getLong(1) + bound)
        }
      top.toDF("token", "tf", "within_bound")
        .orderBy(col("tf").desc, col("token"))
    }),

    // Per-document keyword extraction: the top-3 distinguishing tokens
    // by an integer tf/df score (floor(tf·1e6 / df) — term frequency in
    // the doc, rarity across the corpus). The idf stays in integer
    // arithmetic so both engines agree bit-for-bit; ln-based tf-idf
    // would hinge on each engine's libm. df is derived from the tf
    // table (one row per (doc, token)) so the tokenizer kernel runs
    // once; the join shuffles on token and the top-k window on doc_id —
    // both linear in corpus size.
    "text_keywords" -> ((s, dir) => {
      // tf feeds both join sides; eager checkpoint so the tokenizer
      // kernel and its aggregation run once, not once per side.
      val tf = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("t"))
      tf.join(df, "t")
        .withColumn("score", expr("tf * 1000000 DIV df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("long").as("rank"),
          col("t").as("token"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // CONJUNCTIVE SEARCH over a persisted inverted index — the
    // serving-side primitive the tf table already implies, shipped as
    // an operator: posting lists (token → doc, tf) persist as an
    // IndexStore artifact (built once per corpus snapshot, loaded
    // thereafter), query terms derive deterministically from the data
    // (the 8 RAREST tokens with df ≥ 3 — rare terms are the
    // informative ones, and this corpus's ~40-word head vocabulary
    // all sits at df ≈ 75-80% where a stop gate would leave nothing —
    // paired consecutively into 7 two-term AND queries), and each
    // query is an equi-join of the broadcast
    // term list against the postings: docs containing BOTH terms,
    // ranked by summed integer tf·idf. At 100 TB the postings shuffle
    // once on token at build; a query touches only its terms' posting
    // lists — the inverted-index contract. The global windows run
    // over ≤8 term rows, never the corpus.
    "text_search_conjunctive" -> ((s, dir) => {
      val tf = searchPostingsTf(s, dir)
      val dfx = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val qterms = searchQueryTerms(dfx)
      val post = tf.join(dfx, "t")
        .withColumn("score", expr("tf * 1000000 DIV df"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      post.join(broadcast(qterms), "t")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("nterms"), sum(col("score")).as("score"))
        .filter(col("nterms") === 2)
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // BM25 RANKED RETRIEVAL over the same persisted tf postings — the
    // scoring layer a retrieval stack puts on top of the inverted
    // index (RAG-style corpus serving; Robertson/Spärck Jones BM25,
    // k1 = 6/5, b = 3/4). Both BM25 factors are kept in INTEGER
    // arithmetic so the two engines agree bit-for-bit (the repo-wide
    // no-libm rule): the log is dropped from the idf (the rational
    // Robertson idf (N - df + ½)/(df + ½) is order-isomorphic to its
    // log for ranking) and both rationals are cleared of fractions —
    //   idf_ppm = 1e6·(2N − 2df + 1) DIV (2df + 1)
    //   tfc_ppm = 1e6·22·tf·avgdl DIV (10·tf·avgdl + 3·avgdl + 9·dl)
    // where avgdl = DLT DIV N is pre-floored so every later magnitude
    // is bounded by tf·avgdl — corpus-size-independent, no int64
    // overflow at any SF. Queries are DISJUNCTIVE (docs matching ANY
    // term, scores summed — OR is where BM25 earns its keep vs the
    // conjunctive tf·idf above); the workload is the same
    // deterministic rarest-terms fixture. Per-query cost = the ≤2
    // matched posting lists + one keyed join against the doc-length
    // table — posting-list mass, not corpus mass, at 100 TB.
    "text_search_bm25" -> ((s, dir) => {
      val tf = searchPostingsTf(s, dir)
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      // 1-row corpus stats (the only crossJoin — broadcast literal).
      val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dlt"))
        .withColumn("avgdl", expr("dlt DIV n_docs"))
      val dfx = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val qterms = searchQueryTerms(dfx)
      // Prune to the query terms' posting lists FIRST, then attach
      // per-doc length (keyed join) and per-term df (tiny, AQE
      // broadcasts) — the index-serving join order.
      val hit = tf.join(broadcast(qterms), "t")
        .join(dl, "doc_id")
        .join(dfx, "t")
        .crossJoin(broadcast(corpus))
        .withColumn("idf_ppm",
          expr("(1000000 * (2*n_docs - 2*df + 1)) DIV (2*df + 1)"))
        .withColumn("tfc_ppm",
          expr("(22 * tf * avgdl * 1000000) DIV " +
            "(10 * tf * avgdl + 3 * avgdl + 9 * dl)"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      hit.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(expr("idf_ppm * tfc_ppm")).as("score"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // PHRASE SEARCH over a POSITIONAL inverted index — the second
    // index structure a text-serving layer needs (the tf postings of
    // `text_search_conjunctive` cannot answer adjacency): postings
    // carry (token, doc, position), and a two-token phrase match is
    // the equi-join of the two terms' posting lists on
    // (doc, pos₂ = pos₁ + 1). The query workload derives
    // deterministically from the data (the 5 RAREST adjacent bigrams
    // with doc-df ≥ 3 — one linear token-array pass, the same
    // workload-fixture pattern as SEARCH_TERMS); each phrase touches
    // ONLY its two terms' posting lists (broadcast of the ≤5-phrase
    // term table against the persisted postings), so per-query cost is
    // posting-list mass, not corpus mass — at 100 TB the postings
    // shuffle once on token at build time, the adjacency join runs on
    // the two retrieved lists. The oracle counts the same matches from
    // the bigram multiset (position-pair adjacency ≡ bigram
    // occurrence, including overlapping runs), so the join is
    // hash-gated, not rows-only.
    "text_search_phrase" -> ((s, dir) => {
      val Seq(post, bgdf) = phraseIndex(s, dir)
      val phrases = phraseWorkload(bgdf)
      val pa = post.join(broadcast(
          phrases.select(col("phrase_id"), col("bg"), col("ta").as("t"))), "t")
        .select(col("phrase_id"), col("bg"), col("doc_id"), col("pos"))
      val pb = post.join(broadcast(
          phrases.select(col("phrase_id").as("pid2"), col("tb").as("t"))), "t")
        .select(col("pid2"), col("doc_id").as("d2"), col("pos").as("pos2"))
      phraseMatch(pa, pb)
    }),

    // INDEX LIFECYCLE UNDER DELETION, merge-on-read leg: the persisted
    // positional postings keep serving after documents are deleted —
    // WITHOUT a rebuild — by anti-joining the tombstone set at probe
    // time (the same pattern as the store's deletion vectors, which
    // its scan applies per file). The tombstone set (every 7th
    // doc) is a TABLE, not a pushed filter: at 100 TB it is the
    // deleted-doc manifest, joined against the two RETRIEVED posting
    // lists — one anti-join on the pa side suffices because the
    // adjacency join equates doc_ids. The phrase WORKLOAD still
    // derives from the full index's bigram dictionary (the dictionary
    // is a build artifact; deletes don't re-derive the workload), but
    // every emitted match must come from a live doc — the oracle
    // recomputes matches from the live corpus only, so a tombstoned
    // doc leaking through the probe hash-fails. The require pins "no
    // rebuild": if the artifact pre-existed, its success-marker mtime
    // must be untouched after the load.
    "text_search_phrase_tombstoned" -> ((s, dir) => {
      val mtBefore = graft.util.IndexStore.artifactMtime(dir, "search_postings_pos")
      val Seq(post, bgdf) = phraseIndex(s, dir)
      val mtAfter = graft.util.IndexStore.artifactMtime(dir, "search_postings_pos")
      require(mtBefore.forall(mtAfter.contains),
        s"tombstoned probe rebuilt the postings index ($mtBefore -> $mtAfter)")
      val tomb = Tables(s, dir, "documents")
        .filter(col("doc_id") % 7 === 2).select(col("doc_id"))
      val phrases = phraseWorkload(bgdf)
      val pa = post.join(broadcast(
          phrases.select(col("phrase_id"), col("bg"), col("ta").as("t"))), "t")
        .join(tomb, Seq("doc_id"), "left_anti")
        .select(col("phrase_id"), col("bg"), col("doc_id"), col("pos"))
      val pb = post.join(broadcast(
          phrases.select(col("phrase_id").as("pid2"), col("tb").as("t"))), "t")
        .select(col("pid2"), col("doc_id").as("d2"), col("pos").as("pos2"))
      phraseMatch(pa, pb)
    }),

    // INDEX LIFECYCLE UNDER DELETION, compaction leg: the maintenance
    // op that makes merge-on-read temporary — a COMPACTED postings
    // artifact physically drops every tombstoned doc's postings (one
    // anti-join of the persisted index against the tombstone set,
    // derived from the INDEX, never a corpus re-tokenize), persists
    // under a tombstone-set-keyed name, and serves probes with NO
    // per-query tombstone join. Hash-gated against the same live-docs
    // oracle as the merge-on-read leg — compacted-equals-incremental
    // is exactly the rebuild-parity contract, checked cross-engine.
    "text_search_phrase_compacted" -> ((s, dir) => {
      val Seq(post, bgdf) = phraseIndex(s, dir)
      val tomb = Tables(s, dir, "documents")
        .filter(col("doc_id") % 7 === 2).select(col("doc_id"))
      val compacted = graft.util.IndexStore.loadOrBuild(
        s, dir, "search_postings_pos_compact_m7")(
        post.join(tomb, Seq("doc_id"), "left_anti"))
      val phrases = phraseWorkload(bgdf)
      val pa = compacted.join(broadcast(
          phrases.select(col("phrase_id"), col("bg"), col("ta").as("t"))), "t")
        .select(col("phrase_id"), col("bg"), col("doc_id"), col("pos"))
      val pb = compacted.join(broadcast(
          phrases.select(col("phrase_id").as("pid2"), col("tb").as("t"))), "t")
        .select(col("pid2"), col("doc_id").as("d2"), col("pos").as("pos2"))
      phraseMatch(pa, pb)
    }),

    // Deterministic uniform sample: the k docs with the smallest content
    // hash — the distributed analog of ORDER BY random() LIMIT k that is
    // stable across runs, partitionings, and engines (and keyed on
    // content, so exact duplicates sample together). Plans as
    // TakeOrderedAndProject: each partition keeps a local top-k and the
    // driver merges k·p rows — no global sort shuffle at any scale.
    "corpus_sample_hash" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), contentFingerprint(col("text")).as("fp"))
        .orderBy(col("fp"), col("doc_id"))
        .limit(20)
    }),

    // Content fingerprinting (md5 of normalized text) — the exact-dedup key.
    "text_fingerprint" -> ((s, dir) => {
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // RAG-STYLE DOCUMENT CHUNKING: overlapping fixed-character windows
    // with stable (doc_id, chunk_idx) identity, exact offsets, and a
    // content fingerprint per chunk — the retrieval-corpus preparation
    // step between curation and embedding. Window 200 chars, stride
    // 150 (50-char overlap): starts step by stride while start <
    // length, the tail chunk is the remainder, and a doc shorter than
    // one window yields exactly one chunk. Plan: sequence() + explode
    // — a map-side LINEAR projection, zero shuffles beyond the output
    // ordering; at 100 TB chunking is embarrassingly parallel and the
    // chunk identity is (doc_id, chunk_idx), never a global counter
    // (monotonically_increasing_id would tie ids to partition layout).
    "text_chunk_rag" -> ((s, dir) => {
      val W = 200
      val St = 150
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), length(col("text")).as("n"))
        .withColumn("start_pos",
          explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(St))))
        .select(
          col("doc_id"),
          (col("start_pos") / St).cast("long").as("chunk_idx"),
          col("start_pos").cast("long").as("start_pos"),
          least(lit(W), col("n") - col("start_pos")).cast("long").as("chunk_len"),
          md5(substr(col("text"), col("start_pos") + 1, lit(W))).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Deterministic hash-based train/eval split (7/8 vs 1/8: first hex
    // digit of the content md5 outside {e,f} → train, 14 of 16 digits)
    // — the standard splitter that is stable across runs,
    // partitionings, and engines, unlike randomSplit. Content-keyed so
    // exact dups land in the same split (no train/eval leakage).
    // MODEL-BASED quality filtering, training included — the
    // fasttext-classifier step of a curation pipeline, distilled to
    // what a data engine can own: learn a LINEAR proxy of the
    // composite quality labeler from cheap integer features, entirely
    // in integer arithmetic so training is deterministic and
    // oracle-exact. Full-batch POCKET PERCEPTRON: each round is one
    // data-parallel aggregation (the update vector is a per-feature
    // SUM over misclassified docs — mergeable partials, no shuffle of
    // the corpus), weights are driver state (4 longs), and the pocket
    // rule keeps the best-accuracy round, turning perceptron
    // oscillation on the non-separable tail into a monotone pick.
    // At 100 TB each round is 2 scans of a 5-column integer
    // projection (one for the update sums, one to score the new
    // weights); CLS_ROUNDS bounds total cost. Output: per-round
    // update/accuracy trajectory + which round the pocket kept —
    // pinning the whole training run, not just the final model.
    // Pocket accuracy beats the majority-class baseline at every SF
    // (0.94/0.84/0.88 vs 0.79/0.77/0.77), asserted in
    // QueryContractsSpec.
    "text_quality_classifier" -> ((s, dir) => {
      val t = trainedPocket(s, dir)
      import s.implicits._
      t.hist.toDF("round", "n_updates", "n_correct")
        .withColumn("is_pocket", col("round") === lit(t.pocketRound))
        .orderBy(col("round"))
    }),

    // The APPLY leg of model-based filtering: score every document
    // with the pocket weights and report, per source, how many the
    // filter keeps — train once (memoized per session, the persisted-
    // model pattern), filter anywhere. At 100 TB the apply pass is a
    // stateless projection: four multiplies and a compare per row
    // against broadcast-free literal weights.
    "corpus_model_filter" -> ((s, dir) => {
      val t = trainedPocket(s, dir)
      t.feats
        .withColumn("keep", pocketDot(t.pocketW) > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    "text_train_eval_split" -> ((s, dir) => {
      Tables.forKernels(s, dir, "documents")
        .withColumn("split", trainEvalSplit(col("text")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    }),

    // Corpus mixture sampling — the data-mixing step of a training
    // recipe: per-language keep-rates (here en=100%, de/es=50%, fr=25%,
    // rest=12.5%, expressed as thresholds out of 256 on the first byte
    // of the content md5). Content-keyed like the train/eval split, so
    // the sample is deterministic across runs, partitionings, and
    // engines, and exact duplicates sample identically. Stateless
    // per-row hash → embarrassingly parallel at any scale.
    "corpus_mixture" -> ((s, dir) => {
      val bucket = conv(substring(contentFingerprint(col("text")), 1, 2), 16, 10)
        .cast("int")
      val rate = when(col("lang") === "en", 256)
        .when(col("lang").isin("de", "es"), 128)
        .when(col("lang") === "fr", 64)
        .otherwise(32)
      Tables.forKernels(s, dir, "documents")
        .filter(bucket < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Sequence packing — the GPT-style "concatenate the corpus in a
    // canonical order, then chunk into fixed-length training
    // sequences" operator. Emits, per document, the sequence id and
    // offset where its tokens land and how many sequences it spans;
    // these are pure functions of the GLOBAL running token count
    // before the doc (prefix sum in doc_id order).
    //
    // Scale design: the naive prefix sum — a global-order window with
    // no partition key — plans as ONE task holding the whole corpus
    // and is exactly what must not ship. This is instead the classic
    // two-phase distributed scan: range-partition by doc_id, compute
    // per-partition token totals (one tiny job: P rows to the driver),
    // turn them into per-partition starting offsets, and add a
    // partition-LOCAL cumulative window (partitioned by pid → runs on
    // every core). The partials job reads the materialized counts, so
    // both phases see the same partitioning; total cost is two passes
    // over (doc_id, n_tokens) — 16 bytes/row — at any corpus size.
    "corpus_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      val SEQ = 512L
      val parts = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .withColumn("pid", spark_partition_id())
        // Materialize ONCE: the range partitioner samples boundaries,
        // and the offsets below must describe the same partitioning
        // the final window runs over.
        .localCheckpoint(true)
      val totals = parts.groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
        .collect().map(r => (r.getAs[Int]("pid"), r.getAs[Long]("t")))
        .sortBy(_._1)
      val offsets = totals.map(_._1)
        .zip(totals.scanLeft(0L)(_ + _._2).dropRight(1))
      val offDf = offsets.toSeq.toDF("pid", "part_off")
      val local = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      parts.join(broadcast(offDf), "pid")
        .withColumn("s", coalesce(sum(col("n_tokens")).over(local), lit(0L)) + col("part_off"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"s DIV $SEQ").as("first_seq"),
          expr(s"s % $SEQ").as("offset_in_first"),
          when(col("n_tokens") === 0L, 0L)
            .otherwise(expr(s"(s + n_tokens - 1) DIV $SEQ - s DIV $SEQ + 1"))
            .as("n_seqs"))
        .orderBy(col("doc_id"))
    }),

    // Per-(source, lang) corpus profile: doc count, char sum, mean quality.
    // Map-side partial aggregation; group key cardinality is tiny (~100)
    // so the shuffle is negligible at any scale.
    "text_source_profile" -> ((s, dir) => {
      val norm = normText(col("text"))
      val toks = tokens(col("text"))
      Tables.forKernels(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          tokenEstimate(norm, toks).as("tok"))
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("tok")).as("sum_tokens"))
        .orderBy(col("source"), col("lang"))
    }))

  // DuckDB mirrors. Notes: DuckDB regexp_replace needs the 'g' flag
  // (Spark's is global by default); string_split == Spark split on a
  // single-space separator after whitespace normalization.
  private val normSql = graft.functions.TextFunctions.normSql
  private val toksSql = graft.functions.TextFunctions.toksSql

  private def hitsSql(markers: Seq[String]): String =
    s"len(list_filter(w, t -> t IN ${inList(markers)}))"

  /** The pocket-perceptron training run unrolled as CTE rounds —
    * GENERATED from the same CLS_ROUNDS constant the Spark loop uses.
    * Each round r: `u{r}` the per-feature integer update sums over
    * docs misclassified by w{r-1}, `nu{r}` the update count, `w{r}`
    * the element-wise weight fold, `acc{r}` the new weights' correct
    * count. The pocket pick is (n_correct DESC, round ASC) — the
    * same tie-break the Spark side's maxBy uses.
    */
  private def classifierCtes: String = {
    def dotW(wAlias: String): String =
      s"list_sum([$wAlias.w[j]*f.x[j] for j in range(1,5)])"
    val rounds = (1 to CLS_ROUNDS).map { r =>
      s"""u$r AS (SELECT i, CAST(COALESCE(SUM(CASE WHEN f.y * ${dotW("wp")} <= 0
                      THEN f.y * f.x[i] ELSE 0 END), 0) AS BIGINT) AS u
                  FROM f, w${r - 1} wp, range(1, 5) t(i) GROUP BY i),
          nu$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM f, w${r - 1} wp
                   WHERE f.y * ${dotW("wp")} <= 0),
          w$r AS (SELECT list(wp.w[u.i] + u.u ORDER BY u.i) AS w FROM w${r - 1} wp, u$r u),
          acc$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM f, w$r wc
                    WHERE (CASE WHEN ${dotW("wc")} > 0 THEN 1 ELSE -1 END) = f.y)"""
    }.mkString(",\n          ")
    val roundRows = (1 to CLS_ROUNDS).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, (SELECT nu FROM nu$r) AS n_updates,
            (SELECT nc FROM acc$r) AS n_correct"""
    }.mkString(" UNION ALL ")
    s"""base AS (SELECT source, $normSql AS norm, $toksSql AS w FROM documents),
          m AS (SELECT source, len(w) AS nt, length(norm) AS nc,
                  ${hitsSql(stopwords)} AS sh, len(list_distinct(w)) AS dt,
                  CASE WHEN len(w) = 0 THEN 0.0
                    ELSE CAST(${hitsSql(stopwords)} AS DOUBLE) / len(w) END AS stopr,
                  CASE WHEN length(norm) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(norm, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                         / length(norm) END AS punctr
                FROM base),
          f AS (SELECT source,
                  CASE WHEN ${qualityPpmSqlFrom("nt", "stopr", "punctr")}
                       >= 500000 THEN 1 ELSE -1 END AS y,
                  [CAST(1000 AS BIGINT),
                   CAST(least(nt, 64) * 16 AS BIGINT),
                   CAST(least(sh * 4096 // greatest(nt, 1), 1024) AS BIGINT),
                   CAST(dt * 1024 // greatest(nt, 1) AS BIGINT)] AS x
                FROM m),
          w0 AS (SELECT CAST([0, 0, 0, 0] AS BIGINT[]) AS w),
          $rounds,
          rounds AS ($roundRows),
          pocket AS (SELECT round AS pr FROM rounds ORDER BY n_correct DESC, round LIMIT 1)"""
  }

  private def classifierSql: String =
    s"""WITH $classifierCtes
        SELECT round, n_updates, n_correct,
          round = (SELECT pr FROM pocket) AS is_pocket
        FROM rounds ORDER BY round"""

  /** Parity-count form for the streaming twin: the kept-count computed
    * from the same training CTEs, emitted in the four-column parity
    * shape with residues pinned at zero.
    */
  private[queries] def modelKeptParitySql: String = {
    val wAll = (1 to CLS_ROUNDS).map(r =>
      s"SELECT CAST($r AS BIGINT) AS r, w FROM w$r").mkString(" UNION ALL ")
    s"""WITH $classifierCtes,
          wsel AS (SELECT w FROM ($wAll) WHERE r = (SELECT pr FROM pocket)),
          kept AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f, wsel ws
                   WHERE list_sum([ws.w[j]*f.x[j] for j in range(1,5)]) > 0)
        SELECT n AS n_stream, n AS n_batch, CAST(0 AS BIGINT) AS n_only_stream,
          CAST(0 AS BIGINT) AS n_only_batch FROM kept"""
  }

  /** The apply leg: select the pocket round's weights and score every
    * doc — mirror of corpus_model_filter.
    */
  private def modelFilterSql: String = {
    val wAll = (1 to CLS_ROUNDS).map(r =>
      s"SELECT CAST($r AS BIGINT) AS r, w FROM w$r").mkString(" UNION ALL ")
    s"""WITH $classifierCtes,
          wsel AS (SELECT w FROM ($wAll) WHERE r = (SELECT pr FROM pocket))
        SELECT f.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(*) FILTER (list_sum([ws.w[j]*f.x[j] for j in range(1,5)]) > 0)
            AS BIGINT) AS n_kept
        FROM f, wsel ws GROUP BY f.source ORDER BY f.source"""
  }

  private[queries] val langPredSql: String = {
    val scores = langMarkers.map { case (lang, m) => lang -> s"s_$lang" }
    val defs = langMarkers.map { case (lang, m) => s"${hitsSql(m)} AS s_$lang" }
    val cases = scores.zipWithIndex.map { case ((lang, sc), i) =>
      val rest = scores.drop(i + 1).map { case (_, o) => s"$sc >= $o" }
      val conds = (s"$sc > 0" +: rest).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"""SELECT doc_id, lang,
        CASE ${cases.mkString(" ")} ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, lang, ${defs.mkString(", ")}
              FROM (SELECT doc_id, lang, $toksSql AS w FROM documents))"""
  }

  /** Shared oracle for both index-deletion legs: phrase dictionary
    * from the FULL corpus (the workload fixture the persisted index
    * carries), matches recomputed from live docs only (doc_id % 7 <> 2
    * = the tombstone set). Both probe paths must hash-equal this.
    */
  private def phraseDeleteSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        bgs AS (SELECT doc_id,
                  unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
                FROM toks),
        bgdf AS (SELECT bg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                 FROM bgs GROUP BY 1),
        ph AS (SELECT bg, df,
                 CAST(ROW_NUMBER() OVER (ORDER BY df ASC, bg) AS BIGINT) AS phrase_id
               FROM (SELECT bg, df FROM bgdf WHERE df >= 3
                     ORDER BY df ASC, bg LIMIT 5)),
        occ AS (SELECT p.phrase_id, p.bg, b.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_occ
                FROM bgs b JOIN ph p ON p.bg = b.bg
                WHERE b.doc_id % 7 <> 2 GROUP BY 1, 2, 3),
        rk AS (SELECT phrase_id, bg, doc_id, n_occ,
                 CAST(ROW_NUMBER() OVER (PARTITION BY phrase_id
                   ORDER BY n_occ DESC, doc_id) AS BIGINT) AS rank
               FROM occ)
        SELECT phrase_id, bg AS phrase, rank, doc_id, n_occ
        FROM rk WHERE rank <= 5 ORDER BY phrase_id, rank"""

  val oracles: Map[String, String] = Map(
    "text_pretokenize" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS BIGINT) AS n_pretokens,
         CAST(len(regexp_extract_all(text, ' ?[\p{L}]+')) AS BIGINT) AS n_word_chunks,
         CAST(len(regexp_extract_all(text, ' ?[\p{N}]+')) AS BIGINT) AS n_num_chunks,
         CAST(len(regexp_extract_all(text, ' ?[^ \t\n\f\r\p{L}\p{N}]+')) AS BIGINT) AS n_other_chunks
         FROM documents ORDER BY doc_id""",
    "text_token_stats" ->
      s"""SELECT doc_id,
          CAST(length(norm) AS BIGINT) AS n_chars_norm,
          CAST(len(w) AS BIGINT) AS n_tokens,
          CAST(len(w) + len(list_filter(w, t -> length(t) > 8)) AS BIGINT) AS token_est,
          CAST(floor(CASE WHEN len(w) = 0 THEN 0.0
            ELSE CAST(length(norm) - len(w) + 1 AS DOUBLE) / len(w) END * 1000000.0) AS BIGINT)
            AS avg_token_len_ppm
          FROM (SELECT doc_id, $normSql AS norm, $toksSql AS w FROM documents)
          ORDER BY doc_id""",
    "text_langid" ->
      s"""SELECT doc_id, lang, lang_pred, lang = lang_pred AS is_match
          FROM ($langPredSql) ORDER BY doc_id""",
    "text_quality" ->
      s"""SELECT doc_id,
          CAST(floor(punct * 1000000.0) AS BIGINT) AS punct_ppm,
          CAST(floor(stop * 1000000.0) AS BIGINT) AS stopword_ppm,
          ${qualityPpmSqlFrom("len(w)", "stop", "punct")}
            AS quality_ppm
          FROM (
            SELECT doc_id, w,
              CASE WHEN length(norm) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(norm, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                     / length(norm) END AS punct,
              CASE WHEN len(w) = 0 THEN 0.0
                ELSE CAST(${hitsSql(stopwords)} AS DOUBLE) / len(w) END AS stop
            FROM (SELECT doc_id, $normSql AS norm, $toksSql AS w FROM documents))
          ORDER BY doc_id""",
    "text_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fp FROM documents ORDER BY doc_id",
    // Chunk arithmetic mirrors the Spark side exactly: starts 0, 150,
    // 300… while start < length; tail = remainder; md5 of the raw
    // 200-char substring (1-based, both engines truncate past end).
    "text_chunk_rag" ->
      """SELECT d.doc_id,
           CAST(gs.s / 150 AS BIGINT) AS chunk_idx,
           CAST(gs.s AS BIGINT) AS start_pos,
           CAST(LEAST(200, length(d.text) - gs.s) AS BIGINT) AS chunk_len,
           md5(substr(d.text, gs.s + 1, 200)) AS chunk_fp
         FROM documents d,
           LATERAL (SELECT unnest(generate_series(0,
             GREATEST(length(d.text) - 1, 0), 150)) AS s) gs
         ORDER BY doc_id, chunk_idx""",
    "text_keywords" ->
      s"""WITH toks AS (SELECT doc_id, unnest(w) AS t
                 FROM (SELECT doc_id, $toksSql AS w FROM documents)),
          tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
          df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          sc AS (SELECT doc_id, t, tf * 1000000 // df AS score,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY tf * 1000000 // df DESC, t) AS rn
                 FROM tf JOIN df USING(t))
          SELECT doc_id, CAST(rn AS BIGINT) AS rank, t AS token,
            CAST(score AS BIGINT) AS score
          FROM sc WHERE rn <= 3 ORDER BY doc_id, rank""",
    "text_search_conjunctive" ->
      s"""WITH toks AS (SELECT doc_id, unnest(w) AS t
                 FROM (SELECT doc_id, $toksSql AS w FROM documents)),
          tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
          dfx AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          top AS (SELECT t, df, ROW_NUMBER() OVER (ORDER BY df ASC, t) AS r
                  FROM (SELECT t, df FROM dfx WHERE df >= 3
                        ORDER BY df ASC, t LIMIT $SEARCH_TERMS)),
          qt AS (SELECT CAST(r AS BIGINT) AS query_id, t FROM top
                 WHERE r <= ${SEARCH_TERMS - 1}
                 UNION ALL
                 SELECT CAST(r - 1 AS BIGINT) AS query_id, t FROM top WHERE r >= 2),
          post AS (SELECT tf.doc_id, tf.t, tf.tf * 1000000 // dfx.df AS score
                   FROM tf JOIN dfx USING (t)),
          hits AS (SELECT query_id, doc_id, COUNT(*) AS nterms,
                     CAST(SUM(score) AS BIGINT) AS score
                   FROM post JOIN qt USING (t) GROUP BY 1, 2),
          r2 AS (SELECT query_id, doc_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS rank
                 FROM hits WHERE nterms = 2)
          SELECT query_id, rank, doc_id, score FROM r2
          WHERE rank <= 5 ORDER BY query_id, rank""",
    // BM25 recomputed from first principles (no index artifact): same
    // integer-cleared factors, same rarest-terms workload, disjunctive
    // match. DuckDB's `//` and Spark's DIV agree on non-negative
    // operands, and every operand here is positive.
    "text_search_bm25" ->
      s"""WITH toks AS (SELECT doc_id, unnest(w) AS t
                 FROM (SELECT doc_id, $toksSql AS w FROM documents)),
          tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
          dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
          corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(CAST(SUM(dl) AS BIGINT) // COUNT(*) AS BIGINT) AS avgdl
                     FROM dl),
          dfx AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          top AS (SELECT t, df, ROW_NUMBER() OVER (ORDER BY df ASC, t) AS r
                  FROM (SELECT t, df FROM dfx WHERE df >= 3
                        ORDER BY df ASC, t LIMIT $SEARCH_TERMS)),
          qt AS (SELECT CAST(r AS BIGINT) AS query_id, t FROM top
                 WHERE r <= ${SEARCH_TERMS - 1}
                 UNION ALL
                 SELECT CAST(r - 1 AS BIGINT) AS query_id, t FROM top WHERE r >= 2),
          sc AS (SELECT qt.query_id, tf.doc_id,
                   ((1000000 * (2*c.n_docs - 2*dfx.df + 1)) // (2*dfx.df + 1))
                   * ((22 * tf.tf * c.avgdl * 1000000)
                      // (10 * tf.tf * c.avgdl + 3 * c.avgdl + 9 * dl.dl)) AS s
                 FROM tf JOIN qt USING (t) JOIN dl USING (doc_id)
                   JOIN dfx USING (t) CROSS JOIN corpus c),
          agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score
                  FROM sc GROUP BY 1, 2),
          rk AS (SELECT query_id, doc_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS rank
                 FROM agg)
          SELECT query_id, rank, doc_id, score FROM rk
          WHERE rank <= 5 ORDER BY query_id, rank""",
    // Phrase matches recomputed from the bigram multiset: an adjacent
    // position pair (p, p+1) matching (a, b) is exactly one occurrence
    // of the bigram "a b" (overlapping runs included), so the
    // positional-join result is hash-gated against this count.
    "text_search_phrase" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          bgs AS (SELECT doc_id,
                    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
                  FROM toks),
          bgdf AS (SELECT bg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                   FROM bgs GROUP BY 1),
          ph AS (SELECT bg, df,
                   CAST(ROW_NUMBER() OVER (ORDER BY df ASC, bg) AS BIGINT) AS phrase_id
                 FROM (SELECT bg, df FROM bgdf WHERE df >= 3
                       ORDER BY df ASC, bg LIMIT 5)),
          occ AS (SELECT p.phrase_id, p.bg, b.doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_occ
                  FROM bgs b JOIN ph p ON p.bg = b.bg GROUP BY 1, 2, 3),
          rk AS (SELECT phrase_id, bg, doc_id, n_occ,
                   CAST(ROW_NUMBER() OVER (PARTITION BY phrase_id
                     ORDER BY n_occ DESC, doc_id) AS BIGINT) AS rank
                 FROM occ)
          SELECT phrase_id, bg AS phrase, rank, doc_id, n_occ
          FROM rk WHERE rank <= 5 ORDER BY phrase_id, rank""",
    // Deletion legs: the phrase WORKLOAD still derives from the full
    // corpus's bigram dictionary (build artifact), but matches must
    // come from live (non-tombstoned) docs only — both the
    // merge-on-read and the compacted probe are gated against this
    // same from-scratch recompute, which IS the rebuild-parity check.
    "text_search_phrase_tombstoned" -> phraseDeleteSql,
    "text_search_phrase_compacted" -> phraseDeleteSql,
    "corpus_sample_hash" ->
      s"""SELECT doc_id, lang, md5($normSql) AS fp FROM documents
          ORDER BY fp, doc_id LIMIT 20""",
    "corpus_pack_sequences" ->
      s"""WITH c AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
          p AS (SELECT doc_id, n_tokens,
                  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
                FROM c)
          SELECT doc_id, n_tokens,
            CAST(s // 512 AS BIGINT) AS first_seq,
            CAST(s % 512 AS BIGINT) AS offset_in_first,
            CAST(CASE WHEN n_tokens = 0 THEN 0
              ELSE (s + n_tokens - 1) // 512 - s // 512 + 1 END AS BIGINT) AS n_seqs
          FROM p ORDER BY doc_id""",
    "text_vocabulary" ->
      s"""SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS tf,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
          FROM (SELECT doc_id, unnest(w) AS t
                FROM (SELECT doc_id, $toksSql AS w FROM documents))
          GROUP BY 1 ORDER BY tf DESC, token LIMIT 50""",
    "approx_heavy_hitters" ->
      s"""SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS tf,
          TRUE AS within_bound
          FROM (SELECT unnest(w) AS t
                FROM (SELECT $toksSql AS w FROM documents))
          GROUP BY 1 ORDER BY tf DESC, token LIMIT 20""",
    "text_repetition" ->
      s"""SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(CASE WHEN n - 1 <= 0 THEN 0
            ELSE floor(CAST(n - 1 - d2 AS DOUBLE) * 1000000.0 / (n - 1)) END AS BIGINT) AS dup_2gram_ppm,
          CAST(CASE WHEN n - 2 <= 0 THEN 0
            ELSE floor(CAST(n - 2 - d3 AS DOUBLE) * 1000000.0 / (n - 2)) END AS BIGINT) AS dup_3gram_ppm,
          CAST(CASE WHEN n = 0 THEN 0
            ELSE floor(CAST(topc AS DOUBLE) * 1000000.0 / n) END AS BIGINT) AS top_token_ppm
          FROM (SELECT doc_id, len(w) AS n,
                  len(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS d2,
                  len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS d3,
                  coalesce(list_max([len(list_filter(w, y -> y = t)) for t in list_distinct(w)]), 0) AS topc
                FROM (SELECT doc_id, $toksSql AS w FROM documents))
          ORDER BY doc_id""",
    "corpus_mixture" ->
      s"""SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM (SELECT lang, n_chars,
                  CAST('0x' || substr(md5($normSql), 1, 2) AS INT) AS bucket,
                  CASE WHEN lang = 'en' THEN 256
                       WHEN lang IN ('de', 'es') THEN 128
                       WHEN lang = 'fr' THEN 64
                       ELSE 32 END AS rate
                FROM documents)
          WHERE bucket < rate GROUP BY lang ORDER BY lang""",
    "text_quality_classifier" -> classifierSql,
    "corpus_model_filter" -> modelFilterSql,
    "text_train_eval_split" ->
      s"""SELECT lang,
          ${graft.functions.TextFunctions.trainEvalSplitSql(s"md5($normSql)")} AS split,
          COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM documents GROUP BY 1, 2 ORDER BY lang, split""",
    "text_source_profile" ->
      s"""SELECT source, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          CAST(SUM(len(w) + len(list_filter(w, t -> length(t) > 8))) AS BIGINT) AS sum_tokens
          FROM (SELECT source, lang, n_chars, $toksSql AS w FROM documents)
          GROUP BY source, lang ORDER BY source, lang""")
}
