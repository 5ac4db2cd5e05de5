package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryGroup, Tables}
import graft.functions.Exprs
import graft.functions.TextFunctions.contentFingerprint
import graft.functions.MinHash._
import graft.functions.VectorFunctions._

/** Deduplication operator family over `documents` / `embeddings` — the
  * first-class training-data-pipeline operators (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine).
  *
  * Scale notes (100 TB):
  *  - Exact dedup is a hash groupBy on a 128-bit content fingerprint —
  *    one shuffle keyed by the hash, perfectly balanced unless the corpus
  *    is pathologically duplicated; AQE skew-split handles that.
  *  - The exact shingle inverted-index join (`dedup_ngram_jaccard`) is
  *    quadratic in per-shingle posting length; production runs prune
  *    high-DF shingles first (they contribute pairs that verification
  *    discards anyway). We keep it exact here because it doubles as the
  *    verification oracle for the LSH variant.
  *  - MinHash+LSH (`dedup_minhash_lsh`) is the operator you'd actually
  *    run at 100 TB: candidate generation is an equi-join on
  *    (band, bandHash) — a plain shuffle join — and exact verification
  *    touches only candidate pairs. With k=128, b=64, r=2 the miss
  *    probability for a true pair at j≥0.5 is (1-0.25)^64 ≈ 1e-8, so its
  *    verified output equals the exact join's (that is the oracle).
  */
object DedupQueries extends QueryGroup {

  private val SHINGLE_N = 3
  private val MINHASH_K = 128
  private val LSH_BANDS = 64 // r = 2
  private val CONTAM_N = 13 // GPT-3-style exact-collision window
  // Bloom contamination screen: 4 hash functions (the four 32-bit md5
  // words), ~16 bits/key → expected FP (1-e^-0.25)^4 ≈ 0.24%.
  private val BLOOM_K = 4

  /** Positional split + 13-gram table (doc_id, split, g) shared by the
    * batch bloom screen and the streaming parity gate — memoized per
    * (session, dir) so the two queries never recompute or drift.
    */
  private val contamGramsCache = new graft.util.SessionCache[DataFrame]

  private[queries] def contamGrams(s: SparkSession, dir: String): DataFrame =
    contamGramsCache.getOrCompute(s, dir) {
      import graft.functions.TextFunctions.trainEvalSplit
      contamGramsOf(
        Tables.forKernels(s, dir, "documents")
          .withColumn("split", trainEvalSplit(col("text"))),
        col("split"))
        .localCheckpoint(true)
    }

  /** Explode a documents frame into its CONTAM_N-token grams — the one
    * definition of the contamination gram window, shared with the
    * streaming parity gate so batch and stream cannot drift.
    */
  private[queries] def contamGramsOf(docs: DataFrame, extra: Column*): DataFrame =
    docs.select((col("doc_id") +: extra) :+
      explode(Exprs.shingles(col("text"), CONTAM_N)).as("g"): _*)

  /** The train-side bloom artifact: (mBits, distinct train grams,
    * packed bloom words). Sizing is data-driven (~16 bits per distinct
    * train gram — the layout_bloom_skipping discipline); memoized like
    * any persisted index.
    */
  private val contamBloomCache = new graft.util.SessionCache[(Long, DataFrame, DataFrame)]

  private[queries] def contamBloom(s: SparkSession, dir: String): (Long, DataFrame, DataFrame) =
    contamBloomCache.getOrCompute(s, dir) {
      val train = contamGrams(s, dir).filter(col("split") === "train")
        .select(col("g")).distinct().localCheckpoint(true)
      val mBits = 16L * train.count()
      val bloom = train
        .select(explode(array((0 until BLOOM_K).map(i =>
          bloomPos(col("g"), i, mBits)): _*)).as("p"))
        .withColumn("w", expr("p DIV 64"))
        .withColumn("b", expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"))
        .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
        .localCheckpoint(true)
      (mBits, train, bloom)
    }

  /** Bit position of hash seed `i` for gram `g`: the i-th 32-bit md5
    * word mod the bloom size.
    */
  private def bloomPos(g: Column, i: Int, mBits: Long): Column =
    pmod(conv(substring(md5(g), 1 + i * 8, 8), 16, 10).cast("long"), lit(mBits))

  /** The (doc_id, g) pairs the bloom flags as may-contain. STATELESS —
    * one LEFT join per hash seed against the broadcast-sized word
    * table, no aggregation — so the SAME code runs over a batch frame
    * and inside a streaming micro-batch (the parity gate). A word with
    * no set bits has no row, and that absence is a DEFINITE miss (see
    * DataSkipping.pruneBloomKeys), hence left joins with a false
    * default.
    */
  private[queries] def bloomFlaggedPairs(evalG: DataFrame, mBits: Long,
      bloom: DataFrame): DataFrame = {
    val withHits = (0 until BLOOM_K).foldLeft(evalG) { (df, i) =>
      df.withColumn(s"p$i", bloomPos(col("g"), i, mBits))
        .withColumn(s"w$i", expr(s"p$i DIV 64"))
        .withColumn(s"b$i", expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p$i % 64 AS INT))"))
        .join(broadcast(bloom.select(col("w").as(s"w$i"), col("bits").as(s"bits$i"))),
          Seq(s"w$i"), "left")
        .withColumn(s"hit$i",
          coalesce((col(s"bits$i").bitwiseAND(col(s"b$i"))) === col(s"b$i"), lit(false)))
    }
    withHits
      .filter((0 until BLOOM_K).map(i => col(s"hit$i")).reduce(_ && _))
      .select(col("doc_id"), col("g"))
  }

  /** doc_id, distinct word 3-gram shingles, shingle-set size. Uses the
    * one-pass ShinglesExpr kernel (set-equal to the oracle's SQL list
    * comprehension; see TextKernels for why not the HOF composition).
    *
    * Memoized per (session, dir) and checkpointed EAGERLY: its two
    * consumers (the memoized verified-pairs build and
    * `dedup_ngram_jaccard`) each use it on BOTH sides of a self-join,
    * so without the memo + checkpoint the tokenize+shingle kernel
    * would run up to four times over the corpus per session. Eager
    * (not lazy) is deliberate and measured: a lazy checkpoint
    * materializes inside the join's two CONCURRENT map stages, whose
    * twin tasks contend on the per-partition cache locks and serialize
    * the kernel (~2× on the family build); the eager job runs it once
    * at full parallelism. The cost is a construction-time job on
    * plan-only paths (Explain) the first time a session touches a dir.
    * Linear in corpus size (per-DOC shingle sets — unlike per-pair
    * arrays, which are why the verified-pairs checkpoint projects
    * shingles away first).
    */
  private val shingledCache = new graft.util.SessionCache[DataFrame]

  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledCache.getOrCompute(s, dir)(
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), Exprs.shingles(col("text"), SHINGLE_N).as("shingles"))
        .withColumn("n_sh", size(col("shingles")).cast("long"))
        .localCheckpoint(true))

  private def jaccardPpm(common: Column, na: Column, nb: Column): Column =
    floor(common.cast("double") * lit(1000000.0) / (na + nb - common)).cast("long")

  /** LSH-candidate near-dup pairs, exactly verified at `threshold`.
    * Candidate generation is the banded minhash equi-join (a plain
    * shuffle join on (band, bandHash)); verification touches only the
    * candidates, so cost tracks the true-duplicate mass — near-linear
    * in corpus size, unlike the exact shingle inverted-index join
    * (quadratic in posting length; SCALING.md measured it at 190× cost
    * for 10× data). `bands` tunes recall: with k=128 hashes, b=64/r=2
    * misses a j≥0.5 pair with p≈1e-8; b=128/r=1 misses a j≥0.2 pair
    * with p=0.8^128≈4e-13 — both far below the one-in-a-corpus level,
    * so the verified output equals the exact join's (that is how the
    * DuckDB oracle checks it).
    *
    * Band-shape caveat (measured, see SCALING.md): r=1 banding is only
    * usable when the background similarity mass is near zero. On this
    * corpus ~1.1M background pairs sit at j∈(0, 0.14) and
    * P(r=1 collision at j=0.01) = 1-0.99^128 ≈ 72%, so r=1 produced
    * 756k candidates at sf0.1 — nearly the full co-occurrence join.
    * r=2 squares the per-band collision probability (j² = 1e-4 at
    * j=0.01), which is what makes the candidate set track the true-dup
    * mass instead of the background.
    */
  private def lshVerifiedPairs(s: SparkSession, dir: String,
      bands: Int, threshold: Double): DataFrame = {
    val sh = shingled(s, dir)
    // Eagerly checkpoint the band table feeding the self-join: the
    // k=128 minhash kernel is the dominant cost of candidate
    // generation and a bare self-join would run it on both sides
    // (eager, not lazy, for the concurrent-twin-stage cache-lock
    // reason documented on `shingled`). Narrow rows (doc_id, band,
    // hash) — the same "signatures are a table" shape the 100 TB
    // version persists.
    // Persisted, not just checkpointed, since round 5: the band table
    // is the signature index a production dedup pipeline stores next
    // to the corpus (build once, probe forever) — see
    // [[graft.util.IndexStore]] for the content-addressing contract.
    val ex = graft.util.IndexStore.loadOrBuild(s, dir, s"minhash_bands_n${SHINGLE_N}k${MINHASH_K}b$bands")(
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Exprs.minhashBands(col("text"), SHINGLE_N, MINHASH_K, bands))
            .as(Seq("band", "bh"))))
    val cand = ex.as("x").join(ex.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val lhs = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("n_sh").as("na"))
    val rhs = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("n_sh").as("nb"))
    cand.join(lhs, "doc_a").join(rhs, "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")) >= threshold)
  }

  /** Verified near-dup pairs at j ≥ 0.5 — the one sketch-then-verify
    * computation shared by `dedup_minhash_lsh`, `dedup_clusters`, and
    * `corpus_curation`, persisted as an IndexStore artifact (a fresh
    * session LOADS it instead of re-running candidate generation +
    * verification; repeated queries in one session hit the load memo).
    */
  private def verifiedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.util.IndexStore.loadOrBuild(s, dir, s"verified_pairs_j50_n${SHINGLE_N}k${MINHASH_K}b$LSH_BANDS")(
      lshVerifiedPairs(s, dir, bands = LSH_BANDS, threshold = 0.5)
        // Project the shingle arrays away BEFORE persisting: the
        // consumers need only the five scalars, and two trigram
        // arrays per pair would cost hundreds of MB at sf0.1.
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"), col("nb")))

  /** Connected components over the verified near-dup pairs (j ≥ 0.5):
    * iterative min-label propagation to fixpoint. Returns (node, lbl)
    * with lbl = min doc_id of the component. Each round is one
    * groupBy-min over the undirected edge list; rounds = diameter
    * (near-dup components are tiny, so 2-4). The 100 TB version is the
    * same loop with the label table checkpointed per round
    * (Pregel-style); no different plan shape. Edges come from the
    * b=64/r=2 verified-LSH path (miss p≈1e-8 at j≥0.5), never the
    * quadratic exact join; r=1 banding for a j≥0.2 threshold was
    * measured and rejected — see the band-shape caveat above.
    * Persisted: the label table is computed once and shared by
    * `dedup_clusters` and `corpus_curation`.
    */
  private def components(s: SparkSession, dir: String): DataFrame =
    graft.util.IndexStore.loadOrBuild(s, dir, s"components_j50_n${SHINGLE_N}k${MINHASH_K}b$LSH_BANDS")(
      computeComponents(s, dir))

  /** Symmetrize a (doc_a, doc_b) pair list into an undirected (x, y)
    * edge list (each pair in both orientations).
    */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionByName(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))

  private def computeComponents(s: SparkSession, dir: String): DataFrame =
    labelPropagate(undirected(verifiedNearDupPairs(s, dir))
      .select(col("x").as("doc_a"), col("y").as("doc_b"))
      .localCheckpoint(true))

  /** Min-label propagation to fixpoint over an undirected edge list
    * (both orientations present as (doc_a, doc_b) rows). Returns
    * (node, lbl) with lbl = min node id reachable. Shared by the full
    * component build and the incremental merge-graph fixpoint — the
    * SAME loop, run on frames of very different size (the corpus pair
    * graph vs the touched-label quotient graph).
    */
  private def labelPropagate(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      // Carry each node's OLD label through the min-aggregation (every
      // node has exactly one labels row, so max(old) recovers it) —
      // the convergence check is then a filter-count on the already-
      // checkpointed result instead of an extra join per round.
      val viaNeighbor = edges
        .join(labels, col("doc_a") === col("node"))
        .select(col("doc_b").as("node"), col("lbl"),
          lit(null).cast("long").as("old"))
      val next = labels.select(col("node"), col("lbl"), col("lbl").as("old"))
        .unionByName(viaNeighbor)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"), max(col("old")).as("old"))
        .localCheckpoint(true)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("node"), col("lbl"))
    }
    labels
  }

  /** Entity-resolution match threshold (ppm trigram Jaccard). */
  private val ER_T = 850000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on the md5 content fingerprint; survivor
    // is the smallest doc_id (deterministic "first wins", cf. the
    // reference's UNIQUE-constraint dedup keeping the first arrival,
    // csv-crm-upload postgres/entrypoint-init.d/init-db.sh:13,16).
    "dedup_exact" -> ((s, dir) => {
      Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("survivor_id"))
        .orderBy(col("survivor_id"))
    }),

    // ENTITY RESOLUTION over the customer master — the record-linkage
    // shape of dedup (the reference's domain: a CRM keyed on exact
    // email equality, database/database.go's UNIQUE constraint,
    // generalized to fuzzy identity): BLOCKING first (name-prefix
    // block key — candidate pairs form only within a block, turning
    // the O(n²) cross-product into Σ block² with block size bounded
    // by key design; a skewed block at scale gets salted or split
    // exactly like any hot join key), then pairwise character-trigram
    // Jaccard inside each block, integer ppm math throughout. The
    // 0.85 threshold sits between the same-decade twins (names
    // differing only in their final digit: sim ≥ 0.833, median
    // 0.857) and the bulk of unrelated in-block pairs (median 0.733)
    // — fuzzy identity, so some borderline pairs land either side,
    // which is the honest shape of record linkage. Per-block report:
    // candidate pairs generated, matches, distinct customers
    // matched.
    "dedup_entity_resolution" -> ((s, dir) => {
      // Upper bound clamped + length filter: sequence(1, n) STEPS DOWN
      // when n < 1, so a name shorter than 3 chars would otherwise
      // yield [1, 0] and spurious short "trigrams" (the DuckDB mirror's
      // range() is empty there). The filter drops the short substrings
      // a clamped-but-still-present index 1 produces on 1-2 char names.
      // r16: the pair stage walks PACKED-INT trigrams, not strings. A
      // 3-ASCII-char trigram packs injectively into one int (c1<<16 |
      // c2<<8 | c3 — every codepoint < 128), so |A∩B| and |A∪B| are
      // IDENTICAL to the string-set sizes and every output row is
      // unchanged. The packing is injective ONLY for ASCII: a wider
      // code would make two trigrams collide silently, so a trigram
      // with any code above 127 fails the query in the same projection
      // (no extra job). The per-pair array_intersect compares 4-byte
      // ints instead of hashing UTF8Strings (guide §2.3 "narrower
      // types", applied to the quadratic stage's element type; the
      // encode itself is linear, one transform over the 15k-row
      // customer side). Measured
      // isolated warm: 6.75s → 3.4s on the same box.
      val triInt = expr(
        """transform(array_distinct(filter(
             transform(sequence(1, greatest(length(c_name) - 2, 1)), i -> substr(c_name, i, 3)),
             t -> length(t) = 3)),
           t -> CASE WHEN greatest(ascii(substr(t, 1, 1)), ascii(substr(t, 2, 1)),
                                   ascii(substr(t, 3, 1))) > 127
             THEN raise_error(concat('dedup_entity_resolution: packed trigrams ',
               'require an ASCII c_name (codes 0-127), got trigram "', t, '"'))
             ELSE ascii(substr(t, 1, 1)) * 65536 + ascii(substr(t, 2, 1)) * 256
                + ascii(substr(t, 3, 1)) END)""")
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), substring(col("c_name"), 1, 16).as("blk"),
          triInt.as("tg"))
      val a = cust.select(col("blk"), col("c_custkey").as("cust_a"), col("tg").as("tg_a"))
      val b = cust.select(col("blk"), col("c_custkey").as("cust_b"), col("tg").as("tg_b"))
      // r15 optimization round (guide §1.2: first-principles minimum).
      // The minimum unavoidable work here is ONE Jaccard per in-block
      // pair; everything else the old plan did on the pair mass was
      // derivable without it and is now computed small:
      //  - n_cands = C(block size, 2) comes from a per-block COUNT of
      //    the 15k-row customer side — the pair join no longer feeds
      //    an all-pairs aggregate at all (the before plan aggregated
      //    7.4M pair rows per block TWICE, once per output branch);
      //  - the per-pair Jaccard computes array_intersect ONCE and
      //    derives |A∪B| = |tg_a| + |tg_b| − |A∩B| (the arrays are
      //    array_distinct'd sets, so the identity is exact) — the old
      //    expression paid a second same-cost array_union walk;
      //  - only MATCHED pairs (sim ≥ ER_T) survive the join stage, and
      //    that tiny set is checkpointed once for its two consumers
      //    (pair count + distinct-customer count per block).
      // Blocks appear in the output iff they have ≥1 pair (old
      // behavior: the self-join emits nothing for singleton blocks),
      // hence the n_members >= 2 filter.
      val nc = cust.groupBy(col("blk")).agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .select(col("blk"), expr("n_members * (n_members - 1) DIV 2").as("n_cands"))
      val matches = a.join(b, Seq("blk")).filter(col("cust_a") < col("cust_b"))
        .withColumn("ni", expr("size(array_intersect(tg_a, tg_b))"))
        .withColumn("sim_ppm",
          expr("ni * 1000000L DIV (size(tg_a) + size(tg_b) - ni)"))
        .filter(col("sim_ppm") >= ER_T)
        .select(col("blk"), col("cust_a"), col("cust_b"))
        .localCheckpoint(true)
      val nm = matches.groupBy(col("blk")).agg(count(lit(1)).as("n_matches"))
      val matched = matches
        .select(col("blk"), explode(array(col("cust_a"), col("cust_b"))).as("c"))
        .distinct().groupBy(col("blk")).agg(count(lit(1)).as("n_matched_custs"))
      nc.join(nm, Seq("blk"), "left").join(matched, Seq("blk"), "left")
        .select(col("blk"), col("n_cands"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("n_matched_custs"), lit(0L)).as("n_matched_custs"))
        .orderBy(col("blk"))
    }),

    // Edit-distance record linkage — the second similarity metric of
    // the ER family (trigram Jaccard is set-shaped and
    // transposition-tolerant; Levenshtein is sequence-shaped and
    // position-strict — real linkage stacks both). Same name-prefix
    // blocking; per block, the distribution of pair edit distances
    // (d=1: single-digit twins, the data-entry-typo class; d=2: the
    // rest of the block, whose names differ in at most the last two
    // digits). Pins Spark's and DuckDB's levenshtein to identical
    // integers over every in-block pair.
    "dedup_edit_distance" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), substring(col("c_name"), 1, 16).as("blk"))
      val a = cust.select(col("blk"), col("c_custkey").as("cust_a"), col("c_name").as("na"))
      val b = cust.select(col("blk"), col("c_custkey").as("cust_b"), col("c_name").as("nb"))
      a.join(b, Seq("blk")).filter(col("cust_a") < col("cust_b"))
        .withColumn("d", levenshtein(col("na"), col("nb")).cast("long"))
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("d") === 1, 1)).as("n_dist1"),
          count(when(col("d") === 2, 1)).as("n_dist2"),
          max(col("d")).as("max_dist"))
        .orderBy(col("blk"))
    }),

    // THE FULL DEDUP FUNNEL — the composed pipeline a training-corpus
    // run actually executes, as one driver-checkable query: raw →
    // exact-dedup survivors (min doc per content fingerprint) →
    // near-dup canonical (min doc per component among exact
    // survivors; unclustered docs pass) → train split → 13-gram
    // decontamination against the eval split. Every stage reuses the
    // operator the inventory checks individually (fingerprints,
    // memoized LSH components, the content-keyed splitter, the
    // contamination gram join), so this pins the COMPOSITION: stage
    // counts are monotone non-increasing by construction and each
    // delta is one operator's drop mass. Driver-side counts are
    // bounded 1-row aggregates; every stage is a linear shuffle.
    "corpus_dedup_funnel" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), contentFingerprint(col("text")).as("fp"),
          graft.functions.TextFunctions.trainEvalSplit(col("text")).as("split"),
          Exprs.shingles(col("text"), CONTAM_N).as("grams"))
        .localCheckpoint(true)
      val n1 = base.count()
      val e1 = base.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).localCheckpoint(true)
      val n2 = e1.count()
      val comp = components(s, dir)
      val ec = e1.join(comp, e1("doc_id") === comp("node"), "left")
      val k3 = ec.filter(col("lbl").isNull).select(col("doc_id"))
        .unionByName(ec.filter(col("lbl").isNotNull).groupBy(col("lbl"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")))
        .localCheckpoint(true)
      val n3 = k3.count()
      val s4 = k3.join(base.select(col("doc_id"), col("split"), col("grams")),
          Seq("doc_id"))
        .filter(col("split") === "train")
        .localCheckpoint(true)
      val n4 = s4.count()
      val evalGrams = base.filter(col("split") === "eval")
        .select(explode(col("grams")).as("g")).distinct()
      val cont = s4.select(col("doc_id"), explode(col("grams")).as("g"))
        .join(evalGrams, Seq("g")).select(col("doc_id")).distinct()
      val n5 = n4 - cont.count()
      Seq((1L, "raw", n1), (2L, "exact", n2), (3L, "near_dup_canonical", n3),
          (4L, "train_split", n4), (5L, "decontaminated", n5))
        .toDF("stage", "stage_name", "n_docs").orderBy(col("stage"))
    }),

    // Exact n-gram Jaccard near-dup pairs (threshold 0.2) via shingle
    // inverted index: explode → equi-join on shingle → count common →
    // verify. The join shuffles on the shingle string; map-side partial
    // count keeps the shuffle narrow.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val sh = shingled(s, dir)
      val ex = sh.select(col("doc_id"), col("n_sh"), explode(col("shingles")).as("sh"))
      val a = ex.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("sh").as("sh_a"))
      val b = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("sh").as("sh_b"))
      a.join(b, col("sh_a") === col("sh_b") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")) >= 0.2)
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          jaccardPpm(col("n_common"), col("na"), col("nb")).as("jaccard_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash + LSH banding with exact verification at j ≥ 0.5. Candidate
    // generation: posexplode band hashes → self-equi-join on
    // (band, hash) → distinct pairs; verification: array_intersect on the
    // (much smaller) candidate set only.
    "dedup_minhash_lsh" -> ((s, dir) => {
      verifiedNearDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"),
          jaccardPpm(col("n_common"), col("na"), col("nb")).as("jaccard_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // INCREMENTAL near-dup: the arriving tenth of the corpus
    // (doc_id % 10 == 0 — the delta a corpus refresh lands) probed
    // against the PERSISTED signature index instead of re-running the
    // full self-join. Candidate generation is bandsDelta ⋈ bandsAll —
    // cost proportional to the DELTA, and at 100 TB the delta side
    // broadcasts while the index stays partitioned (the full self-join
    // re-shuffles the corpus every refresh). Verification touches only
    // the probed candidates. Output: per arriving doc, its duplicate
    // partners anywhere (corpus or fellow arrivals); the oracle is the
    // exact-join ground truth restricted to arrival rows, so the gate
    // re-proves LSH recall on the incremental path every round.
    "dedup_incremental_lsh" -> ((s, dir) => {
      val ex = graft.util.IndexStore.loadOrBuild(s, dir,
        s"minhash_bands_n${SHINGLE_N}k${MINHASH_K}b$LSH_BANDS")(
        Tables.forKernels(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(Exprs.minhashBands(col("text"), SHINGLE_N, MINHASH_K, LSH_BANDS))
              .as(Seq("band", "bh"))))
      val delta = ex.filter(col("doc_id") % 10 === 0)
      val cand = delta.as("x").join(ex.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val sh = shingled(s, dir)
      val lhs = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("na"))
      val rhs = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("nb"))
      cand.join(lhs, "doc_a").join(rhs, "doc_b")
        .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .filter(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")) >= 0.5)
        .groupBy(col("doc_a").as("arrival_doc_id"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_b")).as("min_dup"))
        .orderBy(col("arrival_doc_id"))
    }),

    // SimHash near-dup pairs at hamming distance ≤ 3, using 16-bit
    // pigeonhole bands — EXACT blocking for d ≤ 3 (any such pair agrees
    // on ≥ 1 of 4 bands), the same equi-join shape as LSH. The token
    // hash is md5-derived (TextKernels.md5Hash64), so the oracle
    // recomputes the full signature in SQL and checks the banded join
    // against an exhaustive cross-join at d ≤ 3 — hash-exact, not
    // rows-only.
    "dedup_simhash" -> ((s, dir) => {
      // Eagerly checkpoint the signature table before the self-join:
      // the per-token-md5 signature kernel is the dominant cost and a
      // bare self-join would evaluate it on BOTH sides (the 100 TB
      // version writes signatures to a table for the same reason;
      // eager vs lazy per the cache-lock note on `shingled`).
      // doc_id + two longs — trivially small relative to the corpus.
      val sig = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), Exprs.simhash64(col("text")).as("sig"))
        .withColumn("bands", simHashBands(col("sig")))
        .localCheckpoint(true)
      val ex = sig.select(col("doc_id"), col("sig"), posexplode(col("bands")).as(Seq("band", "bv")))
      ex.as("x").join(ex.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          hamming64(col("x.sig"), col("y.sig")).as("hamming"))
        // Filter BEFORE distinct: only d≤3 pairs enter the dedup
        // shuffle instead of every same-band collision.
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Near-dup clustering: connected components over the verified
    // near-dup pairs (j ≥ 0.5), cluster id = min doc_id reachable —
    // the step that turns pair lists into one canonical survivor per
    // duplicate group. Iterative min-label propagation: each round is
    // one groupBy-min over the (undirected) edge list; rounds needed =
    // graph diameter (near-dup components are tiny, so 2-4). The
    // 100 TB version is the same loop with the label table
    // checkpointed per round (Pregel-style); no different plan shape.
    "dedup_clusters" -> ((s, dir) => {
      components(s, dir)
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc_id"))
        .orderBy(col("cluster_id"))
    }),

    // INCREMENTAL COMPONENT MAINTENANCE — the clustering leg of the
    // incremental family (text LSH / vector IVF / media pHash /
    // components): a persisted base label table absorbs an arrival
    // batch WITHOUT re-running the corpus fixpoint. The base
    // components (arrivals = doc_id % 10, the fixture shared with
    // dedup_incremental_lsh) persist as an IndexStore artifact; the
    // arrival batch contributes delta pairs (≥1 arriving endpoint —
    // in production from the delta-probe band join that
    // dedup_incremental_lsh ships; here the same verified pairs,
    // filtered); each delta pair becomes an edge between its
    // endpoints' LABELS, and the min-label fixpoint then runs on that
    // quotient merge graph — rows ∝ touched components, never the
    // corpus (pinned in QueryContractsSpec). Relabeling is one keyed
    // join of the label tables against the merge result; no broadcast
    // hint — the delta scales with the corpus under this fixture.
    // Output is the arrival-side answer: per component TOUCHED by the
    // batch, how many docs it has now, how many arrived, and how many
    // previously-separate base clusters the batch fused
    // (n_base_clusters ≥ 2 ⇔ a genuine merge event). Exactness gate:
    // this must equal a from-scratch recompute over base ∪ delta — the
    // oracle IS that recompute (two recursive-CTE component passes).
    "dedup_components_incremental" -> ((s, dir) => {
      val isDelta = (c: Column) => c % 10 === 0
      val pairs = verifiedNearDupPairs(s, dir)
      val basePairs = pairs.filter(!isDelta(col("doc_a")) && !isDelta(col("doc_b")))
      val baseLabels = graft.util.IndexStore.loadOrBuild(s, dir,
        s"components_base_j50_n${SHINGLE_N}k${MINHASH_K}b$LSH_BANDS")(
        labelPropagate(undirected(basePairs)
          .select(col("x").as("doc_a"), col("y").as("doc_b"))
          .localCheckpoint(true)))
      val deltaPairs = pairs
        .filter(isDelta(col("doc_a")) || isDelta(col("doc_b")))
        .localCheckpoint(true)
      // Endpoint → provisional label: its base component if it had
      // one, else itself (arrivals and base singletons).
      val la = baseLabels.select(col("node").as("doc_a"), col("lbl").as("la0"))
      val lb = baseLabels.select(col("node").as("doc_b"), col("lbl").as("lb0"))
      val mergeEdges = deltaPairs
        .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
        .select(coalesce(col("la0"), col("doc_a")).as("la"),
          coalesce(col("lb0"), col("doc_b")).as("lb"))
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("doc_a"), col("lb").as("doc_b"))
        .distinct()
        .localCheckpoint(true)
      val merged = labelPropagate(undirected(mergeEdges)
        .select(col("x").as("doc_a"), col("y").as("doc_b")))
      // All clustered nodes: base-labeled docs plus any delta-pair
      // endpoint not already labeled; provisional label as above.
      val deltaNodes = deltaPairs.select(col("doc_a").as("node"))
        .unionByName(deltaPairs.select(col("doc_b").as("node"))).distinct()
      val prelim = baseLabels.unionByName(
        deltaNodes.join(baseLabels, Seq("node"), "left_anti")
          .withColumn("lbl", col("node")))
      val finalLbl = prelim
        .join(merged.select(col("node").as("lbl"), col("lbl").as("mlbl")),
          Seq("lbl"), "left")
        .select(col("node"),
          coalesce(col("mlbl"), col("lbl")).as("flbl"),
          col("lbl").as("plbl"))
      finalLbl
        .withColumn("is_arrival", isDelta(col("node")))
        // Membership in the base label table (not plbl==node, which a
        // component-min base doc also satisfies) marks pre-batch docs.
        .join(baseLabels.select(col("node"), lit(1L).as("in_base")), Seq("node"), "left")
        .groupBy(col("flbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_arrival"), 1L).otherwise(0L)).as("n_arrivals"),
          countDistinct(when(col("in_base") === 1L, col("plbl"))).as("n_base_clusters"),
          sum(when(col("in_base") === 1L, 1L).otherwise(0L)).as("n_docs_before"))
        .filter(col("n_arrivals") > 0)
        .orderBy(col("cluster_id"))
    }),

    // Canonical (keep-best) selection per near-dup cluster — the
    // operator that turns "these documents are duplicates" into the
    // CLEANED corpus: production keeps the highest-QUALITY member of
    // each cluster, not an arbitrary one (min-id is a tie-break, not a
    // policy — a near-dup set often contains one clean original and N
    // boilerplate-wrapped copies). Composes the shared components
    // labels with the composite quality score: one join onto the
    // (tiny) cluster-member table, one per-cluster argmax window —
    // cost is the memoized sketch pass, the add-on is linear in
    // clustered docs. Emits per cluster: the chosen canonical, its
    // quality, and the char mass the drop reclaims.
    "dedup_canonical" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val docs = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          floor(qualityScore(normText(col("text")), tokens(col("text")))
            * lit(1000000.0)).cast("long").as("qp"))
      val members = components(s, dir)
        .join(docs, col("node") === col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lbl")).orderBy(col("qp").desc, col("node"))
      members.withColumn("rn", row_number().over(w))
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("node"))).as("canonical_id"),
          max(when(col("rn") === 1, col("qp"))).as("canonical_qp"),
          sum(when(col("rn") =!= 1, col("n_chars")).otherwise(0L)).as("chars_dropped"))
        .orderBy(col("cluster_id"))
    }),

    // End-to-end corpus curation — the composition a training-data
    // pipeline actually runs: token-count floor AND language identified
    // AND near-dup cluster canonical (or unclustered). Each piece is
    // individually oracle-exact; this checks the composition.
    "corpus_curation" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val docs = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("toks", tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_tokens"),
          langId(col("toks")).as("lang_pred"))
      val nonCanonical = components(s, dir)
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as("_dup"))
      docs
        .filter(col("n_tokens") >= 32 && col("lang_pred") =!= "und")
        .join(nonCanonical, col("doc_id") === col("_dup"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("lang"))
    }),

    // Train/eval decontamination — the leakage check every training
    // pipeline runs before evaluation: eval-split documents that are
    // near-duplicates (j ≥ 0.5, verified) of a train-split document.
    // Composes the content-hash splitter (TextAnalysis) with the shared
    // verified-LSH pairs: one broadcast-able split lookup joined onto
    // the (tiny) pair list, so the cost is the memoized sketch pass.
    "dedup_decontaminate" -> ((s, dir) => {
      val und = undirected(verifiedNearDupPairs(s, dir))
      // Fingerprint only the pair endpoints (semi-join first), not the
      // corpus: the split lookup is then endpoint-sized and computed
      // once for both sides of the join.
      val endpoints = und.select(col("x").as("doc_id")).distinct()
      val split = Tables(s, dir, "documents")
        .join(endpoints, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.TextFunctions.trainEvalSplit(col("text")).as("split"))
        .localCheckpoint(true)
      und
        .join(split.select(col("doc_id").as("x"), col("split").as("x_split")), "x")
        .join(split.select(col("doc_id").as("y"), col("split").as("y_split")), "y")
        .filter(col("x_split") === "eval" && col("y_split") === "train")
        .groupBy(col("x").as("eval_doc_id"))
        .agg(count(lit(1)).as("n_train_dups"), min(col("y")).as("min_train_dup"))
        .orderBy(col("eval_doc_id"))
    }),

    // Exact n-gram benchmark contamination — the OTHER standard
    // leakage check (GPT-3 appendix style): eval-split documents
    // sharing any exact 13-token run with any train-split document.
    // Complements dedup_decontaminate (near-dup leakage): near-dup
    // catches rephrasings, exact-13-gram catches verbatim quotation
    // inside otherwise-different documents. Shuffle equi-join on the
    // gram string with the train side deduplicated first — at 100 TB
    // the train grams become a bloom/bucketed build side, same join
    // shape.
    "dedup_ngram_contamination" -> ((s, dir) => {
      import graft.functions.TextFunctions.trainEvalSplit
      val grams = Tables.forKernels(s, dir, "documents")
        .withColumn("split", trainEvalSplit(col("text")))
        .select(col("doc_id"), col("split"),
          explode(Exprs.shingles(col("text"), CONTAM_N)).as("g"))
        // Both sides of the split-vs-split join; eager per `shingled`.
        .localCheckpoint(true)
      val trainGrams = grams.filter(col("split") === "train")
        .select(col("g")).distinct()
      grams.filter(col("split") === "eval")
        .join(trainGrams, "g")
        .groupBy(col("doc_id").as("eval_doc_id"))
        .agg(countDistinct(col("g")).as("n_contaminated_grams"))
        .orderBy(col("eval_doc_id"))
    }),

    // BLOOM-FILTER contamination screen — the scale path the exact
    // gram join's comment promises, shipped: the train side compresses
    // to ONE packed-word bloom (4 md5-word hashes per gram, ~16
    // bits/key sized from the measured distinct-gram count — same
    // data-driven discipline as layout_bloom_skipping), and the eval
    // probe is an equi-join on bloom WORD index against an index
    // that is 64× smaller than the distinct gram list. No false
    // negatives by construction (every exact hit sets all its bits);
    // the per-doc output carries both the bloom count and the exact
    // count so the false-positive mass is measured, not assumed
    // (~0.24% expected at 16 bits/key, k=4). At 100 TB the bloom is
    // the benchmark-side artifact every ingest batch probes without
    // touching the train corpus — the decontamination-at-ingest
    // pattern. Both engines build the identical bloom, so the result
    // is hash-exact.
    "dedup_bloom_contamination" -> ((s, dir) => {
      val (mBits, train, bloom) = contamBloom(s, dir)
      val evalG = contamGrams(s, dir).filter(col("split") === "eval")
        .select(col("doc_id"), col("g"))
      val flagged = bloomFlaggedPairs(evalG, mBits, bloom)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_flagged"))
      val exact = evalG.join(train, Seq("g"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
      evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(flagged, Seq("doc_id"), "left")
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id").as("eval_doc_id"), col("n_grams"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy(col("eval_doc_id"))
    }),

    // CROSS-DOC EXACT SUBSTRING (span-level) dedup — the suffix-array
    // operator class (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better": remove any ≥K-token span shared across
    // documents), recast equi-join-shaped via the K-gram cover
    // equivalence: a token lies in a shared ≥K-token span iff it is
    // covered by some K-gram whose text occurs in ≥2 distinct docs
    // (any shared K-gram IS a shared K-token span; any longer shared
    // span is a run of shared K-grams). Complements the doc-level
    // family: dedup_paragraphs only catches ALIGNED disjoint chunks, so
    // staggered copies slip through, and dedup_ngram_contamination
    // detects but does not excise. Pipeline: positional K-grams →
    // cross-doc gram df (one keyed shuffle) → join marked starts back
    // → gaps-and-islands interval merge (one doc_id window the
    // per-island and per-doc rollups reuse). Per doc: token count,
    // merged span count, tokens removed, retained ppm — integer math
    // end-to-end. At 100 TB the gram string never needs to shuffle:
    // the production join keys on a 64-bit gram hash (signatures-as-a-
    // table, like the LSH band index), and the df side prunes to
    // df≥2 grams before the join-back, so candidate mass tracks the
    // duplicated-span mass, not corpus size × K.
    "dedup_span_excision" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokens
      val K = CONTAM_N // same 13-token window as the contamination gate
      val toks = Tables.forKernels(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"), col("w"))
      // Positional (not distinct) K-grams; eager checkpoint per the
      // `shingled` note — consumed by both the df pass and the
      // join-back.
      val occ = toks.filter(size(col("w")) >= K)
        .select(col("doc_id"),
          posexplode(expr(
            s"transform(sequence(0, size(w) - $K), i -> concat_ws(' ', slice(w, i + 1, $K)))"))
            .as(Seq("p", "g")))
        .localCheckpoint(true)
      val shared = occ.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("g"))
      val marked = occ.join(shared, Seq("g")).select(col("doc_id"), col("p"))
      // Gaps-and-islands: a new island starts when the next marked
      // K-gram start leaves a coverage gap (p - prev > K); island
      // coverage is last_start - first_start + K tokens.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p"))
      val isl = marked
        .withColumn("prev", lag(col("p"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("p") - col("prev") > K, 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      val agg = isl.groupBy(col("doc_id"), col("island"))
        .agg(min(col("p")).as("p0"), max(col("p")).as("p1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("p1") - col("p0") + lit(K)).as("n_removed"))
      toks.select(col("doc_id"), col("n_tokens"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
        .withColumn("retained_ppm",
          expr("(n_tokens - n_removed) * 1000000 DIV n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-dup pairs (quantized integer cosine ≥ 0.45),
    // exact over all pairs via the tiled broadcast-matrix sweep in
    // [[graft.functions.VectorOps]] (same integer math as the oracle;
    // ~90× the row-at-a-time nested-loop join it replaced). The tiled
    // form bounds driver and executor memory by the tile (512k rows ×
    // 64 dims × 8 B ≈ 260 MB per block) instead of the collection, and
    // short-circuits to a single sweep when n ≤ tile — so small inputs
    // pay nothing for the bound. The LSH-bucketed ANN in Similarity
    // remains the sub-quadratic path.
    "dedup_embedding" -> ((s, dir) => {
      val q = Tables(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("sq", qnormSq(col("qv")))
      graft.functions.VectorOps.exactCosinePairsTiled(q, 450000L, tile = 512 * 1024)
        .toDF()
        .orderBy(col("vec_a"), col("vec_b"))
    }))

  private val normSql = graft.functions.TextFunctions.normSql
  private val toksSql = graft.functions.TextFunctions.toksSql
  // DuckDB n-gram shingles: 1-based list comprehension over the token
  // list, i ∈ [1, len-n+1] — mirrors ShinglesExpr for any n.
  private def shinglesSqlN(n: Int): String = {
    val joined = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"list_distinct([$joined for i in range(1, len(w) - ${n - 2})])"
  }
  private val shinglesSql = shinglesSqlN(SHINGLE_N)

  /** The bloom screen's shared CTE block (split → grams → train bloom
    * → eval probe → per-gram may-contain verdicts), single-sourced for
    * the batch oracle and the streaming-parity oracle. Positions are
    * the four 32-bit md5 words mod the data-sized bit count; bit 63 is
    * spelled as the min-long literal (DuckDB range-checks 1<<63); the
    * probe LEFT-joins so an absent word is a definite miss.
    */
  private def bloomCtesSql: String = {
    val posSql = (alias: String) =>
      s"""CAST(CAST('0x' || substr(md5($alias.g), 1 + i * 8, 8) AS UBIGINT) AS BIGINT)
          % (SELECT mbits FROM m)"""
    val maskSql =
      """CASE WHEN p % 64 = 63 THEN (-9223372036854775807::BIGINT - 1)
         ELSE (1::BIGINT << CAST(p % 64 AS INT)) END"""
    s"""toks AS (SELECT doc_id,
               ${graft.functions.TextFunctions.trainEvalSplitSql(s"md5($normSql)")} AS split,
               $toksSql AS w
             FROM documents),
        g AS (SELECT doc_id, split, unnest(${shinglesSqlN(CONTAM_N)}) AS g FROM toks),
        tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
        m AS (SELECT 16 * COUNT(*) AS mbits FROM tr),
        bp AS (SELECT ${posSql("tr")} AS p FROM tr, range(0, $BLOOM_K) t(i)),
        bw AS (SELECT p // 64 AS w, bit_or($maskSql) AS bits FROM bp GROUP BY 1),
        ev AS (SELECT doc_id, g FROM g WHERE split = 'eval'),
        pr AS (SELECT ev.doc_id, ev.g, ${posSql("ev")} AS p
               FROM ev, range(0, $BLOOM_K) t(i)),
        prb AS (SELECT doc_id, g, p // 64 AS w, $maskSql AS b FROM pr),
        hit AS (SELECT doc_id, g,
                  bool_and(COALESCE((bw.bits & prb.b) = prb.b, FALSE)) AS may
                FROM prb LEFT JOIN bw USING (w) GROUP BY 1, 2)"""
  }

  /** Oracle for the streaming decontamination parity gate: both sides
    * flag the identical (doc, gram) set, so the counts are equal and
    * the anti-join residues are zero.
    */
  private[queries] def bloomFlagParitySql: String =
    s"""WITH $bloomCtesSql,
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hit WHERE may)
        SELECT n AS n_stream, n AS n_batch, CAST(0 AS BIGINT) AS n_only_stream,
          CAST(0 AS BIGINT) AS n_only_batch FROM c"""

  private def exactJaccardSql(threshold: String): String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
        sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
               FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT ai AS doc_a, bi AS doc_b, CAST(common AS BIGINT) AS n_common,
          CAST(floor(CAST(common AS DOUBLE)*1000000.0/(na.n + nb.n - common)) AS BIGINT) AS jaccard_ppm
        FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
        WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= $threshold
        ORDER BY doc_a, doc_b"""

  // Span-excision oracle: same K-gram cover + gaps-and-islands in
  // DuckDB. Positional grams via two ZIPPED unnests of equal-length
  // list comprehensions (this DuckDB cannot lateral-join range() on a
  // column); list slice is 1-based inclusive.
  private def spanExcisionSql(k: Int): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
        occ AS (SELECT doc_id,
                  unnest([i - 1 for i in range(1, len(w) - ${k - 2})]) AS p,
                  unnest([list_aggregate(w[i:i+${k - 1}], 'string_agg', ' ')
                          for i in range(1, len(w) - ${k - 2})]) AS g
                FROM t),
        shared AS (SELECT g FROM occ GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        m AS (SELECT o.doc_id, o.p FROM occ o JOIN shared s ON s.g = o.g),
        lagd AS (SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM m),
        isl AS (SELECT doc_id, p,
                  SUM(CASE WHEN prev IS NULL OR p - prev > $k THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
                FROM lagd),
        spans AS (SELECT doc_id, island, MIN(p) AS p0, MAX(p) AS p1
                  FROM isl GROUP BY 1, 2),
        agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                  CAST(SUM(p1 - p0 + $k) AS BIGINT) AS n_removed
                FROM spans GROUP BY 1),
        base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t)
        SELECT b.doc_id, b.n_tokens,
          CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
          CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
          CAST((b.n_tokens - COALESCE(a.n_removed, 0)) * 1000000 // b.n_tokens AS BIGINT)
            AS retained_ppm
        FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "dedup_span_excision" -> spanExcisionSql(CONTAM_N),
    "dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, COUNT(*) AS n_docs,
          CAST(MIN(doc_id) AS BIGINT) AS survivor_id
          FROM documents GROUP BY 1 ORDER BY survivor_id""",
    "dedup_ngram_jaccard" -> exactJaccardSql("0.2"),
    "dedup_entity_resolution" ->
      s"""WITH c AS (SELECT c_custkey, substr(c_name, 1, 16) AS blk,
                 list_distinct([substr(c_name, i, 3)
                   for i in range(1, length(c_name) - 1)]) AS tg
               FROM customer),
          cand AS (SELECT a.blk, a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                     len(list_intersect(a.tg, b.tg)) * 1000000
                       // len(list_distinct(list_concat(a.tg, b.tg))) AS sim_ppm
                   FROM c a JOIN c b ON b.blk = a.blk AND a.c_custkey < b.c_custkey),
          m AS (SELECT blk, cust_a, cust_b FROM cand WHERE sim_ppm >= $ER_T),
          mc AS (SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_matched_custs FROM (
                   SELECT DISTINCT blk, cust FROM (
                     SELECT blk, cust_a AS cust FROM m
                     UNION ALL SELECT blk, cust_b AS cust FROM m)) GROUP BY blk)
          SELECT cand.blk, CAST(COUNT(*) AS BIGINT) AS n_cands,
                 CAST(COUNT(*) FILTER (sim_ppm >= $ER_T) AS BIGINT) AS n_matches,
                 CAST(COALESCE(MAX(mc.n_matched_custs), 0) AS BIGINT) AS n_matched_custs
          FROM cand LEFT JOIN mc ON mc.blk = cand.blk
          GROUP BY cand.blk ORDER BY cand.blk""",
    "dedup_edit_distance" ->
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer),
          pr AS (SELECT a.blk, levenshtein(a.c_name, b.c_name) AS d
                 FROM c a JOIN c b ON b.blk = a.blk AND a.c_custkey < b.c_custkey)
          SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(*) FILTER (d = 1) AS BIGINT) AS n_dist1,
                 CAST(COUNT(*) FILTER (d = 2) AS BIGINT) AS n_dist2,
                 CAST(MAX(d) AS BIGINT) AS max_dist
          FROM pr GROUP BY blk ORDER BY blk""",
    // The composed funnel: recursive-CTE components (same block as the
    // dedup_clusters oracle), min-per-fingerprint exact survivors,
    // min-per-component canonical, split filter, 13-gram eval-side
    // decontamination — stage counts as VALUES rows.
    "corpus_dedup_funnel" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
          sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          p AS (SELECT ai a, bi b
                FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
                WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= 0.5),
          edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (SELECT a AS node, a AS lbl FROM edges
                    UNION
                    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
          comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
          docs AS (SELECT t.doc_id, md5($normSql) AS fp,
                     ${graft.functions.TextFunctions.trainEvalSplitSql(s"md5($normSql)")} AS split,
                     t.w
                   FROM toks t JOIN documents USING (doc_id)),
          e1 AS (SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY fp),
          ec AS (SELECT e.doc_id, c.lbl FROM e1 e LEFT JOIN comp c ON c.node = e.doc_id),
          k3 AS (SELECT doc_id FROM ec WHERE lbl IS NULL
                 UNION ALL SELECT MIN(doc_id) FROM ec WHERE lbl IS NOT NULL GROUP BY lbl),
          s4 AS (SELECT k.doc_id FROM k3 k JOIN docs d ON d.doc_id = k.doc_id
                 WHERE d.split = 'train'),
          eg AS (SELECT DISTINCT unnest(${shinglesSqlN(CONTAM_N)}) AS g
                 FROM docs WHERE split = 'eval'),
          tg AS (SELECT d.doc_id, unnest(${shinglesSqlN(CONTAM_N)}) AS g
                 FROM s4 JOIN docs d ON d.doc_id = s4.doc_id),
          cont AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g))
          SELECT CAST(stage AS BIGINT) AS stage, stage_name, CAST(n_docs AS BIGINT) AS n_docs
          FROM (VALUES
            (1, 'raw', (SELECT COUNT(*) FROM docs)),
            (2, 'exact', (SELECT COUNT(*) FROM e1)),
            (3, 'near_dup_canonical', (SELECT COUNT(*) FROM k3)),
            (4, 'train_split', (SELECT COUNT(*) FROM s4)),
            (5, 'decontaminated',
              (SELECT COUNT(*) FROM s4) - (SELECT COUNT(*) FROM cont))) t(stage, stage_name, n_docs)
          ORDER BY stage""",
    // Incremental maintenance gate: the oracle is the from-scratch
    // recompute — full components over base ∪ delta pairs (recursive
    // CTE), base components over base-only pairs (second recursive
    // CTE), joined into the per-touched-component census. The Spark
    // side must land on the identical answer via the persisted-base +
    // quotient-merge-graph path.
    "dedup_components_incremental" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
          sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          p AS (SELECT ai a, bi b
                FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
                WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= 0.5),
          edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (SELECT a AS node, a AS lbl FROM edges
                    UNION
                    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
          comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
          bp AS (SELECT a, b FROM p WHERE a % 10 <> 0 AND b % 10 <> 0),
          bedges AS (SELECT a, b FROM bp UNION ALL SELECT b, a FROM bp),
          breach AS (SELECT a AS node, a AS lbl FROM bedges
                     UNION
                     SELECT e.b, r.lbl FROM breach r JOIN bedges e ON e.a = r.node),
          bcomp AS (SELECT node, MIN(lbl) AS lbl FROM breach GROUP BY node)
          SELECT c.lbl AS cluster_id,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(*) FILTER (c.node % 10 = 0) AS BIGINT) AS n_arrivals,
            CAST(COUNT(DISTINCT b.lbl) AS BIGINT) AS n_base_clusters,
            CAST(COUNT(b.lbl) AS BIGINT) AS n_docs_before
          FROM comp c LEFT JOIN bcomp b ON b.node = c.node
          GROUP BY c.lbl
          HAVING COUNT(*) FILTER (c.node % 10 = 0) > 0
          ORDER BY cluster_id""",
    // Connected components over the same pairs via recursive CTE
    // (transitive closure; fine for the oracle's tiny components).
    "dedup_clusters" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
          sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          p AS (SELECT ai a, bi b
                FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
                WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= 0.5),
          edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (SELECT a AS node, a AS lbl FROM edges
                    UNION
                    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
          comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
          SELECT lbl AS cluster_id, COUNT(*) AS n_docs,
            CAST(MAX(node) AS BIGINT) AS max_doc_id
          FROM comp GROUP BY lbl ORDER BY cluster_id""",
    // Same recursive-CTE components as dedup_clusters, joined with the
    // shared quality-ppm formula; per-cluster argmax by (qp DESC, id).
    "dedup_canonical" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
          sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          p AS (SELECT ai a, bi b
                FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
                WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= 0.5),
          edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (SELECT a AS node, a AS lbl FROM edges
                    UNION
                    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
          comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
          q AS (SELECT doc_id, n_chars, ${Curation.qualityPpmSql} AS qp
                FROM (SELECT doc_id, n_chars, $normSql AS norm, $toksSql AS w
                      FROM documents)),
          m AS (SELECT c.lbl, c.node, q.n_chars, q.qp,
                  ROW_NUMBER() OVER (PARTITION BY c.lbl
                    ORDER BY q.qp DESC, c.node) AS rn
                FROM comp c JOIN q ON q.doc_id = c.node)
          SELECT lbl AS cluster_id, COUNT(*) AS n_members,
            CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS canonical_id,
            CAST(MAX(CASE WHEN rn = 1 THEN qp END) AS BIGINT) AS canonical_qp,
            CAST(SUM(CASE WHEN rn <> 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
          FROM m GROUP BY lbl ORDER BY cluster_id""",
    "corpus_curation" ->
      s"""WITH RECURSIVE
          toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS shingles FROM toks),
          sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          co AS (SELECT a.doc_id ai, b.doc_id bi, count(*) AS common
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          p AS (SELECT ai a, bi b
                FROM co JOIN sz na ON co.ai = na.doc_id JOIN sz nb ON co.bi = nb.doc_id
                WHERE CAST(common AS DOUBLE)/(na.n + nb.n - common) >= 0.5),
          edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (SELECT a AS node, a AS lbl FROM edges
                    UNION
                    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
          comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
          lp AS (${TextAnalysis.langPredSql}),
          d AS (SELECT t.doc_id, lp.lang, CAST(len(t.w) AS BIGINT) AS n_tokens,
                  lp.lang_pred
                FROM toks t JOIN lp ON t.doc_id = lp.doc_id)
          SELECT lang, COUNT(*) AS n_kept,
            CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM d
          WHERE n_tokens >= 32 AND lang_pred <> 'und'
            AND doc_id NOT IN (SELECT node FROM comp WHERE node <> lbl)
          GROUP BY lang ORDER BY lang""",
    // LSH recall at j≥0.5 with b=64,r=2 is 1-1e-8 → verified output ==
    // exact join output; the oracle IS the exact formulation minus the
    // n_common column.
    "dedup_minhash_lsh" ->
      s"""SELECT doc_a, doc_b, jaccard_ppm FROM (${exactJaccardSql("0.5")})""",
    "dedup_incremental_lsh" ->
      s"""WITH p0 AS (SELECT doc_a, doc_b FROM (${exactJaccardSql("0.5")})),
          und AS (SELECT doc_a AS x, doc_b AS y FROM p0
                  UNION ALL SELECT doc_b, doc_a FROM p0)
          SELECT x AS arrival_doc_id, COUNT(*) AS n_dups,
            CAST(MIN(y) AS BIGINT) AS min_dup
          FROM und WHERE x % 10 = 0
          GROUP BY x ORDER BY arrival_doc_id""",
    "dedup_decontaminate" ->
      s"""WITH p0 AS (SELECT doc_a, doc_b FROM (${exactJaccardSql("0.5")})),
          und AS (SELECT doc_a AS x, doc_b AS y FROM p0
                  UNION ALL SELECT doc_b, doc_a FROM p0),
          sp AS (SELECT doc_id,
                   ${graft.functions.TextFunctions.trainEvalSplitSql(s"md5($normSql)")} AS split
                 FROM documents)
          SELECT x AS eval_doc_id, COUNT(*) AS n_train_dups,
            CAST(MIN(y) AS BIGINT) AS min_train_dup
          FROM und JOIN sp sx ON und.x = sx.doc_id
                   JOIN sp sy ON und.y = sy.doc_id
          WHERE sx.split = 'eval' AND sy.split = 'train'
          GROUP BY x ORDER BY eval_doc_id""",
    "dedup_ngram_contamination" ->
      s"""WITH toks AS (SELECT doc_id,
                 ${graft.functions.TextFunctions.trainEvalSplitSql(s"md5($normSql)")} AS split,
                 $toksSql AS w
               FROM documents),
          g AS (SELECT doc_id, split, unnest(${shinglesSqlN(CONTAM_N)}) AS g FROM toks),
          tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
          ev AS (SELECT doc_id, g FROM g WHERE split = 'eval')
          SELECT ev.doc_id AS eval_doc_id,
            CAST(COUNT(DISTINCT ev.g) AS BIGINT) AS n_contaminated_grams
          FROM ev JOIN tr USING (g)
          GROUP BY 1 ORDER BY eval_doc_id""",
    // The bloom rebuilt in SQL: positions are the four 32-bit md5
    // words mod the data-sized bit count, words pack via bit_or with
    // bit 63 spelled as the min-long literal (DuckDB range-checks
    // 1<<63), and the probe LEFT-joins so an absent word is a
    // definite miss — bit-identical to the Spark-side index.
    "dedup_bloom_contamination" ->
      s"""WITH $bloomCtesSql,
          fl AS (SELECT doc_id, COUNT(*) AS n_flagged FROM hit WHERE may GROUP BY 1),
          exg AS (SELECT ev.doc_id, COUNT(*) AS n_exact FROM ev JOIN tr USING (g)
                  GROUP BY 1),
          ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY 1)
          SELECT ng.doc_id AS eval_doc_id, CAST(n_grams AS BIGINT) AS n_grams,
            CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
            CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact
          FROM ng LEFT JOIN fl USING (doc_id) LEFT JOIN exg USING (doc_id)
          ORDER BY eval_doc_id""",
    // Exhaustive cross-join reformulation of the banded simhash query:
    // pigeonhole banding is EXACT for d≤3, so the banded equi-join and
    // this all-pairs check must emit identical rows. The signature is
    // recomputed from scratch in SQL — md5-derived token hash, ±1 bit
    // votes with ties → 0 — mirroring TextKernels.simhash64.
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
          tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
          h AS (SELECT doc_id,
                  CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS hv
                FROM tok),
          bits AS (SELECT doc_id, b,
                     SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                   FROM h CROSS JOIN (SELECT unnest(range(64)) AS b)
                   GROUP BY doc_id, b),
          sig AS (SELECT doc_id,
                    CAST(SUM(CASE WHEN s > 0 THEN (1::UBIGINT << b)
                             ELSE 0::UBIGINT END) AS UBIGINT) AS sig
                  FROM bits GROUP BY doc_id)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 3
          ORDER BY doc_a, doc_b""",
    "dedup_embedding" ->
      """WITH q AS (SELECT vec_id,
            [CAST(floor(CAST(x AS DOUBLE)*1000.0) AS BIGINT) for x in embedding] AS qv
          FROM embeddings),
        n AS (SELECT vec_id, qv, CAST(list_sum([x*x for x in qv]) AS BIGINT) AS sq FROM q),
        p AS (SELECT a.vec_id ai, b.vec_id bi,
                CAST(list_sum([a.qv[i]*b.qv[i] for i in range(1, len(a.qv)+1)]) AS BIGINT) AS dot,
                a.sq sa, b.sq sb
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
        SELECT ai AS vec_a, bi AS vec_b,
          CAST(floor(CAST(dot AS DOUBLE)*1000000.0/(sqrt(CAST(sa AS DOUBLE))*sqrt(CAST(sb AS DOUBLE)))) AS BIGINT) AS cos_ppm
        FROM p
        WHERE CAST(floor(CAST(dot AS DOUBLE)*1000000.0/(sqrt(CAST(sa AS DOUBLE))*sqrt(CAST(sb AS DOUBLE)))) AS BIGINT) >= 450000
        ORDER BY vec_a, vec_b""")
}
