package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryGroup, Tables}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * `sim_topk_bruteforce` is the exact baseline: broadcast the (small)
  * query set against the full collection — at 100 TB the collection side
  * stays partitioned, queries broadcast, and the per-partition top-k is
  * combined by the window, so no full shuffle of the collection ever
  * happens (Catalyst turns filter+window-rank into partial top-k).
  *
  * `sim_lsh_ann` is the scale path: random-hyperplane signatures put
  * vectors into 2^8-bucket space; probing a query's own bucket plus all
  * 1-bit and 2-bit flips (37 buckets) turns ANN into an equi-join on
  * bucket id. The hyperplanes are fixed integer literals, so the DuckDB
  * oracle rebuilds the exact bucketing in SQL (hyperplanes interpolated
  * as list literals) and the result is hash-exact — recall vs brute
  * force is additionally asserted in ScalaTest.
  *
  * All cosine math uses the quantized-integer scheme from
  * [[graft.functions.VectorFunctions]] so results hash-match DuckDB.
  */
object Similarity extends QueryGroup {

  private val TOP_K = 5
  // MMR reranking: pool of 20 candidates per query, 5 greedy picks,
  // λ = 0.7 (integer-scaled objective 7·rel − 3·maxSim).
  private val MMR_C = 20
  private val MMR_K = 5
  // 8 hyperplanes → 256 buckets: sized so buckets hold a handful of
  // vectors at sf0.01 and ~20 at sf0.1; finer buckets (16 planes) left
  // almost every vector alone and recall collapsed.
  private val N_PLANES = 8
  // IVF: 32 coarse lists, 2 Lloyd refinement rounds from a
  // deterministic (vec_id % lists) seeding; each vector is posted to
  // its IVF_ASSIGN_R nearest lists (multi-assignment) and each query
  // probes its IVF_PROBES nearest. Tuned on the measured recall
  // frontier vs brute force (top-5): these near-orthogonal synthetic
  // embeddings cluster weakly, so recall tracks the scanned fraction
  // (R·probes/lists) almost linearly — fixed-probe widening at R=1
  // plateaued (4/8/12 probes of 16 → 0.68/0.84/0.96), while
  // multi-assignment buys boundary recall without extra probe fan-out.
  // This config measures 1.00 / 0.96 / 0.94 at sf0.001/0.01/0.1
  // (≥0.9 pinned in QueryContractsSpec); on a real clustered corpus
  // the same dials sit at a far lower scan fraction. R scales index
  // SIZE (R×), probes scale query fan-out — independently tunable.
  private val IVF_LISTS = 32
  private val IVF_PROBES = 12
  private val IVF_ASSIGN_R = 2
  private val IVF_ITERS = 2
  // FILTERED ANN over-fetch: a same-label predicate keeps ~1/10 of
  // candidates (10 labels, uniform), so the filtered probe fans out
  // to more lists than the unfiltered one to hold the recall floor —
  // the over-fetch dial every hybrid-search engine exposes. 20/32
  // measured ≥0.9 at every pinned SF (QueryContractsSpec floor).
  private val FILTER_PROBES = 20
  // Product quantization: the memory-compression leg of ANN (IVF prunes
  // WHICH vectors to score, PQ shrinks WHAT is stored/scored). 64 dims
  // split into PQ_M subspaces of PQ_SUB dims; each subspace learns
  // PQ_K centroids (deterministic vec_id % K seeding + fixed Lloyd
  // rounds, assignment by subspace cosine — scale-invariant, so the
  // integer centroid SUM works, same trick as the IVF). A vector is
  // stored as PQ_M codes (8 bytes vs 64 floats = 32× compression); the
  // scan scores candidates against codebook RECONSTRUCTIONS
  // (asymmetric distance: exact query side × quantized collection
  // side), keeps the PQ_CAND best approximate candidates, and exact
  // re-ranks only those. Reconstruction entries are floor-quantized
  // integer means, so the whole index is bit-reproducible and the
  // DuckDB oracle retrains it as unrolled CTEs.
  //
  // Tuned on the measured top-5 recall frontier vs brute force
  // (sf0.001/0.01/0.1): 8×8-dim sub, K=16, cand=20 → .32/.44/.36
  // (coarse subspaces can't reconstruct near-orthogonal synthetic
  // vectors); 16×4-dim, K=16, cand=20 → ·/.68/.54; widening the
  // rerank budget to 64 → ·/.88/.85; K=32 codebooks → ·/1.0/.88;
  // cand=96 → 1.00/1.00/0.97 (≥0.9 pinned in QueryContractsSpec).
  // CAND is the scan→rerank budget and stays FIXED as n grows (it is
  // a per-query top-k, not a fraction), so the rerank cost is O(k)
  // per query at any collection size.
  private val PQ_M = 16
  private val PQ_K = 32
  private val PQ_ITERS = 2
  private val PQ_CAND = 96
  // Bottom-k size of the embedding-outlier report.
  private val OUT_K = 20
  // Semantic-dedup near-duplicate threshold (ppm cosine) — the same
  // 0.45 dial the exact pair sweep (dedup_embedding) uses, so the two
  // operators agree on what "near-duplicate" means.
  private val SEM_T = 450000L
  // Radius for the range-search query (ppm cosine): 0.4 sits below
  // the 0.45 near-dup dial, so most queries have at least one match
  // on this corpus while counts stay selective.
  private val RANGE_T = 400000L
  // The incremental index probes wider than the fresh one: its
  // centroids never saw the delta, so query-to-list distances are
  // stale-index estimates — extra probes are the recall repair that
  // costs query fan-out only, not index size (delta-side R=3 was
  // measured and does NOT help: the misses are base vectors).
  // Measured top-5 recall 1.00 / 0.92 / 0.98 at sf0.001/0.01/0.1
  // (12 probes measured 0.96/0.88/0.95); ≥0.9 pinned in
  // QueryContractsSpec.
  private val IVF_INC_PROBES = 16
  // kNN-graph probe width. A narrower-than-serving probe was measured
  // and REJECTED: probes 6/8/10 put sf0.01 graph recall at
  // 0.76/0.80/0.84 — under the 0.9 floor (these near-orthogonal
  // synthetics spread true neighbors across lists, so recall tracks
  // the scanned fraction almost linearly and there is no cheap knee).
  // The graph therefore probes the full serving width (12), recall
  // 1.00/0.96/0.94; the scan-mass lever that DOES work at scale is
  // list count ∝ √n, not probe narrowing (see SCALING.md).
  private val GRAPH_PROBES = IVF_PROBES
  // Beam search over the navigable kNN graph (the HNSW/NSW serving
  // pattern): beam width, fixed hop count, and a HIERARCHICAL entry —
  // the IVF centroids act as HNSW's upper layer (rank the query's
  // ENTRY_PROBES nearest of the 32 persisted centroids), and each
  // list's ENTRY_PER_LIST most-central members (a persisted artifact
  // derived from the postings, like HNSW's layer assignment) seed the
  // beam. Entry cost is queries × (centroids + ENTRY_PROBES ×
  // ENTRY_PER_LIST) — independent of collection size, which the old
  // `vec_id % 10` entry SAMPLE (a fractional brute force, O(q·n/10))
  // was not. Fixed hops instead of to-convergence keeps the traversal
  // bit-reproducible and oracle-expressible (one CTE pair per hop,
  // like the MMR rounds); the beam expands over UNDIRECTED edges (kNN
  // edges + their reverses — reverse links are what makes a kNN
  // digraph navigable, the same role HNSW's bidirectional links play).
  // Measured sweep on these near-orthogonal synthetics (top-5 recall
  // at sf0.001/0.01/0.1): degree-5 graph, beam 16×3 hops, 5% random
  // entries → 0.64/0.68/0.40 (the beam converges into a local patch);
  // beam 32×4, 10% → 0.84/·/0.64; DEGREE is the effective dial — the
  // degree-10 graph at beam 32×4 → 1.00/0.96/0.90, and beam 48 buys
  // the sf0.1 margin → 1.00/0.96/0.95 (hop 5 measured 0.90 at sf0.1:
  // converged, wider-not-deeper is what helps). The HIERARCHICAL
  // entry at 8 probes × 6 per-list seeds measures 1.00/1.00/0.97 —
  // BETTER than the 10% random sample (entries start in the query's
  // own lists) while cutting the entry term from n/10 scores per
  // query to ≤48. ≥0.9 pinned in QueryContractsSpec.
  // The three beam dials (BEAM_W, BEAM_HOPS, BEAM_GRAPH_K) are the
  // pinned config. A frontier measurement (SCALING.md) edits them here
  // in source; the oracle SQL interpolates the same vals, so an edited
  // build stays hash-consistent with its own oracle.
  private val BEAM_W = 48
  private val BEAM_HOPS = 4
  private val ENTRY_PROBES = 8
  private val ENTRY_PER_LIST = 6
  // Out-degree of the navigable graph (deliberately ABOVE the serving
  // k: denser links are the degree half of HNSW's navigability, and on
  // these near-orthogonal synthetics degree is the effective recall
  // dial — see the measured sweep in SCALING.md).
  private val BEAM_GRAPH_K = 10
  // Embedding dimensionality of the `embeddings` table — used only
  // where SQL needs an explicit per-position range; the Spark side is
  // length-generic.
  private val VEC_DIM = 64
  // Binary (thresholded-bit) quantization: each dimension contributes
  // one sign bit per threshold, so the signature is BQ_THRESHOLDS.size
  // longs (here 5×64 = 320 bits = 40 B vs 256 B of floats) and the
  // scan distance is 5 XOR+popcounts. Thresholds are milli-unit
  // literals matched to the data's |x| quartiles (~40/85/145):
  // sign-only 64-bit signatures measured 0.66/0.70/0.74 top-5 recall
  // at sf0.1 for cand=96/128/192 — too coarse once 2000 vectors
  // share 64 bits — and were rejected; the 5-threshold signature
  // measures (cand=48/96/128): 0.96/1.00/1.00 at sf0.001,
  // 0.92/1.00/1.00 at sf0.01, 0.82/0.96/0.97 at sf0.1. Shipped
  // config cand=96 → 1.00/1.00/0.96 (≥0.9 pinned in
  // QueryContractsSpec). Like PQ_CAND, cand is a per-query top-k and
  // stays FIXED as n grows.
  private val BQ_THRESHOLDS: Seq[Long] = Seq(-250L, -100L, 0L, 100L, 250L)
  private val BQ_CAND = 96

  /** Deterministic pseudo-random hyperplanes (fixed seed): N_PLANES × 64
    * integer milli-unit components, materialized as literal arrays so the
    * signature is pure column math (no UDF, no driver state).
    */
  private[queries] val hyperplanes: Array[Array[Long]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(N_PLANES)(Array.fill(64)((rnd.nextDouble() * 2000 - 1000).toLong))
  }

  /** 8-bit bucket id: bit i = sign of <qv, plane_i>. */
  private[queries] def bucketOf(qv: Column): Column =
    hyperplanes.zipWithIndex.map { case (p, i) =>
      when(qdot(qv, lit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Multiprobe XOR masks — own bucket (0) plus every 1-bit and 2-bit
    * flip (37 total), the standard recall/candidate-count dial for
    * hyperplane LSH. One list shared by the Spark plan and the DuckDB
    * oracle so the probe sets cannot drift apart.
    */
  private[queries] val probeMasks: Seq[Long] =
    0L +: ((0 until N_PLANES).map(i => 1L << i) ++
      (for { i <- 0 until N_PLANES; j <- (i + 1) until N_PLANES }
        yield (1L << i) | (1L << j)))

  /** One 64-bit signature word for threshold `t`: bit i = (dim i ≥ t).
    * Disjoint bit literals OR-reduce, so the word is pure codegen'd
    * column math like [[bucketOf]]; the DuckDB oracle rebuilds it as a
    * list-comprehension sum (identical — the bits are disjoint).
    */
  private def signWord(qv: Column, t: Long): Column =
    (0 until VEC_DIM).map(i =>
      when(element_at(qv, i + 1) >= t, lit(1L << i)).otherwise(lit(0L))
    ).reduce(_.bitwiseOR(_))

  /** The full multi-threshold signature: one word per BQ_THRESHOLDS
    * entry, and the scan distance is the summed per-word hamming.
    */
  private[queries] def signSig(qv: Column): Column =
    array(BQ_THRESHOLDS.map(t => signWord(qv, t)): _*)

  private def hamming(a: Column, b: Column): Column =
    BQ_THRESHOLDS.indices.map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1)))
    ).reduce(_ + _)

  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
      .withColumn("sq", qnormSq(col("qv")))

  /** Element-wise integer sum per list — cosine is scale-invariant, so
    * the un-normalized sum IS the centroid (no float means, exact and
    * partition-order-independent).
    */
  private def listCentroids(assigned: DataFrame): DataFrame =
    // One hash aggregate with VEC_DIM per-position SUMs (map-side
    // partials, one exchange of 32 centroid-sized partials per
    // partition) — r15 optimization round. The previous shape
    // posexplode'd every member into 64 (list, pos, v) rows and paid
    // TWO exchanges (64×n rows into groupBy(list, pos), then a
    // collect_list re-assembly); integer per-position sums are
    // identical either way, so every Lloyd round and every consumer
    // is unchanged row-for-row (oracle re-gated at all 3 SFs).
    assigned
      .groupBy(col("list_id"))
      .agg(array((0 until VEC_DIM).map(i =>
        sum(element_at(col("qv"), i + 1))): _*).as("cv"))
      .withColumn("c_sq", qnormSq(col("cv")))

  /** Top-`r` nearest-centroid assignment (broadcast centroids,
    * deterministic cos-then-list tie-break); `rn` is the assignment
    * rank, so `rn = 1` is always the classic single assignment.
    */
  private def assign(all: DataFrame, cent: DataFrame, r: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(cosPpm(qdot(col("qv"), col("cv")), col("sq"), col("c_sq")).desc,
        col("list_id"))
    all.join(broadcast(cent))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= r)
      .select(col("vec_id"), col("label"), col("qv"), col("sq"), col("list_id"),
        col("rn"))
  }

  /** IVF coarse quantizer: deterministic (vec_id % lists) seeding plus
    * a fixed number of Lloyd rounds — fixed, not to-convergence, so the
    * index is bit-reproducible. Each round is one broadcast join + one
    * element-wise integer aggregation; at 100 TB you train on a sample
    * and run the final assignment once over the corpus (same plan
    * shapes), and the list count scales as ~sqrt(n) per shard.
    */
  private def ivfIndex(allIn: DataFrame): (DataFrame, DataFrame) = {
    // Lazily checkpoint the quantized collection: the Lloyd loop
    // evaluates it ~7 times (3 assignments + 3 centroid passes), and
    // re-running scan+quantize per evaluation is pure waste — the
    // first round's job materializes it once. At real scale this is
    // the training sample you'd persist anyway.
    val all = allIn.localCheckpoint(false)
    var assigned = all.withColumn("list_id", pmod(col("vec_id"), lit(IVF_LISTS)))
    var cent = listCentroids(assigned).localCheckpoint(true)
    (1 to IVF_ITERS).foreach { _ =>
      assigned = assign(all, cent) // training stays single-assignment Lloyd
      cent = listCentroids(assigned).localCheckpoint(true)
    }
    // The persisted POSTINGS table multi-assigns each vector to its
    // IVF_ASSIGN_R nearest lists; rn = 1 recovers the partition.
    (assign(all, cent, IVF_ASSIGN_R).localCheckpoint(true), cent)
  }

  /** The trained index is a build artifact — loaded once per session
    * exactly like a persisted vector index would be in production;
    * probe queries pay only the list join. `all` (the collection to
    * train on) is evaluated only when the index must be built.
    * `prefix` gives each training set its own artifact names, so the
    * full-collection index (`ivf`), the incremental query's base
    * (`ivf_base`, trained on vec_id % 10 != 0) and the composed
    * lifecycle gate's base (`ivf_lc`, vec_id % 10 ∉ {0, 7} — the
    * collection before either arrival batch) coexist in the store.
    */
  private def ivfIndexCached(s: SparkSession, dir: String,
      all: => DataFrame, prefix: String = "ivf"): (DataFrame, DataFrame) = {
    // The assignments + centroids persist as one atomic artifact group
    // (see [[graft.util.IndexStore]]): a fresh session LOADS the
    // trained index instead of re-running the Lloyd rounds, which is
    // what "the index is a build artifact" means in production.
    val loaded = graft.util.Labeled(s, "sim: ivf train") {
      graft.util.IndexStore.loadOrBuildAll(
        s, dir, s"${prefix}_postings_l${IVF_LISTS}r${IVF_ITERS}a$IVF_ASSIGN_R" ::
          s"${prefix}_centroids_l${IVF_LISTS}r$IVF_ITERS" :: Nil) {
        val (a, c) = ivfIndex(all)
        Seq(a, c)
      }
    }
    (loaded(0), loaded(1))
  }

  /** The IVF probe stage shared by `sim_ivf_ann` and
    * `sim_ivf_incremental`: rank the query's IVF_PROBES nearest lists
    * against the broadcast centroids, equi-join the postings on
    * list_id, dedupe multi-assignment duplicates, exact re-rank to
    * TOP_K. With `sameLabel` the probe is FILTERED ANN (hybrid
    * search): candidates must share the query's label — the predicate
    * applies INSIDE the probe, before scoring, not as a post-filter of
    * an unfiltered top-k (which loses recall whenever the unfiltered
    * top-k is dominated by other labels).
    */
  private def ivfProbe(queries: DataFrame, postings: DataFrame,
      cent: DataFrame, probes: Int = IVF_PROBES, k: Int = TOP_K,
      sameLabel: Boolean = false, sorted: Boolean = true): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("list_id"))
    val qLab = if (sameLabel) Seq(col("label").as("q_label")) else Nil
    val qProbes = queries
      .select(Seq(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("sq").as("q_sq")) ++ qLab: _*)
      .join(broadcast(cent))
      .withColumn("c_cos", cosPpm(qdot(col("q_qv"), col("cv")), col("q_sq"), col("c_sq")))
      .withColumn("p_rn", row_number().over(probeW))
      .filter(col("p_rn") <= probes)
      .select(Seq(col("query_id"), col("q_qv"), col("q_sq"), col("list_id")) ++
        (if (sameLabel) Seq(col("q_label")) else Nil): _*)
    // COUPLING (r15 ADVICE): the neighbor_id tiebreaker makes this
    // order key INJECTIVE on distinct (query, neighbor) pairs — the
    // dense_rank-equals-row_number-on-distinct dedupe below depends on
    // it. Do not drop or reorder the tiebreaker without restoring the
    // pre-window distinct.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id"))
    postings.select(Seq(col("vec_id").as("neighbor_id"), col("qv"), col("sq"),
        col("list_id")) ++
        (if (sameLabel) Seq(col("label")) else Nil): _*)
      .join(qProbes, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(if (sameLabel) col("label") === col("q_label") else lit(true))
      // A multi-assigned neighbor can surface from several probed
      // lists; score FIRST, then dedupe on the 24-byte
      // (query, neighbor, score) triple — cos_ppm is a pure function
      // of the pair, so this equals dedupe-then-score, but the
      // distinct's shuffle carries scores instead of two 64-element
      // vectors per row (the difference between ~3 GB and ~70 MB of
      // shuffle at 2000 graph queries; re-scoring a duplicate costs
      // one integer dot, shuffling it costs 1 KB of network).
      .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
      .select(col("query_id"), col("neighbor_id"), col("cos_ppm"))
      // Dedupe multi-assignment duplicates AFTER the rank window, not
      // before (r15 optimization round): a duplicate candidate carries
      // the IDENTICAL (cos_ppm, neighbor_id) order key, so dense_rank
      // over the multiset equals row_number over the dedup set — the
      // order key is injective on distinct pairs (neighbor_id breaks
      // cos ties) and duplicates tie exactly. The old
      // distinct-then-row_number paid a full-candidate-mass exchange
      // on (query, neighbor, score) BEFORE the window; now the only
      // full-mass operator is the window's WindowGroupLimit partial
      // top-k (rank ≤ k per map partition, duplicates can only WIDEN
      // what survives), the exchange moves ~k rows per query, and the
      // post-filter distinct dedupes a k-bounded set.
      .withColumn("rank", dense_rank().over(w).cast("long"))
      .filter(col("rank") <= k)
      .distinct()
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
      // `sorted = false` for INTERNAL artifact builds (r16): a global
      // orderBy evaluates its child TWICE (the range-partitioner's
      // sample job, then the real pass) — the kNN-graph artifact's two
      // twin ~2s jobs were exactly this. Artifact consumers join or
      // window the rows, so their order is immaterial; declared query
      // outputs keep the sort.
      .transform(d => if (sorted) d.orderBy(col("query_id"), col("rank")) else d)
  }

  /** Exact label-FILTERED top-k (brute force over same-label pairs) —
    * the recall truth side for `sim_filtered_ann`, used only by
    * QueryContractsSpec (the unfiltered brute force cannot serve: a
    * query's unfiltered top-5 may be dominated by other labels).
    */
  private[queries] def filteredBruteTruth(s: SparkSession, dir: String): DataFrame = {
    val all = quantized(s, dir)
    val q = all.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qv").as("q_qv"), col("sq").as("q_sq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id"))
    all.select(col("vec_id").as("neighbor_id"), col("label"), col("qv"), col("sq"))
      .join(q, col("label") === col("q_label") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Dims per PQ subspace. */
  private val PQ_SUB = VEC_DIM / PQ_M

  /** Zero-safe cosine: a quantized SUBvector (unlike a full 64-dim
    * embedding) can in principle be all-zero, and ppm-cosine against it
    * would be NaN — pin it to 0 identically on both engines.
    */
  private def safeCos(dot: Column, sqA: Column, sqB: Column): Column =
    when(sqA === 0 || sqB === 0, lit(0L)).otherwise(cosPpm(dot, sqA, sqB))

  /** Split each quantized vector into PQ_M subvectors:
    * (vec_id, m, sv, ssq) — the training/encoding feed.
    */
  private def pqSub(all: DataFrame): DataFrame =
    all.select(col("vec_id"),
        explode(array((0 until PQ_M).map(m =>
          struct(lit(m.toLong).as("m"),
            slice(col("qv"), m * PQ_SUB + 1, PQ_SUB).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      .withColumn("ssq", qnormSq(col("sv")))

  /** Per-(subspace, code) element-wise integer sums — the training
    * centroid (cosine is scale-invariant; see [[listCentroids]]).
    */
  private def pqCentroids(assigned: DataFrame): DataFrame =
    // Same one-aggregate shape as [[listCentroids]] (r15 optimization
    // round): PQ_SUB per-position SUMs instead of posexplode + two
    // exchanges. Integer sums per (m, code, position) are identical.
    assigned
      .groupBy(col("m"), col("code"))
      .agg(array((0 until PQ_SUB).map(i =>
        sum(element_at(col("sv"), i + 1))): _*).as("cv"))
      .withColumn("c_sq", qnormSq(col("cv")))

  /** Nearest-centroid code per (vector, subspace) — deterministic
    * cos-then-code tie-break, subvector columns carried through.
    */
  private def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("a_cos").desc, col("code"))
    sub.join(broadcast(cent), Seq("m"))
      .withColumn("a_cos", safeCos(qdot(col("sv"), col("cv")), col("ssq"), col("c_sq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sv"), col("ssq"), col("code"))
  }

  /** Train the PQ index: codes (vec_id, m, code) + codebook
    * (m, code, rv, r_sq) where `rv` is the floor-quantized integer MEAN
    * of the member subvectors (milli→micro units; scale cancels in
    * cosine) — the reconstruction the ADC scan scores against.
    */
  private def pqIndex(allIn: DataFrame): (DataFrame, DataFrame) = {
    val sub = pqSub(allIn).localCheckpoint(false)
    var assigned = sub.withColumn("code", pmod(col("vec_id"), lit(PQ_K.toLong)))
    var cent = pqCentroids(assigned).localCheckpoint(true)
    (1 to PQ_ITERS).foreach { _ =>
      assigned = pqAssign(sub, cent)
      cent = pqCentroids(assigned).localCheckpoint(true)
    }
    val finalAssign = pqAssign(sub, cent).localCheckpoint(true)
    // One aggregate serves BOTH the member count and the per-position
    // sums (r15 optimization round) — the previous shape posexplode'd
    // the members, aggregated (m, code, pos) rows, and JOINED a
    // separately-aggregated count back on (m, code). The floor-
    // quantized mean is the same double expression element-wise, so
    // the codebook is bit-identical (oracle re-gated at all 3 SFs).
    val codebook = finalAssign
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n"),
        array((0 until PQ_SUB).map(i =>
          sum(element_at(col("sv"), i + 1))): _*).as("svs"))
      .select(col("m"), col("code"),
        transform(col("svs"), sv =>
          floor(sv.cast("double") * lit(1000.0) / col("n")).cast("long")).as("rv"))
      .withColumn("r_sq", qnormSq(col("rv")))
    (finalAssign.select(col("vec_id"), col("m"), col("code")), codebook)
  }

  private def pqIndexCached(s: SparkSession, dir: String,
      all: DataFrame): (DataFrame, DataFrame) = {
    val loaded = graft.util.IndexStore.loadOrBuildAll(
      s, dir, s"pq_codes_m${PQ_M}k${PQ_K}r$PQ_ITERS" ::
        s"pq_codebook_m${PQ_M}k${PQ_K}r$PQ_ITERS" :: Nil) {
      val (codes, cb) = pqIndex(all)
      Seq(codes, cb)
    }
    (loaded(0), loaded(1))
  }

  /** The persisted degree-[[BEAM_GRAPH_K]] kNN graph over the full
    * collection — (vec_id, rank, neighbor_id, cos_ppm) edges from the
    * IVF probe, built once and loaded by BOTH sim_knn_graph
    * (top-TOP_K prefix) and the beam-search traversal. The build is
    * the n^1.5 IVF-graph law (SCALING.md); sharing the artifact is
    * what keeps it one bill.
    */
  private def knnGraphCached(s: SparkSession, dir: String): DataFrame =
    graft.util.Labeled(s, "sim: knn graph build") {
      graft.util.IndexStore.loadOrBuild(s, dir,
        s"knn_graph_l${IVF_LISTS}r${IVF_ITERS}a${IVF_ASSIGN_R}p${GRAPH_PROBES}k$BEAM_GRAPH_K") {
        val all = quantized(s, dir)
        val (postings, cent) = ivfIndexCached(s, dir, all)
        ivfProbe(all, postings, cent, GRAPH_PROBES, BEAM_GRAPH_K, sorted = false)
          .withColumnRenamed("query_id", "vec_id")
      }
    }

  /** The beam search's HIERARCHICAL ENTRY LAYER (HNSW's upper-layer
    * role, served by artifacts the index already has): per IVF list,
    * a HYBRID of its [[ENTRY_PER_LIST]]/2 most-central members
    * (cosine to the list centroid, vec_id tie-break) and the same
    * count STRATIFIED across the centrality ranking (ranks 1, 1+s,
    * 1+2s, … with integer stride s = ⌈list size / (k/2)⌉) — one
    * window over the persisted postings, built once and persisted
    * beside them. Not most-central alone: on a strongly
    * CLUSTERED corpus an IVF list spans several natural clusters and
    * its most-central members can all sit in one of them — the kNN
    * graph is then disconnected islands and a beam seeded only at the
    * list's core can NEVER reach the query's island (measured on a
    * 64-cluster synthetic: most-central entries 0.07 top-5 recall,
    * and beam 96 × 6 hops moved it only to 0.09 — trapped, not
    * under-scanned; stratified-only entries 0.30). The central half
    * keeps fast convergence where the corpus IS navigable (the
    * near-orthogonal pinned SFs measured 0.92 stratified-only vs
    * 0.97 most-central at sf0.1); the spread half reaches the list's
    * periphery. Serving
    * seeds a query's beam from the entries of its [[ENTRY_PROBES]]
    * nearest centroids: cost ∝ queries × (lists + probes × per-list),
    * never × collection.
    *
    * Entries and long edges are two deterministic projections of the
    * SAME per-list centrality ranking, so both artifacts build from
    * ONE window pass over the postings (r16; guide §1.2 — the old
    * shape ran the identical postings × broadcast(centroids) join +
    * rank window twice, once per artifact). The ranked frame is
    * manifest-sized (one row per vector) and checkpointed once; the
    * two artifacts' CONTENTS are unchanged (same names, same rows).
    */
  private def beamLayersCached(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val loaded = graft.util.Labeled(s, "sim: beam layers build") {
      graft.util.IndexStore.loadOrBuildAll(s, dir,
        s"beam_entries_l${IVF_LISTS}r${IVF_ITERS}a${IVF_ASSIGN_R}e${ENTRY_PER_LIST}hyb" ::
          s"beam_long_l${IVF_LISTS}r${IVF_ITERS}a${IVF_ASSIGN_R}m${LONG_MULTS.size}" :: Nil) {
        val (postings, cent) = ivfIndexCached(s, dir, quantized(s, dir))
        val w = Window.partitionBy(col("list_id"))
          .orderBy(cosPpm(qdot(col("qv"), col("cv")), col("sq"), col("c_sq")).desc,
            col("vec_id"))
        val ranked = postings.join(broadcast(cent), Seq("list_id"))
          .withColumn("ern", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("list_id"))))
          .select(col("list_id"), col("vec_id"), col("ern"), col("cnt"))
          .localCheckpoint(true)
        val half = ENTRY_PER_LIST / 2
        val entries = ranked
          // integer stride ⌈cnt/(k/2)⌉ — ≤ k/2 spread ranks, engine-exact
          .withColumn("stride", expr(s"(cnt + ${half - 1}) DIV $half"))
          // HYBRID: k/2 most-central seeds (fast convergence where the
          // corpus is navigable) ∪ k/2 stratified seeds (island
          // coverage where it is not)
          .filter(col("ern") <= half || (col("ern") - 1) % col("stride") === 0)
          .select(col("list_id"), col("vec_id")).distinct()
        val targets = LONG_MULTS.map { p =>
          ranked
            .withColumn("t0", (col("ern") * p) % col("cnt") + 1)
            .withColumn("t", when(col("t0") === col("ern"),
              col("t0") % col("cnt") + 1).otherwise(col("t0")))
            .select(col("list_id"), col("vec_id").as("src"), col("t"))
        }.reduce(_ unionByName _)
        val longE = targets.join(
            ranked.select(col("list_id"), col("ern").as("t"),
              col("vec_id").as("dst")),
            Seq("list_id", "t"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
        Seq(entries, longE)
      }
    }
    (loaded(0), loaded(1))
  }

  private def beamEntriesCached(s: SparkSession, dir: String): DataFrame =
    beamLayersCached(s, dir)._1

  /** NSW-style LONG-RANGE edges: per list, [[LONG_MULTS]].size
    * deterministic links from each member to a pseudo-random other
    * member (target centrality rank = (rank × prime) mod list size,
    * self-loop-rotated) — the bounded-degree long links that make a
    * list's beam subgraph CONNECTED on strongly clustered corpora.
    * A pure kNN graph there is disconnected islands (every node's 10
    * nearest are its own cluster's near-duplicates) and NO entry
    * policy fixes it: most-central entries measured 0.07 top-5 recall
    * on a 64-cluster synthetic, stratified 0.30, hybrid 0.19 — while
    * beam 96 × 6 hops on the island graph moved 0.07 only to 0.09
    * (trapped, not under-scanned). Long links are HNSW/NSW's actual
    * answer: degree grows by 2·|LONG_MULTS| (undirected), build is
    * one window pass over the persisted postings, serving asymptotics
    * unchanged — still queries × beam × degree × hops, collection-
    * independent.
    */
  private val LONG_MULTS = Seq(7919L, 104729L)

  private def beamLongEdgesCached(s: SparkSession, dir: String): DataFrame =
    beamLayersCached(s, dir)._2

  /** Exact top-k (query_id, neighbor_id) pairs of `queries` over
    * `coll` — the truth side of the lifecycle recall REQUIREs (same
    * shape as sim_topk_bruteforce).
    */
  private def bruteTopK(queries: DataFrame, coll: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("qv").as("q_qv"), col("sq").as("q_sq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ppm").desc, col("neighbor_id"))
    coll.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** recall@k of `ann` against the exact `truth` pairs, REQUIRE ≥ 0.9
    * (integer arithmetic; the transition gates of sim_ivf_lifecycle).
    */
  private def requireRecall(stage: String, ann: DataFrame, truth: DataFrame): Unit = {
    // ONE action for (total, hits) — the old two-action shape (count,
    // then semi-join count) evaluated the brute-force truth side
    // TWICE per transition (r15 optimization round). ANN pairs are
    // distinct by construction (rank ≤ k output), so the left outer
    // join preserves truth's cardinality and count(_hit) counts
    // exactly the semi-join survivors.
    // INVARIANT (r15 ADVICE): every caller passes ivfProbe output,
    // which ends in .distinct() — a duplicated (query_id, neighbor_id)
    // pair would duplicate matched truth rows and inflate recall. If a
    // future caller cannot guarantee distinct pairs, add .distinct()
    // to the ann projection below.
    val r = truth
      .join(ann.select(col("query_id"), col("neighbor_id"), lit(1).as("_hit")),
        Seq("query_id", "neighbor_id"), "left_outer")
      .agg(count(lit(1)), count(col("_hit"))).head()
    val (total, hit) = (r.getLong(0), r.getLong(1))
    require(hit * 10L >= total * 9L, s"$stage recall $hit/$total fell below 0.9")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-k: every 100th vector queries the full collection.
    "sim_topk_bruteforce" -> ((s, dir) => {
      val all = quantized(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // MMR DIVERSIFIED RERANKING — the serving-side stage between "top-k
    // by cosine" and "what a retrieval pipeline actually returns":
    // greedy Maximal Marginal Relevance over a candidate pool
    // (Carbonell & Goldstein 1998). Step t picks
    //   argmax  7·rel(d) − 3·max_{s∈S} sim(d, s)
    // (λ = 0.7 scaled ×10 so the whole objective stays in exact
    // integer ppm; ties by neighbor_id), so near-duplicate candidates
    // are penalized once one of them is selected. Candidate generation
    // is the same broadcast-query exact scan as sim_topk_bruteforce
    // (in production the IVF probe feeds this stage instead); after
    // that EVERYTHING is per-query constant work — the pool is C = 20
    // rows/query, the pairwise sim table C²/query, and each of the
    // K = 5 greedy rounds is one join + window over the (queries × C)
    // frame, distributed by query_id. The oracle unrolls the greedy
    // rounds as CTEs from the same constants.
    "sim_mmr_rerank" -> ((s, dir) => {
      val all = quantized(s, dir)
      val q = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
      val wC = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      mmrSelect(all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("crank", row_number().over(wC))
        .filter(col("crank") <= MMR_C)
        .select(col("query_id"), col("neighbor_id"), col("qv"), col("sq"), col("cos_ppm")))
    }),

    // The PRODUCTION MMR path: the same greedy diversification stage
    // fed by the persisted IVF index instead of the exact scan — probe
    // the trained index for each query's top-MMR_C candidates (the
    // serving-side retrieval), then rerank. Composes two
    // already-shipped stages; the oracle retrains the index and
    // unrolls the greedy rounds from the same constants.
    "sim_mmr_ann" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val cand = ivfProbe(all.filter(col("vec_id") % 100 === 0),
          postings, cent, k = MMR_C)
        .join(all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq")),
          "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), col("qv"), col("sq"),
          col("cos_ppm"))
      mmrSelect(cand)
    }),

    // LSH-bucketed ANN: same query set, candidates = own bucket ∪ 1-bit
    // probes. Equi-join on bucket id — shuffle-partitionable at any scale.
    "sim_lsh_ann" -> ((s, dir) => {
      val all = quantized(s, dir).withColumn("bucket", bucketOf(col("qv")))
      val probes = array(probeMasks.map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)
      val q = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"),
          explode(probes).as("probe"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"), col("bucket"))
        .join(q, col("probe") === col("bucket") && col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN: coarse-quantize the collection into inverted lists
    // (each vector posted to its IVF_ASSIGN_R nearest — the
    // multi-assignment dial that buys boundary recall without extra
    // probe fan-out), probe the query's IVF_PROBES nearest lists,
    // dedupe candidates, exact re-rank. Same equi-join-on-list-id
    // shape as the LSH variant — the partition-pruned scan of a
    // vector index at scale. Measured top-5 recall vs brute force:
    // 1.00 / 0.96 / 0.94 at sf0.001/0.01/0.1 (the ≥0.9 floor is
    // pinned in QueryContractsSpec); the per-config frontier is in
    // SCALING.md. The index build is deterministic (vec_id % lists
    // seeding, fixed Lloyd rounds, all integer math), so the DuckDB
    // oracle retrains the identical index as unrolled CTEs and the
    // query is hash-exact.
    "sim_ivf_ann" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      ivfProbe(all.filter(col("vec_id") % 100 === 0), postings, cent)
    }),

    // FILTERED ANN (hybrid search) — the most common real serving
    // shape: nearest neighbors AMONG rows satisfying a metadata
    // predicate (here: the query's own label class). The predicate
    // applies INSIDE the probe, before scoring — post-filtering an
    // unfiltered top-k loses recall whenever that top-k is dominated
    // by other labels — and the probe over-fetches (FILTER_PROBES=20
    // lists vs 12 unfiltered) because the filter keeps ~1/10 of each
    // list. Same persisted postings artifact as sim_ivf_ann (labels
    // ride the postings; no second index), same equi-join plan; at
    // 100 TB a selective filter would instead route to a
    // label-partitioned postings layout — the same query over a
    // different physical key, not a different operator. Recall ≥0.9
    // vs the exact FILTERED brute force pinned in QueryContractsSpec
    // (measured 1.00/1.00/0.97 at sf0.001/0.01/0.1).
    "sim_filtered_ann" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      ivfProbe(all.filter(col("vec_id") % 100 === 0), postings, cent,
        FILTER_PROBES, TOP_K, sameLabel = true)
    }),

    // IVF INDEX LIFECYCLE UNDER DELETION, merge-on-read leg — the
    // vector-index analog of text_search_phrase_tombstoned: vectors
    // are deleted from the COLLECTION (vec_id % 9 = 4, the deleted-vec
    // manifest of a vector store), but the persisted index is NOT
    // rebuilt — the probe anti-joins the tombstone set against the
    // candidate postings before scoring, exactly the pattern the
    // store's deletion vectors use at read time. Centroids stay those
    // of the full training run (a delete never retrains; drift repair
    // is the periodic rebuild), the mtime REQUIRE pins no-rebuild, and
    // the oracle recomputes the probe over live postings only — a
    // tombstoned vector surfacing as any query's neighbor hash-fails.
    "sim_ivf_tombstoned" -> ((s, dir) => {
      val postName = s"ivf_postings_l${IVF_LISTS}r${IVF_ITERS}a$IVF_ASSIGN_R"
      val mtBefore = graft.util.IndexStore.artifactMtime(dir, postName)
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val mtAfter = graft.util.IndexStore.artifactMtime(dir, postName)
      require(mtBefore.forall(mtAfter.contains),
        s"tombstoned probe rebuilt the IVF index ($mtBefore -> $mtAfter)")
      val tomb = all.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
      ivfProbe(all.filter(col("vec_id") % 100 === 0),
        postings.join(tomb, Seq("vec_id"), "left_anti"), cent)
    }),

    // IVF INDEX LIFECYCLE, compaction leg: derive a tombstone-free
    // postings artifact FROM the persisted index (one anti-join — no
    // re-quantize, no retrain, no corpus scan), persist it under a
    // tombstone-set-keyed name, and serve with NO per-query tombstone
    // join. Hash-gated against the same live-postings oracle as the
    // merge-on-read leg (compacted ≡ incremental, the rebuild-parity
    // contract, checked cross-engine); IndexLifecycleSpec pins the
    // physical half — dead postings really gone, legs identical.
    "sim_ivf_compacted" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val tomb = all.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
      val compacted = graft.util.IndexStore.loadOrBuild(s, dir,
        s"ivf_postings_l${IVF_LISTS}r${IVF_ITERS}a${IVF_ASSIGN_R}_compact_m9")(
        postings.join(tomb, Seq("vec_id"), "left_anti"))
      ivfProbe(all.filter(col("vec_id") % 100 === 0), compacted, cent)
    }),

    // INCREMENTAL IVF maintenance — the streaming-ingest shape of a
    // production vector index: the base collection (vec_id % 10 != 0)
    // trained and persisted once; the arriving tenth is folded in by
    // assigning ONLY the delta against the persisted centroids (one
    // broadcast join — cost ∝ delta, no retrain, the exact analog of
    // dedup_incremental_lsh's delta probe) and appending the delta
    // postings. Queries (the new arrivals themselves, vec_id % 100 =
    // 0) probe base ∪ delta through the same probe stage as
    // sim_ivf_ann. At 100 TB the delta postings land as an appended
    // commit on the postings table; centroid drift is repaired by a
    // periodic retrain, not per-batch.
    "sim_ivf_incremental" -> ((s, dir) => {
      val all = quantized(s, dir)
      val base = all.filter(col("vec_id") % 10 =!= 0)
      val delta = all.filter(col("vec_id") % 10 === 0)
      val (basePost, cent) = ivfIndexCached(s, dir, base, "ivf_base")
      val deltaPost = assign(delta, cent, IVF_ASSIGN_R)
      ivfProbe(all.filter(col("vec_id") % 100 === 0),
        basePost.unionByName(deltaPost), cent, IVF_INC_PROBES)
    }),

    // COMPOSED INDEX LIFECYCLE: one persisted IVF index driven through
    // insert → delete → compact → insert, recall ≥ 0.9 REQUIREd after
    // every transition against a fresh brute-force truth over that
    // state's live set. The index trains ONCE on the pre-arrival base
    // (vec_id % 10 ∉ {0,7}); v1 appends the first arrival batch
    // (%10=0) as a centroid-assign of the delta only; v2 tombstones
    // %9=4 merge-on-read (the v1 artifact's mtime is REQUIREd
    // untouched across ALL later transitions); v3 compacts BY DERIVING
    // from the persisted index (anti-join, no corpus scan — REQUIREd
    // physically tombstone-free, and REQUIREd row-identical to the
    // merge-on-read leg); v4 appends the second batch (%10=7, live
    // even where %9=4 — arrivals after the delete are new rows) onto
    // the compacted artifact. The closing rebuild-parity REQUIRE:
    // the lifecycle-composed postings must equal a fresh assignment of
    // the final live set — the index never drifts from what a rebuild
    // would produce. The returned final-state probe is hash-gated
    // against a DuckDB oracle that retrains the base index and
    // assigns the composed live set from the same integer arithmetic.
    "sim_ivf_lifecycle" -> ((s, dir) => {
      val all = quantized(s, dir).localCheckpoint(false)
      val base = all.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 7)
      val delta1 = all.filter(col("vec_id") % 10 === 0)
      val delta2 = all.filter(col("vec_id") % 10 === 7)
      // Fixed query set, present and live in every state.
      val queries = all.filter(col("vec_id") % 100 === 1 && col("vec_id") % 9 =!= 4)
      val (basePost, cent) = ivfIndexCached(s, dir, base, "ivf_lc")
      val v1Name = s"ivf_lc_post_l${IVF_LISTS}r${IVF_ITERS}a${IVF_ASSIGN_R}_v1"
      // v1 INSERT: assign ONLY the delta against the persisted
      // centroids (cost ∝ batch), append to the postings.
      val v1 = graft.util.IndexStore.loadOrBuild(s, dir, v1Name)(
        basePost.unionByName(assign(delta1, cent, IVF_ASSIGN_R)))
      val mtV1 = graft.util.IndexStore.artifactMtime(dir, v1Name)
      val liveA = base.unionByName(delta1)
      requireRecall("insert-v1",
        ivfProbe(queries, v1, cent, IVF_INC_PROBES),
        bruteTopK(queries, liveA, TOP_K))
      // v2 DELETE, merge-on-read: anti-join tombstones at probe time.
      val tomb = liveA.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
      val liveB = liveA.join(tomb, Seq("vec_id"), "left_anti")
      // probeB/probeD feed two actions each (recall REQUIRE + the
      // collect-compare / the returned frame): checkpoint so each
      // probe's join+window runs once (r15 optimization round).
      val probeB = ivfProbe(queries,
        v1.join(tomb, Seq("vec_id"), "left_anti"), cent, IVF_INC_PROBES)
        .localCheckpoint(true)
      requireRecall("delete-v2", probeB, bruteTopK(queries, liveB, TOP_K))
      // v3 COMPACT: derive from the INDEX (never the corpus), persist.
      val v3 = graft.util.IndexStore.loadOrBuild(s, dir, v1Name + "_compact_m9")(
        v1.join(tomb, Seq("vec_id"), "left_anti"))
      require(v3.join(tomb, Seq("vec_id"), "left_semi").count() == 0L,
        "compacted lifecycle index still posts tombstoned vectors")
      val probeC = ivfProbe(queries, v3, cent, IVF_INC_PROBES)
      require(probeC.collect().toSeq == probeB.collect().toSeq,
        "compacted probe diverged from the merge-on-read probe")
      // v4 INSERT onto the compacted artifact (%9=4 arrivals are NEW
      // rows — a delete never shadows later inserts).
      val v4 = graft.util.IndexStore.loadOrBuild(s, dir, v1Name + "_v4")(
        v3.unionByName(assign(delta2, cent, IVF_ASSIGN_R)))
      require(graft.util.IndexStore.artifactMtime(dir, v1Name) == mtV1,
        "a lifecycle transition rewrote the v1 postings artifact")
      val liveD = liveB.unionByName(delta2)
      // Rebuild parity: composed postings ≡ fresh assignment of the
      // live set under the same centroids.
      val postCols = Seq("vec_id", "label", "qv", "sq", "list_id", "rn").map(col)
      val fresh = assign(liveD, cent, IVF_ASSIGN_R).select(postCols: _*)
      val composed = v4.select(postCols: _*)
      // Multiset equality in ONE action (r15 optimization round): sum of
      // ±1 per row-value is zero everywhere iff BOTH exceptAlls are
      // empty — the old shape ran two exceptAll jobs, each evaluating
      // both sides.
      val drift = composed.withColumn("_s", lit(1L))
        .unionByName(fresh.withColumn("_s", lit(-1L)))
        .groupBy(postCols: _*).agg(sum(col("_s")).as("_d"))
        .filter(col("_d") =!= 0L).limit(1).count()
      require(drift == 0L,
        "lifecycle-composed postings drifted from a fresh rebuild")
      val probeD = ivfProbe(queries, v4, cent, IVF_INC_PROBES)
        .localCheckpoint(true)
      requireRecall("insert-v4", probeD, bruteTopK(queries, liveD, TOP_K))
      probeD
    }),

    // RANGE (radius) search over the persisted IVF index — the other
    // query shape a vector store serves besides top-k: "everything
    // within cosine ≥ T of this query", the primitive behind
    // dedup-on-ingest and near-duplicate lookup APIs. Same probe
    // stage (12 nearest lists, candidates deduped across
    // multi-assignment), then an exact-threshold filter instead of a
    // rank window; per query, the match count and the nearest match.
    // Like every IVF query it is probe-bounded — matches outside the
    // probed lists are missed (the recall dial) — and the oracle
    // mirrors the probe exactly, so the result is hash-exact.
    "sim_range_search" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val probeW = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("list_id"))
      val qProbes = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
        .join(broadcast(cent))
        .withColumn("c_cos", cosPpm(qdot(col("q_qv"), col("cv")), col("q_sq"), col("c_sq")))
        .withColumn("p_rn", row_number().over(probeW))
        .filter(col("p_rn") <= IVF_PROBES)
        .select(col("query_id"), col("q_qv"), col("q_sq"), col("list_id"))
      postings.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"), col("list_id"))
        .join(qProbes, Seq("list_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        // Score, THRESHOLD-FILTER, then dedupe inside the aggregate
        // (r15 optimization round): the radius predicate drops
        // non-matching candidates before any exchange, and
        // countDistinct(neighbor_id) absorbs multi-assignment
        // duplicates exactly as the old standalone distinct did —
        // cos_ppm is a pure function of the pair, so duplicates
        // change neither the distinct-neighbor count nor the max.
        // The old shape exchanged the FULL candidate mass for the
        // distinct and only then filtered.
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .filter(col("cos_ppm") >= RANGE_T)
        .select(col("query_id"), col("neighbor_id"), col("cos_ppm"))
        .groupBy(col("query_id"))
        .agg(countDistinct(col("neighbor_id")).as("n_in_radius"),
          max(col("cos_ppm")).as("best_cos_ppm"))
        .orderBy(col("query_id"))
    }),

    // SEMANTIC DEDUP (SemDeDup-shaped): k-means clusters bound the
    // pairwise sweep — exact cosine is computed only WITHIN each IVF
    // list (rn = 1 partition of the persisted index, nothing new is
    // trained), and a vector is dropped when a lower-id near-dup
    // (cos ≥ SEM_T) shares its cluster. The cluster bound is the
    // paper's core trick: the quadratic is per-list (~n/k² of the
    // full sweep's pairs per list), at the cost of missing pairs the
    // coarse quantizer splits across lists — dedup_embedding remains
    // the exact-sweep oracle for that residual. Keep-lowest-id is the
    // deterministic keeper rule; per-cluster (kept, dropped) counts
    // are the curation report.
    "dedup_semantic" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, _) = ivfIndexCached(s, dir, all)
      val a = postings.filter(col("rn") === 1)
        .select(col("list_id"), col("vec_id"), col("qv"), col("sq"))
      val b = a.select(col("list_id"), col("vec_id").as("vec_b"),
        col("qv").as("qv_b"), col("sq").as("sq_b"))
      val dropped = a.join(b, Seq("list_id"))
        .filter(col("vec_b") < col("vec_id"))
        .withColumn("cos_ppm",
          cosPpm(qdot(col("qv"), col("qv_b")), col("sq"), col("sq_b")))
        .filter(col("cos_ppm") >= SEM_T)
        .select(col("list_id"), col("vec_id")).distinct()
      a.groupBy(col("list_id")).agg(count(lit(1)).as("n_vecs"))
        .join(dropped.groupBy(col("list_id")).agg(count(lit(1)).as("nd")),
          Seq("list_id"), "left")
        .select(col("list_id").cast("long").as("cluster_id"), col("n_vecs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"))
        .orderBy(col("cluster_id"))
    }),

    // PQ ANN: the compressed-domain scan. The collection is stored as
    // PQ_M 4-bit-ish codes per vector; a query builds a PQ_M×PQ_K
    // distance table (exact query subvectors × broadcast codebook
    // reconstructions — asymmetric distance), the scan turns scoring
    // every vector into PQ_M integer table lookups + a sum (an
    // equi-join on (m, code) against the broadcast table, grouped per
    // (query, vector) — linear in the collection, never touching the
    // original floats), and only the PQ_CAND best approximate
    // candidates are exact re-ranked. At 100 TB this is why PQ exists:
    // the scan reads 8 bytes/vector instead of 256, and composes with
    // IVF (probe lists first, then ADC within them). Deterministic
    // build → the oracle retrains the identical codebooks in SQL.
    "sim_pq_ann" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (codes, codebook) = pqIndexCached(s, dir, all)
      val qs = all.filter(col("vec_id") % 100 === 0)
      val qsub = pqSub(qs)
        .select(col("vec_id").as("query_id"), col("m"), col("sv").as("q_sv"))
      // Distance table: one integer partial dot per (query, m, code).
      val dt = qsub.join(broadcast(codebook), Seq("m"))
        .select(col("query_id"), col("m"), col("code"),
          qdot(col("q_sv"), col("rv")).as("pdot"))
      // Per-vector reconstruction norm (sum of its codes' r_sq).
      val recSq = codes
        .join(broadcast(codebook.select(col("m"), col("code"), col("r_sq"))),
          Seq("m", "code"))
        .groupBy(col("vec_id")).agg(sum(col("r_sq")).as("rec_sq"))
      val qn = qs.select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("sq").as("q_sq"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_ppm").desc, col("neighbor_id"))
      val cand = codes.join(broadcast(dt), Seq("m", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pdot")).as("adot"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(recSq.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(broadcast(qn), Seq("query_id"))
        .withColumn("approx_ppm", safeCos(col("adot"), col("q_sq"), col("rec_sq")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= PQ_CAND)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      cand.select(col("query_id"), col("neighbor_id"), col("q_qv"), col("q_sq"))
        .join(all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq")),
          Seq("neighbor_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ: the full production ANN composition (what a FAISS-style
    // IVFPQ index is) — the IVF coarse quantizer prunes WHICH vectors
    // get scored (probe the query's IVF_PROBES nearest lists), the PQ
    // codes shrink WHAT the scoring reads (ADC table lookups over 16
    // codes instead of 256 float bytes), and only the PQ_CAND best
    // approximate candidates are exact re-ranked. Both persisted
    // artifacts are REUSED (the memoized IVF postings and PQ
    // code/codebook tables — this query trains nothing); the oracle
    // composes both unrolled retraining CTE blocks. At 100 TB this is
    // the memory-resident ANN serving path: lists bound the scan,
    // codes bound the bytes, rerank bounds the float reads.
    "sim_ivfpq_ann" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val (codes, codebook) = pqIndexCached(s, dir, all)
      val probeW = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("list_id"))
      val qs = all.filter(col("vec_id") % 100 === 0)
      val qProbes = qs
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
        .join(broadcast(cent))
        .withColumn("c_cos", cosPpm(qdot(col("q_qv"), col("cv")), col("q_sq"), col("c_sq")))
        .withColumn("p_rn", row_number().over(probeW))
        .filter(col("p_rn") <= IVF_PROBES)
        .select(col("query_id"), col("list_id"))
      // Pruned candidate set from the probed lists (deduped across
      // multi-assignment duplicates).
      val cand0 = postings.select(col("vec_id").as("neighbor_id"), col("list_id"))
        .join(qProbes, Seq("list_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id")).distinct()
      // ADC over the candidates only: distance table + code lookups.
      val qsub = pqSub(qs)
        .select(col("vec_id").as("query_id"), col("m"), col("sv").as("q_sv"))
      val dt = qsub.join(broadcast(codebook), Seq("m"))
        .select(col("query_id"), col("m"), col("code"),
          qdot(col("q_sv"), col("rv")).as("pdot"))
      val recSq = codes
        .join(broadcast(codebook.select(col("m"), col("code"), col("r_sq"))),
          Seq("m", "code"))
        .groupBy(col("vec_id")).agg(sum(col("r_sq")).as("rec_sq"))
      val qn = qs.select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("sq").as("q_sq"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_ppm").desc, col("neighbor_id"))
      val cand = cand0
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(broadcast(dt), Seq("query_id", "m", "code"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("pdot")).as("adot"))
        .join(recSq.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(broadcast(qn), Seq("query_id"))
        .withColumn("approx_ppm", safeCos(col("adot"), col("q_sq"), col("rec_sq")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= PQ_CAND)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      cand.select(col("query_id"), col("neighbor_id"), col("q_qv"), col("q_sq"))
        .join(all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq")),
          Seq("neighbor_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // k-NN GRAPH construction — every vector finds its TOP_K nearest
    // neighbors (not just a sampled query set): the candidate-pair
    // primitive behind SemDeDup clustering, graph-based diversity
    // sampling, and label propagation. Runs the SAME persisted-index
    // probe stage as sim_ivf_ann with the whole collection as the
    // query side, so recall matches the serving path's measured
    // 1.00/0.96/0.94. Candidate mass is n · (probes/lists) · avg-list
    // — at 100 TB lists scale ~√n so per-vector candidates stay
    // ~probes·R·√n, the standard IVF-bounded kNN-graph cost (an
    // NN-descent refinement would cut constants further but is
    // iteration-heavy; the one-pass probe is the right first graph).
    // Serves the top-TOP_K prefix of the SHARED persisted degree-
    // BEAM_GRAPH_K graph artifact (rank ≤ k of the same deterministic
    // ranking — identical rows to a direct k=TOP_K probe), so the
    // n^1.5 graph build is paid once per session/pass and both this
    // query and the beam-search traversal load it.
    "sim_knn_graph" -> ((s, dir) =>
      knnGraphCached(s, dir)
        .filter(col("rank") <= TOP_K)
        .orderBy(col("vec_id"), col("rank"))),

    // GRAPH-TRAVERSAL ANN (the HNSW/NSW family): beam search over a
    // persisted navigable kNN graph. Construction is the distributed
    // graph-ANN build (kNN edges from the IVF index — the
    // DiskANN/NN-descent shape — persisted once as an artifact, shared
    // with sim_knn_graph's probe); serving walks the graph: descend
    // the HIERARCHICAL entry (nearest ENTRY_PROBES of the 32 persisted
    // centroids → their lists' ENTRY_PER_LIST most-central members,
    // a persisted artifact — HNSW's upper layers), then BEAM_HOPS
    // rounds of expand-the-beam-over-undirected-edges → exact-score →
    // keep the best BEAM_W per query, finally exact-rerank the visited
    // set to top-k. Every serving stage — entry included — is cost ∝
    // queries × beam × degree × hops, INDEPENDENT of collection size,
    // which is why this family exists at 100 TB. Every step is
    // integer-deterministic (cos-then-id ties), so the DuckDB oracle
    // replays the identical traversal as one CTE pair per hop and the
    // result is hash-exact. Recall ≥ 0.9 vs brute force is pinned in
    // QueryContractsSpec.
    "sim_graph_beam_ann" -> ((s, dir) => {
      val all = quantized(s, dir).localCheckpoint(false)
      val knn = knnGraphCached(s, dir)
      val (_, cent) = ivfIndexCached(s, dir, quantized(s, dir))
      val entries = beamEntriesCached(s, dir)
      val longE = beamLongEdgesCached(s, dir)
      val edges = knn
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .unionByName(knn.select(col("neighbor_id").as("src"), col("vec_id").as("dst")))
        .unionByName(longE)
        .unionByName(longE.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      val q = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
      val nodes = all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq"))
      def scored(cand: DataFrame): DataFrame = cand
        .join(nodes, Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .select(col("query_id"), col("neighbor_id"), col("cos_ppm"))
      val wB = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      // Layer-1 descent: rank the 32 broadcast centroids per query,
      // keep the ENTRY_PROBES nearest lists (a multi-assigned entry
      // surfacing from several probed lists dedupes before scoring).
      val probeW = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("list_id"))
      val qProbes = q.join(broadcast(cent))
        .withColumn("c_cos",
          cosPpm(qdot(col("q_qv"), col("cv")), col("q_sq"), col("c_sq")))
        .withColumn("p_rn", row_number().over(probeW))
        .filter(col("p_rn") <= ENTRY_PROBES)
        .select(col("query_id"), col("list_id"))
      val entryCand = qProbes.join(entries, Seq("list_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()
      var visited = graft.util.Labeled(s, "sim: beam traversal") {
        scored(entryCand).localCheckpoint(true)
      }
      var beam = visited.withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= BEAM_W).select(col("query_id"), col("neighbor_id"))
      for (_ <- 1 to BEAM_HOPS) {
        // Score only FRESH pairs (r15 optimization round): anti-join
        // the expansion against the visited set BEFORE scoring, so a
        // hop re-scores nothing and the union needs no distinct — the
        // invariant "visited holds distinct pairs" is preserved by
        // construction (entry set distinct; each hop adds only pairs
        // provably absent). The old shape re-scored every revisited
        // neighbor and paid a full distinct exchange over the whole
        // visited set per hop; identical rows either way (cos_ppm is
        // a pure function of the pair).
        val expand = beam.join(edges, beam("neighbor_id") === edges("src"))
          .select(col("query_id"), col("dst").as("neighbor_id")).distinct()
          .join(visited.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_anti")
        // Checkpoint ONLY the hop's fresh rows (r16): `visited` stays a
        // lazy union of checkpointed chunks, so each hop's action
        // materializes the fresh pairs instead of rewriting the whole
        // visited set again (the old per-hop checkpoint copied every
        // prior hop's rows once per remaining hop). Lineage stays
        // bounded — every chunk is already materialized.
        visited = visited.unionByName(graft.util.Labeled(s, "sim: beam traversal") {
          scored(expand).localCheckpoint(true)
        })
        beam = visited.withColumn("rn", row_number().over(wB))
          .filter(col("rn") <= BEAM_W).select(col("query_id"), col("neighbor_id"))
      }
      visited.withColumn("rank", row_number().over(wB).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // BINARY (thresholded-bit) quantization ANN — the third
    // compression point on the memory/recall frontier (floats 256 B →
    // binary 40 B → PQ 8 B): each vector is 5 signature words (one
    // 64-bit sign word per milli-unit threshold), the scan distance
    // is 5 XOR+popcounts per pair (no multiplies, no float reads),
    // and only the BQ_CAND best hamming candidates are exact
    // re-ranked. This is the bit-vector prefilter architecture modern
    // vector stores run before exact scoring; at 100 TB the signature
    // column is n×40 bytes and the scan reads nothing else. The
    // measured config frontier (incl. the rejected sign-only 64-bit
    // signature) is at BQ_THRESHOLDS; build is deterministic, so the
    // oracle rebuilds it in SQL and the result is hash-exact.
    "sim_binary_quant" -> ((s, dir) => {
      val all = quantized(s, dir)
      // The scan side carries ONLY (vec_id, 5-word signature) — 48
      // bytes/row. A first cut joined the full vector rows and
      // measured 124s at 20k vectors (4M pairs × 1 KB of arrays
      // materialized for a prefilter that never reads them); keeping
      // the vectors out of the scan and joining them back for just
      // the BQ_CAND rerank rows is what makes the signature column
      // the only thing the scan touches.
      val sigs = all.select(col("vec_id"), signSig(col("qv")).as("sg"))
        .localCheckpoint(false)
      val qSig = sigs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("sg").as("q_sg"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("ham").asc, col("neighbor_id"))
      val cand = sigs
        .select(col("vec_id").as("neighbor_id"), col("sg"))
        .join(broadcast(qSig), col("neighbor_id") =!= col("query_id"))
        .withColumn("ham", hamming(col("q_sg"), col("sg")))
        .select(col("query_id"), col("neighbor_id"), col("ham"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= BQ_CAND)
        .select(col("query_id"), col("neighbor_id"))
      val qVec = all.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("sq").as("q_sq"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_ppm").desc, col("neighbor_id"))
      cand
        .join(all.select(col("vec_id").as("neighbor_id"), col("qv"), col("sq")),
          Seq("neighbor_id"))
        .join(broadcast(qVec), Seq("query_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("q_qv"), col("qv")), col("q_sq"), col("sq")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOP_K)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding outlier detection — the embedding-QA pass a training
    // pipeline runs before using vectors (corrupt encodes, mislabeled
    // rows, off-manifold junk): score every vector by cosine to its
    // OWN assigned IVF centroid and surface the global bottom-k.
    // Reuses the persisted index (rn = 1 recovers the partition);
    // the bottom-k is orderBy+limit so it plans as
    // TakeOrderedAndProject (distributed per-partition top-k), never
    // a single-task global window. Oracle reuses the unrolled IVF
    // retraining CTEs.
    "sim_outliers" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, cent) = ivfIndexCached(s, dir, all)
      val top = postings.filter(col("rn") === 1)
        .join(broadcast(cent), Seq("list_id"))
        .withColumn("cos_ppm", cosPpm(qdot(col("qv"), col("cv")), col("sq"), col("c_sq")))
        .select(col("vec_id"), col("label"), col("list_id"), col("cos_ppm"))
        .orderBy(col("cos_ppm").asc, col("vec_id")).limit(OUT_K)
      val w = Window.orderBy(col("cos_ppm").asc, col("vec_id"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("vec_id"), col("label"), col("list_id"), col("cos_ppm"))
        .orderBy(col("rank"))
    }),

    // K-means-style topic grouping over the same deterministic Lloyd
    // index: per-cluster size, dominant label, and purity — the
    // curation view of embedding clustering (is this cluster coherent
    // enough to filter/sample as a unit?). Reuses the memoized trained
    // index; the oracle retrains it via the shared unrolled CTEs.
    "sim_kmeans_groups" -> ((s, dir) => {
      val all = quantized(s, dir)
      val (postings, _) = ivfIndexCached(s, dir, all)
      // rn = 1 recovers the single-assignment partition from the
      // multi-assigned postings (each vector counted exactly once).
      val assigned = postings.filter(col("rn") === 1)
      val counts = assigned.groupBy(col("list_id"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("list_id")).orderBy(col("c").desc, col("label"))
      counts.withColumn("rn", row_number().over(w))
        .groupBy(col("list_id"))
        .agg(sum(col("c")).as("n_vecs"),
          max(when(col("rn") === 1, col("label"))).as("top_label"),
          max(when(col("rn") === 1, col("c"))).as("top_n"))
        .select(col("list_id").as("cluster_id"), col("n_vecs"), col("top_label"),
          floor(col("top_n").cast("double") * lit(1000000.0) / col("n_vecs"))
            .cast("long").as("purity_ppm"))
        .orderBy(col("cluster_id"))
    }),

    // Nearest-centroid classification: per-label element-wise sum vector
    // (exact integers; cosine is scale-invariant so the un-normalized sum
    // IS the centroid), then argmax over broadcast centroids.
    "sim_centroid_classify" -> ((s, dir) => {
      val all = quantized(s, dir)
      val centroids = all
        .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
        .select(col("label").as("c_label"), transform(col("ps"), p => p("sv")).as("cv"))
        .withColumn("c_sq", qnormSq(col("cv")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_ppm").desc, col("c_label"))
      all.join(broadcast(centroids))
        .withColumn("cos_ppm", cosPpm(qdot(col("qv"), col("cv")), col("sq"), col("c_sq")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          count(when(col("c_label") === col("label"), 1)).as("n_correct"))
        .orderBy(col("label"))
    }))

  private val quantSql =
    """q AS (SELECT vec_id, label,
         [CAST(floor(CAST(x AS DOUBLE)*1000.0) AS BIGINT) for x in embedding] AS qv
       FROM embeddings),
       n AS (SELECT vec_id, label, qv, CAST(list_sum([x*x for x in qv]) AS BIGINT) AS sq FROM q)"""

  /** The exact cosPpm formula as SQL text — same operation order as
    * [[graft.functions.VectorFunctions.cosPpm]]: exact integer dot,
    * then double mul/div/sqrt, then floor (one deterministic IEEE
    * sequence on both engines).
    */
  private def cosPpmSql(aqv: String, bqv: String, asq: String, bsq: String): String =
    s"""CAST(floor(CAST(CAST(list_sum([$aqv[i]*$bqv[i] for i in range(1, len($aqv)+1)]) AS BIGINT) AS DOUBLE)
          * 1000000.0 / (sqrt(CAST($asq AS DOUBLE))*sqrt(CAST($bsq AS DOUBLE)))) AS BIGINT)"""

  /** The fixed hyperplanes as a DuckDB VALUES list — the oracle rebuilds
    * the exact bucketing from the same integer literals the Spark plan
    * uses.
    */
  private def planesValuesSql: String =
    hyperplanes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}])"
    }.mkString(",\n          ")

  /** IVF centroid CTE body: element-wise integer sums per list (the
    * un-normalized sum IS the centroid), mirror of `listCentroids`.
    */
  private def ivfCentSql(from: String): String =
    s"""(SELECT list_id, cv, CAST(list_sum([x*x for x in cv]) AS BIGINT) AS c_sq FROM (
          SELECT list_id, list(sv ORDER BY pos) AS cv FROM (
            SELECT a.list_id, i AS pos, CAST(SUM(a.qv[i]) AS BIGINT) AS sv
            FROM $from a, range(1, ${VEC_DIM + 1}) t(i) GROUP BY 1, 2) GROUP BY 1))"""

  /** IVF top-`r` assignment CTE body: nearest-centroids by
    * (cosPpm DESC, list_id) with the assignment rank retained —
    * mirror of `assign`. `src` is the CTE the assigned vectors come
    * from (`n` = full collection; the incremental oracle trains from
    * a filtered base).
    */
  private def ivfAssignSql(cent: String, r: Int = 1, src: String = "n"): String =
    s"""(SELECT vec_id, label, qv, sq, list_id, rn FROM (
          SELECT s.vec_id, s.label, s.qv, s.sq, c.list_id,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id
              ORDER BY ${cosPpmSql("s.qv", "c.cv", "s.sq", "c.c_sq")} DESC, c.list_id) AS rn
          FROM $src s, $cent c) WHERE rn <= $r)"""

  /** The unrolled deterministic index build (seed → IVF_ITERS Lloyd
    * rounds → final assignment) shared by the IVF-ANN and
    * k-means-groups oracles. GENERATED from the same IVF_* constants
    * the Spark build uses, so retuning iterations/lists retunes the
    * oracle with it. `src` is the training collection CTE.
    */
  private def ivfBuildSqlFrom(src: String): String = {
    val rounds = (0 until IVF_ITERS).map { i =>
      s"""a${i + 1} AS ${ivfAssignSql(s"c$i", 1, src)},
          c${i + 1} AS ${ivfCentSql(s"a${i + 1}")}"""
    }.mkString(",\n          ")
    // Training rounds stay single-assignment Lloyd; the final postings
    // CTE multi-assigns to IVF_ASSIGN_R lists, mirror of ivfIndex.
    s"""a0 AS (SELECT vec_id, label, qv, sq, CAST(vec_id % $IVF_LISTS AS BIGINT) AS list_id FROM $src),
        c0 AS ${ivfCentSql("a0")},
        $rounds,
        af AS ${ivfAssignSql(s"c$IVF_ITERS", IVF_ASSIGN_R, src)}"""
  }

  private def ivfBuildSql: String = ivfBuildSqlFrom("n")

  /** Name of the final centroid CTE inside [[ivfBuildSql]]. */
  private def ivfFinalCent: String = s"c$IVF_ITERS"

  /** Greedy MMR selection over a per-query candidate pool carrying
    * (query_id, neighbor_id, qv, sq, cos_ppm) — the stage shared by
    * the exact-scan and IVF-fed variants. K rounds of join + window
    * over the (queries × C) frame, each pick checkpointed to bound
    * lineage; the integer objective 7·rel − 3·maxSimToSelected with
    * ties by neighbor_id makes the whole trajectory oracle-exact.
    */
  private def mmrSelect(cand0: DataFrame): DataFrame = {
    val cand = cand0.localCheckpoint(true)
    val a = cand.select(col("query_id"), col("neighbor_id").as("a_id"),
      col("qv").as("a_qv"), col("sq").as("a_sq"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("b_id"),
      col("qv").as("b_qv"), col("sq").as("b_sq"))
    val sims = a.join(b, Seq("query_id")).filter(col("a_id") =!= col("b_id"))
      .withColumn("sim_ppm", cosPpm(qdot(col("a_qv"), col("b_qv")), col("a_sq"), col("b_sq")))
      .select(col("query_id"), col("a_id"), col("b_id"), col("sim_ppm"))
      .localCheckpoint(true)
    var selAccum: DataFrame = null
    var pool = cand.select(col("query_id"), col("neighbor_id"), col("cos_ppm"))
    val wSel = Window.partitionBy(col("query_id"))
      .orderBy((col("cos_ppm") * 7 - col("max_sim") * 3).desc, col("neighbor_id"))
    for (t <- 1 to MMR_K) {
      val base =
        if (selAccum == null) pool.withColumn("max_sim", lit(0L))
        else {
          val selSims = sims
            .join(selAccum.select(col("query_id"), col("neighbor_id").as("b_id")),
              Seq("query_id", "b_id"))
            .groupBy(col("query_id"), col("a_id").as("neighbor_id"))
            .agg(max(col("sim_ppm")).as("max_sim"))
          pool.join(selSims, Seq("query_id", "neighbor_id"), "left")
            .withColumn("max_sim", coalesce(col("max_sim"), lit(0L)))
        }
      val pick = base
        .withColumn("rn", row_number().over(wSel)).filter(col("rn") === 1)
        .select(col("query_id"), lit(t.toLong).as("sel_rank"), col("neighbor_id"),
          col("cos_ppm"), (col("cos_ppm") * 7 - col("max_sim") * 3).as("mmr_score"))
        .localCheckpoint(true) // bound lineage per greedy round
      selAccum = if (selAccum == null) pick else selAccum.unionByName(pick)
      pool = pool.join(pick.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
    }
    selAccum.orderBy(col("query_id"), col("sel_rank"))
  }

  /** One greedy MMR round as CTEs — mirror of the Spark loop body. */
  private def mmrRoundSql(t: Int): String =
    if (t == 1)
      s"""p1 AS (SELECT query_id, neighbor_id, cos_ppm, CAST(0 AS BIGINT) AS max_sim
            FROM (SELECT query_id, neighbor_id, cos_ppm,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_ppm * 7 DESC, neighbor_id) AS rn
                  FROM cand) WHERE rn = 1)"""
    else {
      val prev = (1 until t)
        .map(i => s"SELECT query_id, neighbor_id FROM p$i")
        .mkString(" UNION ALL ")
      s"""m$t AS (SELECT s.query_id, s.a_id AS neighbor_id,
              CAST(MAX(s.sim_ppm) AS BIGINT) AS max_sim
            FROM sims s JOIN ($prev) sel
              ON sel.query_id = s.query_id AND sel.neighbor_id = s.b_id
            GROUP BY 1, 2),
          p$t AS (SELECT query_id, neighbor_id, cos_ppm, max_sim FROM (
            SELECT c.query_id, c.neighbor_id, c.cos_ppm,
              COALESCE(m.max_sim, 0) AS max_sim,
              ROW_NUMBER() OVER (PARTITION BY c.query_id
                ORDER BY c.cos_ppm * 7 - COALESCE(m.max_sim, 0) * 3 DESC,
                  c.neighbor_id) AS rn
            FROM cand c
            LEFT JOIN m$t m
              ON m.query_id = c.query_id AND m.neighbor_id = c.neighbor_id
            WHERE NOT EXISTS (SELECT 1 FROM ($prev) x
              WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id))
            WHERE rn = 1)"""
    }

  /** Zero-safe cosPpm as SQL — mirror of [[safeCos]]. */
  private def safeCosSql(aqv: String, bqv: String, asq: String, bsq: String): String =
    s"""CASE WHEN $asq = 0 OR $bsq = 0 THEN 0
        ELSE ${cosPpmSql(aqv, bqv, asq, bsq)} END"""

  /** PQ centroid CTE body — mirror of [[pqCentroids]]. */
  private def pqCentSql(from: String): String =
    s"""(SELECT m, code, cv, CAST(list_sum([x*x for x in cv]) AS BIGINT) AS c_sq FROM (
          SELECT m, code, list(sv ORDER BY pos) AS cv FROM (
            SELECT a.m, a.code, i AS pos, CAST(SUM(a.sv[i]) AS BIGINT) AS sv
            FROM $from a, range(1, ${PQ_SUB + 1}) t(i) GROUP BY 1, 2, 3) GROUP BY 1, 2))"""

  /** PQ nearest-code assignment CTE body — mirror of [[pqAssign]]. */
  private def pqAssignSql(cent: String): String =
    s"""(SELECT vec_id, m, sv, ssq, code FROM (
          SELECT b.vec_id, b.m, b.sv, b.ssq, c.code,
            ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
              ORDER BY ${safeCosSql("b.sv", "c.cv", "b.ssq", "c.c_sq")} DESC, c.code) AS rn
          FROM psb b JOIN $cent c ON c.m = b.m) WHERE rn = 1)"""

  /** The unrolled PQ training (subspace split → seed → PQ_ITERS Lloyd
    * rounds → final codes → quantized-mean codebook), GENERATED from
    * the same PQ_* constants the Spark build uses.
    */
  private def pqBuildSql: String = {
    val rounds = (0 until PQ_ITERS).map { i =>
      s"""pa${i + 1} AS ${pqAssignSql(s"pc$i")},
          pc${i + 1} AS ${pqCentSql(s"pa${i + 1}")}"""
    }.mkString(",\n          ")
    s"""psub AS (SELECT vec_id, m, qv[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS sv
                 FROM n, range(0, $PQ_M) t(m)),
        psb AS (SELECT vec_id, m, sv,
                  CAST(list_sum([x*x for x in sv]) AS BIGINT) AS ssq FROM psub),
        pa0 AS (SELECT vec_id, m, sv, ssq, CAST(vec_id % $PQ_K AS BIGINT) AS code FROM psb),
        pc0 AS ${pqCentSql("pa0")},
        $rounds,
        paf AS ${pqAssignSql(s"pc$PQ_ITERS")},
        pcnt AS (SELECT m, code, COUNT(*) AS cn FROM paf GROUP BY 1, 2),
        pcb AS (SELECT m, code, rv, CAST(list_sum([x*x for x in rv]) AS BIGINT) AS r_sq FROM (
                  SELECT r.m, r.code,
                    list(CAST(floor(CAST(r.sv AS DOUBLE) * 1000.0 / r.cn) AS BIGINT)
                      ORDER BY r.pos) AS rv
                  FROM (SELECT a.m, a.code, i AS pos, CAST(SUM(a.sv[i]) AS BIGINT) AS sv,
                          MAX(c.cn) AS cn
                        FROM paf a JOIN pcnt c ON c.m = a.m AND c.code = a.code,
                          range(1, ${PQ_SUB + 1}) t(i)
                        GROUP BY 1, 2, 3) r
                  GROUP BY 1, 2))"""
  }

  /** Shared oracle for the two IVF lifecycle legs: the sim_ivf_ann
    * probe over the SAME full-collection retrained index (deletes
    * never retrain), with candidates restricted to live vectors
    * (% 9 <> 4 = the tombstone set) before scoring. Both probe paths
    * — merge-on-read anti-join and compacted artifact — must
    * hash-equal this.
    */
  private def ivfDeleteSql: String =
    s"""WITH $quantSql,
        $ivfBuildSql,
        qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                 SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                 FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
               WHERE p_rn <= $IVF_PROBES),
        sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                 ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
               FROM qp JOIN af nb USING (list_id)
               WHERE nb.vec_id <> qp.query_id AND nb.vec_id % 9 <> 4),
        r AS (SELECT query_id, neighbor_id, cos_ppm,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
              FROM sc)
        SELECT query_id, rank, neighbor_id, cos_ppm FROM r
        WHERE rank <= $TOP_K ORDER BY query_id, rank"""

  /** One beam-search hop as CTEs — mirror of the Spark loop body:
    * expand the beam over the undirected edges, exact-score the new
    * frontier, fold into the visited set, re-cut the beam.
    */
  private def beamHopSql(t: Int): String =
    s"""x$t AS (SELECT DISTINCT b.query_id, e.dst AS neighbor_id
            FROM b${t - 1} b JOIN e ON e.src = b.neighbor_id),
        s$t AS (SELECT x.query_id, x.neighbor_id,
            ${cosPpmSql("qq.q_qv", "m.qv", "qq.q_sq", "m.sq")} AS cos_ppm
          FROM x$t x JOIN n m ON m.vec_id = x.neighbor_id
            JOIN qq ON qq.query_id = x.query_id
          WHERE x.neighbor_id <> x.query_id),
        v$t AS (SELECT DISTINCT query_id, neighbor_id, cos_ppm FROM
            (SELECT * FROM v${t - 1} UNION ALL SELECT * FROM s$t)),
        b$t AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_ppm DESC, neighbor_id) AS rn FROM v$t)
          WHERE rn <= $BEAM_W)"""

  val oracles: Map[String, String] = Map(
    "sim_ivf_tombstoned" -> ivfDeleteSql,
    "sim_ivf_compacted" -> ivfDeleteSql,
    // The graph traversal replayed hop by hop: the kNN graph is the
    // sim_knn_graph oracle's result, made undirected; entries, the
    // per-hop expand/score/fold/cut, and the final rerank are the
    // same integer arithmetic as the Spark loop — hash-exact.
    "sim_graph_beam_ann" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          gqp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c)
                 WHERE p_rn <= $GRAPH_PROBES),
          -- Score FIRST, then dedupe the 24-byte (query, neighbor,
          -- score) triple — cos_ppm is a pure function of the pair, so
          -- this equals dedupe-then-score, and the DISTINCT no longer
          -- materializes two 64-element vectors per candidate row (the
          -- un-projected form spilled >80 GB at sf0.1 in DuckDB —
          -- the same width argument as the Spark probe's comment).
          gsc AS (SELECT DISTINCT gqp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("gqp.q_qv", "nb.qv", "gqp.q_sq", "nb.sq")} AS cos_ppm
                 FROM gqp JOIN af nb USING (list_id)
                 WHERE nb.vec_id <> gqp.query_id),
          g AS (SELECT query_id AS src, neighbor_id AS dst FROM (
                  SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_ppm DESC, neighbor_id) AS rank
                  FROM gsc) WHERE rank <= $BEAM_GRAPH_K),
          lrk AS (SELECT list_id, vec_id, ern,
                    COUNT(*) OVER (PARTITION BY list_id) AS cnt
                  FROM (
                    SELECT af.list_id, af.vec_id,
                      ROW_NUMBER() OVER (PARTITION BY af.list_id
                        ORDER BY ${cosPpmSql("af.qv", "c.cv", "af.sq", "c.c_sq")} DESC,
                          af.vec_id) AS ern
                    FROM af JOIN $ivfFinalCent c USING (list_id))),
          lt AS (${LONG_MULTS.map(p =>
                   s"""SELECT list_id, vec_id AS src,
                     CASE WHEN (ern * $p) % cnt + 1 = ern
                          THEN ((ern * $p) % cnt + 1) % cnt + 1
                          ELSE (ern * $p) % cnt + 1 END AS t
                   FROM lrk""").mkString("\n                 UNION ALL\n                 ")}),
          le AS (SELECT DISTINCT lt.src, r2.vec_id AS dst
                 FROM lt JOIN lrk r2 ON r2.list_id = lt.list_id AND r2.ern = lt.t
                 WHERE lt.src <> r2.vec_id),
          e AS (SELECT src, dst FROM g UNION SELECT dst AS src, src AS dst FROM g
                UNION SELECT src, dst FROM le
                UNION SELECT dst AS src, src AS dst FROM le),
          qq AS (SELECT vec_id AS query_id, qv AS q_qv, sq AS q_sq FROM n
                 WHERE vec_id % 100 = 0),
          gent AS (SELECT DISTINCT list_id, vec_id FROM (
                    SELECT list_id, vec_id, ern,
                      (cnt + ${ENTRY_PER_LIST / 2 - 1}) // ${ENTRY_PER_LIST / 2} AS stride
                    FROM lrk)
                  WHERE ern <= ${ENTRY_PER_LIST / 2} OR (ern - 1) % stride = 0),
          gqpe AS (SELECT query_id, list_id FROM (
                    SELECT qq.query_id, c.list_id,
                      ROW_NUMBER() OVER (PARTITION BY qq.query_id
                        ORDER BY ${cosPpmSql("qq.q_qv", "c.cv", "qq.q_sq", "c.c_sq")} DESC,
                          c.list_id) AS p_rn
                    FROM qq, $ivfFinalCent c)
                  WHERE p_rn <= $ENTRY_PROBES),
          v0 AS (SELECT DISTINCT gqpe.query_id, m.vec_id AS neighbor_id,
                   ${cosPpmSql("qq.q_qv", "m.qv", "qq.q_sq", "m.sq")} AS cos_ppm
                 FROM gqpe JOIN gent ge USING (list_id)
                   JOIN n m ON m.vec_id = ge.vec_id
                   JOIN qq ON qq.query_id = gqpe.query_id
                 WHERE m.vec_id <> gqpe.query_id),
          b0 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos_ppm DESC, neighbor_id) AS rn FROM v0)
                 WHERE rn <= $BEAM_W),
          ${(1 to BEAM_HOPS).map(beamHopSql).mkString(",\n          ")}
          SELECT query_id, rank, neighbor_id, cos_ppm FROM (
            SELECT query_id, neighbor_id, cos_ppm,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
            FROM v$BEAM_HOPS)
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The composed-lifecycle oracle retrains the BASE index (the
    // pre-arrival %10 ∉ {0,7} collection — deletes and inserts never
    // retrain) and assigns the final live set (survivors + the
    // post-delete arrival batch) against those centroids: exactly the
    // postings the rebuild-parity REQUIRE pins the composed artifact
    // to, probed with the incremental probe width.
    "sim_ivf_lifecycle" ->
      s"""WITH $quantSql,
          bsrc AS (SELECT * FROM n WHERE vec_id % 10 NOT IN (0, 7)),
          lsrc AS (SELECT * FROM n WHERE vec_id % 10 = 7 OR vec_id % 9 <> 4),
          ${ivfBuildSqlFrom("bsrc")},
          lf AS ${ivfAssignSql(ivfFinalCent, IVF_ASSIGN_R, "lsrc")},
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 1 AND n.vec_id % 9 <> 4)
                 WHERE p_rn <= $IVF_INC_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
                 FROM qp JOIN lf nb USING (list_id)
                 WHERE nb.vec_id <> qp.query_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The LSH index rebuilt in SQL: hyperplanes as list literals, sign
    // bits → bucket, the shared probe-mask list XOR'd per query. All
    // integer math up to the final cosPpm, so hash-exact.
    "sim_lsh_ann" ->
      s"""WITH $quantSql,
          planes(pid, pv) AS (VALUES $planesValuesSql),
          sb AS (SELECT n.vec_id,
                   CASE WHEN CAST(list_sum([n.qv[i]*p.pv[i] for i in range(1, len(n.qv)+1)]) AS BIGINT) >= 0
                        THEN CAST(1 AS BIGINT) << p.pid ELSE CAST(0 AS BIGINT) END AS bit
                 FROM n, planes p),
          bk AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket FROM sb GROUP BY 1),
          v AS (SELECT n.vec_id, n.qv, n.sq, bk.bucket FROM n JOIN bk USING (vec_id)),
          qp AS (SELECT v.vec_id AS query_id, v.qv AS q_qv, v.sq AS q_sq,
                   xor(v.bucket, m.m) AS probe
                 FROM v, (SELECT unnest(CAST([${probeMasks.mkString(", ")}] AS BIGINT[])) AS m) m
                 WHERE v.vec_id % 100 = 0),
          cand AS (SELECT qp.query_id, qp.q_qv, qp.q_sq,
                     nb.vec_id AS neighbor_id, nb.qv, nb.sq
                   FROM qp JOIN v nb ON nb.bucket = qp.probe AND nb.vec_id <> qp.query_id),
          sc AS (SELECT query_id, neighbor_id,
                   ${cosPpmSql("q_qv", "qv", "q_sq", "sq")} AS cos_ppm FROM cand),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The IVF index retrained in SQL: seed lists = vec_id % LISTS, two
    // Lloyd rounds unrolled as CTE pairs (centroid sums are exact
    // integers, assignment ties break on list_id), then the probe +
    // re-rank query — bit-identical to the Spark-side trained index.
    "sim_ivf_ann" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $IVF_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
                 FROM qp JOIN af nb USING (list_id)
                 WHERE nb.vec_id <> qp.query_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The filtered-ANN oracle is the sim_ivf_ann oracle with the
    // query's label carried through the probe and the candidate join
    // restricted to same-label postings, at the over-fetch probe
    // count — the retrained index is identical.
    "sim_filtered_ann" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          qp AS (SELECT query_id, q_label, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.label AS q_label,
                     n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $FILTER_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
                 FROM qp JOIN af nb USING (list_id)
                 WHERE nb.vec_id <> qp.query_id AND nb.label = qp.q_label),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The kNN-graph oracle is the sim_ivf_ann oracle with the whole
    // collection as the query side (no % 100 sampling) — same
    // retrained index, same probe, same re-rank.
    "sim_knn_graph" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c)
                 WHERE p_rn <= $GRAPH_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
                 FROM qp JOIN af nb USING (list_id)
                 WHERE nb.vec_id <> qp.query_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id AS vec_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY vec_id, rank""",
    // Binary signatures rebuilt in SQL: one word per threshold, each
    // a sum of disjoint powers of two (bit 63 spelled as the long
    // min-value literal — DuckDB range-checks 1<<63), hamming is the
    // summed per-word bit_count(xor) on both sides, ties break on
    // neighbor_id.
    "sim_binary_quant" ->
      s"""WITH $quantSql,
          sig AS (SELECT vec_id, qv, sq,
                    [${BQ_THRESHOLDS.map(t =>
                      s"""CAST(list_sum([CASE WHEN qv[i] < $t THEN 0
                        WHEN i = 64 THEN (-9223372036854775807::BIGINT - 1)
                        ELSE (1::BIGINT << (i - 1)) END
                        for i in range(1, ${VEC_DIM + 1})]) AS BIGINT)""").mkString(", ")}] AS sg
                  FROM n),
          qs AS (SELECT vec_id AS query_id, qv AS q_qv, sq AS q_sq, sg AS q_sg
                 FROM sig WHERE vec_id % 100 = 0),
          hd AS (SELECT q.query_id, q.q_qv, q.q_sq, s.vec_id AS neighbor_id,
                   s.qv, s.sq,
                   list_sum([bit_count(xor(q.q_sg[i], s.sg[i]))
                     for i in range(1, ${BQ_THRESHOLDS.size + 1})]) AS ham
                 FROM qs q, sig s WHERE s.vec_id <> q.query_id),
          cand AS (SELECT query_id, q_qv, q_sq, neighbor_id, qv, sq FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ham ASC, neighbor_id) AS crn FROM hd)
                   WHERE crn <= $BQ_CAND),
          sc AS (SELECT query_id, neighbor_id,
                   ${cosPpmSql("q_qv", "qv", "q_sq", "sq")} AS cos_ppm FROM cand),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // The PQ index retrained in SQL: subspace split, seed codes,
    // Lloyd rounds unrolled, quantized-mean codebook, then the ADC
    // distance-table scan + exact re-rank — bit-identical to the
    // Spark-side trained index.
    "sim_pq_ann" ->
      s"""WITH $quantSql,
          $pqBuildSql,
          qsub AS (SELECT vec_id AS query_id, m, sv AS q_sv FROM psb
                   WHERE vec_id % 100 = 0),
          dt AS (SELECT q.query_id, q.m, c.code,
                   CAST(list_sum([q.q_sv[i]*c.rv[i] for i in range(1, len(q.q_sv)+1)]) AS BIGINT) AS pdot
                 FROM qsub q JOIN pcb c ON c.m = q.m),
          rsq AS (SELECT p.vec_id, CAST(SUM(c.r_sq) AS BIGINT) AS rec_sq
                  FROM paf p JOIN pcb c ON c.m = p.m AND c.code = p.code GROUP BY 1),
          ad AS (SELECT d.query_id, p.vec_id AS neighbor_id,
                   CAST(SUM(d.pdot) AS BIGINT) AS adot
                 FROM paf p JOIN dt d ON d.m = p.m AND d.code = p.code
                 WHERE p.vec_id <> d.query_id GROUP BY 1, 2),
          ap AS (SELECT a.query_id, a.neighbor_id,
                   CASE WHEN qn.sq = 0 OR r.rec_sq = 0 THEN 0
                        ELSE CAST(floor(CAST(a.adot AS DOUBLE) * 1000000.0
                          / (sqrt(CAST(qn.sq AS DOUBLE)) * sqrt(CAST(r.rec_sq AS DOUBLE)))) AS BIGINT)
                   END AS approx_ppm
                 FROM ad a
                 JOIN rsq r ON r.vec_id = a.neighbor_id
                 JOIN n qn ON qn.vec_id = a.query_id),
          cand AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY approx_ppm DESC, neighbor_id) AS crn
                     FROM ap) WHERE crn <= $PQ_CAND),
          ex AS (SELECT c.query_id, c.neighbor_id,
                   ${cosPpmSql("q.qv", "b.qv", "q.sq", "b.sq")} AS cos_ppm
                 FROM cand c
                 JOIN n q ON q.vec_id = c.query_id
                 JOIN n b ON b.vec_id = c.neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM ex)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // Both index retrainings composed: the IVF probe prunes the
    // candidate set, the PQ codebook scores it — mirror of the Spark
    // plan, CTE namespaces disjoint by construction.
    "sim_ivfpq_ann" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          $pqBuildSql,
          qp AS (SELECT query_id, list_id FROM (
                   SELECT n.vec_id AS query_id, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $IVF_PROBES),
          cand0 AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id
                    FROM qp JOIN af nb USING (list_id)
                    WHERE nb.vec_id <> qp.query_id),
          qsub AS (SELECT vec_id AS query_id, m, sv AS q_sv FROM psb
                   WHERE vec_id % 100 = 0),
          dt AS (SELECT q.query_id, q.m, c.code,
                   CAST(list_sum([q.q_sv[i]*c.rv[i] for i in range(1, len(q.q_sv)+1)]) AS BIGINT) AS pdot
                 FROM qsub q JOIN pcb c ON c.m = q.m),
          rsq AS (SELECT p.vec_id, CAST(SUM(c.r_sq) AS BIGINT) AS rec_sq
                  FROM paf p JOIN pcb c ON c.m = p.m AND c.code = p.code GROUP BY 1),
          ad AS (SELECT c0.query_id, c0.neighbor_id,
                   CAST(SUM(d.pdot) AS BIGINT) AS adot
                 FROM cand0 c0
                 JOIN paf p ON p.vec_id = c0.neighbor_id
                 JOIN dt d ON d.query_id = c0.query_id AND d.m = p.m AND d.code = p.code
                 GROUP BY 1, 2),
          ap AS (SELECT a.query_id, a.neighbor_id,
                   CASE WHEN qn.sq = 0 OR r.rec_sq = 0 THEN 0
                        ELSE CAST(floor(CAST(a.adot AS DOUBLE) * 1000000.0
                          / (sqrt(CAST(qn.sq AS DOUBLE)) * sqrt(CAST(r.rec_sq AS DOUBLE)))) AS BIGINT)
                   END AS approx_ppm
                 FROM ad a
                 JOIN rsq r ON r.vec_id = a.neighbor_id
                 JOIN n qn ON qn.vec_id = a.query_id),
          cand AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY approx_ppm DESC, neighbor_id) AS crn
                     FROM ap) WHERE crn <= $PQ_CAND),
          ex AS (SELECT c.query_id, c.neighbor_id,
                   ${cosPpmSql("q.qv", "b.qv", "q.sq", "b.sq")} AS cos_ppm
                 FROM cand c
                 JOIN n q ON q.vec_id = c.query_id
                 JOIN n b ON b.vec_id = c.neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM ex)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    "sim_range_search" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $IVF_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb.qv", "qp.q_sq", "nb.sq")} AS cos_ppm
                 FROM qp JOIN af nb USING (list_id)
                 WHERE nb.vec_id <> qp.query_id)
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_in_radius,
            CAST(MAX(cos_ppm) AS BIGINT) AS best_cos_ppm
          FROM sc WHERE cos_ppm >= $RANGE_T
          GROUP BY query_id ORDER BY query_id""",
    // The base index retrained in SQL from the filtered collection,
    // the delta assigned against the final centroids with the same
    // top-R rule, probes running over base ∪ delta — mirror of the
    // Spark incremental path.
    "sim_ivf_incremental" ->
      s"""WITH $quantSql,
          nb AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
          ${ivfBuildSqlFrom("nb")},
          nd AS (SELECT * FROM n WHERE vec_id % 10 = 0),
          da AS ${ivfAssignSql(ivfFinalCent, IVF_ASSIGN_R, "nd")},
          post AS (SELECT vec_id, qv, sq, list_id FROM af
                   UNION ALL SELECT vec_id, qv, sq, list_id FROM da),
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $IVF_INC_PROBES),
          sc AS (SELECT DISTINCT qp.query_id, nb2.vec_id AS neighbor_id,
                   ${cosPpmSql("qp.q_qv", "nb2.qv", "qp.q_sq", "nb2.sq")} AS cos_ppm
                 FROM qp JOIN post nb2 USING (list_id)
                 WHERE nb2.vec_id <> qp.query_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM sc)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // Within-list pairwise sweep over the retrained index — mirror of
    // the Spark cluster-bounded semantic dedup.
    "dedup_semantic" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          sd AS (SELECT list_id, vec_id, qv, sq FROM af WHERE rn = 1),
          dr AS (SELECT DISTINCT x.list_id, x.vec_id
                 FROM sd x JOIN sd y ON y.list_id = x.list_id AND y.vec_id < x.vec_id
                 WHERE ${cosPpmSql("x.qv", "y.qv", "x.sq", "y.sq")} >= $SEM_T),
          dc AS (SELECT list_id, CAST(COUNT(*) AS BIGINT) AS nd FROM dr GROUP BY 1)
          SELECT CAST(a.list_id AS BIGINT) AS cluster_id,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(COALESCE(MAX(dc.nd), 0) AS BIGINT) AS n_dropped
          FROM sd a LEFT JOIN dc ON dc.list_id = a.list_id
          GROUP BY a.list_id ORDER BY cluster_id""",
    "sim_outliers" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          a1f AS (SELECT vec_id, label, qv, sq, list_id FROM af WHERE rn = 1),
          sc AS (SELECT a.vec_id, a.label, a.list_id,
                   ${cosPpmSql("a.qv", "c.cv", "a.sq", "c.c_sq")} AS cos_ppm
                 FROM a1f a JOIN $ivfFinalCent c USING (list_id)),
          r AS (SELECT vec_id, label, list_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (ORDER BY cos_ppm ASC, vec_id) AS BIGINT) AS rank
                FROM sc)
          SELECT rank, vec_id, label, CAST(list_id AS BIGINT) AS list_id, cos_ppm
          FROM r WHERE rank <= $OUT_K ORDER BY rank""",
    "sim_kmeans_groups" ->
      s"""WITH $quantSql,
          $ivfBuildSql,
          counts AS (SELECT list_id, label, COUNT(*) AS c FROM af
                     WHERE rn = 1 GROUP BY 1, 2),
          r AS (SELECT list_id, label, c,
                  ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY c DESC, label) AS rn
                FROM counts),
          agg AS (SELECT list_id, CAST(SUM(c) AS BIGINT) AS n_vecs,
                    MAX(CASE WHEN rn = 1 THEN label END) AS top_label,
                    MAX(CASE WHEN rn = 1 THEN c END) AS top_n
                  FROM r GROUP BY 1)
          SELECT CAST(list_id AS BIGINT) AS cluster_id, n_vecs, top_label,
            CAST(FLOOR(CAST(top_n AS DOUBLE) * 1000000.0 / n_vecs) AS BIGINT) AS purity_ppm
          FROM agg ORDER BY cluster_id""",
    "sim_topk_bruteforce" ->
      s"""WITH $quantSql,
          p AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
                  CAST(floor(CAST(CAST(list_sum([qq.qv[i]*nn.qv[i] for i in range(1, len(qq.qv)+1)]) AS BIGINT) AS DOUBLE)
                    * 1000000.0 / (sqrt(CAST(qq.sq AS DOUBLE))*sqrt(CAST(nn.sq AS DOUBLE)))) AS BIGINT) AS cos_ppm
                FROM n qq JOIN n nn ON qq.vec_id % 100 = 0 AND nn.vec_id <> qq.vec_id),
          r AS (SELECT query_id, neighbor_id, cos_ppm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_ppm DESC, neighbor_id) AS BIGINT) AS rank
                FROM p)
          SELECT query_id, rank, neighbor_id, cos_ppm FROM r
          WHERE rank <= $TOP_K ORDER BY query_id, rank""",
    // Greedy MMR unrolled: round t excludes the prior picks, computes
    // each survivor's max similarity to the selected set, and takes
    // the (7·rel − 3·maxSim, neighbor_id) argmax — the same integer
    // objective and tie order as the Spark loop.
    "sim_mmr_rerank" -> {
      val rounds = (1 to MMR_K).map(mmrRoundSql).mkString(",\n          ")
      val finals = (1 to MMR_K)
        .map(t => s"""SELECT query_id, CAST($t AS BIGINT) AS sel_rank, neighbor_id,
              cos_ppm, cos_ppm * 7 - max_sim * 3 AS mmr_score FROM p$t""")
        .mkString("\n          UNION ALL ")
      s"""WITH $quantSql,
          cand AS (SELECT query_id, neighbor_id, qv, sq, cos_ppm FROM (
            SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id, nn.qv, nn.sq,
              ${cosPpmSql("qq.qv", "nn.qv", "qq.sq", "nn.sq")} AS cos_ppm,
              ROW_NUMBER() OVER (PARTITION BY qq.vec_id
                ORDER BY ${cosPpmSql("qq.qv", "nn.qv", "qq.sq", "nn.sq")} DESC,
                  nn.vec_id) AS crank
            FROM n qq JOIN n nn ON qq.vec_id % 100 = 0 AND nn.vec_id <> qq.vec_id)
            WHERE crank <= $MMR_C),
          sims AS (SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
              ${cosPpmSql("a.qv", "b.qv", "a.sq", "b.sq")} AS sim_ppm
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
          $rounds
          SELECT * FROM ($finals)
          ORDER BY query_id, sel_rank"""
    },
    // IVF-fed MMR: retrain the index in SQL (same unrolled Lloyd
    // rounds), probe for each query's top-MMR_C candidates, then run
    // the same unrolled greedy rounds — the `cand`/`sims` CTE names
    // match what mmrRoundSql expects.
    "sim_mmr_ann" -> {
      val rounds = (1 to MMR_K).map(mmrRoundSql).mkString(",\n          ")
      val finals = (1 to MMR_K)
        .map(t => s"""SELECT query_id, CAST($t AS BIGINT) AS sel_rank, neighbor_id,
              cos_ppm, cos_ppm * 7 - max_sim * 3 AS mmr_score FROM p$t""")
        .mkString("\n          UNION ALL ")
      s"""WITH $quantSql,
          $ivfBuildSql,
          qp AS (SELECT query_id, q_qv, q_sq, list_id FROM (
                   SELECT n.vec_id AS query_id, n.qv AS q_qv, n.sq AS q_sq, c.list_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${cosPpmSql("n.qv", "c.cv", "n.sq", "c.c_sq")} DESC, c.list_id) AS p_rn
                   FROM n, $ivfFinalCent c WHERE n.vec_id % 100 = 0)
                 WHERE p_rn <= $IVF_PROBES),
          cand0 AS (SELECT DISTINCT qp.query_id, qp.q_qv, qp.q_sq,
                      nb.vec_id AS neighbor_id, nb.qv, nb.sq
                    FROM qp JOIN af nb USING (list_id)
                    WHERE nb.vec_id <> qp.query_id),
          sc AS (SELECT query_id, neighbor_id, qv, sq,
                   ${cosPpmSql("q_qv", "qv", "q_sq", "sq")} AS cos_ppm FROM cand0),
          cand AS (SELECT query_id, neighbor_id, qv, sq, cos_ppm FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_ppm DESC, neighbor_id) AS crank FROM sc)
                   WHERE crank <= $MMR_C),
          sims AS (SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
              ${cosPpmSql("a.qv", "b.qv", "a.sq", "b.sq")} AS sim_ppm
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
          $rounds
          SELECT * FROM ($finals)
          ORDER BY query_id, sel_rank"""
    },
    "sim_centroid_classify" ->
      s"""WITH $quantSql,
          ex AS (SELECT label, i AS pos, qv[i] AS v
                 FROM n, range(1, ${VEC_DIM + 1}) t(i)),
          cs AS (SELECT label, pos, CAST(SUM(v) AS BIGINT) AS sv FROM ex GROUP BY 1, 2),
          cent AS (SELECT label AS c_label, list(sv ORDER BY pos) AS cv FROM cs GROUP BY 1),
          cn AS (SELECT c_label, cv, CAST(list_sum([x*x for x in cv]) AS BIGINT) AS c_sq FROM cent),
          scored AS (SELECT n.vec_id, n.label, cn.c_label,
                  CAST(floor(CAST(CAST(list_sum([n.qv[i]*cn.cv[i] for i in range(1, len(n.qv)+1)]) AS BIGINT) AS DOUBLE)
                    * 1000000.0 / (sqrt(CAST(n.sq AS DOUBLE))*sqrt(CAST(cn.c_sq AS DOUBLE)))) AS BIGINT) AS cos_ppm
                FROM n, cn),
          best AS (SELECT vec_id, label, c_label,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_ppm DESC, c_label) AS rn
                FROM scored)
          SELECT label, COUNT(*) AS n_vecs,
            COUNT(*) FILTER (c_label = label) AS n_correct
          FROM best WHERE rn = 1 GROUP BY label ORDER BY label""")
}
