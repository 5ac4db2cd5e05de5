package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Physical-plan regression net: the optimizations the 100 TB story
  * depends on (filter pushdown, column pruning, broadcast dims,
  * semi/anti join shapes, shared window exchanges) must stay in the
  * plan — a silent regression here would not fail correctness, only
  * scale.
  */
class PlanContractsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).length

  test("q1 pushes the shipdate filter into the scan and prunes columns") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "date filter not pushed to parquet")
    assert(!p.contains("l_orderkey"), "scan reads columns q1 never uses")
  }

  test("q5 star join broadcasts every dimension at test SF") {
    // nation/region via explicit hint, customer via size-based planning
    // (it fits the auto-broadcast threshold at sf0.001).
    val p = plan("q5_revenue_by_nation")
    assert(count(p, "BroadcastHashJoin") >= 3,
      "customer/nation/region must broadcast, never shuffle")
  }

  /** Capture a query's initial physical plan with size-based broadcast
    * disabled — what the planner would do when every SF-scaling table
    * is too big to broadcast, i.e. the 100 TB shape. Explicit hints
    * (fixed-cardinality dims) survive; anything else must shuffle.
    */
  private def planAtScale(name: String): String = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q7 at scale: nation aliases still broadcast, supplier/customer shuffle on their keys") {
    val p = planAtScale("q7_nation_volume")
    assert(count(p, "BroadcastHashJoin") === 2,
      s"exactly the two fixed-cardinality nation aliases may carry a broadcast hint:\n$p")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 3,
      s"lineitem⋈orders and the supplier/customer joins must be keyed shuffle joins at scale:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q7 must never degrade to an unkeyed join:\n$p")
  }

  test("q10 at scale: customer join shuffles on the key, no forced broadcast") {
    val p = planAtScale("q10_returned_items")
    assert(count(p, "BroadcastHashJoin") === 0,
      s"q10 has no fixed-cardinality dim — nothing may carry a broadcast hint:\n$p")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 2,
      s"orders and customer joins must be keyed shuffle joins at scale:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must stay the distributed top-k operator at scale")
  }

  test("graph_nation_rank at scale: only the two nation aliases broadcast, supplier/customer keyed") {
    // The edge derivation is the q7 shape (lineitem⋈orders⋈customer⋈
    // supplier + two 25-row nation aliases). supplier/customer scale
    // with SF, so at 100 TB they must shuffle on their keys; only the
    // fixed-cardinality nation aliases may carry a broadcast hint.
    // Pin tradeEdges itself — the query checkpoints it, which hides
    // the derivation joins from the final plan.
    val p = {
      val conf = spark.conf
      val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Graph.tradeEdges(spark, sf).queryExecution.executedPlan.toString
      finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    assert(count(p, "BroadcastHashJoin") === 2,
      s"exactly the two nation aliases may broadcast — supplier scales with SF:\n$p")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 3,
      s"orders/customer/supplier joins must be keyed shuffle joins at scale:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"edge derivation must never degrade to an unkeyed join:\n$p")
  }

  test("graph_triangles at scale: wedge join and closing probe stay keyed, top-15 distributed") {
    val p = planAtScale("graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle joins must never degrade to an unkeyed join:\n$p")
    // Wedge arms meet on the apex key, the closing probe on the (b, c)
    // edge key — both shuffle joins once the edge list outgrows the
    // broadcast threshold.
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 2,
      s"wedge and closing joins must be keyed shuffle joins at scale:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-15 must stay the distributed top-k operator")
  }

  test("phrase search probes the postings via broadcast of the phrase terms — never a corpus self-join") {
    val p = plan("text_search_phrase")
    // Each term-side probe broadcasts the ≤5-phrase term table against
    // the persisted postings; the adjacency join then runs on the two
    // RETRIEVED lists. A plan that self-joins the full postings on
    // (doc, pos) would be quadratic in posting mass at scale.
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"phrase term probes must broadcast the tiny phrase table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phrase search must stay keyed:\n$p")
  }

  test("q18 aggregates lineitem BEFORE the joins and plans the top-100 as TakeOrderedAndProject") {
    val p = plan("q18_large_orders")
    // The HAVING aggregate must sit below the joins: the plan's first
    // (deepest) hash aggregate keys on l_orderkey alone, and no
    // aggregate appears above a join (re-grouping the joined rows
    // would shuffle the enriched fact instead of the filtered keys).
    val aggIdx = p.indexOf("HashAggregate(keys=[l_orderkey")
    assert(aggIdx >= 0, s"per-order quantity aggregate missing or not keyed on l_orderkey:\n$p")
    val joinIdx = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(p.indexOf).filter(_ >= 0).min
    assert(joinIdx < aggIdx,
      s"joins must consume the aggregated/filtered orders (aggregate printed below them), not feed an aggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-100 must be the distributed top-k operator")
    val scale = planAtScale("q18_large_orders")
    assert(!scale.contains("BroadcastNestedLoopJoin") && !scale.contains("CartesianProduct"),
      s"q18 lost a join key at scale:\n$scale")
  }

  test("q3/q5 at scale: customer joins degrade to keyed shuffle joins, never nested-loop") {
    for (q <- Seq("q3_shipping_priority", "q5_revenue_by_nation")) {
      val p = planAtScale(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q lost a join key at scale:\n$p")
      assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 2,
        s"$q fact/customer joins must shuffle on their keys at scale:\n$p")
    }
  }

  test("EXISTS / NOT EXISTS compile to semi and anti joins") {
    assert(plan("join_semi_big_lines").contains("LeftSemi"))
    assert(plan("join_anti_no_orders").contains("LeftAnti"))
  }

  test("SQL subqueries decorrelate: EXISTS pair to semi+anti, scalar aggregates to joins") {
    val p = plan("subquery_exists_urgent")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "correlated EXISTS/NOT EXISTS must rewrite to semi/anti joins, not per-row subplans")
    val sc = plan("subquery_scalar_above_avg")
    assert(!sc.toLowerCase.contains("subqueryexec") && sc.contains("Join"),
      "correlated scalar aggregates must decorrelate into aggregate joins")
  }

  test("outlier bottom-k plans as TakeOrderedAndProject, not a global-window sort") {
    val p = plan("sim_outliers")
    assert(p.contains("TakeOrderedAndProject"),
      "collection-wide bottom-k must be the distributed top-k operator; " +
        "the rank window may only run over its k-row result")
  }

  test("range join builds a broadcast loop over the tiny band table") {
    val p = plan("range_join_value_bands")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "band lookup must broadcast the 5-row side, not shuffle events")
  }

  test("sessionize plans exactly one user_id exchange for both windows and the groupBy") {
    val p = plan("events_sessionize")
    assert(count(p, "Exchange hashpartitioning\\(user_id") === 1,
      "lag/running-sum windows and the aggregate must share one shuffle")
  }

  test("windowed funnel: the three stacked running-min windows share one user_id exchange") {
    // The whole point of the window formulation (vs the quadratic
    // view×click per-user join) is ONE sort per user stream — the
    // next-purchase, next-click, and next-converting-click mins must
    // not each re-shuffle.
    val p = plan("events_funnel_windowed")
    // Exactly one SINGLE-KEY user_id exchange (the sort all three
    // windows stack on); the multi-distinct aggregate's expand shuffle
    // has a composite key and is counted separately.
    assert(count(p, "Exchange hashpartitioning\\(user_id#\\d+L, \\d+\\)") === 1,
      s"stacked windows must share one user_id shuffle:\n$p")
    assert(count(p, "\\bWindow \\[") === 3,
      s"expected the three stacked running-min windows:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "funnel must stay join-free")
  }

  test("pattern-negation: one user_id exchange, stacked windows, join-free") {
    // The MATCH_RECOGNIZE-with-negation shape must stay one sort per
    // user stream: running click prefix + the two following-purchase
    // mins stack on the same (us, event_id) order, and the no-click-
    // between test is a prefix equality, never a per-pair join.
    val p = plan("events_pattern_negation")
    assert(count(p, "Exchange hashpartitioning\\(user_id#\\d+L, \\d+\\)") === 1,
      s"stacked windows must share one user_id shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"),
      s"pattern negation must stay join-free:\n$p")
  }

  test("repetition scoring never aggregates — per-doc metrics stay in the projection") {
    val p = plan("text_repetition")
    assert(!p.contains("Aggregate"),
      "dup-n-gram/top-token metrics must not compile to explode+groupBy")
  }

  test("brute-force top-k broadcasts the query side") {
    val p = plan("sim_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set must broadcast against the partitioned collection")
  }

  test("pii scrub is projection + one tiny per-source aggregate — no joins, no windows") {
    val p = plan("text_pii_scrub")
    assert(!p.contains("Join"), "stateless per-row regex op must not join")
    assert(!p.contains("Window"), "stateless per-row regex op must not window")
    assert(count(p, "Exchange hashpartitioning\\(source") === 1,
      "exactly the per-source aggregation exchange")
  }

  test("shard export reads only the columns it profiles") {
    val p = plan("corpus_shard_export")
    assert(!p.contains("doc_id"), "shard profile must prune doc_id from the scan")
    assert(!p.contains("lang,"), "shard profile must prune lang from the scan")
  }

  test("domain caps share one source exchange between the window and the rollup") {
    val p = plan("corpus_domain_caps")
    assert(count(p, "Exchange hashpartitioning\\(source") === 1,
      "row_number window and per-source aggregate must share the shuffle")
  }

  test("integer moments compile to one aggregation pass — no joins, no windows") {
    val p = plan("stat_moments_corr")
    assert(!p.contains("Join"), "moment sums must not join")
    assert(!p.contains("Window"), "moment sums must not window")
    assert(count(p, "Exchange hashpartitioning\\(l_returnflag") === 1,
      "exactly the per-flag aggregation exchange")
  }

  test("partitionBy(lang) layout prunes partitions for a lang filter") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune-plan-").toString
    try {
      graft.Tables(spark, sf, "documents")
        .write.partitionBy("lang").parquet(s"$tmp/corpus")
      val p = spark.read.parquet(s"$tmp/corpus")
        .filter(org.apache.spark.sql.functions.col("lang") === "en")
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(lang"),
        "lang filter must prune directories, not scan and filter rows")
    } finally {
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("gap fill broadcasts the grid side of the left join") {
    val p = plan("events_gapfill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the hours x types grid must broadcast, never shuffle the counts")
  }

  test("containment audit is a word-count shuffle + scalar rollup — no joins, no windows") {
    val p = plan("dedup_containment_audit")
    assert(!p.contains("Join"), "df audit must not join")
    assert(!p.contains("Window"), "df audit must not window")
    assert(count(p, "Exchange hashpartitioning\\(g") === 1,
      "exactly the gram-df aggregation exchange")
  }

  test("IVF probe stage broadcasts the centroid table") {
    // The ANN query's centroid join must broadcast (32 rows); the
    // postings join shuffles on list_id — never the other way around.
    val p = plan("sim_ivf_ann")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast against the query set")
  }

  test("incremental LSH probe is a keyed equi-join — no cartesian anywhere") {
    // The delta-probe join must keep its (band, hash) key: a lost key
    // compiles to a cross product that only explodes at scale.
    val p = plan("dedup_incremental_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"delta probe lost its equi-join key:\n$p")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)") >= 1,
      "probe join missing")
  }

  test("asOf and feedSince plan as one graft-store scan, no exchange") {
    val store = new graft.pipeline.CustomerStore(spark, tmpDir("plan-asof") + "/store")
    store.insertNew(graft.pipeline.Ingest.enrich {
      import spark.implicits._
      Seq((1L, "A", "A", "a@example.com", "p")).toDF(
        "id", "first_name", "last_name", "email", "phone")
    }): Unit
    // Time travel and the feed are reads of the connector: the replay
    // runs inside the scan (one delta task), never as a shuffle + window.
    for ((what, df, scan) <- Seq(
        ("asOf(1)", store.asOf(1L), "GraftStore path=.*versionAsOf=1"),
        ("feedSince(0, 1)", store.feedSince(0L, 1L),
          "GraftStoreChanges path=.*commits=\\(0, 1\\]"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(count(p, "BatchScan") === 1 && count(p, scan) === 1,
        s"$what must plan as one graft-store scan:\n$p")
      assert(!p.contains("Exchange") && !p.contains("Window"),
        s"$what must not shuffle or window:\n$p")
    }
  }

  test("q10 top-20 plans as TakeOrderedAndProject with the flag filter pushed") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-20 must be the distributed top-k operator, not a full sort")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"return-flag filter not pushed to the parquet scan:\n$p")
  }

  test("span excision: keyed gram join, one doc_id exchange shared by windows and rollups") {
    val p = plan("dedup_span_excision")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram join or join-back lost its key:\n$p")
    assert(count(p, "Exchange hashpartitioning\\(doc_id") === 1,
      s"the island windows and both rollups must reuse ONE doc_id shuffle:\n$p")
  }

  test("entity resolution blocks as a keyed equi-join — no cartesian anywhere") {
    val p = plan("dedup_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation lost its block key:\n$p")
  }

  test("semantic dedup's within-cluster sweep joins on list_id, never cross-product") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair sweep escaped its cluster bound:\n$p")
  }

  test("q4 compiles the EXISTS to a semi join that stays keyed at scale") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    val scale = planAtScale("q4_order_priority")
    assert(!scale.contains("BroadcastNestedLoopJoin") && !scale.contains("CartesianProduct"),
      s"the lateness conjunct must ride the orderkey equi-join, not replace it:\n$scale")
  }

  test("q6 is a pure pushed-scan aggregate — no joins, filters at the parquet reader") {
    // The scan node caps each metadata string (PushedFilters, ...) at
    // 100 chars; widen it so the quantity cap (last in the pushed
    // list) stays visible in the plan string.
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val p = try plan("q6_forecast_revenue")
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(!p.contains("Join"), s"q6 must not join:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)"),
      s"quantity cap not pushed to the parquet scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate window not pushed to the parquet scan:\n$p")
    assert(!p.contains("l_orderkey"), "scan reads columns q6 never uses")
  }

  test("q8 at scale: exactly the nation/nation/region hints broadcast, the rest shuffle keyed") {
    val p = planAtScale("q8_market_share")
    assert(count(p, "BroadcastHashJoin") === 3,
      s"exactly n1/n2/region may broadcast — part/supplier/customer scale with SF:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q8 lost a join key at scale:\n$p")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") >= 4,
      s"part/orders/customer/supplier joins must be keyed shuffle joins at scale:\n$p")
  }

  test("q13 at scale: the outer join shuffles on custkey, no forced broadcast") {
    val p = planAtScale("q13_customer_distribution")
    assert(count(p, "BroadcastHashJoin") === 0,
      s"customer and orders both scale with SF — nothing may carry a hint:\n$p")
    assert(p.contains("LeftOuter"), s"zero-order customers need the outer join's null side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q13 lost its join key at scale:\n$p")
  }

  test("q15 computes the aggregate once and probes the 1-row max via broadcast") {
    val p = plan("q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"),
      s"the scalar max must broadcast back onto the per-supplier aggregate:\n$p")
    val scale = planAtScale("q15_top_supplier")
    assert(!scale.contains("CartesianProduct"),
      s"q15 max probe lost its key at scale:\n$scale")
  }

  test("q17 decorrelates the per-part average into keyed aggregate joins") {
    val p = planAtScale("q17_small_quantity")
    assert(p.contains("HashAggregate(keys=[l_partkey") ||
      p.contains("HashAggregate(keys=[m_partkey"),
      s"per-part moments aggregate missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"probe join lost its partkey at scale:\n$p")
  }

  test("q19's disjunctive predicate rides ONE partkey equi-join") {
    val p = planAtScale("q19_disjunctive_revenue")
    assert(count(p, "(SortMergeJoin|ShuffledHashJoin)") === 1,
      s"the three OR branches share one keyed join — never a union of three scans or a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q19 degraded to an unkeyed join:\n$p")
  }

  test("q12 pushes the shipdate window to the scan; lateness rides the orderkey join at scale") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val p = try plan("q12_shipmode_priority")
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate window not pushed to the parquet scan:\n$p")
    val scale = planAtScale("q12_shipmode_priority")
    assert(count(scale, "(SortMergeJoin|ShuffledHashJoin)") === 1,
      s"the lateness predicate must ride ONE keyed orderkey join:\n$scale")
    assert(!scale.contains("BroadcastNestedLoopJoin") && !scale.contains("CartesianProduct"),
      s"q12 degraded to an unkeyed join:\n$scale")
  }

  test("q21: EXISTS/NOT-EXISTS pair plans as semi+anti joins keyed on orderkey at scale") {
    val p = planAtScale("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), s"the other-supplier EXISTS must plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"the no-other-late NOT EXISTS must plan as an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the suppkey inequality must ride the orderkey equi-joins as a residual:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must stay the distributed top-k operator")
    assert(count(p, "BroadcastHashJoin") === 1,
      s"only the 25-row nation dim may broadcast at scale:\n$p")
  }

  test("q22: anti join keyed at scale; only the 1-row scalar average broadcasts") {
    val p = planAtScale("q22_dormant_customers")
    assert(p.contains("LeftAnti"), s"dormancy must plan as an anti join:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row average may be an unkeyed broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q22 cartesian:\n$p")
  }

  test("model filter apply is a stateless projection + one source aggregate") {
    val p = SparkEntry.queries("corpus_model_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"apply pass must not join anything:\n$p")
    // The literal pocket weights are folded into the projection; the
    // only exchanges are the kernel round-robin and the source groupBy.
    assert(count(p, "Exchange hashpartitioning") <= 1,
      s"apply pass should shuffle only for the source aggregate:\n$p")
  }
}
