package perfbench

/** The per-layer metrics a traced run reports, in `BENCHMARK.json` order.
  * Every workload reports all of them; a layer a workload does not
  * exercise reads 0, which is the prediction for that workload.
  */
object Layers {
  /** Public calls timed per call (`.ms`, `.jobs`). */
  val calls: Seq[String] = Seq("IngestJob.run", "UploadJob.pollOnce", "StreamingIngest.startUpsert",
    "CustomerStore.delete", "CustomerStore.pendingPointLookup", "CustomerStore.pendingRangeRead",
    "CustomerStore.compact")

  /** `graft.util.Labeled` phases (`.ms`, `.jobs` per public call). */
  val phases: Seq[String] = Seq("store.insert_classify", "store.merge_classify", "store.merge_counts",
    "store.merge_preimage", "store.ack_preimage", "store.delete_probe", "store.stage_data",
    "store.stage_stats", "store.stage_changes", "store.unlabeled", "sim.ivf_train",
    "sim.knn_graph_build", "sim.beam_layers_build", "sim.beam_traversal")

  val catalog: Seq[(String, String)] =
    Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.job_wall_ms" -> "ms", "spark.ms_per_job" -> "ms", "spark.shuffle_write_bytes" -> "B",
      "spark.executor_run_ms" -> "ms", "spark.busy_share" -> "ratio",
      "spark.unattributed_jobs" -> "count",
      "catalyst.actions" -> "count", "catalyst.analysis_ms" -> "ms",
      "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "Tables.jobs" -> "count", "Tables.ms" -> "ms",
      "query.construct_ms" -> "ms", "query.construct_jobs" -> "count",
      "query.action_ms" -> "ms", "query.action_jobs" -> "count") ++
    phases.flatMap(p => Seq(s"$p.ms" -> "ms", s"$p.jobs" -> "count")) ++
    QueryMix.Families.map { case (f, _) => s"family.$f.ms" -> "ms" } ++
    calls.flatMap(c => Seq(s"$c.ms" -> "ms", s"$c.jobs" -> "count")) ++
    Seq(
      "HttpSink.busy_ms" -> "ms", "pollOnce.non_http_ms" -> "ms", "HttpSink.posts" -> "count",
      "HttpSink.ack_ratio" -> "ratio", "HttpSink.max_inflight" -> "count", "crm.handler_ms" -> "ms",
      "stream.triggerExecution_ms" -> "ms", "stream.addBatch_ms" -> "ms",
      "stream.walCommit_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
      "stream.getBatch_ms" -> "ms", "stream.latestOffset_ms" -> "ms",
      "stream.start_overhead_ms" -> "ms", "stream.input_rows" -> "count",
      "CustomerStore.pendingPointLookup.files_kept" -> "count",
      "CustomerStore.pendingPointLookup.files_total" -> "count",
      "CustomerStore.pendingRangeRead.files_kept" -> "count",
      "CustomerStore.pendingRangeRead.files_total" -> "count",
      "store.live_files" -> "count", "store.bytes" -> "B",
      "self_ms.driver" -> "ms", "self_ms.jobs" -> "ms",
      "trace.untraced_latency_ms.p50" -> "ms", "trace.traced_latency_ms.p50" -> "ms",
      "trace.overhead_ms" -> "ms")
}
