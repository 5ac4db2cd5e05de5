package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The repository benchmark. One process runs one workload closed-loop
  * with one client and prints, as its last stdout line, one JSON object:
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
  * separate traced phase (`--trace 1`). Every figure the workload has is
  * also printed above it by name, with its unit and sample count.
  *
  * Usage: perfbench.Main --workload pipeline|query_mix
  *   --seed N --seconds S --trace 0|1 --work DIR --sf-dir DIR [--cores N]
  *   [--pins FILE] [--spans-out FILE] [--pin-out FILE] [--selfcheck]
  */
object Main {
  val Workloads: Seq[String] = Seq("pipeline", "query_mix")

  def main(args: Array[String]): Unit = {
    // `--key value` pairs; a `--flag` not followed by a value maps to "".
    val a = args.indices.filter(i => args(i).startsWith("--")).map { i =>
      args(i).drop(2) -> args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("")
    }.toMap
    val selfcheck = a.contains("selfcheck")
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new File(a.getOrElse("work", sys.error("--work is required"))).getAbsoluteFile
    val sfDir = a.getOrElse("sf-dir", sys.error("--sf-dir is required"))

    val spark = session(cores, work)
    val probe = new Probe(spark)
    val ctx = new Ctx(spark, probe, seed, cores, work, tiny = selfcheck)
    val w: Workload = workload match {
      case "pipeline" => new Pipeline(ctx)
      case "query_mix" => new QueryMix(ctx, sfDir, QueryMix.loadPins(new File(a.getOrElse("pins", ""))))
    }
    val code =
      try {
        if (selfcheck) selfCheck(workload, w)
        else measure(workload, w, ctx, seconds, trace, a)
      } finally {
        w.close()
        spark.stop()
      }
    System.out.flush()
    sys.exit(code)
  }

  private def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Tiny run of one workload: its checks must pass, and must fail once
    * an expected value is corrupted.
    */
  private def selfCheck(name: String, w: Workload): Int = {
    w.setUp()
    w.run(0.5)
    val clean = w.check(mutate = false)
    val broken = w.check(mutate = true)
    clean.foreach(v => println(s"[perfbench] selfcheck $name violation: $v"))
    val ok = clean.isEmpty && broken.nonEmpty
    println(s"[perfbench] selfcheck $name: ${if (ok) "ok" else "FAIL"} " +
      s"(${clean.size} violations clean, ${broken.size} with a corrupted expectation)")
    if (ok) 0 else 1
  }

  private def measure(name: String, w: Workload, ctx: Ctx, seconds: Double, trace: Boolean,
      a: Map[String, String]): Int = {
    // One set-up per run: each is a cold start of every code path the
    // workload times (the first round costs 2-3x a warm one), and a second
    // would not fit the run budget. The median over runs is what is bounded.
    val t0 = System.nanoTime()
    w.setUp()
    val setupS = (System.nanoTime() - t0) / 1e9
    val plain = w.run(seconds)
    // Traced run: the untraced phase above, then a traced one on the same
    // state. The overhead (traced minus untraced median) also holds the
    // warm-up still going on between two consecutive phases.
    val traced = if (!trace) None else {
      ctx.probe.start()
      val p = w.run(seconds)
      w.tracedOnly()
      ctx.probe.stop()
      Some(p)
    }
    val layerMap = traced.map(t => generic(ctx, t, plain) ++ w.layers())
    val violations = w.check(mutate = false)
    a.get("pin-out").foreach { f =>
      w match {
        case q: QueryMix =>
          Files.writeString(new File(f).toPath,
            q.fingerprints.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
        case _ =>
      }
    }
    traced.foreach(_ => a.get("spans-out").foreach(f => writeSpans(ctx.probe, new File(f))))

    // The output check is one more op: it fails when any check does.
    val failed = ctx.failed + (if (violations.isEmpty) 0 else 1)
    val attempted = ctx.attempted + 1
    val correct = failed == 0
    def show(n: String, v: Double, unit: String, note: String) =
      println(f"[perfbench] $name%-13s $n%-34s ${Stats.num(v)}%14s $unit%-7s $note")
    show("setup_s", setupS, "s", "")
    show("error_rate", failed.toDouble / attempted, "ratio", s"$failed of $attempted ops")
    plain.named.foreach(m => show(m.name, m.value, m.unit, m.note))
    ctx.errors.foreach(e => println(s"[perfbench] error: $e"))
    violations.take(20).foreach(v => println(s"[perfbench] check failed: $v"))

    val metrics: Seq[(String, Double, String)] = layerMap match {
      case None =>
        require(plain.latencyMs.nonEmpty, s"$name completed no operation in ${seconds}s")
        Seq(
          ("latency_ms.p50", Stats.hd(plain.latencyMs, 50), "ms"),
          ("latency_ms.tail", Stats.hd(plain.latencyMs, plain.tailPct), "ms"),
          ("items_per_s", plain.items / plain.wallS, "1/s"),
          ("setup_s", setupS, "s"))
      case Some(m) =>
        selfTable(ctx.probe).foreach(println)
        Layers.catalog.map { case (n, unit) => (n, m.getOrElse(n, 0.0), unit) }
    }
    println(metrics.map { case (n, v, u) =>
      s"${Stats.str(n)}:{${Stats.str("value")}:${Stats.num(v)},${Stats.str("unit")}:${Stats.str(u)}}"
    }.mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}"))
    0
  }

  /** Layer metrics every workload has: Spark scheduler, Catalyst, base
    * table resolution, labeled phases, per-call figures and self time.
    */
  private def generic(ctx: Ctx, traced: Phase, untraced: Phase): Map[String, Double] = {
    val p = ctx.probe
    val spans = p.opSpans
    val roots = spans.filter(_.parent == 0)
    val ops = math.max(1, roots.size).toDouble
    val jobs = p.allJobs
    val queryOps = roots.filter(_.name.startsWith("query:")).map(_.id).toSet
    def wall(js: Seq[p.Job]) = js.map(j => j.endMs - j.startMs).sum
    val plans = p.plannings.toSeq
    val perCall = Layers.calls.flatMap { c =>
      val ss = roots.filter(_.name == c)
      val ids = ss.map(_.id).toSet
      Seq(s"$c.ms" -> Stats.mean(ss.map(_.ms)),
        s"$c.jobs" -> jobs.count(j => ids.contains(j.op)).toDouble / math.max(1, ss.size))
    }
    val phases = Layers.phases.flatMap { ph =>
      val js = jobs.filter { j =>
        val l = p.jobLayer(j)
        if (ph == "store.unlabeled") l == "unlabeled" && j.op != 0 && !queryOps.contains(j.op)
        else l == ph
      }
      Seq(s"$ph.ms" -> wall(js) / ops, s"$ph.jobs" -> js.size / ops)
    }
    val sub = Seq("query.construct", "query.action").flatMap { n =>
      val ss = spans.filter(_.name == n)
      val ids = ss.map(_.id).toSet
      Seq(s"${n}_ms" -> Stats.mean(ss.map(_.ms)),
        s"${n}_jobs" -> jobs.count(j => ids.contains(j.span)).toDouble / math.max(1, ss.size))
    }
    val all = p.allSpans
    val byOp = all.filter(_.kind != "op").groupBy(_.op)
    val covered = roots.map(r => Probe.covered(r, byOp.getOrElse(r.id, Nil)))
    val tables = jobs.filter(_.tables)
    val p50 = Stats.hd(untraced.latencyMs, 50)
    val tracedP50 = Stats.hd(traced.latencyMs, 50)
    Map(
      "spark.jobs" -> jobs.size / ops,
      "spark.stages" -> jobs.map(_.stages).sum / ops,
      "spark.tasks" -> jobs.map(_.tasks).sum / ops,
      "spark.job_wall_ms" -> wall(jobs) / ops,
      "spark.ms_per_job" -> wall(jobs) / math.max(1, jobs.size),
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleBytes).sum / ops,
      "spark.executor_run_ms" -> jobs.map(_.runMs).sum / ops,
      "spark.busy_share" -> jobs.map(_.runMs).sum / (p.wallMs * ctx.cores),
      "spark.unattributed_jobs" -> jobs.count(_.op == 0).toDouble,
      "catalyst.actions" -> plans.size / ops,
      "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum / ops,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum / ops,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum / ops,
      "Tables.jobs" -> tables.size / ops,
      "Tables.ms" -> wall(tables) / ops,
      "self_ms.driver" -> Stats.mean(roots.zip(covered).map { case (r, c) => r.ms - c }),
      "self_ms.jobs" -> Stats.mean(covered),
      "trace.untraced_latency_ms.p50" -> p50,
      "trace.traced_latency_ms.p50" -> tracedP50,
      "trace.overhead_ms" -> (tracedP50 - p50)
    ) ++ perCall ++ phases ++ sub
  }

  /** Self time per span name, for people reading a traced run. */
  private def selfTable(p: Probe): Seq[String] =
    "[perfbench] self time by layer (count, total ms, self ms):" +:
      p.selfTimes.toSeq.sortBy(-_._2._3).take(40).map { case (n, (c, t, s)) =>
        f"[perfbench]   $n%-44s $c%6d $t%12.1f $s%12.1f"
      }

  private def writeSpans(p: Probe, f: File): Unit = {
    f.getParentFile.mkdirs()
    val lines = p.allSpans.map { s =>
      s"""{"id":${s.id},"name":${Stats.str(s.name)},"kind":"${s.kind}","start_ms":${Stats.num(s.startMs)},""" +
        s""""end_ms":${Stats.num(s.endMs)},"parent":${s.parent},"op":${s.op}}"""
    }
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
