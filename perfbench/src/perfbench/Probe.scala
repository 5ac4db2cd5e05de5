package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the outermost benchmark span
  * it belongs to (0 = unattributed); `parent` is the enclosing span.
  */
final case class Span(id: Long, name: String, kind: String, startMs: Double, endMs: Double,
    parent: Long, op: Long) {
  def ms: Double = endMs - startMs
}

/** Per-layer tracing from outside the program. The benchmark wraps each
  * public call in [[span]]; the span id rides a Spark local property, so
  * every job the call submits (also from threads it starts) carries it.
  * Jobs, stream triggers and Catalyst planning are recorded by Spark's
  * own listeners as child records. Nothing is registered or recorded
  * until [[start]], so the untraced phase pays nothing.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Long, Long)] // (span, op); driver thread only
  @volatile private var on = false
  private var t0Ms = 0.0
  private var t1Ms = 0.0

  final class Job(val id: Int, val startMs: Double, val span: Long, val op: Long,
      val label: String, val tables: Boolean) {
    var endMs: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var shuffleBytes = 0L
  }
  final case class Trigger(startMs: Double, durations: Map[String, Long], inputRows: Long)
  final case class Planning(analysisMs: Long, optimizationMs: Long, planningMs: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val triggers: ArrayBuffer[Trigger] = ArrayBuffer()
  val plannings: ArrayBuffer[Planning] = ArrayBuffer()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (span, op) = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map { v => val a = v.split('/'); (a(0).toLong, a(1).toLong) }.getOrElse((0L, 0L))
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new Job(e.jobId, e.time.toDouble, span, op, label,
        e.stageInfos.exists(_.name.contains("Tables.scala")))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.synchronized {
        triggers += Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plannings.synchronized {
        plannings += Planning(d("analysis"), d("optimization"), d("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def enabled: Boolean = on

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
    t0Ms = nowMs
    on = true
  }

  /** Stops recording and waits until every event posted so far arrived. */
  def stop(): Unit = {
    on = false
    t1Ms = nowMs
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def wallMs: Double = t1Ms - t0Ms

  /** Runs `body` as a span named `name`; a no-op wrapper when off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val (parent, op) = stack.headOption.map { case (s, o) => (s, o) }.getOrElse((0L, id))
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s"$id/$op")
      stack = (id, op) :: stack
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
        spans.synchronized(spans += Span(id, name, "op", t0, t1, parent, op))
      }
    }

  def opSpans: Seq[Span] = spans.synchronized(spans.toList)
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.filter(!_.endMs.isNaN).sortBy(_.id)

  /** Every span of the run: benchmark spans, then Spark jobs and stream
    * triggers as children. A trigger's parent is the op span whose
    * interval contains it.
    */
  def allSpans: Seq[Span] = {
    val ops = opSpans
    val jobSpans = allJobs.map(j => Span(-j.id.toLong - 1, jobLayer(j), "job",
      j.startMs, j.endMs, j.span, j.op))
    val trigSpans = triggers.synchronized(triggers.toList).zipWithIndex.map { case (t, i) =>
      val end = t.startMs + t.durations.getOrElse("triggerExecution", 0L)
      val host = ops.filter(s => s.parent == 0 && s.startMs <= t.startMs + 1 && s.endMs >= end - 1)
        .headOption
      Span(-1000000L - i, "stream.trigger", "trigger", t.startMs, end,
        host.map(_.id).getOrElse(0L), host.map(_.op).getOrElse(0L))
    }
    ops ++ jobSpans ++ trigSpans
  }

  /** The layer a job belongs to: its `Labeled` phase, else `Tables` when
    * the job's call site is base-table resolution, else `unlabeled`.
    */
  def jobLayer(j: Job): String =
    if (Phase.matches(j.label)) phaseName(j.label)
    else if (j.tables) "Tables"
    else "unlabeled"

  /** Self time per layer: a span's duration minus the part of it its
    * children cover. Returns layer -> (count, total ms, self ms).
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(s => s.name).map { case (name, ss) =>
      val self = ss.map(s => s.ms - covered(s, kids.getOrElse(s.id, Nil))).sum
      name -> ((ss.length, ss.map(_.ms).sum, self))
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  /** A `graft.util.Labeled` description (`store: stage data`), as opposed
    * to the call-site or micro-batch descriptions Spark sets itself.
    */
  private val Phase = "[a-z]+: [a-z ]+".r

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** `store: merge classify` -> `store.merge_classify`. */
  def phaseName(label: String): String = {
    val i = label.indexOf(':')
    if (i < 0) label.trim.replace(' ', '_')
    else label.take(i).trim + "." + label.drop(i + 1).trim.replace(' ', '_')
  }

  /** Length of the union of `children` intervals clipped to `s`. */
  def covered(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
