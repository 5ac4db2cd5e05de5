package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A metric printed for people: every figure a workload has, by name,
  * with its unit and how many samples it rests on.
  */
final case class Named(name: String, value: Double, unit: String, note: String = "")

/** What one timed phase measured. `latencyMs` are the samples of the
  * workload's latency; `items` the units of work completed.
  */
final case class Phase(wallS: Double, latencyMs: Seq[Double], tailPct: Double, items: Long,
    named: Seq[Named])

/** Shared state of one benchmark process. Every public call the workloads
  * make goes through [[op]], which counts it, turns a throw into a failed
  * op and wraps it in a trace span.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long, val cores: Int,
    val work: File, val tiny: Boolean) {
  var attempted = 0L
  var failed = 0L
  val errors: ArrayBuffer[String] = ArrayBuffer()

  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(probe.span(name)(body))
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$name: $e"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }

  /** Writes a file next to `target` and renames it into place, so a
    * directory scan never sees it half written.
    */
  def land(target: File, text: String): Long = {
    val tmp = new File(target.getParentFile.getParentFile, "." + target.getName + ".tmp")
    Files.writeString(tmp.toPath, text)
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }
}

object Ctx {
  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  def duBytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      val files = Files.walk(f.toPath)
      try files.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally files.close()
    }
}

/** One workload: set up and warm its state, run the closed loop, then
  * check every output.
  */
trait Workload {
  def setUp(): Unit
  def run(seconds: Double): Phase
  /** Outputs that disagree with the expected-state model. `mutate` first
    * corrupts one expected value, which the self-check uses to prove the
    * check can fail.
    */
  def check(mutate: Boolean): Seq[String]
  /** Per-layer figures of the traced phase, read from the probe. */
  def layers(): Map[String, Double]
  /** Work a traced run does once, after its traced phase and still traced. */
  def tracedOnly(): Unit = ()
  def close(): Unit = ()
}
