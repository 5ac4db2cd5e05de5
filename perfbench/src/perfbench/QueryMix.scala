package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** A fixed list of read-only inventory queries over the sf0.1 tables: at
  * least one per non-store family, two similarity queries that train
  * their index every pass (IVF) or probe hash buckets (LSH), and cheap
  * relational ones whose cost is mostly base-table resolution. Each pass
  * drops the memoized and persisted index builds, as the inventory bench
  * does, and runs the list in a fixed order; each query is timed from
  * its construction through the end of its noop write.
  *
  * The costliest similarity queries (graph beam, IVF lifecycle, IVF-PQ)
  * are not in the timed passes: with their builds repeated every pass
  * they take ~18 s of a ~25 s pass and ~30 s more cold, which a run
  * cannot afford. A traced run runs `sim_graph_beam_ann` once after its
  * traced phase instead, so its kNN-graph build, beam-layer build and
  * beam traversal phases are measured and its result is checked.
  */
final class QueryMix(ctx: Ctx, sfDir: String, pins: Map[String, String]) extends Workload {
  import ctx._

  private val names: Seq[String] =
    if (tiny) QueryMix.Names.take(4) else QueryMix.Names
  private val got = scala.collection.mutable.Map[String, String]()
  private val samples = ArrayBuffer[(String, Double)]()

  private def dropCaches(): Unit = {
    graft.util.SessionCache.clearAll()
    graft.util.IndexStore.invalidate(sfDir)
  }

  /** Set-up is one cold pass that fingerprints every result, then one
    * untimed pass in reverse order: the first pass after the cold one
    * still ran up to ~40% slower per query than the next.
    */
  def setUp(): Unit = {
    dropCaches()
    names.foreach { n =>
      op("query") { got(n) = QueryMix.fingerprint(SparkEntry.queries(n)(spark, sfDir)) }
    }
    pass(names.reverse)
  }

  private def pass(order: Seq[String]): Unit = {
    dropCaches()
    order.foreach { n =>
      val q0 = System.nanoTime()
      val ok = op("query:" + n) {
        val df = probe.span("query.construct")(SparkEntry.queries(n)(spark, sfDir))
        probe.span("query.action")(df.write.format("noop").mode("overwrite").save())
      }
      if (ok.isDefined) samples += n -> Ctx.ms(q0, System.nanoTime())
    }
  }

  def run(seconds: Double): Phase = {
    val s0 = samples.size
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var passes = 0
    while (System.nanoTime() < deadline) {
      pass(names)
      passes += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val timed = samples.drop(s0).toSeq
    val lat = timed.map(_._2)
    val perQuery = names.map { n =>
      val t = timed.filter(_._1 == n).map(_._2)
      Named(s"query_ms.$n", Stats.mean(t), "ms", t.map(x => f"$x%.0f").mkString("samples ", " ", ""))
    }
    Phase(wall, lat, 90.0, lat.size, Seq(
      Named("queries_per_s", lat.size / wall, "q/s", s"$passes passes of ${names.size}"),
      Named("query_ms.p50", Stats.hd(lat, 50), "ms", s"n=${lat.size}"),
      Named("query_ms.p90", Stats.hd(lat, 90), "ms", s"n=${lat.size}")) ++ perQuery)
  }

  /** The graph-beam ANN query, once, fingerprinted: see the class doc. */
  override def tracedOnly(): Unit =
    op("query:" + QueryMix.TracedOnly) {
      got(QueryMix.TracedOnly) = QueryMix.fingerprint(SparkEntry.queries(QueryMix.TracedOnly)(spark, sfDir))
    }

  def check(mutate: Boolean): Seq[String] = {
    val want = if (mutate) pins.map { case (k, v) => k -> (v + "x") } else pins
    (names ++ got.keys.filterNot(names.contains)).flatMap { n =>
      (want.get(n), got.get(n)) match {
        case (None, _) => Seq(s"$n: no pinned fingerprint")
        case (_, None) => Seq(s"$n: no result")
        case (Some(w), Some(g)) if w != g => Seq(s"$n: fingerprint $g, pinned $w")
        case _ => Nil
      }
    }
  }

  /** Fingerprints of this run's set-up pass (and traced-only query), for pinning. */
  def fingerprints: Map[String, String] = got.toMap

  def layers(): Map[String, Double] = {
    val spans = probe.opSpans
    val byName = spans.groupBy(_.name)
    val passes = math.max(1, byName.getOrElse("query.construct", Nil).size / names.size)
    QueryMix.Families.map { case (fam, _) =>
      s"family.$fam.ms" -> spans.filter(s => s.parent == 0 && QueryMix.family(s.name.stripPrefix("query:")) == fam)
        .map(_.ms).sum / passes
    }.toMap
  }
}

object QueryMix {
  /** family -> its queries in the mix. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_pricing_summary", "q6_forecast_revenue", "scalar_string_date"),
    "window" -> Seq("window_top_spenders"),
    "events" -> Seq("events_funnel_windowed"),
    "text" -> Seq("text_search_bm25"),
    "dedup" -> Seq("dedup_exact"),
    "sim" -> Seq("sim_ivf_ann", "sim_lsh_ann"),
    "approx" -> Seq("approx_heavy_hitters"),
    "graph" -> Seq("graph_triangles"),
    "media" -> Seq("media_frame_counts"),
    "corpus" -> Seq("corpus_sample_hash"),
    "layout" -> Seq("layout_zone_skipping"))

  val Names: Seq[String] = Families.flatMap(_._2)

  /** Run only in a traced run, outside the timed passes. */
  val TracedOnly = "sim_graph_beam_ann"

  def family(query: String): String =
    Families.find(_._2.contains(query)).map(_._1).getOrElse("other")

  /** Order-independent digest of a result: row count and the sum of
    * per-row hashes (maps hashed through their JSON form).
    */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  def loadPins(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
      .map { l => val a = l.split("\t"); a(0) -> a(1) }.toMap
}
