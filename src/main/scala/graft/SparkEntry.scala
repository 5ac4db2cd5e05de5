package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by [[QueryGroup]] modules under `graft.queries`;
  * each query's column names match its DuckDB oracle exactly (the driver
  * sorts columns by name before hashing values).
  */
object SparkEntry {
  private def groups: Seq[QueryGroup] = Seq(
    graft.queries.Relational,
    graft.queries.TextAnalysis,
    graft.queries.Curation,
    graft.queries.BpeTraining,
    graft.queries.UnigramLm,
    graft.queries.DedupQueries,
    graft.queries.Similarity,
    graft.queries.Events,
    graft.queries.Graph,
    graft.queries.StreamingParity,
    graft.queries.PipelineParity,
    graft.queries.Multimodal,
    graft.queries.Layout,
    graft.queries.Extended)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap
}
