package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.core.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers here as a named query; the driver
  * runs each against /root/testdata/sf0.01 via [[Verify]] and compares to
  * DuckDB executing [[oracleSql]] on the same parquet tables.
  */
object SparkEntry {

  /** All registered operator queries, in registration order. */
  def all: Seq[Q] =
    ops.Relational.qs ++ ops.Scalars.qs ++ ops.Extras.qs ++
      registry.RegistryQueries.qs ++
      llm.LlmText.qs ++ llm.LlmVector.qs ++ llm.Multimodal.qs ++
      streaming.Streams.qs ++ ingest.JsonlSource.qs ++
      ops.Profile.qs ++ ops.Graph.qs ++ llm.TextMining.qs ++ ops.Audit.qs ++
      ops.Analytics.qs ++ ops.Layout.qs ++ ops.Eval.qs

  /** The registered queries named in `names` (full names or `qNN`
    * prefixes; blanks ignored), in registration order — the selector
    * behind `SPARK_GRAFT_ONLY` and the probe's query list. */
  def select(names: Iterable[String]): Seq[Q] = {
    val ns = names.map(_.trim).filter(_.nonEmpty).toSet
    all.filter(q => ns(q.name) || ns(q.name.takeWhile(_ != '_')))
  }

  /** Flagship: the end-to-end reference slice (SURVEY §7.2) — corpus →
    * record split → 47-field extract → single-shuffle merge → user
    * WHERE via expr() → in-row child predicates → condensed export row.
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q37_registry_search_export")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
