package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every implemented operator's query + DuckDB oracle pair. */
object SparkEntry {
  // A driver that builds its own session reads this registry first, so
  // its session gets the engine's codegen cache size too
  Harness.sizeCodegenCache()

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Tpch.queries ++ Ops.queries ++ Functions.queries ++ Pipeline.queries ++
      Extras.queries ++ Advanced.queries ++ Stats.queries ++ Curation.queries ++
      Quality.queries ++ Insight.queries ++ Infer.queries ++ Mining.queries ++
      Learn.queries ++ Scale.queries ++ Refine.queries ++ Polish.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. Only
    * Pipeline's and Learn's maps are merged per call: they are defs,
    * since three of their oracles exist only once their ops have run. */
  def oracleSql: Map[String, String] = fixedOracle ++ Pipeline.oracle ++ Learn.oracle
  private val fixedOracle: Map[String, String] =
    Tpch.oracle ++ Ops.oracle ++ Functions.oracle ++ Extras.oracle ++
      Advanced.oracle ++ Stats.oracle ++ Curation.oracle ++ Quality.oracle ++
      Insight.oracle ++ Infer.oracle ++ Mining.oracle ++ Scale.oracle ++
      Refine.oracle ++ Polish.oracle
}
