package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.engine.Tables
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every operator group's `queries` / `oracle` / `sql` maps. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Graft.run(spark, "/root/testdata/sf0.001", "q01_pricing_summary")

  /** The operators that are their oracle text (key → SQL). Each runs in
    * Spark through `Tables.sql`; an operator converts only when the
    * bound text matches its former DataFrame form in schema, rows and
    * physical plan (README, "Adding an operator"). */
  def sql: Map[String, String] =
    Relational.sql ++ Events.sql ++ Dedup.sql ++ Similarity.sql ++
      TextAnalysis.sql

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Events.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ Multimodal.queries ++
      Pipeline.queries ++ sql.map { case (key, text) =>
        key -> ((spark: SparkSession, dir: String) => Tables.sql(spark, dir, text))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (non-SQL-expressible ops) get
    * the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Events.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ TextAnalysis.oracle ++ Multimodal.oracle ++
      Pipeline.oracle ++ sql
}
