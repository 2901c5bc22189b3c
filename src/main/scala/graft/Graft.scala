package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Tables
import graft.functions.VectorFunctions

/** User-facing facade: register the warehouse and query it by name or
  * with plain SQL — the surface a user of the reference system lands on
  * after switching to this library.
  *
  * {{{
  * val spark = Engine.session(32)
  * Graft.registerViews(spark, "/data/sf100")   // tables as temp views
  * spark.sql("SELECT ... FROM lineitem JOIN orders ON ...")
  * Graft.run(spark, "/data/sf100", "d02_minhash_lsh") // named operator
  * }}}
  */
object Graft {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every warehouse table as a temp view (events gains the
    * derived `ms`/`ets` columns) and the graft SQL functions. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    VectorFunctions.register(spark)
    tableNames.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case name =>
        spark.read.parquet(s"$dir/$name.parquet").createOrReplaceTempView(name)
    }
  }

  /** All named operators (SURVEY.md §2). */
  def operators: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Run a named operator against a warehouse directory. */
  def run(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown operator '$name'; known: ${operators.mkString(", ")}"))(spark, dir)

  /** Return this session's operator-pinned storage to baseline — call
    * between report batches in a long-lived session. It frees the three
    * kinds of storage operators pin: the shared cross-operator frames
    * (pair streams, signatures, scored frames), the registered
    * checkpoints (including their RDD blocks, which `clearCache` cannot
    * see), and every per-query `.cache()` frame. Frames returned by
    * earlier `run` calls must not be reused afterwards; re-running the
    * operator rebuilds them. */
  def release(spark: SparkSession): Unit =
    graft.operators.Memo.release(spark)
}
