package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-checked loaders for the driver-generated parquet tables.
  *
  * All loaders are plain `spark.read.parquet` scans so Catalyst keeps
  * full pushdown/pruning freedom — callers `.select`/`.filter` and the
  * parquet source sees `PushedFilters`/`ReadSchema` accordingly.
  *
  * INPUT INVARIANT: a warehouse directory is immutable for the life of
  * a session. Per-session state derived from its files — the scan-width
  * probe below, and the operators' shared frames (`Memo.shared`, keyed
  * by dir) — is computed once and never re-validated against the
  * files. To load a rewritten or grown dataset, write it to a new
  * directory or use a fresh session; rewriting files in place under a
  * live session yields decisions and results derived from the old
  * files.
  */
object Tables {
  /** Every loader's entry point; `dir` must obey the input invariant
    * in the object doc. */
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The driver's single-file inputs hold ONE parquet row group, so the
    * scan is one unsplittable partition and every per-row kernel above
    * it (word_ngrams, winnowing, md5, LM scoring, vector math) runs on
    * one core while the rest idle. Spread the fact tables right after
    * the read (guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read") — ADAPTIVELY: only when the scan is
    * narrower than the cluster, so a real multi-file corpus (scan
    * already wide) never pays a gratuitous full-corpus shuffle, and the
    * added exchange is a round-robin of the small single-file input.
    * Catalyst pushes filters/pruning through Repartition, so
    * PushedFilters/ReadSchema at the scan are unchanged (PlanReport
    * asserts this per query). */
  /** Scan partition count per (session, input file), computed once: the
    * `.rdd.getNumPartitions` probe triggers file listing + physical
    * planning, and the loaders run on every operator build — dozens of
    * times per query. By the input invariant (object doc) the width of
    * an input file never changes within a session, so cache the probe
    * (stopped sessions are evicted so the map cannot pin SparkContexts
    * across runs). */
  private val scanWidth =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]
  private def scanParts(spark: SparkSession, df: => DataFrame, key: String): Int = {
    scanWidth.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) scanWidth.remove(k)
    }
    scanWidth.getOrElseUpdate((spark, key), df.rdd.getNumPartitions)
  }

  private def spreadIfNarrow(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanParts(spark, df, key) * 4 < target) df.repartition(target) else df
  }

  /** Partition count for SMALL derived frames (pair streams, CC label
    * generations, LM-scored frames): when the corpus input is a narrow
    * single-file scan, those frames are orders smaller still, and
    * persisting them at full shuffle width makes every downstream stage
    * pay a `cores`-task launch wave for KB-sized partitions (measured:
    * six 0.57 s 32-task stages per pair-stream consumer, ~15 ms/task of
    * pure scheduling). Derived from the INPUT's width, not a constant:
    * on a real multi-file corpus this returns None and the frames keep
    * full parallelism (guide §2: partitioning must be scale-adaptive). */
  def smallFrameParts(spark: SparkSession, dir: String): Option[Int] = {
    val target = spark.sparkContext.defaultParallelism
    if (scanParts(spark, load(spark, dir, "documents"), s"$dir/documents") * 4 < target)
      Some(math.max(2, target / 16))
    else None
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  // lineitem/orders deliberately NOT spread: their operators are cheap
  // scan+aggregate pipelines where partial aggregation in the scan stage
  // beats paying a round-robin exchange first (measured: q01 0.26→0.66s,
  // q33 0.65→1.05s, q112 0.44→1.03s with the spread; reverted).
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spreadIfNarrow(spark, load(spark, dir, "documents"), s"$dir/documents")
  // embeddings deliberately NOT spread: the table is tiny and its heavy
  // fan-out points already call Similarity.spread() explicitly — the
  // blanket loader repartition only added an exchange to every subplan
  // (measured: s04 2.7→3.8s, s28 0.6→1.3s, s02 0.8→1.2s; reverted).
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")

  /** Events table carries a parquet timestamp whose logical annotation
    * has drifted across driver rounds (TIMESTAMP NANOS originally,
    * MICROS now), and whose Spark resolution has drifted across
    * versions — ≤3.x legacy builds could surface nanos as raw int64
    * (`nanosAsLong`); 4.1+ reads either annotation as TIMESTAMP_NTZ and
    * silently ignores the legacy conf. The loader therefore branches on
    * the RESOLVED column type, not on any conf, and derives:
    *   - `ms`  : epoch milliseconds (matches DuckDB `epoch_ms(ts)` exactly;
    *             truncation composes for positive epochs:
    *             floor(floor(ns/1e3)/1e3) == floor(ns/1e6))
    *   - `ets` : ms-truncated TimestampType for date_trunc/window work.
    * No session-conf mutation: a table loader must not side-effect every
    * caller's session. Session TZ is UTC (Engine.session), so the
    * NTZ→timestamp cast is an identity reinterpretation.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, dir, "events")
    val ms = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000000")
      case TimestampNTZType => expr("unix_micros(cast(ts as timestamp)) div 1000")
      case TimestampType    => expr("unix_micros(ts) div 1000")
      case other => throw new IllegalStateException(
        s"events.ts resolved as unsupported type $other — " +
          "expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
    raw.withColumn("ms", ms)
      .withColumn("ets", timestamp_millis(col("ms")))
  }
}
