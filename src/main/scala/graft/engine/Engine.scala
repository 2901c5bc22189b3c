package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{DotProduct, VecLshKeys, VecNorm, VecSignBits, WinnowFingerprints, WordNGrams, WordTokens}
import graft.plans.CosineTopKStrategy

/** Injects graft's codegen'd expressions into every session built with
  * these extensions — usable via `spark.sql.extensions=graft.engine.GraftExtensions`
  * on any cluster (spark-submit) or through [[Engine.session]] locally.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => CosineTopKStrategy)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[VecNorm].getName, "vec_norm"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecNorm(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_tokens"),
      new ExpressionInfo(classOf[WordTokens].getName, "word_tokens"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordTokens(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordNGrams(exprs.head, exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("vec_sign_bits"),
      new ExpressionInfo(classOf[VecSignBits].getName, "vec_sign_bits"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecSignBits(exprs.head, exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("vec_lsh_keys"),
      new ExpressionInfo(classOf[VecLshKeys].getName, "vec_lsh_keys"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecLshKeys(exprs.head, exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Int], exprs(3).eval().asInstanceOf[Int],
          exprs(4).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WinnowFingerprints(exprs.head, exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Int])))
  }
}

/** SparkSession factory encoding graft's scale posture:
  *  - AQE on (runtime re-plan, skew-join splitting) — Spark 4 default,
  *    asserted here so a misconfigured cluster can't silently lose it;
  *  - shuffle partitions sized to the executor core count locally (the
  *    32-thread test box), NOT the 200 default — on a real cluster this
  *    is overridden to ~2-3x total cores;
  *  - UTC session timezone for deterministic date semantics;
  *  - graft extensions (codegen'd vector kernels) pre-registered.
  */
object Engine {
  /** Spark's cache of compiled generated classes, set so that a warm
    * report batch runs on the classes the batch before it compiled:
    *  - `spark.sql.codegen.cache.maxEntries` (static, default 100). One
    *    benchmark batch compiles 125-165 classes, so at 100 every warm
    *    pass evicted, and recompiled with Janino, most of what the pass
    *    before had compiled: 67-94 classes per warm pass. 1000 holds
    *    several batches but not the catalogue: one pass over all 505
    *    keys (sf0.001) compiles 5 885 classes, 10 per operator at the
    *    median and 74 at most (p02).
    *  - `spark.sql.codegen.useIdInClassName=false`. AQE numbers codegen
    *    stages in the order it re-plans them, which varies from run to
    *    run, and the number is part of the class name, so at 1000 entries
    *    a warm pass still compiled up to 8 classes of code it already
    *    had. Cost: generated classes show up in stack traces as
    *    `GeneratedIterator` without the stage number.
    * Measured at sf0.01 on 4 cores, five passes per batch
    * (`plans/r10/codegen_cache.tsv`): warm passes compile 0-2 classes
    * instead of 67-94, and metaspace (162-163 MB vs 166 MB) and heap
    * after GC do not grow. The cache is JVM-wide and sized by the first
    * session that generates code; `SparkSpec` sets the same confs. */
  val codegenReuse: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.codegen.useIdInClassName" -> "false")

  def session(cores: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE's coalesce floor (default 1m) decides how many tasks a SMALL
      // shuffle keeps: with parallelismFirst=true the target size is
      // max(bytes/parallelism, minPartitionSize), so the 1m default
      // collapses few-MB compute-dense stages to 2-3 tasks while the
      // rest of the cluster idles. 64k keeps KB shuffles coalescing to
      // 1-2 tasks but gives MB stages the cores. Measured BOTH WAYS on
      // full quiet benches (sf0.1, local[32]): 64k total 239.5 s vs
      // default 260.3 s — better on 106 queries (−29 s, the broad
      // fast tail), worse on 35 (+9 s; the heavy map-side-combined
      // pair aggregations d49 +1.2 s, d48 +0.7 s lose combine
      // batching to the extra tasks). Net −20.8 s total (faster) →
      // kept. Scale-neutral: on a real corpus bytes/parallelism exceeds
      // both floors and the setting is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // AQE partition coalescing stays on its defaults (parallelismFirst
      // =true): an r8-optimization experiment with parallelismFirst=false
      // + 16m advisory (guide §2.2's "coalesce to size" posture) was
      // MEASURED SLOWER here — compute-dense small shuffles (d51's
      // per-width pair joins, e01's session windows) lost more to
      // single-task stages than the scheduler overhead saved (d51
      // 2.4→6.6 s, e01 0.4→1.2 s); reverted. On a production cluster the
      // advisory size is the knob to revisit per guide §2.2.
      // wide aggregations (minhash: 128 min() columns) must stay inside
      // whole-stage codegen; the 100-field default silently drops them out
      .config("spark.sql.codegen.maxFields", "256")
      .config(codegenReuse)
      // stateful streaming (sessionizer, funnel, reactivation, quota)
      // keeps its per-key state in RocksDB, not on the executor heap:
      // at 100x users the default HDFS-backed in-memory store, not the
      // stage logic, is the ceiling — RocksDB moves it to local disk
      // with incremental checkpointing (parity suites run under this
      // same provider, so behavior is pinned, not assumed)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
