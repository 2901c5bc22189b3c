package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.VectorFunctions
import graft.plans.CosineTopKStrategy

/** Injects graft's codegen'd expressions (every function in
  * `VectorFunctions.functions`) and its planner strategy into every
  * session built with these extensions — usable via
  * `spark.sql.extensions=graft.engine.GraftExtensions` on any cluster
  * (spark-submit) or through [[Engine.session]] locally.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => CosineTopKStrategy)
    VectorFunctions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
  }
}

/** SparkSession factory encoding graft's scale posture:
  *  - AQE on (runtime re-plan, skew-join splitting) — Spark 4 default,
  *    asserted here so a misconfigured cluster can't silently lose it;
  *  - shuffle partitions sized to the executor core count locally (the
  *    32-thread test box), NOT the 200 default — on a real cluster this
  *    is overridden to ~2-3x total cores;
  *  - UTC session timezone for deterministic date semantics;
  *  - graft extensions (codegen'd vector kernels) pre-registered;
  *  - stream state in RocksDB, checkpointed without starting processes
  *    ([[Engine.streamingState]]).
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

  /** How stateful streams keep and checkpoint their state. `SparkSpec`
    * sets the same confs, so every stream spec runs this posture.
    *  - Per-key state (sessionizer, funnel, reactivation, quota, dedup,
    *    windows) lives in RocksDB, not on the executor heap: at 100x users
    *    the default HDFS-backed in-memory store, not the stage logic, is
    *    the ceiling. RocksDB moves it to local disk, and changelog
    *    checkpointing commits only the rows a trigger changed.
    *  - `spark.sql.streaming.checkpointFileManagerClass` is
    *    `FileSystemBasedCheckpointFileManager`. The offset and commit
    *    logs, RocksDB's changelog files and the state-file checksums are
    *    all written through it. Spark's default, FileContext-based,
    *    manager renames through `AbstractFileSystem.renameInternal`, which
    *    looks up the link status of source and destination; on a local
    *    path without the native Hadoop library each lookup runs a
    *    `readlink` process. The atomic create is unchanged on local
    *    paths: the FileContext rename without overwrite also checks the
    *    destination first and then renames, and both managers throw
    *    `FileAlreadyExistsException` when it exists.
    *  - `spark.hadoop.fs.file.impl` is [[NioLocalFileSystem]], which sets
    *    permissions with java.nio; `RawLocalFileSystem` runs `chmod` on
    *    every create and mkdir. It applies to every local read and write
    *    of the session, checkpoints or not, and keeps the `.crc`
    *    sidecars. It takes effect only when the session creates the
    *    SparkContext, before anything in the JVM opened a local
    *    `FileSystem` (Hadoop caches one per scheme).
    * The last two are for the local session only: a cluster's
    * checkpoints, on HDFS or an object store, keep Spark's default
    * manager (`GraftExtensions` sets no conf). Measured on perfbench's
    * traced `kse_stream`, 4 cores (`plans/r13/kse_checkpoint_io.tsv`): the
    * run starts 39 processes instead of 4 888 (3 824 `readlink`, 1 025
    * `chmod`), and `streaming.state_commit_frac` falls from 0.52 to 0.06. */
  val streamingState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)

  /** A `local[cores]` session with graft's posture, including
    * [[codegenReuse]] and [[streamingState]]. */
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
      .config(streamingState)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
