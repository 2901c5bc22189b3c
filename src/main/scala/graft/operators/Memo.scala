package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The operators' one caching discipline — three rules:
  *
  *  1. Per-query frames use plain `.cache()`. [[release]] ends in
  *     `spark.catalog.clearCache()`, which frees exactly those frames
  *     (as does the Verify/Bench harness between queries).
  *  2. The few cross-operator frames — the J ≥ 0.5 pair stream, the
  *     MinHash signature, the LM-scored frame, the connected-component
  *     labels, … — go through [[shared]], one map keyed by
  *     (session, dir, [[Key]]). [[Key]] is sealed: a new cross-query
  *     member is an edit to this file.
  *  3. Lineage truncation goes through [[checkpoint]], which registers
  *     the checkpoint-backed frame so [[release]] frees its RDD blocks
  *     (blocks `clearCache` cannot see).
  *
  * LIFECYCLE: a long-lived session (an operator server, not the
  * one-shot Verify/Bench harness) calls [[release]] between report
  * batches; storage returns to baseline instead of waiting for LRU
  * eviction pressure. Frames handed out before a release must not be
  * reused afterwards: checkpoint-backed frames cannot recompute. */
private[graft] object Memo {
  /** The sanctioned cross-operator frames. */
  sealed trait Key
  object Key {
    case object Sig extends Key          // Dedup: 128-perm MinHash signature
    case object Pairs extends Key        // Dedup: J ≥ 0.5 pair stream
    case object Clusters extends Key     // Dedup: CC labels of Pairs
    case object TruthCos extends Key     // Similarity: exact top-5 (s01)
    case object Ivf extends Key          // Similarity: IVF top-5 (s03)
    case object PqCents extends Key      // Similarity: coarse centroids
    case object PqBooks extends Key      // Similarity: PQ codebooks
    case object Scored extends Key       // TextAnalysis: LM-scored docs
    case object PayloadPairs extends Key // Multimodal: m05 pair stream
  }

  private val frames =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, Key), DataFrame]
  private val checkpoints =
    scala.collection.mutable.HashMap.empty[SparkSession,
      scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** `key`'s frame for (spark, dir), built once. A hit is reused while
    * its storage lives — a CacheManager entry, or a checkpoint-backed
    * RDD that is still persisted — so a frame dropped by `clearCache()`
    * rebuilds instead of being recomputed by every consumer. Builds run
    * under the map's lock: concurrent callers get the same frame and
    * never pin a second copy. */
  def shared(spark: SparkSession, dir: String, key: Key)(build: => DataFrame): DataFrame =
    frames.synchronized {
      frames.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
      frames.get((spark, dir, key)).filter(isLive).getOrElse {
        val df = build
        frames((spark, dir, key)) = df
        df
      }
    }

  /** `df.localCheckpoint()`, registered for [[release]]. Registration
    * drops generations already freed (e.g. by [[hardUnpersist]] in an
    * iteration loop), so the registry holds only live blocks. */
  def checkpoint(spark: SparkSession, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    checkpoints.synchronized {
      checkpoints.filterInPlace { case (s, _) => !s.sparkContext.isStopped }
      val live = checkpoints.getOrElseUpdate(spark,
        scala.collection.mutable.ArrayBuffer.empty[DataFrame])
      live.filterInPlace(pinsRdds) += cp
    }
    cp
  }

  private def rdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  private def pinsRdds(df: DataFrame): Boolean = {
    val r = rdds(df)
    r.nonEmpty && r.forall(_.getStorageLevel != StorageLevel.NONE)
  }

  private def isLive(df: DataFrame): Boolean =
    pinsRdds(df) || df.storageLevel != StorageLevel.NONE

  /** Free a frame's storage NOW, whatever pinned it: `unpersist()` only
    * drops CacheManager entries, but a checkpoint-backed frame pins its
    * blocks at the RDD level (they otherwise wait for GC + the
    * ContextCleaner), so also unpersist any LogicalRDD leaf. The frame
    * must not be used afterwards — a checkpointed lineage cannot
    * recompute. */
  def hardUnpersist(df: DataFrame): Unit = {
    df.unpersist()
    rdds(df).foreach(_.unpersist(blocking = false))
  }

  /** Return `spark`'s storage to baseline: free every registered
    * checkpoint, then clear the cache, which frees the per-query and
    * the persisted shared frames. A shared frame is backed by one of
    * the two, so its map entry is simply forgotten. */
  def release(spark: SparkSession): Unit = {
    frames.synchronized(frames.filterInPlace { case ((s, _, _), _) => s ne spark })
    checkpoints.synchronized(checkpoints.remove(spark))
      .foreach(_.foreach(hardUnpersist))
    spark.catalog.clearCache()
  }
}
