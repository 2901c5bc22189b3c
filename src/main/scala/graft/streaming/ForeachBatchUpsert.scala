package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Memo

/** foreachBatch idempotent-upsert sink pattern.
  *
  * Streaming micro-batches can be re-delivered after failure; an
  * idempotent sink must (1) dedupe within the batch keeping the latest
  * version per key and (2) upsert by key so re-processing converges to
  * the same target state. Here the target is a parquet directory
  * partitioned by key-hash bucket; a real deployment would swap in a
  * MERGE-capable store.
  */
object ForeachBatchUpsert {
  /** Keep the newest row per key within a micro-batch. Deterministic even
    * for duplicate (key, version) pairs: the window order falls back to
    * every remaining column (name-sorted), so two rows tie only when they
    * are identical — and identical rows are interchangeable. */
  def dedupeLatest(batch: DataFrame, keyCol: String, versionCol: String): DataFrame = {
    val tieBreak = batch.columns
      .filter(c => c != keyCol && c != versionCol).sorted
      .map(c => col(c).desc)
    val w = Window.partitionBy(keyCol).orderBy(col(versionCol).desc +: tieBreak.toSeq: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The (DataFrame, Long) => Unit handler to pass to
    * `writeStream.foreachBatch`.
    *
    * True key-level upsert via read-merge-write: the rows already stored
    * in the TOUCHED buckets are unioned with the batch, re-deduped by
    * (key, version), and those bucket partitions are rewritten (dynamic
    * partition overwrite — untouched buckets keep their files). Writing
    * only the batch would silently delete previously-upserted keys that
    * share a bucket but are absent from the current batch. Idempotent:
    * re-running a batch merges identical data into an identical result.
    *
    * Scale note: a micro-batch touches at most `buckets` partitions and
    * the merge reads only those, so the per-batch cost is bounded by the
    * hot buckets' size, not the table's. */
  def handler(targetDir: String, keyCol: String, versionCol: String, buckets: Int = 16)
      : (DataFrame, Long) => Unit = { (batch, _) =>
    val spark = batch.sparkSession
    val incoming = dedupeLatest(batch, keyCol, versionCol)
      .withColumn("key_bucket", pmod(hash(col(keyCol)), lit(buckets)))
    // Hadoop FS, not java.io.File: the target is HDFS/S3 on a real
    // cluster; the local path only works in tests by coincidence
    val targetPath = new org.apache.hadoop.fs.Path(targetDir)
    val fs = targetPath.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (fs.exists(targetPath)) {
        val touched = incoming.select("key_bucket").distinct()
        val existing = spark.read.schema(incoming.schema).parquet(targetDir)
          .join(touched, "key_bucket")
          // partition column must come last again for the union/write
          .select(incoming.columns.toIndexedSeq.map(col): _*)
        dedupeLatest(incoming.unionByName(existing), keyCol, versionCol)
      } else incoming
    // materialize the merge before overwriting the files it was read
    // from; the snapshot is freed once written, not left for GC
    val snapshot = merged.localCheckpoint(true)
    try snapshot.write
      .mode("overwrite")
      // a writer option, not a session conf: the caller's session is
      // left as it was
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("key_bucket")
      .parquet(targetDir)
    finally Memo.hardUnpersist(snapshot)
  }
}
