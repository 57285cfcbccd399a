package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint/resume for enrichment stages (E3, reference
  * src/run_predictions.py:214-231 and src/lch_eligibility.py:58-80):
  * a parquet table of processed keys, anti-joined against the input on
  * restart so calls are idempotent across reruns. At cluster scale the
  * store is partitioned by run date (`run_id`) so old runs prune away.
  */
final class Checkpoint(spark: SparkSession, path: String, keyCol: String) {

  def processedKeys(): DataFrame = {
    // Missing store and existing-but-EMPTY dir (schema inference has
    // nothing to read) are the two benign "no keys yet" shapes, probed
    // explicitly. Any OTHER read failure must propagate and fail the
    // caller's batch: the old catch-all turned a transient store-read
    // error into "nothing processed", which re-fired the LLM for every
    // already-processed key — breaking the at-most-once-per-key
    // guarantee EnrichStream documents.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasDataFiles: Boolean = {
      // Every PATH SEGMENT below the store root must be visible: a
      // crashed first write leaves files only under _temporary/, which
      // Spark's reader ignores — counting them would flip this probe
      // to "has data", the read would fail schema inference, and every
      // subsequent batch would wedge on the same debris.
      val rootUri = fs.makeQualified(p).toUri.getPath
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val rel = it.next().getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        found = rel.split("/").forall(seg => !seg.startsWith("_") && !seg.startsWith("."))
      }
      found
    }
    if (!fs.exists(p) || !hasDataFiles)
      spark.emptyDataFrame.withColumn(keyCol, lit(null: String))
    else spark.read.parquet(path).select(col(keyCol)).distinct()
  }

  /** B28: drop rows whose key is already recorded. */
  def filterNew(input: DataFrame): DataFrame =
    input.join(processedKeys(), Seq(keyCol), "left_anti")

  /** Record a batch of processed keys (append, partitioned by run). */
  def record(batch: DataFrame, runId: String): Unit =
    batch.select(col(keyCol)).distinct()
      .withColumn("run_id", lit(runId))
      .write.mode("append").partitionBy("run_id").parquet(path)
}
