package graft.streaming

import graft.sink.Swap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** High-water-mark incremental extraction — the proper fix for the
  * reference's overlap-window polling (SURVEY.md §2.A2: a 270-min
  * lookback re-reads 30 min of rows every run and relies on downstream
  * dedup). Here the last processed watermark is durable state; each
  * batch reads strictly-newer rows exactly once, no overlap and no
  * dedup debt. At cluster scale the predicate prunes date partitions
  * before I/O.
  */
/** @param rawPredicate optional scan-pushable form of the watermark
  *        cut: maps the watermark to a predicate over a RAW source
  *        column (e.g. the epoch-ns long the typed timestamp was
  *        derived from). Must be a SUPERSET of `tsCol > hwm` — rows it
  *        lets through are still filtered by the exact typed
  *        predicate. Without it, a derived timestamp column defeats
  *        parquet pushdown and every poll re-scans the table.
  */
final class Incremental(spark: SparkSession, stateDir: String, tsCol: String,
                        compactAfter: Int = 16,
                        rawPredicate: Option[java.sql.Timestamp => org.apache.spark.sql.Column] = None) {

  private val statePath = s"$stateDir/hwm.parquet"
  private val live = new Path(statePath)
  // Where a compaction parks the history during its swap; Swap.restore
  // puts it back if a crash left no live store — which would otherwise
  // read as "no watermark" and re-process the whole source.
  private val aside = new Path(statePath + ".old")

  // The STATE PATH's own filesystem, not fs.defaultFS: a
  // scheme-qualified stateDir (s3a:// on an HDFS-default cluster)
  // would otherwise throw Wrong-FS on every probe.
  private def fs: FileSystem = live.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** None means the store genuinely does not exist (first run). A
    * TRANSIENT read failure must propagate and fail the poll — the old
    * catch-all mapped it to None, which re-read the ENTIRE source as
    * "new" and duplicated history downstream.
    */
  def currentWatermark(): Option[java.sql.Timestamp] = {
    Swap.restore(spark, live, aside)
    if (!fs.exists(live)) None
    else {
      val rows = spark.read.parquet(statePath).agg(max(col("hwm"))).collect()
      Option(rows.head.getTimestamp(0))
    }
  }

  /** Rows strictly newer than the stored watermark. */
  def newRows(source: DataFrame): DataFrame =
    currentWatermark() match {
      case Some(hwm) =>
        val exact = col(tsCol) > lit(hwm)
        rawPredicate match {
          case Some(raw) => source.filter(raw(hwm) && exact)
          case None => source.filter(exact)
        }
      case None => source
    }

  /** Advance the watermark to the max timestamp of the processed batch
    * (append-only state: the reader takes the max, so concurrent
    * append is safe and recent history is an audit log). Every
    * `compactAfter` appends the store is folded to one row, so the
    * watermark read never scales with the number of runs — an
    * always-on poller would otherwise accumulate thousands of one-row
    * files and pay an ever-growing listing + footer cost each batch.
    */
  def commit(processed: DataFrame): Unit = {
    // Recover before appending: creating a FRESH store while the
    // crashed compaction's aside still holds the history would
    // silently regress the watermark (and the next compaction would
    // delete the only copy of the old one).
    Swap.restore(spark, live, aside)
    val m = processed.agg(max(col(tsCol)).as("hwm")).filter(col("hwm").isNotNull)
    if (!m.isEmpty) {
      m.write.mode("append").parquet(statePath)
      maybeCompact()
    }
  }

  /** Fold the append-only history into a single snapshot row when the
    * file count exceeds `compactAfter`. Swap is rename-aside (crash
    * leaves either the full history or the snapshot, never neither);
    * compaction assumes a single maintainer — concurrent COMMITS are
    * still safe between compactions, the aside swap is not.
    */
  private def maybeCompact(): Unit = {
    val dataFiles =
      try fs.listStatus(live).count(s => s.isFile && !s.getPath.getName.startsWith("_"))
      catch { case _: Exception => 0 }
    if (dataFiles > compactAfter) {
      val snapshot = spark.read.parquet(statePath)
        .agg(max(col("hwm")).as("hwm")).filter(col("hwm").isNotNull)
      val staging = new Path(statePath + ".compacting")
      fs.delete(staging, true)
      snapshot.coalesce(1).write.parquet(staging.toString)
      // A crash between the swap's renames is healed by Swap.restore on
      // the next poll/commit.
      Swap.swap(spark, staging, live, aside)
    }
  }

  /** One poll cycle: read new rows, hand them to `process`, advance. */
  def runBatch(source: DataFrame)(process: DataFrame => Unit): Long = {
    val batch = newRows(source).persist()
    try {
      val n = batch.count()
      if (n > 0) { process(batch); commit(batch) }
      n
    } finally batch.unpersist()
  }
}
