package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Load surface (SURVEY.md §2.D) and the reliability gate (E1).
  * Parquet/CSV stand in for the JDBC warehouse locally; the JDBC
  * variants are the same `df.write` call with format("jdbc") +
  * batchsize, so nothing here changes shape on a cluster.
  */
object Sinks {

  /** D1: append load (chunking = JDBC batchsize / file task split). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** B3: archive CSV copy. */
  def archiveCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** D2: upsert MERGE semantics without Delta — new rows win on `key`,
    * untouched old rows survive: updates ∪ (old ⟕anti updates).
    * The anti join shuffles on the key once; with a Delta/Iceberg table
    * this becomes MERGE INTO and prunes to matching files.
    */
  def upsert(old: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(old.join(updates.select(key).distinct(), Seq(key), "left_anti"))

  /** D2 applied to a parquet table path: read-merge-rewrite via a
    * staging directory then swap (the reference's staging-table MERGE,
    * src/etl_utils.py:87-145). The swap is RENAME-ASIDE: live → `.old`,
    * staging → live, `.old` deleted — a crash at any point leaves either
    * the old table in place or at `.old`, which the next call's recovery
    * preamble restores automatically; never the delete-then-rename
    * window where the table has vanished.
    *
    * Rewrites 100 % of the table per call: correct for small/scratch
    * tables only. Production loads of large tables go through
    * [[upsertPartitioned]], which prunes to the touched partitions.
    */
  def upsertParquet(spark: SparkSession, tablePath: String, updates: DataFrame, key: String): Unit = {
    // The PATH's own filesystem, not fs.defaultFS: a scheme-qualified
    // tablePath (s3a:// on an HDFS-default cluster) would otherwise
    // throw Wrong-FS on every probe/rename.
    val dst = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(tablePath + ".old")
    // Crash recovery FIRST: a previous run that died between the two
    // renames left the table only at `.old` — restore it before
    // anything reads or deletes. (Deleting the aside while the live
    // dir is missing would destroy the sole surviving copy.)
    if (!fs.exists(dst) && fs.exists(aside) && !fs.rename(aside, dst))
      throw new java.io.IOException(s"recovery rename $aside -> $dst failed")
    // Merge against the live table iff it exists. No catch-all: a
    // TRANSIENT read error must fail the call (and be retried), not
    // silently replace the whole table with just this batch's updates.
    val merged =
      if (fs.exists(dst)) upsert(spark.read.parquet(tablePath), updates, key)
      else updates
    val staging = tablePath + ".staging"
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    fs.delete(aside, true) // superseded: the live dir exists (checked above)
    val hadLive = fs.exists(dst)
    if (hadLive && !fs.rename(dst, aside))
      throw new java.io.IOException(s"rename aside failed for $dst")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), dst))
      throw new java.io.IOException(s"staging rename failed for $dst")
    if (hadLive) fs.delete(aside, true)
  }

  /** Crash recovery for the partition-level rename-aside swaps: any
    * partition present under `.merge_aside` whose LIVE dir is missing
    * is the sole surviving copy from a run that died between its two
    * renames — restore it before anything reads the table or deletes
    * "superseded" asides. Asides whose live dir exists ARE superseded
    * and are cleaned lazily by the swap loops.
    */
  private def restoreAsidePartitions(fs: org.apache.hadoop.fs.FileSystem,
                                     table: org.apache.hadoop.fs.Path): Unit = {
    val asideRoot = new org.apache.hadoop.fs.Path(table, ".merge_aside")
    if (fs.exists(asideRoot)) fs.listStatus(asideRoot).foreach { st =>
      val livePart = new org.apache.hadoop.fs.Path(table, st.getPath.getName)
      if (!fs.exists(livePart) && !fs.rename(st.getPath, livePart))
        throw new java.io.IOException(s"recovery rename ${st.getPath} -> $livePart failed")
    }
  }

  /** D2 at 100-TB scale: MERGE against a `partCol`-partitioned parquet
    * table that rewrites ONLY the partitions containing updated keys
    * (the reference's staging-table MERGE touches matched rows,
    * src/etl_utils.py:87-145; `upsertParquet` above rewrites the whole
    * table — fine for a scratch table, not for a daily run against a
    * large one).
    *
    *  1. The touched partition values come off `updates` (distinct
    *     `partCol` — as many values as touched partitions, a
    *     legitimately driver-sized list).
    *  2. Only those partitions of the live table are read (the isin
    *     filter prunes at the parquet-partition level), merged, and
    *     staged, written with the same partition layout.
    *  3. Each staged partition swaps in via RENAME-ASIDE: live dir →
    *     `.merge_aside/<dir>`, staged dir → live, aside deleted. A
    *     crash between the renames leaves the old data only at the
    *     aside — which the next call's recovery preamble restores
    *     automatically before reading or cleaning anything — never
    *     the delete-then-rename window where the table has vanished.
    *     Renames are atomic on HDFS-like filesystems;
    *     object stores should use a table format (Delta/Iceberg MERGE)
    *     instead, which this method's semantics map to 1:1.
    *
    * Untouched partitions are never read, written, or renamed.
    *
    * Atomicity boundary, stated plainly: each partition swap is
    * atomic, but a multi-partition MERGE is NOT atomic as a whole — a
    * crash mid-loop leaves some partitions new and some old (each
    * individually consistent and recoverable). When cross-partition
    * snapshot atomicity matters, use [[ManifestTable.upsert]], whose
    * single manifest-commit rename IS the all-or-nothing boundary —
    * the in-repo equivalent of Delta/Iceberg MERGE.
    *
    * Assumes `partCol` is stable per key (derived from the row's own
    * immutable attributes, e.g. visit month) — the same assumption that
    * makes partition-level MERGE pruning valid in Delta/Iceberg.
    */
  def upsertPartitioned(spark: SparkSession, tablePath: String, updates: DataFrame,
                        key: String, partCol: String): Unit = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(tablePath + ".staging")
    if (fs.exists(table)) restoreAsidePartitions(fs, table)

    val merged =
      if (!fs.exists(table)) updates
      else {
        val touched = updates.select(col(partCol)).distinct().collect().map(_.get(0))
        // isin(null) never matches (SQL three-valued logic), so a null
        // partition value needs its own isNull branch or every
        // pre-existing row of the null partition would be dropped.
        val nonNull = touched.filter(_ != null)
        val inList =
          if (nonNull.isEmpty) lit(false)
          else col(partCol).isin(nonNull.toIndexedSeq: _*)
        val partFilter =
          if (touched.contains(null)) inList || col(partCol).isNull else inList
        val live = spark.read.parquet(tablePath).filter(partFilter)
        // updates win on `key`; anti join shuffles only the touched slice.
        updates.unionByName(
          live.join(updates.select(key).distinct(), Seq(key), "left_anti")
            .select(updates.columns.map(col).toIndexedSeq: _*))
      }
    fs.delete(staging, true)
    merged.write.partitionBy(partCol).parquet(staging.toString)

    // Swap exactly the partition dirs the merge produced. Dir names come
    // from the staging listing (Spark's own value escaping), not from
    // re-formatting values driver-side. Asides live under a dot-dir —
    // partition discovery ignores dot-paths, so a crash can never leak
    // the old copy back into reads as a phantom partition.
    fs.mkdirs(table)
    val asideRoot = new org.apache.hadoop.fs.Path(table, ".merge_aside")
    fs.mkdirs(asideRoot)
    val parts = fs.listStatus(staging).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")
    }
    parts.foreach { st =>
      val livePart = new org.apache.hadoop.fs.Path(table, st.getPath.getName)
      val aside = new org.apache.hadoop.fs.Path(asideRoot, st.getPath.getName)
      fs.delete(aside, true) // leftover from an earlier crash, superseded
      val hadLive = fs.exists(livePart)
      if (hadLive && !fs.rename(livePart, aside))
        throw new java.io.IOException(s"rename aside failed for $livePart")
      if (!fs.rename(st.getPath, livePart))
        throw new java.io.IOException(s"staging rename failed for $livePart")
      if (hadLive) fs.delete(aside, true)
    }
    fs.delete(staging, true)
  }

  /** Small-files maintenance for a partitioned table: rewrite ONLY the
    * partitions holding more than `maxFiles` parquet files, coalescing
    * each to ~`targetBytes` output files, and swap them in with the
    * same crash-safe rename-aside as `upsertPartitioned`. Layout-only
    * — rows are bit-identical before and after; untouched partitions
    * are never read, written, or renamed (asserted byte-identical in
    * SinksSpec). Incremental loads append small files every run; at
    * 100 TB the scan's task count follows file count, so periodic
    * partition-local compaction is what keeps read parallelism sane.
    * The driver loop is one iteration per OVERSIZED partition (a
    * maintenance-scoped, bounded set), each a distributed job.
    * Returns the compacted partition dir names.
    */
  def compactPartitions(spark: SparkSession, tablePath: String, partCol: String,
                        maxFiles: Int = 8, targetBytes: Long = 128L << 20): Seq[String] = {
    val table = new org.apache.hadoop.fs.Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) return Seq.empty
    restoreAsidePartitions(fs, table)
    val oversized = fs.listStatus(table).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")
    }.flatMap { st =>
      val files = fs.listStatus(st.getPath).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (files.length > maxFiles) Some((st.getPath, files.map(_.getLen).sum)) else None
    }
    if (oversized.isEmpty) return Seq.empty

    val staging = new org.apache.hadoop.fs.Path(tablePath + ".compacting")
    fs.delete(staging, true)
    oversized.foreach { case (partDir, bytes) =>
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // A partition dir's files don't carry partCol — the dir name does;
      // reading and rewriting the dir alone preserves that invariant.
      spark.read.parquet(partDir.toString).coalesce(nOut)
        .write.parquet(new org.apache.hadoop.fs.Path(staging, partDir.getName).toString)
    }
    val asideRoot = new org.apache.hadoop.fs.Path(table, ".merge_aside")
    fs.mkdirs(asideRoot)
    oversized.foreach { case (partDir, _) =>
      val staged = new org.apache.hadoop.fs.Path(staging, partDir.getName)
      val aside = new org.apache.hadoop.fs.Path(asideRoot, partDir.getName)
      fs.delete(aside, true)
      if (!fs.rename(partDir, aside))
        throw new java.io.IOException(s"rename aside failed for $partDir")
      if (!fs.rename(staged, partDir))
        throw new java.io.IOException(s"staging rename failed for $partDir")
      fs.delete(aside, true)
    }
    fs.delete(staging, true)
    oversized.map(_._1.getName).toSeq
  }
}

/** E1: the pre-load data-quality gate (dags/eligibilty_etl.py:280-321):
  * abort when >= `threshold` of rows have a null `classCol`, excluding
  * rows whose note is the expected TPA message; report the top-10 note
  * distribution and a 10-row sample for diagnosis.
  */
object QualityGate {

  final case class GateReport(totalRows: Long, invalidRows: Long, ratio: Double,
                              topNotes: Seq[(String, Long)], passed: Boolean)

  final class GateFailedException(val report: GateReport)
    extends RuntimeException(f"quality gate failed: ${report.ratio * 100}%.1f%% invalid (${report.invalidRows}/${report.totalRows})")

  def check(df: DataFrame, classCol: String = "class", noteCol: String = "note",
            expectedNotePrefix: String = "1660", threshold: Double = 0.5): GateReport = {
    val invalid = col(classCol).isNull && !coalesce(col(noteCol), lit("")).startsWith(expectedNotePrefix)
    // One aggregation pass for the counts; the top-notes diagnostic only
    // runs over the (small) invalid slice.
    val row = df.agg(
      count(lit(1)).as("total"),
      sum(when(invalid, 1L).otherwise(0L)).as("bad")).head()
    val total = row.getLong(0)
    val bad = Option(row.get(1)).map(_.toString.toLong).getOrElse(0L)
    val ratio = if (total == 0) 0.0 else bad.toDouble / total
    val notes =
      if (bad == 0) Seq.empty
      else df.filter(invalid).groupBy(col(noteCol)).count()
        .orderBy(col("count").desc, col(noteCol)).limit(10)
        .collect().map(r => (Option(r.getString(0)).getOrElse("null"), r.getLong(1))).toSeq
    GateReport(total, bad, ratio, notes, passed = ratio < threshold)
  }

  /** Throwing form used by pipelines before the load step. */
  def assertPasses(df: DataFrame, classCol: String = "class", noteCol: String = "note",
                   expectedNotePrefix: String = "1660", threshold: Double = 0.5): GateReport = {
    val report = check(df, classCol, noteCol, expectedNotePrefix, threshold)
    if (!report.passed) throw new GateFailedException(report)
    report
  }
}
