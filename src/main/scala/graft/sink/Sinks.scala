package graft.sink

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
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
    * untouched old rows survive: updates ∪ (old ⟕anti updates), with
    * the old side projected onto `updates`' columns. The anti join
    * shuffles on the key once; with a Delta/Iceberg table this becomes
    * MERGE INTO and prunes to matching files.
    */
  def upsert(old: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(old.join(updates.select(key).distinct(), Seq(key), "left_anti")
      .select(updates.columns.map(col).toIndexedSeq: _*))

  /** D2 at 100-TB scale: MERGE against a `partCol`-partitioned parquet
    * table that rewrites ONLY the partitions containing updated keys
    * (the reference's staging-table MERGE touches matched rows,
    * src/etl_utils.py:87-145).
    *
    *  1. The touched partition values come off `updates` (distinct
    *     `partCol` — as many values as touched partitions, a
    *     legitimately driver-sized list).
    *  2. Only those partitions of the live table are read (the isin
    *     filter prunes at the parquet-partition level), merged, and
    *     staged, written with the same partition layout.
    *  3. Each staged partition swaps in through [[Swap.swapPartitions]]
    *     (rename-aside, crash-safe); [[Swap.restorePartitions]] first
    *     puts back any partition a crashed run left only at its aside.
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
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(tablePath + ".staging")
    Swap.restorePartitions(spark, table)

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
        // updates win on `key`; anti join shuffles only the touched slice.
        upsert(spark.read.parquet(tablePath).filter(partFilter), updates, key)
      }
    fs.delete(staging, true)
    merged.write.partitionBy(partCol).parquet(staging.toString)
    Swap.swapPartitions(spark, staging, table, partCol)
  }

  /** Small-files maintenance for a partitioned table: rewrite ONLY the
    * partitions holding more than `maxFiles` parquet files, coalescing
    * each to ~`targetBytes` output files, and swap them in with the
    * same crash-safe [[Swap.swapPartitions]] as `upsertPartitioned`.
    * Layout-only — rows are bit-identical before and after; untouched
    * partitions are never read, written, or renamed (asserted
    * byte-identical in SinksSpec). Incremental loads append small
    * files every run; at 100 TB the scan's task count follows file
    * count, so periodic partition-local compaction is what keeps read
    * parallelism sane. The driver loop is one iteration per OVERSIZED
    * partition (a maintenance-scoped, bounded set), each a distributed
    * job. Returns the compacted partition dir names.
    */
  def compactPartitions(spark: SparkSession, tablePath: String, partCol: String,
                        maxFiles: Int = 8, targetBytes: Long = 128L << 20): Seq[String] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(table)) return Seq.empty
    Swap.restorePartitions(spark, table)
    val oversized = fs.listStatus(table).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")
    }.flatMap { st =>
      val files = fs.listStatus(st.getPath).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (files.length > maxFiles) Some((st.getPath, files.map(_.getLen).sum)) else None
    }
    if (oversized.isEmpty) return Seq.empty

    val staging = new Path(tablePath + ".compacting")
    fs.delete(staging, true)
    oversized.foreach { case (partDir, bytes) =>
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // A partition dir's files don't carry partCol — the dir name does;
      // reading and rewriting the dir alone preserves that invariant.
      spark.read.parquet(partDir.toString).coalesce(nOut)
        .write.parquet(new Path(staging, partDir.getName).toString)
    }
    Swap.swapPartitions(spark, staging, table, partCol)
  }
}

/** The one crash-safe directory swap behind every rename-aside commit
  * (the reference's staging-table MERGE, src/etl_utils.py:87-145): the
  * new copy is written in full at `staged`, then live → `aside`,
  * staged → live, aside deleted. A crash at any point leaves the old
  * copy either live or at the aside — never the delete-then-rename
  * window where the data has vanished — and [[restore]] puts an
  * orphaned aside back before anything reads it or deletes it as
  * superseded. Each path's OWN filesystem is resolved here: a
  * scheme-qualified path (s3a:// on an HDFS-default cluster) would
  * throw Wrong-FS under fs.defaultFS. Renames are atomic on HDFS-like
  * filesystems; object stores should use a table format (Delta/Iceberg
  * MERGE) instead. A failed rename throws. The swap assumes a single
  * maintainer of `live`.
  */
private[graft] object Swap {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** When `live` is missing and `aside` exists, a crash between
    * [[swap]]'s two renames left the aside the sole surviving copy:
    * rename it back.
    */
  def restore(spark: SparkSession, live: Path, aside: Path): Unit = {
    val fs = fsOf(spark, live)
    if (!fs.exists(live) && fs.exists(aside) && !fs.rename(aside, live))
      throw new IOException(s"recovery rename $aside -> $live failed")
  }

  /** Replace `live` (created if absent) by the fully written `staged`. */
  def swap(spark: SparkSession, staged: Path, live: Path, aside: Path): Unit = {
    val fs = fsOf(spark, live)
    restore(spark, live, aside) // only then is a leftover aside superseded
    fs.delete(aside, true)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, aside))
      throw new IOException(s"rename aside failed for $live")
    if (!fs.rename(staged, live))
      throw new IOException(s"staging rename failed for $live; the previous copy is at $aside")
    if (hadLive) fs.delete(aside, true)
  }

  /** Partition asides live under a dot-dir: partition discovery ignores
    * dot-paths, so a crash never leaks an old copy back into reads as a
    * phantom partition.
    */
  private def asideRoot(table: Path): Path = new Path(table, ".merge_aside")

  /** [[restore]] every partition dir parked under `<table>/.merge_aside`
    * whose live dir is missing. Asides whose live dir exists are
    * superseded and swept by the next swap of that partition.
    */
  def restorePartitions(spark: SparkSession, table: Path): Unit = {
    val fs = fsOf(spark, table)
    if (fs.exists(asideRoot(table))) fs.listStatus(asideRoot(table)).foreach { st =>
      restore(spark, new Path(table, st.getPath.getName), st.getPath)
    }
  }

  /** [[swap]] each staged `<partCol>=…` dir under `staging` into
    * `table`, one partition at a time, then delete `staging`. Dir names
    * come from the staging listing (Spark's own value escaping), not
    * from re-formatting values driver-side. Each partition's swap is
    * atomic; the loop as a whole is not. Returns the swapped dir names.
    */
  def swapPartitions(spark: SparkSession, staging: Path, table: Path, partCol: String): Seq[String] = {
    val fs = fsOf(spark, table)
    fs.mkdirs(asideRoot(table))
    val dirs = fs.listStatus(staging).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(s"$partCol=") => st.getPath.getName
    }
    dirs.foreach { d =>
      swap(spark, new Path(staging, d), new Path(table, d), new Path(asideRoot(table), d))
    }
    fs.delete(staging, true)
    dirs
  }
}

/** E1: the pre-load data-quality gate (dags/eligibilty_etl.py:280-321):
  * abort when at least half the rows have a null `classCol`, excluding
  * rows whose note starts with the expected TPA prefix; report the
  * top-10 note distribution of the invalid rows for diagnosis.
  */
object QualityGate {

  final case class GateReport(totalRows: Long, invalidRows: Long, ratio: Double,
                              topNotes: Seq[(String, Long)], passed: Boolean)

  final class GateFailedException(val report: GateReport)
    extends RuntimeException(f"quality gate failed: ${report.ratio * 100}%.1f%% invalid (${report.invalidRows}/${report.totalRows})")

  /** The TPA note prefix that excuses a null class. */
  private val ExpectedNotePrefix = "1660"

  /** The invalid-row share at which the gate fails. */
  private val Threshold = 0.5

  /** One gate definition: the invalid predicate, its counts and the
    * verdict on them.
    */
  private final case class Gate(classCol: String, noteCol: String) {
    private def invalid: Column =
      col(classCol).isNull && !coalesce(col(noteCol), lit("")).startsWith(ExpectedNotePrefix)

    /** `total` rows and `bad` (invalid) rows: bigint aggregate columns
      * for `select` or `observe`.
      */
    def counts: (Column, Column) = (count(lit(1)).as("total"), count_if(invalid).as("bad"))

    /** The top-notes diagnostic is a job over the invalid slice of
      * `df`, run only when there is one.
      */
    def verdict(df: DataFrame, total: Long, bad: Long): GateReport = {
      val ratio = if (total == 0) 0.0 else bad.toDouble / total
      val notes =
        if (bad == 0) Seq.empty
        else df.filter(invalid).groupBy(col(noteCol)).count()
          .orderBy(col("count").desc, col(noteCol)).limit(10)
          .collect().map(r => (Option(r.getString(0)).getOrElse("null"), r.getLong(1))).toSeq
      GateReport(total, bad, ratio, notes, passed = ratio < Threshold)
    }
  }

  /** The eligibility load's gate. */
  private val eligibility = Gate("class", "note")

  /** [[eligibility]]'s counts, for the registered E1 query. */
  private[graft] def counts: (Column, Column) = eligibility.counts

  private def orThrow(report: GateReport): GateReport =
    if (report.passed) report else throw new GateFailedException(report)

  /** Counts `df` with an aggregate job of its own. */
  def check(df: DataFrame, classCol: String = "class", noteCol: String = "note"): GateReport = {
    val gate = Gate(classCol, noteCol)
    val (total, bad) = gate.counts
    val row = df.select(total, bad).head()
    gate.verdict(df, row.getLong(0), row.getLong(1))
  }

  /** Throwing form of [[check]]. */
  def assertPasses(df: DataFrame, classCol: String = "class", noteCol: String = "note"): GateReport =
    orThrow(check(df, classCol, noteCol))

  /** [[graft.util.Materialize.stage]] `df`, counting the eligibility
    * gate on that same pass through an `Observation`: no job of its
    * own. Throws [[GateFailedException]] when the gate fails, so a
    * caller that loads the returned frame never writes a failed batch.
    */
  private[graft] def stageAsserted(df: DataFrame): (DataFrame, GateReport) = {
    val observed = new Observation()
    val (total, bad) = eligibility.counts
    val staged = graft.util.Materialize.stage(df.observe(observed, total, bad))
    val m = observed.get
    (staged, orThrow(eligibility.verdict(staged, m("total").asInstanceOf[Long], m("bad").asInstanceOf[Long])))
  }
}
