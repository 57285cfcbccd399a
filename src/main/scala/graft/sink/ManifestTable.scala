package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated table on plain parquet via manifest commits —
  * the table-format answer to the reference's transactional warehouse
  * MERGE (src/etl_utils.py:87-145), built from the public
  * Iceberg/Delta design: immutable data files + an atomically
  * published file LIST, instead of mutating directories in place.
  *
  * Layout under the table root:
  * {{{
  *   data/batch-<uuid>/part-*.parquet   immutable, written once
  *   manifests/v00000001.manifest       TSV: path, rows, min, max
  * }}}
  *
  * The COMMIT is one filesystem rename of a fully-written manifest
  * into `manifests/` — readers resolve the highest version present,
  * so they see the old snapshot or the new one, never a torn mix
  * (the crash window `upsertPartitioned`'s per-partition renames
  * can't close). A crash before the rename leaves orphan data files
  * that no manifest references — invisible to every reader, removed
  * by [[vacuum]]. Writers race on the SAME rename: HDFS-like
  * `rename` fails when the target exists, which is exactly a
  * compare-and-swap on the version number — the loser re-reads the
  * winner's snapshot and re-derives (optimistic concurrency).
  *
  * Each manifest entry carries min/max of a declared long-typed
  * `statsCol` (the merge key), giving file-level skipping: a MERGE
  * rewrites only data files whose key range overlaps the updates —
  * at 100 TB an upsert touching one day's keys reads that day's
  * files, not the table — and key-range scans prune the same way.
  * Kept deliberately flat (one manifest lists all files); Iceberg's
  * manifest-list indirection is the known scale-out when the FILE
  * COUNT itself outgrows one driver read, and compaction keeps file
  * count bounded long before that.
  */
object ManifestTable {

  final case class FileEntry(path: String, rows: Long, min: Option[Long], max: Option[Long])
  /** `lastBatchId` is the streaming-ingest watermark: the highest
    * micro-batch id ever folded in (-1 when none) — what makes
    * [[upsertSink]] replay-idempotent across restarts.
    */
  final case class Snapshot(version: Long, statsCol: String, entries: Seq[FileEntry],
                            lastBatchId: Long = -1L)

  // The TABLE ROOT's own filesystem, not fs.defaultFS: a
  // scheme-qualified root (s3a:// on an HDFS-default cluster) would
  // otherwise throw Wrong-FS on every manifest probe/rename.
  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "manifests")
  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%08d.manifest")

  /** Highest committed version, or 0 if the table has none. */
  def latestVersion(spark: SparkSession, root: String): Long = {
    val dir = manifestDir(root)
    val f = fs(spark, root)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}\\.manifest") => n.substring(1, 9).toLong }
      .foldLeft(0L)(math.max)
  }

  /** Parse a committed snapshot. */
  def snapshot(spark: SparkSession, root: String, version: Long): Snapshot = {
    val in = fs(spark, root).open(manifestPath(root, version))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    require(lines.head.startsWith("graft-manifest\t1\t"),
      s"unrecognized manifest header: ${lines.head}")
    val header = lines.head.split("\t", -1)
    val statsCol = header(2)
    val lastBatchId = if (header.length > 3) header(3).toLong else -1L
    val entries = lines.tail.toIndexedSeq.map { l =>
      val p = l.split("\t", -1)
      FileEntry(p(0), p(1).toLong,
        if (p(2).isEmpty) None else Some(p(2).toLong),
        if (p(3).isEmpty) None else Some(p(3).toLong))
    }
    Snapshot(version, statsCol, entries, lastBatchId)
  }

  /** Atomically publish `entries` as version `expected + 1`. Returns
    * the new version, or None when another writer committed first
    * (the rename-as-CAS lost) — the caller re-reads and re-derives.
    */
  private[sink] def tryCommit(spark: SparkSession, root: String, statsCol: String,
                              entries: Seq[FileEntry], expected: Long,
                              lastBatchId: Long = -1L): Option[Long] = {
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    val tmp = new Path(manifestDir(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try {
      val body = (s"graft-manifest\t1\t$statsCol\t$lastBatchId" +:
        entries.map(e => s"${e.path}\t${e.rows}\t${e.min.fold("")(_.toString)}\t${e.max.fold("")(_.toString)}"))
        .mkString("", "\n", "\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    val target = manifestPath(root, expected + 1)
    if (f.exists(target) || !f.rename(tmp, target)) { f.delete(tmp, false); None }
    else Some(expected + 1)
  }

  /** Write `df` as a new immutable batch under data/ and return its
    * manifest entries (per-file rows + statsCol min/max, computed in
    * one small read-back of just the batch).
    */
  private def writeBatch(spark: SparkSession, root: String, df: DataFrame,
                         statsCol: String): Seq[FileEntry] = {
    require(df.schema(statsCol).dataType == org.apache.spark.sql.types.LongType,
      s"statsCol '$statsCol' must be LongType (it is the skipping/merge key)")
    val batch = s"data/batch-${java.util.UUID.randomUUID()}"
    df.write.parquet(new Path(root, batch).toString)
    // A 0-row batch writes no part files (deleteKeys can empty every
    // candidate file; upsert can receive an empty update set): there
    // is nothing to list in the manifest and the stats read-back
    // would fail schema inference on a file-less directory.
    val wrote = fs(spark, root).listStatus(new Path(root, batch))
      .exists(_.getPath.getName.endsWith(".parquet"))
    if (!wrote) return Seq.empty
    val rootUri = fs(spark, root).makeQualified(new Path(root)).toUri.getPath
    spark.read.parquet(new Path(root, batch).toString)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"), min(col(statsCol)).as("mn"), max(col(statsCol)).as("mx"))
      .collect().toIndexedSeq.map { r =>
        val abs = new Path(new java.net.URI(r.getString(0))).toUri.getPath
        val rel = abs.stripPrefix(rootUri).stripPrefix("/")
        FileEntry(rel, r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.get(3)).map(_.asInstanceOf[Long]))
      }
  }

  /** Create the table (version 1) from `df`, tracking `statsCol`. */
  def create(spark: SparkSession, root: String, df: DataFrame, statsCol: String): Long = {
    require(latestVersion(spark, root) == 0, s"table already exists at $root")
    val entries = writeBatch(spark, root, df, statsCol)
    require(entries.nonEmpty, "create needs at least one row (the schema lives in the files)")
    tryCommit(spark, root, statsCol, entries, 0L)
      .getOrElse(throw new java.io.IOException(s"concurrent create at $root"))
  }

  /** Append-only commit: new files, every existing file untouched. */
  def append(spark: SparkSession, root: String, df: DataFrame): Long =
    retrying(spark, root) { snap =>
      snap.entries ++ writeBatch(spark, root, df, snap.statsCol)
    }

  /** MERGE: rows of `updates` win on the stats key; all other rows
    * survive. Only data files whose [min,max] key range overlaps an
    * updated key are read and rewritten — everything else carries
    * over by reference (the manifest entry, not the bytes, moves).
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame): Long =
    merge(spark, root, updates, _.lastBatchId)

  /** [[upsert]]'s merge, committed with `batchId` as the batch
    * watermark: the snapshot's own for [[upsert]], the micro-batch id
    * for [[upsertSink]].
    */
  private def merge(spark: SparkSession, root: String, updates: DataFrame,
                    batchId: Snapshot => Long): Long =
    retrying(spark, root, batchId) { snap =>
      val key = snap.statsCol
      val keys = updates.select(col(key)).distinct()
      val (candidates, untouched) = overlapSplit(snap, keys, spark)
      val survivors =
        if (candidates.isEmpty) updates
        else readFiles(spark, root, candidates)
          .join(keys, Seq(key), "left_anti")
          .unionByName(updates, allowMissingColumns = true) // schema evolution: new columns null-fill old survivors
      untouched ++ writeBatch(spark, root, survivors, key)
    }

  /** Delete by key: files overlapping the key set are rewritten
    * without the matching rows; the rest carry over by reference.
    */
  def deleteKeys(spark: SparkSession, root: String, keys: DataFrame): Long =
    retrying(spark, root) { snap =>
      val key = snap.statsCol
      val k = keys.select(col(key)).distinct()
      val (candidates, untouched) = overlapSplit(snap, k, spark)
      if (candidates.isEmpty) untouched
      else {
        val survivors = readFiles(spark, root, candidates).join(k, Seq(key), "left_anti")
        untouched ++ writeBatch(spark, root, survivors, key)
      }
    }

  /** Files whose key range might contain one of `keys` vs provably
    * untouched files. The range test runs on the (driver-sized)
    * manifest against the keys' global min/max plus an exact
    * membership probe per candidate range — a file with no updated
    * key inside [min,max] still rewrites only when a key falls in its
    * range (the price of range-only stats; sorted layout tightens it).
    */
  private def overlapSplit(snap: Snapshot, keys: DataFrame, spark: SparkSession)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    import spark.implicits._
    val ranges = snap.entries.zipWithIndex.collect {
      case (e, i) if e.min.isDefined => (i, e.min.get, e.max.get)
    }
    val statsKey = snap.statsCol
    val hot: Set[Int] =
      if (ranges.isEmpty) Set.empty
      else keys.join(
          broadcast(ranges.toDF("__i", "__mn", "__mx")),
          col(statsKey) >= col("__mn") && col(statsKey) <= col("__mx"), "inner")
        .select($"__i").distinct().as[Int].collect().toSet
    val (cand, cold) = snap.entries.zipWithIndex.partition {
      case (e, i) => e.min.isEmpty || hot.contains(i)
    }
    (cand.map(_._1), cold.map(_._1))
  }

  /** Footer-merged read: batches committed after a column was added
    * coexist with older files — readers see the union schema with
    * NULLs where a file predates the column (parquet mergeSchema; the
    * manifest never pins a schema, files are the source of truth).
    */
  private def readFiles(spark: SparkSession, root: String, entries: Seq[FileEntry]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(entries.map(e => new Path(root, e.path).toString): _*)

  /** Read the latest snapshot (or `version` for time travel). A
    * fully-emptied snapshot (every row deleted) reads as an empty
    * DataFrame carrying the schema of the nearest earlier non-empty
    * version — emptiness is a table state, not an error.
    */
  def read(spark: SparkSession, root: String, version: Long = 0L): DataFrame = {
    val v = if (version > 0) version else latestVersion(spark, root)
    require(v > 0, s"no committed snapshot at $root")
    val entries = snapshot(spark, root, v).entries
    if (entries.nonEmpty) readFiles(spark, root, entries)
    else {
      val donor = (v - 1 to 1L by -1).iterator
        .map(pv => snapshot(spark, root, pv).entries).find(_.nonEmpty)
        .getOrElse(throw new IllegalStateException(
          s"snapshot v$v of $root is empty and no earlier version carries a schema"))
      readFiles(spark, root, donor).filter(lit(false))
    }
  }

  /** Key-range scan with manifest-level file skipping: only files
    * whose [min,max] overlaps [lo,hi] are listed to the reader at
    * all — the scan's task count follows the MATCHING files.
    */
  def scanKeyRange(spark: SparkSession, root: String, lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(spark, root, latestVersion(spark, root))
    val hot = snap.entries.filter(e => e.min.forall(_ <= hi) && e.max.forall(_ >= lo))
    if (hot.isEmpty) read(spark, root).filter(lit(false))
    else readFiles(spark, root, hot)
      .filter(col(snap.statsCol) >= lo && col(snap.statsCol) <= hi)
  }

  /** Optimistic-concurrency loop: derive the next file list from the
    * current snapshot, commit as version+1; when the rename-CAS
    * loses, re-read and re-derive against the winner.
    */
  private def retrying(spark: SparkSession, root: String,
                       batchId: Snapshot => Long = _.lastBatchId)(
      derive: Snapshot => Seq[FileEntry]): Long = {
    var attempts = 0
    while (attempts < 5) {
      val snap = snapshot(spark, root, latestVersion(spark, root))
      tryCommit(spark, root, snap.statsCol, derive(snap), snap.version, batchId(snap)) match {
        case Some(v) => return v
        case None => attempts += 1
      }
    }
    throw new java.io.IOException(s"commit contention at $root after $attempts attempts")
  }

  /** Exactly-once streaming MERGE: a `foreachBatch` body that upserts
    * each micro-batch into the manifest table and records the batch id
    * in the SAME atomic manifest commit — data and progress marker
    * can't diverge. On replay after a crash (Structured Streaming
    * re-delivers the last uncommitted-at-the-sink batch), the recorded
    * watermark makes the duplicate a no-op, so the table converges to
    * exactly-once content on plain parquet. Use:
    * {{{ stream.writeStream.foreachBatch(ManifestTable.upsertSink(root)).start() }}}
    * The table must already exist ([[create]]); single stream per
    * table (the id watermark is global, not per-query).
    */
  def upsertSink(root: String): (DataFrame, Long) => Unit = { (batch, id) =>
    val spark = batch.sparkSession
    val snap = snapshot(spark, root, latestVersion(spark, root))
    if (id > snap.lastBatchId) {
      val b = batch.persist()
      try {
        // An empty batch still advances the watermark: replayed, it must stay empty.
        if (b.isEmpty) retrying(spark, root, _ => id)(_.entries)
        else merge(spark, root, b, _ => id)
      } finally b.unpersist()
    }
  }

  /** Change-data capture between two committed snapshots: every key
    * whose row was inserted, updated, or deleted from `fromV` to
    * `toV`, with the NEW values for insert/update and the OLD values
    * for delete.
    *
    * The manifest diff is what makes this scale-free: files present
    * in BOTH manifests carried over by reference, so their rows are
    * bit-identical by construction and are never read — only files
    * added or removed between the versions load at all. A
    * 100 TB table whose daily MERGE touches one day's key range
    * diffs at the cost of that day, not the table. Rewritten-but-
    * unchanged rows (merge survivors that moved files) are dropped by
    * a null-safe full-row compare (`md5(to_json(...))` — field names
    * disambiguate dropped-null encodings).
    */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"changes needs fromV < toV, got $fromV -> $toV")
    val a = snapshot(spark, root, fromV)
    val b = snapshot(spark, root, toV)
    val aPaths = a.entries.map(_.path).toSet
    val bPaths = b.entries.map(_.path).toSet
    val removed = a.entries.filterNot(e => bPaths.contains(e.path))
    val added = b.entries.filterNot(e => aPaths.contains(e.path))
    val key = a.statsCol
    def side(entries: Seq[FileEntry], version: Long): DataFrame =
      if (entries.nonEmpty) readFiles(spark, root, entries)
      else read(spark, root, version).filter(lit(false))
    val oldDf = side(removed, fromV)
    val newDf = side(added, toV)
    // Data columns are the UNION of both sides: upsert supports schema
    // evolution (allowMissingColumns), so a row whose only change is a
    // newly added column must still sign differently — old-side-only
    // columns would misclassify it "unchanged" and drop the new column
    // from the CDC output. A side missing a column contributes NULL,
    // which to_json drops (field names keep the encodings distinct).
    val dataCols = (oldDf.columns ++ newDf.columns).distinct.filterNot(_ == key).toSeq
    def tagged(df: DataFrame, p: String): DataFrame = {
      val have = df.columns.toSet
      val filled = dataCols.map(c => (if (have(c)) col(c) else lit(null)).as(c))
      df.select(col(key) +: filled: _*)
        .select(col(key) +: dataCols.map(c => col(c).as(s"$p$c"))
          :+ md5(to_json(struct(dataCols.map(col): _*))).as(s"${p}__sig"): _*)
    }
    tagged(oldDf, "o_0_").join(tagged(newDf, "n_0_"), Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("o_0___sig").isNull, "insert")
          .when(col("n_0___sig").isNull, "delete")
          .when(col("o_0___sig") === col("n_0___sig"), "unchanged")
          .otherwise("update"))
      .filter(col("change_type") =!= "unchanged")
      // Pick the side by CHANGE TYPE, not per-column coalesce: an
      // update that set a column to NULL must surface that NULL — a
      // coalesce would fall back to the old value and a consumer
      // applying the CDC row would re-assert what the update deleted.
      .select(col("change_type") +: col(key) +:
        dataCols.map(c =>
          when(col("change_type") === "delete", col(s"o_0_$c"))
            .otherwise(col(s"n_0_$c")).as(c)): _*)
  }

  /** Small-files maintenance as a LAYOUT-ONLY commit: files under
    * `minBytes` coalesce into `targetPartitions` rewritten files;
    * files already big enough carry over by reference. Incremental
    * ingest (streaming upserts, IVF-style batch appends) accretes
    * small files every commit, and at 100 TB the scan's task count
    * follows file count — periodic compaction is what keeps read
    * parallelism sane. Rows are untouched (same snapshot content
    * before and after, spec-checked by fingerprint); readers on the
    * old version keep their files until [[vacuum]].
    */
  def compact(spark: SparkSession, root: String, minBytes: Long = 8L * 1024 * 1024,
              targetPartitions: Int = 1): Long =
    retrying(spark, root) { snap =>
      val f = fs(spark, root)
      val (small, big) = snap.entries.partition { e =>
        f.getFileStatus(new Path(root, e.path)).getLen < minBytes
      }
      if (small.length <= 1) snap.entries
      else big ++ writeBatch(spark, root,
        readFiles(spark, root, small).coalesce(targetPartitions), snap.statsCol)
    }

  /** Remove files no retained snapshot references plus manifests
    * older than the newest `retainVersions`. Returns deleted paths.
    * Orphans from crashed writers (data written, commit never
    * renamed) die here too.
    */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 2): Seq[String] = {
    val f = fs(spark, root)
    val latest = latestVersion(spark, root)
    val keepVs = (math.max(1, latest - retainVersions + 1) to latest)
    val referenced = keepVs.flatMap(v => snapshot(spark, root, v).entries.map(_.path)).toSet
    val dataDir = new Path(root, "data")
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath
          .stripPrefix(f.makeQualified(new Path(root)).toUri.getPath).stripPrefix("/")
        if (st.isFile && st.getPath.getName.endsWith(".parquet") && !referenced.contains(rel)) {
          f.delete(st.getPath, false)
          deleted += rel
        }
      }
    }
    (1L until keepVs.head).foreach { v =>
      if (f.delete(manifestPath(root, v), false)) deleted += manifestPath(root, v).getName
    }
    deleted.toSeq
  }
}
