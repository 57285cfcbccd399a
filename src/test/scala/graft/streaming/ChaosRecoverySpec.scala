package graft.streaming

import graft.SharedSpark
import graft.enrich.Checkpoint
import graft.sink.FaultyFs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fault-injection for the commit protocols SinksSpec /
  * ManifestTableSpec do not cover: the enrichment key store
  * ([[graft.enrich.Checkpoint]]), the watermark compaction
  * (`Incremental.maybeCompact`, committed by [[graft.sink.Swap.swap]]),
  * the rollup log's `__batch`-partition sink
  * ([[IncrementalAgg.maintainSink]]), and the small-file compactor
  * ([[graft.sink.Sinks.compactPartitions]], committed by
  * [[graft.sink.Swap.swapPartitions]], the loop upsertPartitioned
  * shares).
  * Same methodology as SinksSpec's chaos block: the faulty://
  * filesystem throws at an exact protocol rename/delete, producing the
  * on-disk state a process kill at that instant would leave; the
  * assertions are old-or-new visibility at the crash point and
  * convergence on replay. Every case asserts the fault actually fired
  * (a chaos test whose predicate never matched proves nothing).
  */
class ChaosRecoverySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def faultyPath(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    "faulty://" + java.nio.file.Files.createTempDirectory(tag).toString
  }

  // ---- enrich.Checkpoint: the processed-keys store ----

  test("chaos: first Checkpoint.record killed at job commit — store reads as empty, replay converges") {
    val store = faultyPath("chaos_ck1") + "/keys"
    val ck = new Checkpoint(spark, store, "k")
    // Only the committer's JOB-commit merge renames land directly
    // under the store (task commits stay inside _temporary) — dying
    // there is the worst spot: the store dir exists but holds no
    // committed data file.
    FaultyFs.armRename((src, dst) =>
      src.toString.contains("_temporary") && !dst.toString.contains("_temporary") &&
        dst.toString.contains("/keys"))
    try {
      intercept[Exception] { ck.record(Seq("a", "b").toDF("k"), "r1") }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()
    // Crash debris (an empty or _temporary-only store) must read as
    // "nothing processed", not wedge schema inference — the caller
    // re-runs the batch and every key fires again (the documented
    // at-least-once-on-crash contract of process-then-record).
    assert(ck.processedKeys().isEmpty, "crashed first record must leave an empty key store")
    ck.record(Seq("a", "b").toDF("k"), "r1")
    assert(ck.processedKeys().as[String].collect().toSet == Set("a", "b"))
  }

  test("chaos: Checkpoint.record killed mid-commit on a LIVE store — old keys survive, replay converges") {
    val store = faultyPath("chaos_ck2") + "/keys"
    val ck = new Checkpoint(spark, store, "k")
    ck.record(Seq("a", "b").toDF("k"), "r1")
    FaultyFs.armRename((src, dst) =>
      src.toString.contains("_temporary") && !dst.toString.contains("_temporary") &&
        dst.toString.contains("/keys"))
    try {
      intercept[Exception] { ck.record(Seq("b", "c", "d").toDF("k"), "r2") }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()
    // Old-or-new at the key granularity: everything recorded before
    // the crash stays visible; at most a prefix of the crashed batch
    // may have landed (append-only store — a partial job commit can
    // expose SOME part files, never corrupt old ones).
    val mid = ck.processedKeys().as[String].collect().toSet
    assert(Set("a", "b").subsetOf(mid), s"crash lost previously committed keys: $mid")
    assert(mid.subsetOf(Set("a", "b", "c", "d")), s"crash invented keys: $mid")
    // Replay converges: re-recording the same batch is idempotent
    // (processedKeys reads DISTINCT), and filterNew then drops exactly
    // the recorded keys.
    ck.record(Seq("b", "c", "d").toDF("k"), "r2")
    assert(ck.processedKeys().as[String].collect().toSet == Set("a", "b", "c", "d"))
    val fresh = ck.filterNew(Seq("a", "b", "c", "d", "e").toDF("k")).as[String].collect().toSeq
    assert(fresh == Seq("e"), s"filterNew after replay must pass only unseen keys, got $fresh")
  }

  // ---- Incremental.maybeCompact: the watermark store's Swap ----

  /** Drive commits until the store's file count exceeds compactAfter,
    * so the NEXT commit triggers compaction.
    */
  private def fillStore(inc: Incremental, upToSeq: Int): Unit =
    (1 to upToSeq).foreach { i =>
      inc.commit(Seq((i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L)))
        .toDF("id", "ts"))
    }

  test("chaos: watermark compaction killed between its two renames — recovery restores, no rewind") {
    val state = faultyPath("chaos_wm1")
    val inc = new Incremental(spark, state, "ts", compactAfter = 3)
    fillStore(inc, 3) // 3 appended files: at the threshold, not over it
    // The swap rename is the only one whose SOURCE is the .compacting
    // staging dir itself (the committer's renames inside it carry
    // part-file suffixes); it runs AFTER the live store moved aside —
    // the window where NO live store exists.
    FaultyFs.armRename((src, _) => src.toString.endsWith(".compacting"))
    try {
      intercept[Exception] {
        inc.commit(Seq((99L, new java.sql.Timestamp(1700000099000L))).toDF("id", "ts"))
      }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()
    // The 4th append COMMITTED before compaction crashed, so the
    // recovered watermark must include it — a rewind to None (or to
    // the pre-crash max) would re-read history as "new".
    val hwm = inc.currentWatermark()
    assert(hwm.contains(new java.sql.Timestamp(1700000099000L)),
      s"recovered watermark diverged: $hwm")
    // And the healed store keeps working: later commits advance it and
    // the retried compaction completes.
    inc.commit(Seq((100L, new java.sql.Timestamp(1700000100000L))).toDF("id", "ts"))
    assert(inc.currentWatermark().contains(new java.sql.Timestamp(1700000100000L)))
  }

  test("chaos: watermark compaction killed after the swap, before aside cleanup — readers already see the snapshot") {
    val state = faultyPath("chaos_wm2")
    val inc = new Incremental(spark, state, "ts", compactAfter = 3)
    fillStore(inc, 3)
    // The aside is deleted twice per compaction (pre-swap "superseded"
    // sweep, post-swap cleanup): skip the first match to die exactly
    // AFTER the swap completed.
    FaultyFs.armDelete(_.toString.endsWith(".old"), skip = 1)
    try {
      intercept[Exception] {
        inc.commit(Seq((99L, new java.sql.Timestamp(1700000099000L))).toDF("id", "ts"))
      }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()
    // The swap was the commit pivot: the live store IS the compacted
    // snapshot, no recovery step needed; the stale aside is invisible
    // to readers and swept by the next compaction's pre-swap delete.
    assert(inc.currentWatermark().contains(new java.sql.Timestamp(1700000099000L)))
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/hwm.parquet.old")),
      "crash must have left the stale aside (else the fault hit the wrong delete)")
    inc.commit(Seq((100L, new java.sql.Timestamp(1700000100000L))).toDF("id", "ts"))
    assert(inc.currentWatermark().contains(new java.sql.Timestamp(1700000100000L)))
  }

  // ---- Sinks.compactPartitions: the small-file compactor's swap ----

  /** A two-partition table with >maxFiles small files per partition, so
    * both partitions qualify for compaction.
    */
  private def smallFileTable(tag: String): (String, Set[(Long, Long)]) = {
    val dir = faultyPath(tag) + "/t"
    // 10 coalesce(1) appends -> exactly 10 parquet files per partition
    // dir, deterministically over the compactor's maxFiles = 8 (a bulk
    // repartition write can parity-align rows to tasks and undershoot).
    val rows = (0L until 10L).flatMap(i => Seq((i, 0L), (i + 100L, 1L)))
    rows.grouped(2).foreach { pair =>
      pair.toDF("id", "month").coalesce(1)
        .write.mode("append").partitionBy("month").parquet(dir)
    }
    (dir, rows.toSet)
  }

  private def readBack(dir: String): Set[(Long, Long)] =
    spark.read.parquet(dir).select($"id", $"month".cast("long"))
      .as[(Long, Long)].collect().toSet

  private def parquetCount(dir: String, part: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, part)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1
    else fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  test("chaos: compactPartitions killed between its two renames — aside survives, retry heals and completes") {
    val (dir, expected) = smallFileTable("chaos_cp1")
    // The swap's staging rename is the only one whose SOURCE lives
    // directly under .compacting (the committer's renames inside the
    // staging write carry _temporary markers and keep their dst inside
    // .compacting). Dying there is the naked window: the live partition
    // dir has moved aside and nothing has replaced it yet.
    graft.sink.FaultyFs.armRename((src, dst) =>
      src.toString.contains(".compacting") && !src.toString.contains("_temporary") &&
        !dst.toString.contains(".compacting"))
    try {
      intercept[Exception] { graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8) }
      assert(graft.sink.FaultyFs.didFire, "the injected fault must actually have fired")
    } finally graft.sink.FaultyFs.disarm()
    // The crashed partition's sole surviving copy is its aside.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val asides = fs.listStatus(new org.apache.hadoop.fs.Path(dir, ".merge_aside")).map(_.getPath.getName)
    assert(asides.nonEmpty, "crash must have left the moved-aside partition")
    assert(asides.exists(a => !fs.exists(new org.apache.hadoop.fs.Path(dir, a))),
      "the fault must have hit the naked window (live dir missing, aside present)")
    // Retry: Swap.restorePartitions heals the naked partition first,
    // then compaction re-runs to completion — no row lost or invented.
    val compacted = graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8)
    assert(compacted.toSet == Set("month=0", "month=1"), s"retry must compact both partitions: $compacted")
    assert(readBack(dir) == expected)
    assert(parquetCount(dir, "month=0") == 1 && parquetCount(dir, "month=1") == 1,
      "tiny partitions must compact to one file each")
  }

  test("chaos: compactPartitions killed after the swap, before aside cleanup — readers see the snapshot, rerun is safe") {
    val (dir, expected) = smallFileTable("chaos_cp2")
    // The aside is deleted twice per partition (pre-swap superseded
    // sweep, post-swap cleanup): skip the first match to die exactly
    // AFTER the first partition's swap completed.
    graft.sink.FaultyFs.armDelete(_.toString.contains(".merge_aside"), skip = 1)
    try {
      intercept[Exception] { graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8) }
      assert(graft.sink.FaultyFs.didFire, "the injected fault must actually have fired")
    } finally graft.sink.FaultyFs.disarm()
    // The swap was the commit pivot: the first partition already reads
    // as its compacted snapshot, the stale aside is a dot-path readers
    // never see, and the whole table is intact.
    assert(readBack(dir) == expected, "post-swap crash must leave every row visible exactly once")
    assert(Seq("month=0", "month=1").count(p => parquetCount(dir, p) == 1) == 1,
      "exactly one partition should have completed its swap before the crash")
    // Rerun finishes the second partition; the first (now compact) is
    // untouched, and its stale aside stays invisible until a future
    // compaction of that partition sweeps it.
    val second = graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8)
    assert(second.size == 1, s"rerun must compact exactly the unfinished partition: $second")
    assert(readBack(dir) == expected)
    assert(parquetCount(dir, "month=0") == 1 && parquetCount(dir, "month=1") == 1)
  }

  // ---- IncrementalAgg.maintainSink: the __batch-partition rollup log ----

  test("chaos: rollup-log batch commit killed mid-partition-publish — checkpoint restart replays, no double count") {
    val src = java.nio.file.Files.createTempDirectory("chaos_iagg_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      src.resolve("events.parquet"))
    val rawSchema = graft.tables.TestTables.rawEventsSchema(spark, "/root/testdata/sf0.001")
    val out = faultyPath("chaos_iagg_out") + "/rollup"
    val checkpoint = java.nio.file.Files.createTempDirectory("chaos_iagg_ck").toString
    val keys = Seq("event_type")
    val ms = Seq("n" -> ("sum", lit(1L)), "last_us" -> ("max", col("ts_us")))
    def stream() = graft.tables.TestTables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(src.toString))
    def run(): Unit =
      IncrementalAgg.maintainSink(stream(), out, checkpoint, keys, ms).awaitTermination(60000)

    // The dynamic-partition-overwrite publish renames the staged
    // partition dir to its final `__batch=N` location — dying there
    // leaves the log without the batch (or with a partial publish),
    // and the STREAM's checkpoint still holds the batch as
    // uncommitted.
    // src is the staged copy (under .spark-staging-<txn> or the
    // committer's _temporary) — which itself CONTAINS `__batch=N`, so
    // the filter keys on the staging markers, not on the partition
    // name's absence.
    FaultyFs.armRename((src0, dst) =>
      (src0.toString.contains(".spark-staging") || src0.toString.contains("_temporary")) &&
        dst.toString.matches(".*/__batch=\\d+(/[^/]+)?") &&
        !dst.toString.contains(".spark-staging") && !dst.toString.contains("_temporary"))
    try {
      intercept[Exception] { run() }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()

    // Restart from the SAME checkpoint: AvailableNow re-delivers the
    // uncommitted batch under the same batch id; the dynamic overwrite
    // replaces exactly its own partition, so the fold equals the
    // one-pass recompute — nothing lost, nothing double-counted.
    run()
    val expected = IncrementalAgg.rollup(
      graft.tables.TestTables.events(spark, "/root/testdata/sf0.001"), keys, ms)
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val merged = IncrementalAgg.readMerged(spark, out, keys, Seq("n" -> "sum", "last_us" -> "max"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(merged == expected, s"replayed rollup log diverged from recompute")
  }
}
