package graft.pipeline

import graft.SharedSpark
import graft.streaming.Incremental
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JobRunnerSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("jobrunner").toString

  test("eligibility job: archive + append + upsert land; rerun upsert is idempotent") {
    val out = tmp()
    val n1 = JobRunner.run(spark, "eligibility", "/root/testdata/sf0.001", out)
    assert(n1 > 0)
    val current1 = spark.read.parquet(s"$out/eligibility/current").count()
    val n2 = JobRunner.run(spark, "eligibility", "/root/testdata/sf0.001", out)
    val current2 = spark.read.parquet(s"$out/eligibility/current").count()
    assert(n1 == n2 && current1 == current2, "upsert keyed on visit_id must not grow on rerun")
    assert(spark.read.parquet(s"$out/eligibility/append").count() == n1 * 2, "append accumulates per run")
    assert(spark.read.option("header", "true").csv(s"$out/eligibility/archive").count() == n1)
  }

  test("eligibility job: a failed upsert appends nothing, so the retry lands the batch once") {
    val dir = "/root/testdata/sf0.001"
    val clean = tmp()
    val n = JobRunner.run(spark, "eligibility", dir, clean)
    val out = tmp()
    val current = java.nio.file.Paths.get(out, "eligibility", "current")
    java.nio.file.Files.createDirectories(current.getParent)
    java.nio.file.Files.writeString(current, "not a table")
    intercept[Exception](JobRunner.run(spark, "eligibility", dir, out))
    java.nio.file.Files.delete(current)
    assert(JobRunner.run(spark, "eligibility", dir, out) == n)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def archive(o: String) = rows(spark.read.option("header", "true").csv(s"$o/eligibility/archive"))
    def table(o: String, t: String) = rows(spark.read.parquet(s"$o/eligibility/$t"))
    assert(spark.read.parquet(s"$out/eligibility/append").count() == n, "the retry must append the batch once")
    assert(table(out, "append") == table(clean, "append"))
    assert(archive(out) == archive(clean))
    assert(table(out, "current") == table(clean, "current"))
  }

  test("every job of the eligibility job runs in the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    assert(graft.util.ListenerDrain.drain(spark))
    sc.addSparkListener(listener)
    sc.setJobGroup("jobrunner-spec", "eligibility", interruptOnCancel = false)
    try JobRunner.run(spark, "eligibility", "/root/testdata/sf0.001", tmp())
    finally {
      sc.clearJobGroup()
      assert(graft.util.ListenerDrain.drain(spark))
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty && seen.forall(_ == "jobrunner-spec"), seen)
  }

  test("load upsert prunes: untouched buckets' files byte-identical after an incremental run") {
    val out = tmp()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
      (6L, "f"), (7L, "g"), (8L, "h"), (9L, "i"), (10L, "j")).toDF("visit_id", "v")
    JobRunner.load(base, s"$out/t", upsertKey = Some("visit_id"))

    def snapshot(): Map[String, Seq[(String, String)]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out, "t", "current")
      java.nio.file.Files.list(root).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("part_bucket="))
        .map { d =>
          val files = java.nio.file.Files.list(d).iterator().asScala
            .filter(f => f.getFileName.toString.endsWith(".parquet"))
            .map(f => (f.getFileName.toString,
              java.util.Base64.getEncoder.encodeToString(
                java.security.MessageDigest.getInstance("MD5")
                  .digest(java.nio.file.Files.readAllBytes(f)))))
            .toSeq.sortBy(_._1)
          d.getFileName.toString -> files
        }.toMap
    }
    val before = snapshot()
    assert(before.size > 1, s"need several buckets to prove pruning, got ${before.keySet}")

    // Incremental run touching exactly one key → at most one bucket rewritten.
    JobRunner.load(Seq((1L, "A2")).toDF("visit_id", "v"), s"$out/t", upsertKey = Some("visit_id"))
    val after = snapshot()
    val changed = after.keySet.filter(k => before.get(k) != after.get(k)) ++ (before.keySet -- after.keySet)
    assert(changed.size <= 1, s"one updated key must touch at most one bucket, changed: $changed")
    (after.keySet - changed.headOption.getOrElse("")).foreach { k =>
      assert(before(k) == after(k), s"untouched bucket $k must be byte-identical")
    }
    // Merge semantics still hold through the pruned path.
    val rows = spark.read.parquet(s"$out/t/current")
      .select($"visit_id", $"v").as[(Long, String)].collect().toMap
    assert(rows(1L) == "A2" && rows(2L) == "b" && rows.size == 10)
  }

  test("incremental job: first run drains, second run is a no-op, new data flows once") {
    val out = tmp()
    val n1 = JobRunner.run(spark, "incremental", "/root/testdata/sf0.001", out)
    assert(n1 == 1000, s"first poll processes the whole events table, got $n1")
    val n2 = JobRunner.run(spark, "incremental", "/root/testdata/sf0.001", out)
    assert(n2 == 0, "watermark must suppress reprocessing")
    assert(spark.read.parquet(s"$out/events/append").count() == 1000)
  }

  test("incremental watermark advances strictly and splits batches exactly") {
    val state = tmp()
    val inc = new Incremental(spark, state, "ts")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"))).toDF("id", "ts")
    var seen = Seq.empty[Long]
    inc.runBatch(df)(b => seen = b.select($"id").as[Long].collect().toSeq)
    assert(seen.toSet == Set(1L, 2L))
    val later = Seq((3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"))).toDF("id", "ts")
    inc.runBatch(df.unionByName(later))(b => seen = b.select($"id").as[Long].collect().toSeq)
    assert(seen == Seq(3L), "only strictly-newer rows in the second batch")
  }

  test("watermark store compacts: file count stays bounded as runs accumulate") {
    val state = tmp()
    val inc = new Incremental(spark, state, "ts", compactAfter = 4)
    def fileCount(): Int = {
      val d = java.nio.file.Paths.get(state, "hwm.parquet")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .count(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))
    }
    (1 to 12).foreach { i =>
      val batch = Seq((i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 $i%02d:00:00")))
        .toDF("id", "ts")
      inc.commit(batch)
    }
    assert(fileCount() <= 5,
      s"12 commits with compactAfter=4 must fold history, found ${fileCount()} files")
    assert(inc.currentWatermark().contains(java.sql.Timestamp.valueOf("2024-01-01 12:00:00")),
      "compaction preserves the max watermark")
  }

  test("watermark store recovers an orphaned compaction aside instead of rewinding to None") {
    val state = tmp()
    val inc = new Incremental(spark, state, "ts")
    inc.commit(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"))).toDF("id", "ts"))
    // Simulate a compaction crash between the two renames: the live
    // store is gone, the history survives only at `.old`.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$state/hwm.parquet")
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"$state/hwm.parquet.old")))
    // The old catch-all read this as "no watermark" (full source
    // re-read); recovery must restore the aside and keep the cut.
    assert(inc.currentWatermark().contains(java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 06:00:00"))).toDF("id", "ts")
    var seen = Seq.empty[Long]
    inc.runBatch(df)(b => seen = b.select($"id").as[Long].collect().toSeq)
    assert(seen == Seq(2L), s"recovered watermark must suppress old rows, saw $seen")
  }

  test("failure notification (E5): failed run leaves a durable record AND still throws") {
    val out = tmp()
    val ex = intercept[IllegalArgumentException] {
      JobRunner.runNotified(spark, "no-such-job", "/root/testdata/sf0.001", out,
        new FileNotifier(s"$out/_notifications"))
    }
    assert(ex.getMessage.contains("no-such-job"), "notification never swallows the failure")
    val log = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "_notifications", "failures.jsonl"))
    assert(log.contains("\"job\":\"no-such-job\""))
    assert(log.contains("IllegalArgumentException"))
  }

  test("unknown job name fails loudly") {
    intercept[IllegalArgumentException] { JobRunner.run(spark, "nope", "/root/testdata/sf0.001", tmp()) }
  }

  test("reliable stage materialization: durable checkpoints, hash-identical pipeline output") {
    // JobRunner's checkpoint flag flips every Materialize.stage
    // boundary from localCheckpoint blocks to durable checkpoint()
    // files — executor-loss tolerance must be a pure storage swap,
    // never a semantic one.
    val dir = "/root/testdata/sf0.001"
    def result(): Seq[String] =
      graft.pipeline.Pipelines.predictions(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    val failStop = result()
    val ckpt = tmp()
    JobRunner.enableReliable(spark, ckpt)
    try {
      assert(result() == failStop, "reliable mode changed the pipeline output")
      // The blocks must actually be durable (files under the dir),
      // or the executor-loss claim is vacuous.
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
      assert(rddDirs > 0, s"no durable checkpoint blocks written under $ckpt")
    } finally spark.conf.set(graft.util.Materialize.reliableConf, "false")
  }
}
