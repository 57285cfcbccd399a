package graft.sink

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("upsert: updates win on key, untouched old rows survive, new keys insert") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val upd = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val out = Sinks.upsert(old, upd, "k").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
  }

  test("upsertPartitioned: merges touched partitions, leaves untouched partition files byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("pupsert_spec").toString + "/table"
    val old = Seq(
      (1L, "a", "2024-01"), (2L, "b", "2024-01"),
      (3L, "c", "2024-02"), (4L, "d", "2024-02"),
      (5L, "e", "2024-03")
    ).toDF("k", "v", "month")
    Sinks.upsertPartitioned(spark, dir, old, "k", "month")

    def partitionFiles(month: String): Map[String, (Long, Int)] = {
      val p = java.nio.file.Paths.get(dir, s"month=$month")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(f => f.getFileName.toString ->
          (java.nio.file.Files.size(f),
            java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))))
        .toMap
    }
    val jan = partitionFiles("2024-01")
    val mar = partitionFiles("2024-03")

    // Touch only 2024-02: update k=3, insert k=6.
    val upd = Seq((3L, "C", "2024-02"), (6L, "f", "2024-02")).toDF("k", "v", "month")
    Sinks.upsertPartitioned(spark, dir, upd, "k", "month")

    val out = spark.read.parquet(dir).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "C", 4L -> "d", 5L -> "e", 6L -> "f"))
    assert(partitionFiles("2024-01") == jan, "untouched 2024-01 must not be rewritten")
    assert(partitionFiles("2024-03") == mar, "untouched 2024-03 must not be rewritten")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".staging")),
      "staging dir is cleaned up")
  }

  test("upsertPartitioned: recovers from crash leftovers (stale staging + aside dirs)") {
    val dir = java.nio.file.Files.createTempDirectory("pupsert_crash").toString + "/table"
    Sinks.upsertPartitioned(spark,
      dir, Seq((1L, "a", "2024-01"), (2L, "b", "2024-02")).toDF("k", "v", "month"), "k", "month")

    // Simulate a crash mid-merge: a stale staging dir and an aside copy
    // of an old partition version survive on disk.
    val staleStaging = java.nio.file.Paths.get(dir + ".staging", "month=2024-01")
    java.nio.file.Files.createDirectories(staleStaging)
    java.nio.file.Files.writeString(staleStaging.resolve("junk.txt"), "stale")
    val aside = java.nio.file.Paths.get(dir, ".merge_aside", "month=2024-02")
    java.nio.file.Files.createDirectories(aside)
    java.nio.file.Files.writeString(aside.resolve("old.parquet"), "not real parquet")

    // Reads ignore both (dot-dir aside; staging is outside the table dir).
    assert(spark.read.parquet(dir).count() == 2)

    // The next merge supersedes the leftovers and lands correctly.
    Sinks.upsertPartitioned(spark,
      dir, Seq((2L, "B", "2024-02")).toDF("k", "v", "month"), "k", "month")
    val out = spark.read.parquet(dir).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".staging")))
    assert(!java.nio.file.Files.exists(aside), "superseded aside is cleaned on the next merge")
  }

  test("upsertPartitioned: restores an orphaned aside partition before merging") {
    val dir = java.nio.file.Files.createTempDirectory("pupsert_orphan").toString + "/table"
    Sinks.upsertPartitioned(spark,
      dir, Seq((1L, "a", "2024-01"), (2L, "b", "2024-02")).toDF("k", "v", "month"), "k", "month")
    // Simulate a crash between a partition's two renames: the live dir
    // for 2024-02 is gone, the only copy sits under .merge_aside.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".merge_aside"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(dir, "month=2024-02"),
      new org.apache.hadoop.fs.Path(dir + "/.merge_aside", "month=2024-02")))
    // Touching that partition again must first restore it, so the
    // non-updated key 2 survives alongside the new key 3.
    Sinks.upsertPartitioned(spark,
      dir, Seq((3L, "c", "2024-02")).toDF("k", "v", "month"), "k", "month")
    val out = spark.read.parquet(dir).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "c"), s"restored rows must survive: $out")
  }

  test("upsertPartitioned: a null partition value merges instead of dropping the null partition") {
    val dir = java.nio.file.Files.createTempDirectory("pupsert_null").toString + "/table"
    val nullMonth = null.asInstanceOf[String]
    Sinks.upsertPartitioned(spark,
      dir, Seq((1L, "a", nullMonth), (2L, "b", "2024-01")).toDF("k", "v", "month"), "k", "month")
    // isin(null) never matches: the old filter read ZERO live rows for
    // the null partition, so key 1 vanished when key 3 arrived there.
    Sinks.upsertPartitioned(spark,
      dir, Seq((3L, "c", nullMonth)).toDF("k", "v", "month"), "k", "month")
    val out = spark.read.parquet(dir).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "c"), s"null-partition rows must survive: $out")
  }

  test("compactPartitions: shrinks only oversized partitions, data identical, others untouched") {
    val dir = java.nio.file.Files.createTempDirectory("compact_spec").toString + "/table"
    // month 2024-01: 12 tiny files (oversized); 2024-02: 2 files (fine).
    (1 to 12).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(s"$dir/month=2024-01")
    }
    (13 to 14).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(s"$dir/month=2024-02")
    }
    def files(month: String): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, s"month=$month"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    val febBefore = files("2024-02").map(f =>
      f.getFileName.toString -> java.nio.file.Files.size(f)).toMap
    val before = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet

    val compacted = graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8)
    assert(compacted == Seq("month=2024-01"), s"only the oversized partition: $compacted")
    assert(files("2024-01").size < 12, "file count must shrink")
    assert(files("2024-02").map(f =>
      f.getFileName.toString -> java.nio.file.Files.size(f)).toMap == febBefore,
      "under-threshold partition untouched")
    val after = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet
    assert(after == before, "compaction is layout-only")
    // Idempotent second pass: nothing oversized remains.
    assert(graft.sink.Sinks.compactPartitions(spark, dir, "month", maxFiles = 8).isEmpty)
  }

  // Real fault injection for the rename-aside protocol: the faulty://
  // filesystem throws at an exact protocol rename/delete, leaving the
  // on-disk state a process kill at that instant would leave (the
  // debris-fabrication tests above verify recovery from HAND-BUILT
  // states; these verify the protocol actually PRODUCES those states
  // when it dies mid-flight).
  private def faultyPath(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    "faulty://" + java.nio.file.Files.createTempDirectory(tag).toString + "/table"
  }

  test("chaos: upsertPartitioned killed between ONE partition's two renames — re-run restores and converges") {
    val p = faultyPath("chaos_pp")
    Sinks.upsertPartitioned(spark, p,
      Seq((1L, "a", "m1"), (2L, "b", "m2"), (3L, "c", "m3")).toDF("k", "v", "month"),
      "k", "month")
    // The protocol's per-partition staging->live rename has dst exactly
    // <table>/month=mX (committer renames target <table>.staging/... and
    // never the live dir). skip = 1: the FIRST touched partition swaps
    // fully, the SECOND dies after its live copy moved aside — the
    // mixed old/new mid-loop state the Scaladoc documents.
    FaultyFs.armRename((src, dst) =>
      src.toString.contains(".staging") && dst.toString.matches(".*/table/month=m[0-9]"),
      skip = 1)
    try {
      intercept[java.io.IOException] {
        Sinks.upsertPartitioned(spark, p,
          Seq((2L, "B", "m2"), (3L, "C", "m3")).toDF("k", "v", "month"), "k", "month")
      }
      assert(FaultyFs.didFire, "the injected fault must actually have fired")
    } finally FaultyFs.disarm()
    // Re-running the same merge restores the aside partition first and
    // converges: the already-swapped partition re-merges idempotently
    // (updates win by key), the crashed one recovers, m1 is untouched.
    Sinks.upsertPartitioned(spark, p,
      Seq((2L, "B", "m2"), (3L, "C", "m3")).toDF("k", "v", "month"), "k", "month")
    val out = spark.read.parquet(p).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C"), s"post-crash merge diverged: $out")
  }

  test("every rename in src/main goes through Swap, apart from ManifestTable.tryCommit's CAS") {
    import scala.jdk.CollectionConverters._
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")) finally s.close()
    }
    // The span of the brace block that opens first after `anchor`.
    def block(text: String, anchor: String): Range = {
      val start = text.indexOf(anchor)
      assert(start >= 0, s"scan anchor `$anchor` is missing")
      var i = text.indexOf('{', start)
      var depth = 0
      do {
        if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
        i += 1
      } while (depth > 0)
      start until i
    }
    // The manifest commit's rename-as-CAS is a different protocol: the
    // target must not exist, and losing the race is a normal outcome.
    val allowed = Map("Sinks.scala" -> "object Swap", "ManifestTable.scala" -> "def tryCommit")
    val offenders = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val ok = allowed.get(f.getFileName.toString).map(block(text, _))
      """\.rename\(""".r.findAllMatchIn(text).map(_.start).filterNot(i => ok.exists(_.contains(i)))
        .map(i => s"${f.getFileName}:${text.take(i).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty, s"swap directories through graft.sink.Swap: ${offenders.mkString(", ")}")
  }

  test("archiveCsv writes a header CSV that reads back") {
    val dir = java.nio.file.Files.createTempDirectory("csv_spec").toString + "/archive"
    Sinks.archiveCsv(Seq((1L, "eligible"), (2L, "out-network")).toDF("visit_id", "class"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq == Seq("visit_id", "class") && back.count() == 2)
  }

  test("append accumulates batches") {
    val dir = java.nio.file.Files.createTempDirectory("append_spec").toString + "/t"
    Sinks.append(Seq(1, 2).toDF("x"), dir)
    Sinks.append(Seq(3).toDF("x"), dir)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("quality gate passes under threshold and reports metrics") {
    val df = Seq(("ok", "eligible"), ("ok", null), ("1660 TPA doesn't adjudicate", null))
      .toDF("note", "class")
    val r = QualityGate.check(df)
    assert(r.totalRows == 3 && r.invalidRows == 1)
    assert(r.passed, s"1/3 invalid is under the 50% threshold: $r")
  }

  test("quality gate throws at >= 50% invalid, excluding expected 1660 notes") {
    val df = Seq(("x", null: String), ("y", null: String), ("z", "eligible"))
      .toDF("note", "class")
    val ex = intercept[QualityGate.GateFailedException] { QualityGate.assertPasses(df) }
    assert(ex.report.invalidRows == 2)
    assert(ex.report.topNotes.map(_._1).toSet == Set("x", "y"))
  }

  test("empty input short-circuit (E4)") {
    val df = Seq.empty[(Long, String)].toDF("k", "v")
    assert(df.isEmpty, "isEmpty is the driver-side skip condition")
    assert(QualityGate.check(df.withColumnRenamed("v", "class").withColumn("note", lit("n"))).passed)
  }
}
