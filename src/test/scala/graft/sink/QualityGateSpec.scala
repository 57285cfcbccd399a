package graft.sink

import graft.SharedSpark
import graft.pipeline.{JobRunner, Pipelines}
import graft.sink.QualityGate.GateFailedException
import graft.util.{ListenerDrain, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class QualityGateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** `n` rows over four partitions; every `invalidEvery`-th row has a
    * null class, and every 7th of those is excused by a 1660 note.
    */
  private def frame(n: Long, invalidEvery: Long): DataFrame =
    spark.range(0, n, 1, 4).select(
      when(col("id") % invalidEvery === 0, lit(null: String)).otherwise(lit("eligible")).as("class"),
      when(col("id") % 7 === 0, lit("1660 TPA")).otherwise(concat(lit("n"), (col("id") % 3).cast("string")))
        .as("note"))

  test("the eligibility pipeline runs no gate action of its own but the top-notes collect") {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = actions.add(funcName)
    }
    assert(ListenerDrain.drain(spark))
    spark.listenerManager.register(listener)
    val out = try {
      val o = Pipelines.eligibility(spark, "/root/testdata/sf0.001")
      assert(ListenerDrain.drain(spark))
      o
    } finally spark.listenerManager.unregister(listener)
    // Each output row is one elig row, so its counts are the gate's.
    val bad = QualityGate.check(out).invalidRows
    assert(bad > 0, "the fixture must exercise the top-notes diagnostic")
    val seen = actions.asScala.toSeq
    assert(seen.count(_ == "localCheckpoint") == 3, seen)
    assert(seen.filterNot(_ == "localCheckpoint") == Seq("collect"), seen)
  }

  test("the observed gate reports what check reports, in both materialization modes, and throws") {
    val passing = frame(1000, 3)
    val failing = frame(1000, 1)
    def verify(): Unit = {
      val (staged, report) = QualityGate.stageAsserted(passing)
      assert(report.invalidRows > 0 && report.topNotes.nonEmpty, report)
      assert(report == QualityGate.check(passing))
      assert(report == QualityGate.check(staged))
      val ex = intercept[GateFailedException](QualityGate.stageAsserted(failing))
      assert(!ex.report.passed && ex.report == QualityGate.check(failing))
    }
    verify()
    val ckpt = java.nio.file.Files.createTempDirectory("gate_ckpt").toString
    JobRunner.enableReliable(spark, ckpt)
    try {
      verify()
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
      assert(rddDirs > 0, s"no durable checkpoint blocks written under $ckpt")
    } finally spark.conf.set(Materialize.reliableConf, "false")
  }
}
