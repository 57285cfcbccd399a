package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SharedSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class ConcurrentSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private lazy val sc = spark.sparkContext

  /** A job that holds the cluster for a while. */
  private def slowJob(): Long = sc.parallelize(1 to 4, 4).map { i => Thread.sleep(400); i }.count()

  test("a job started on the helper thread carries the caller's job group") {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    assert(ListenerDrain.drain(spark))
    sc.addSparkListener(listener)
    sc.setJobGroup("concurrent-spec", "both", interruptOnCancel = false)
    val caller = Thread.currentThread()
    val ((na, ta), nb) = try {
      Concurrent.both((spark.range(10).count(), Thread.currentThread()), spark.range(5).count())
    } finally {
      sc.clearJobGroup()
      assert(ListenerDrain.drain(spark))
      sc.removeSparkListener(listener)
    }
    assert(na == 10 && nb == 5)
    assert(ta ne caller, "a runs on its own thread")
    assert(groups.size >= 2 && groups.asScala.forall(_ == "concurrent-spec"), groups)
  }

  test("a failure surfaces unwrapped, only after the other side's jobs have finished") {
    val boom = new IllegalStateException("boom")
    @volatile var slowDone = false
    def slow(): Unit = { slowJob(); slowDone = true }
    // The tracker is fed by the listener bus: drain it so a job that has
    // ended no longer reads as active.
    def active = { assert(ListenerDrain.drain(spark)); sc.statusTracker.getActiveJobIds().toSeq }

    val fromB = intercept[IllegalStateException](Concurrent.both(slow(), throw boom))
    assert((fromB eq boom) && slowDone && active.isEmpty, active)

    slowDone = false
    val fromA = intercept[IllegalStateException](Concurrent.both(throw boom, slow()))
    assert((fromA eq boom) && slowDone && active.isEmpty, active)
  }

  test("when both sides fail the first failure surfaces, the other suppressed") {
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val ex = intercept[IllegalStateException](
      Concurrent.both(throw first, { slowJob(); throw second }))
    assert((ex eq first) && ex.getSuppressed.toSeq == Seq(second))
  }
}
