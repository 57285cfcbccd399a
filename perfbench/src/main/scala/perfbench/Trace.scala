package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region of a pass. `parent` is -1 for a root span. */
final class Span(val id: Int, val name: String, val parent: Int, val traceId: String, val startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span by the listener. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillDiskBytes = 0L
  var jobMs = 0L
  var materializeJobMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillDiskBytes += o.spillDiskBytes
    jobMs += o.jobMs; materializeJobMs += o.materializeJobMs
  }
}

/** Span recorder plus a SparkListener that attributes jobs, stages and
  * tasks to the span whose job group was active when the job started.
  * Disabled, `span` only runs its body: no job groups, no listener;
  * inactive, it registers the listener but records nothing. Spans stay
  * in memory until the report is written.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  var active: Boolean = enabled
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = ""
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobInfo = mutable.Map.empty[Int, (Int, Long, String)]
  /** (span id, call site, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  private val groupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(groupPrefix)).foreach { g =>
        val span = g.stripPrefix(groupPrefix).toInt
        // The result stage (no stage of the job depends on it) is named
        // after the job's call site, e.g. "count at JobRunner.scala:123".
        val site = e.stageInfos.find(st => !e.stageInfos.exists(_.parentIds.contains(st.stageId)))
          .map(_.name).getOrElse("")
        e.stageIds.foreach(s => stageSpan(s) = span)
        jobInfo(e.jobId) = (span, e.time, site)
        counters.getOrElseUpdate(span, new Counters).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobInfo.remove(e.jobId).foreach { case (span, t0, site) =>
        val ms = e.time - t0
        val c = counters(span)
        c.jobMs += ms
        if (site.contains("Materialize.scala")) c.materializeJobMs += ms
        jobs += ((span, site, t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => counters(s).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counters(s)
        c.tasks += 1
        c.executorRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Start a new trace: spans opened from now on carry this id. */
  def newTrace(id: String): Unit = traceId = id

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), traceId, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = if (enabled) graft.util.ListenerDrain.drain(spark)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counters of a span and all its descendants. */
  def subtree(id: Int): Counters = synchronized {
    val total = new Counters
    def add(i: Int): Unit = {
      counters.get(i).foreach(total += _)
      children(i).foreach(c => add(c.id))
    }
    add(id)
    total
  }

  private def subtreeIds(id: Int): Set[Int] = Set(id) ++ children(id).flatMap(c => subtreeIds(c.id))

  /** Seconds during which at least one Spark job of the span's subtree ran. */
  def jobSeconds(id: Int): Double = synchronized {
    val ids = subtreeIds(id)
    val intervals = jobs.filter(j => ids(j._1)).map(j => (j._3, j._4)).sortBy(_._1)
    var covered, end = 0L
    intervals.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered / 1e3
  }

  /** The last root span with this name. */
  def root(name: String): Option[Span] = spans.reverseIterator.find(s => s.parent == -1 && s.name == name)

  def report: Seq[Obj] = synchronized {
    spans.toSeq.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.traceId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "s" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_run_s" -> c.executorRunMs / 1e3, "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_disk_bytes" -> c.spillDiskBytes,
        "job_s" -> c.jobMs / 1e3, "materialize_job_s" -> c.materializeJobMs / 1e3,
        "job_sites" -> jobs.filter(_._1 == s.id).map { case (_, site, a, b) => Seq(site, (b - a) / 1e3) })
    }
  }
}
