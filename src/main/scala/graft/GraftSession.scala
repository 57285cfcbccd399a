package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one Spark session factory: Bench, Verify, EntrySmoke,
  * JobRunner, the test suite and its PlanAudit dev main all build
  * their session here, so the configuration Bench times is the one
  * Verify checks and the one a spark-submit job runs. (ScaleUp is the
  * single exception — see its comment.)
  */
object GraftSession {

  /** Cores for a local master and the shuffle partition count. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shared configuration layered over `loaded` — the conf that
    * spark-submit, spark-defaults.conf and `-Dspark.*` properties
    * already filled in. A pure function of its arguments; the master is
    * set only when none is configured, so a cluster master survives.
    */
  def conf(loaded: SparkConf, cpus: Int): SparkConf =
    loaded.clone()
      .setIfMissing("spark.master", s"local[$cpus]")
      .set("spark.sql.shuffle.partitions", cpus.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.extensions", classOf[GraftExtensions].getName)
      // NANOS events support; readers never mutate conf.
      .set(graft.tables.TestTables.nanosAsLongConf._1, graft.tables.TestTables.nanosAsLongConf._2)
      // At bench SFs most post-shuffle stages are kilobytes; AQE's
      // parallelismFirst default keeps them at `cpus` partitions and
      // the per-task overhead dominates. Let AQE coalesce to target
      // size instead — at real scale the same setting is also what you
      // want (right-sized reducers, not core-count-sized ones).
      .set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      // 15 headline queries × dozens of codegen'd stages overflow the
      // default 100-entry generated-class cache; evictions force janino
      // recompiles mid-run and were costing whole seconds per query.
      .set("spark.sql.codegen.cache.maxEntries", "2000")

  /** Build (or return the live) session from [[conf]] over the JVM's
    * loaded SparkConf.
    */
  def create(logLevel: String = "WARN", cpus: Int = GraftSession.cpus): SparkSession = {
    val c = conf(new SparkConf(), cpus).setIfMissing("spark.app.name", "graft")
    val spark = SparkSession.builder().config(c).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
