package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole test run — Spark startup dominates suite
  * time otherwise. Built by [[GraftSession]], so specs run under the
  * configuration Bench times and Verify checks.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    // A per-JVM warehouse, passed the way -Dspark.* options reach the
    // loaded SparkConf.
    sys.props("spark.sql.warehouse.dir") = s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}"
    // 4 cores on every machine, not SPARK_GRAFT_CPUS: plan-shape pins
    // depend on the shuffle partition count (PlanShapeSpec's bucketed
    // PageRank budget moves when it equals the 8-bucket edge table).
    GraftSession.create(logLevel = "ERROR", cpus = 4)
  }
}
