package graft

/** Dev tool: dump formatted physical plans for selected queries so
  * broadcast/pushdown/shuffle behavior can be audited (run:
  * sbt "Test/runMain graft.PlanAudit q_eligibility_extract ...").
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create(logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n================ $name ================")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
