package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: build a larger bench dataset by replicating a driver
  * testdata dir K× with key-shifted copies (usage: `ScaleUp <srcDir>
  * <dstDir> <k>`). Key families shift together so every join key stays
  * consistent across tables; the bounded dimensions (region, nation)
  * and the original key range are preserved, so expression-key joins
  * against small suppkeys still hit. Document text is perturbed per
  * copy (suffix) so the dedup family doesn't degenerate into K-way
  * exact-duplicate megaclusters.
  *
  * This is a BENCH-scaling tool only — correctness runs use the
  * driver's own parquet untouched (oracle checks never see this data).
  */
object ScaleUp {

  private val Offset = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcDir> <dstDir> <k>")
    val Array(srcDir, dstDir, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      // The one session NOT built by GraftSession, on purpose: the
      // factory turns on the legacy nanos-as-long parquet reader, and
      // this tool copies events.parquet with the vanilla reader so that
      // an encoding it rejects FAILS LOUDLY here instead of being
      // masked (the round-5 regression class). The schema-adaptive
      // path lives in TestTables, not in dev tools.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copy(name: String): Unit =
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dstDir/$name.parquet")

    def replicate(name: String, keyCols: Seq[String], textCol: Option[String] = None): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until k).map { i =>
        val shifted = keyCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))
        textCol.filter(_ => i > 0)
          .map(tc => shifted.withColumn(tc, concat(col(tc), lit(s" copyvariant$i"))))
          .getOrElse(shifted)
      }.reduce(_ unionByName _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dstDir/$name.parquet")
    }

    copy("region"); copy("nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), textCol = Some("text"))
    replicate("embeddings", Seq("vec_id"))
    spark.stop()
  }
}
