package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create(logLevel = "ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS = " + df.count())
    df.show(3, 60)
    spark.stop()
  }
}
