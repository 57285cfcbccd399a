package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("a master already in the loaded conf (spark-submit) is kept") {
    val loaded = new SparkConf(false).set("spark.master", "yarn")
    val c = GraftSession.conf(loaded, cpus = 4)
    assert(c.get("spark.master") == "yarn")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
  }

  test("with no master configured the conf gets local[cpus]") {
    val loaded = new SparkConf(false)
    val c = GraftSession.conf(loaded, cpus = 8)
    assert(c.get("spark.master") == "local[8]")
    assert(c.get("spark.sql.shuffle.partitions") == "8")
    assert(!loaded.contains("spark.master"), "conf must not mutate the loaded SparkConf")
  }

  test("the base keys are set, UTC included, and reach the live session") {
    val base = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      graft.tables.TestTables.nanosAsLongConf,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32m",
      "spark.sql.codegen.cache.maxEntries" -> "2000")
    val c = GraftSession.conf(new SparkConf(false), cpus = 4)
    base.foreach { case (k, v) => assert(c.getOption(k).contains(v), k) }
    val live = SharedSpark.spark.conf
    base.foreach { case (k, v) => assert(live.getOption(k).contains(v), s"live session: $k") }
  }

  test("no SparkSession builder in src/main outside GraftSession and ScaleUp") {
    import scala.jdk.CollectionConverters._
    val builder = """SparkSession\s*\.\s*builder""".r
    val allowed = Set("GraftSession.scala", "ScaleUp.scala")
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")) finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"), "scan root is wrong")
    val offenders = files.filterNot(f => allowed(f.getFileName.toString)).filter { f =>
      builder.findFirstIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).isDefined
    }
    assert(offenders.isEmpty, s"build the session with GraftSession.create: ${offenders.mkString(", ")}")
  }
}
