package graft

import org.apache.spark.sql.functions.{call_function, lit}
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("every registered function resolves, and a wrong argument count names its signature") {
    assert(GraftExtensions.functions.map(_.name).distinct.size == GraftExtensions.functions.size)
    GraftExtensions.functions.foreach { f =>
      assert(spark.catalog.functionExists(f.name), s"${f.name} is not registered in the session")
      val e = intercept[Exception] {
        spark.range(1).select(call_function(f.name, Seq.fill(f.arity + 1)(lit(1)): _*)).collect()
      }
      assert(messages(e).exists(_.contains(s"${f.name}(${f.signature})")),
        s"${f.name}: ${messages(e).mkString(" | ")}")
    }
  }
}
