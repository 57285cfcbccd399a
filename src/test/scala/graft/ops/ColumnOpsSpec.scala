package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ColumnOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("dateNorm parses all four formats to yyyy-MM-dd") {
    val df = Seq("2024-03-05 10:11:12", "2024-03-05", "3/5/2024", "5-3-2024", "garbage", null)
      .toDF("raw")
    val out = df.select(ColumnOps.dateNorm($"raw").as("d")).collect().map(r => Option(r.getString(0)))
    assert(out.take(4).forall(_.contains("2024-03-05")))
    assert(out(4).isEmpty && out(5).isEmpty)
  }

  test("exactAge adjusts for the birthday not yet reached") {
    val df = Seq(
      ("2000-06-15", "2026-06-14", 25), // day before birthday
      ("2000-06-15", "2026-06-15", 26), // on birthday
      ("2000-06-15", "2026-07-01", 26),
      ("2000-12-31", "2026-01-01", 25)
    ).toDF("dob", "asof", "expected")
    val bad = df.filter(ColumnOps.exactAge(to_date($"dob"), to_date($"asof")) =!= $"expected")
    assert(bad.count() == 0)
  }

  test("caseMap covers all branches and the default") {
    val df = Seq("0", "15", "99").toDF("code")
    val mapping = (0 to 15).map(i => i.toString -> ('A' + i).toChar.toString)
    val out = df.select(ColumnOps.caseMap($"code", mapping, "U").as("v")).as[String].collect()
    assert(out.toSeq == Seq("A", "P", "U"))
    // A CASE with no branches IS its default (an empty tenant mapping
    // used to NPE at plan-construction time).
    val empty = df.select(ColumnOps.caseMap($"code", Seq.empty, "U").as("v")).as[String].collect()
    assert(empty.toSeq == Seq("U", "U", "U"))
  }

  test("dedupKeepLast keeps the row with the greatest order value per key") {
    val df = Seq((1, "a", 10), (1, "b", 20), (2, "c", 5)).toDF("k", "v", "ord")
    val out = ColumnOps.dedupKeepLast(df, Seq("k"), Seq($"ord")).select($"k", $"v")
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "b", 2 -> "c"))
  }

  test("dedupKeepNone drops every row of a duplicated key") {
    val df = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")).toDF("k", "v")
    val out = ColumnOps.dedupKeepNone(df, Seq("k")).select($"k", $"v").as[(Int, String)].collect()
    assert(out.toSeq == Seq((2, "c")))
  }

  test("dedupKeepNone treats a composite key as one unit") {
    val df = Seq((1, 1, "a"), (1, 2, "b"), (1, 2, "c")).toDF("k1", "k2", "v")
    val out = ColumnOps.dedupKeepNone(df, Seq("k1", "k2")).select($"v").as[String].collect()
    assert(out.toSeq == Seq("a"))
  }

  test("outerMergeIndicator classifies both/left_only/right_only; payload nulls don't confuse it") {
    val l = Seq((1, Option.empty[String]), (2, Some("x"))).toDF("k", "lv")
    val r = Seq((2, Option.empty[String]), (3, Some("y"))).toDF("k", "rv")
    val out = ColumnOps.outerMergeIndicator(l, r, Seq("k"))
      .select($"k", $"_merge").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "left_only", 2 -> "both", 3 -> "right_only"))
    // key 1 has a NULL payload on the present (left) side — still left_only,
    // because the indicator reads presence markers, not payload columns.
  }

  test("dedupKeepLast keeps exactly one row per key for randomized inputs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = List.fill(200)((rnd.nextInt(20), rnd.nextInt(1000)))
      val df = rows.toDF("k", "ord")
      val out = ColumnOps.dedupKeepLast(df, Seq("k"), Seq($"ord"))
      assert(out.count() == rows.map(_._1).distinct.size)
    }
  }

  test("stringAgg is deterministic under reordering") {
    val a = Seq((1, 2, "x"), (1, 1, "y"), (1, 1, "a")).toDF("k", "ord", "v")
    val b = Seq((1, 1, "a"), (1, 2, "x"), (1, 1, "y")).toDF("k", "ord", "v")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(ColumnOps.stringAgg($"ord", $"v", " , ").as("s")).as[(Int, String)].collect().head._2
    assert(agg(a) == agg(b))
    assert(agg(a) == "a , y , x")
  }

  test("notLikeNullSafe keeps null rows (ISNULL(c,'') NOT LIKE)") {
    val df = Seq(Some("has Package inside"), Some("clean"), None).toDF("c")
    val out = df.filter(ColumnOps.notLikeNullSafe($"c", "%Package%")).count()
    assert(out == 2)
  }

  test("applyClassRules: 1680/1658 only fire on null class") {
    val df = Seq(("1680 ", null: String), ("1658 ", null: String), ("1680 ", "eligible"), ("x", null: String))
      .toDF("note", "class")
    val out = ColumnOps.applyClassRules(df).select($"class").as[String].collect().toSeq
    assert(out == Seq("out-network", "not-active", "eligible", null))
  }
}
