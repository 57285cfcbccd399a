package graft.oracle

/** Dev tool: writes a self-checking DuckDB script for the generated
  * portable-hash SQL to the given path (default /tmp/phc.sql), `;;`
  * separated. Each statement returns `<label>, n_mismatch` — a
  * correct emitter yields all zeros. Drive with:
  *   sbt "Test/runMain graft.oracle.PortableHashSqlCheck"
  *   python3 -c "import duckdb; [print(duckdb.sql(p).fetchall()) for p in open('/tmp/phc.sql').read().split(';;')]"
  * (dev/compare.py is the production path; this isolates the emitters.)
  */
object PortableHashSqlCheck {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("/tmp/phc.sql")
    val words: Seq[String] =
      (0 to 40).map(n => "abcdefghij" * 5 take n).filter(_.nonEmpty).distinct ++
        Seq("héllo wörld", "ñ", "日本語テキスト", "x" * 31, "y" * 32, "z" * 33,
          "mixed éñ 漢字 tail", "word", "0", "ab|cd", "q" * 63, "r" * 64, "s" * 65, "t" * 100)
    val seeds = (0 until 16).map(i => Xxh64Ref.hashInt(i, 42L))
    val wordRows = words.map(w => s"('${w.replace("'", "''")}')").mkString(", ")
    val expRows = words.map { w =>
      val hs = (0 until 16).map(i => Xxh64Ref.hashBytes(w.getBytes("UTF-8"), seeds(i)))
      s"('${w.replace("'", "''")}', ${hs.mkString(", ")})"
    }.mkString(",\n  ")
    val expCols = (0 until 16).map(i => s"e$i").mkString(", ")
    val neq = (0 until 16).map(i => s"xh.h$i <> e.e$i").mkString(" OR ")

    val longFixtures = Seq(
      Seq(0L, 0L, 0L, 0L),
      Seq(1L, -1L, Long.MaxValue, Long.MinValue),
      Seq(42L, 4242L, -987654321098765L, 5L),
      Seq(-2L, 3L, -5L, 7L))
    val chainRows = longFixtures.zipWithIndex.map { case (ls, i) =>
      s"($i, ${ls.mkString(", ")}, '${Xxh64Ref.chainLongs(ls)}')"
    }.mkString(",\n  ")

    val fnvRows = words.map { w =>
      s"('${w.replace("'", "''")}', '${java.lang.Long.toUnsignedString(FnvRef.wordHash(w))}')"
    }.mkString(",\n  ")

    val sql =
      s"""WITH RECURSIVE uw(w) AS (VALUES $wordRows),
         |${PortableHashSql.wordHashCtes("x", "uw", seeds)},
         |exp(w, $expCols) AS (VALUES
         |  $expRows)
         |SELECT 'xxh64_words' AS what, count(*) AS n_mismatch
         |FROM xh JOIN exp e USING (w) WHERE $neq
         |;;
         |WITH s0 AS (
         |  SELECT id, CAST(l0 AS BIGINT) AS l0, CAST(l1 AS BIGINT) AS l1,
         |         CAST(l2 AS BIGINT) AS l2, CAST(l3 AS BIGINT) AS l3, want
         |  FROM (VALUES
         |  $chainRows) t(id, l0, l1, l2, l3, want)),
         |${PortableHashSql.chainLongsCtes("c", "s0", Seq(("bkey", Seq("l0", "l1", "l2", "l3"))))}
         |SELECT 'xxh64_chain' AS what, count(*) AS n_mismatch FROM ck WHERE bkey <> want
         |;;
         |WITH RECURSIVE uw(w) AS (VALUES $wordRows),
         |${PortableHashSql.fnvWordHashCtes("f", "uw")},
         |exp(w, want) AS (VALUES
         |  $fnvRows)
         |SELECT 'fnv_words' AS what, count(*) AS n_mismatch
         |FROM fh JOIN exp e USING (w) WHERE CAST(fh.hv AS VARCHAR) <> e.want
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sql.getBytes("UTF-8"))
    println(s"wrote $outPath (${sql.length} chars)")
  }
}
