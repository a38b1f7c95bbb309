package graft

import graft.sources.Tables

/** The parquet schema memo of `Tables`: invalidating one path re-reads
  * exactly that path's schema and never a sibling's whose path merely
  * extends it. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("invalidate drops only the named path's memo, not a sibling sharing its prefix") {
    val d = java.nio.file.Files.createTempDirectory("tables_memo").toString
    // "part.parquet_v2.parquet" starts with "part.parquet": a plain
    // prefix match on the memo key would drop both entries
    val names = Seq("part", "part.parquet_v2")
    def write(col: String): Unit = names.foreach(n =>
      Seq(1L, 2L).toDF(col).write.mode("overwrite").parquet(s"$d/$n.parquet"))
    write("a")
    names.foreach(n => assert(Tables.df(spark, d, n).columns.toSeq == Seq("a")))
    write("b")
    Tables.invalidate(s"$d/part.parquet")
    assert(Tables.df(spark, d, "part").columns.toSeq == Seq("b"),
      "the invalidated path re-reads its rewritten schema")
    assert(Tables.df(spark, d, "part.parquet_v2").columns.toSeq == Seq("a"),
      "the sibling keeps its memoized schema until it is invalidated itself")
    Tables.invalidate(s"$d/part.parquet_v2.parquet")
    assert(Tables.df(spark, d, "part.parquet_v2").columns.toSeq == Seq("b"))
  }
}
