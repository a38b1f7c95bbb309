package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import graft.api.MStream
import graft.pipeline.TextOps

/** Per-language Jelinek-Mercer reference models
  * (`ngramLmScoreAgainstByLang`) — the JM cell of the smoothing ×
  * per-language matrix. Pinned to the shared-model operator run PER
  * LANGUAGE SLICE (the definitional equivalence), plus the no-model
  * verdict, the null-language group, and streaming == batch —
  * KnByLangSpec's evidence standard for the JM face. */
class LmByLangSpec extends SparkSpec {
  import spark.implicits._

  private val ref = Seq(
    (0L, "a b a b c a b", "en"), (1L, "a b a b a", "en"),
    (2L, "c c c c d c", "en"), (3L, "a b c a b c", "en"),
    (10L, "x y x y z x", "fr"), (11L, "x y z x y", "fr"),
    (20L, "m n m n o", null.asInstanceOf[String]),
    (21L, "n m n m", null.asInstanceOf[String]))

  private val docs = Seq(
    (100L, "a b a b c", "en"),   // modeled, in-distribution
    (101L, "x y z q r", "fr"),   // modeled, unseen tokens hit the floor
    (102L, "m n m", null.asInstanceOf[String]), // null lang = its own model
    (103L, "a b c d e", "zz"),   // NO model -> positions counted, NULL score
    (104L, "a b", "en"))         // under order -> (0, NULL)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("per-language JM models == the shared-model operator run per language slice") {
    try {
      val got = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
        Some(LmRef(ref.toDF("doc_id", "text", "lang"), "text", Some(("lang", "lang"))))).df)
      val langs = ref.map(_._3).distinct
      val perSlice: Map[Long, (Long, Option[Double])] = langs.flatMap { lg =>
        val refSlice = ref.filter(_._3 == lg).map(r => (r._1, r._2))
        val docSlice = docs.filter(_._3 == lg).map(r => (r._1, r._2))
        if (docSlice.isEmpty) Nil
        else rowsOf(TextOps.lmScore(MStream(docSlice.toDF("doc_id", "text")),
          LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
          Some(LmRef(refSlice.toDF("doc_id", "text"), "text"))).df).toSeq
      }.toMap
      perSlice.foreach { case (id, want) =>
        assert(got(id) == want, s"doc $id: by-lang ${got(id)} vs slice $want")
      }
      assert(got(103L) == (3L, None), s"no-model verdict: ${got(103L)}")
      assert(got(104L) == (0L, None), "under-order doc is (0, NULL)")
      assert(got(102L)._2.nonEmpty, "null language scores under its own model")
    } finally graft.api.Pinned.release(spark)
  }

  test("streaming == batch; stateless; streaming lever rejection applies") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val refDf = ref.toDF("doc_id", "text", "lang")
    try {
      val batch = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
        Some(LmRef(refDf, "text", Some(("lang", "lang"))))).df)
      val in = MemoryStream[(Long, String, String)]
      val out = TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
        Some(LmRef(refDf, "text", Some(("lang", "lang")))))
      assert(out.df.isStreaming)
      in.addData(docs.take(2).map(d => (d._1, d._2, d._3)): _*)
      in.addData(docs.drop(2).map(d => (d._1, d._2, d._3)): _*)
      val name = s"lmbl_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "per-language JM scoring is stateless at ingest")
        assert(rowsOf(spark.table(name)) == batch, "streaming equals batch")
      } finally q.stop()
      val e = intercept[IllegalArgumentException] {
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text", "lang")),
          LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
          Some(LmRef(refDf, "text", Some(("lang", "lang")))))
        finally spark.conf.set(key, old)
      }
      assert(e.getMessage.contains("streaming face"), e.getMessage)
    } finally graft.api.Pinned.release(spark)
  }

  test("LmAgainstLang node: v10 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(Seq(External("in"), External("r"),
      LmAgainstLang("a", "in", "r", "doc_id", "text", "lang", "text", "lang",
        3, 0.4, Seq(0.6, 0.3, 0.1), minCount = 2L, broadcastModel = Some(false))), Seq("a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":10") && Program.fromJson(json) == d)
    val bad = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), External("r"),
        LmAgainstLang("a", "in", "r", "doc_id", "text", "lang", "text", "lang",
          3, minCount = 0L)), Seq("a")))))
    assert(bad.getMessage.contains("minCount"), bad.getMessage)
    try {
      val docsDf = docs.toDF("doc_id", "text", "lang")
      val refDf = ref.toDF("doc_id", "text", "lang")
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docsDf))
          .lmScore(LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
            Some((Program.Rec.external("r", MStream(refDf)), "text")),
            Some(("lang", "lang"))).as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docsDf)))
        .setSource("r", App.Source("list", rows = Some(refDf)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
      assert(rowsOf(out) == rowsOf(TextOps.lmScore(MStream(docsDf),
        LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
        Some(LmRef(refDf, "text", Some(("lang", "lang"))))).df),
        "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("contracts: bounds, lambdas, empty-model rejection") {
    val df = docs.toDF("doc_id", "text", "lang")
    assert(intercept[IllegalArgumentException](TextOps.lmScore(MStream(df),
      LmSpec(9, LmSpec.JelinekMercer()), "doc_id", "text",
      Some(LmRef(df, "text", Some(("lang", "lang"))))))
      .getMessage.contains("[2, 8]"))
    assert(intercept[IllegalArgumentException](TextOps.lmScore(MStream(df),
      LmSpec(3, LmSpec.JelinekMercer(lambdas = Seq(0.5, 0.5))), "doc_id", "text",
      Some(LmRef(df, "text", Some(("lang", "lang")))))).getMessage.contains("lambdas"))
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException](TextOps.lmScore(MStream(df),
      LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
      Some(LmRef(empty, "text", Some(("lang", "lang"))))))
    assert(e.getMessage.contains("no per-language model"), e.getMessage)
    graft.api.Pinned.release(spark)
  }
}
