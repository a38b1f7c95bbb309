package graft

import graft.pipeline.TextOps.LmSpec
import org.apache.spark.sql.functions._
import graft.api.{App, MStream, Program}
import graft.api.Program._

/** Interpolated trigram LM (`TextOps.trigramLmScore` / the v7 `Lm3Score`
  * node): scores pinned to an independent Scala fold over the definition,
  * document round-trip + schema-only validation + capture ≡ direct API. */
class TrigramLmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c"), (1L, "a b a"), (2L, "c c c c d"),
    (3L, "x y"), (4L, ""), (5L, "a b c a b c a"))

  // whitespace-only, tab/newline-separated and null text, a duplicated
  // doc_id (its rows share one score over both documents' positions)
  private val edges = Seq(
    (0L, "a b a b c"), (1L, " \t\n "), (2L, "a\tb\na  b\r\nc"), (3L, null),
    (4L, "a b c a"), (4L, "b a b c"), (5L, "x y"))

  /** The definition, folded in plain Scala (no Spark, no SQL): one
    * (id, n_tris, avg_logprob) per input row. */
  private def reference(alpha: Double, l: (Double, Double, Double),
                        corpus: Seq[(Long, String)] = corpus)
      : Seq[(Long, (Long, Option[Double]))] = {
    def w(s: String) =
      if (s == null) Seq.empty[String] else s.split("\\s+").filter(_.nonEmpty).toSeq
    val byDoc = corpus.map { case (id, t) => id -> w(t) }
    val toks = byDoc.flatMap(_._2)
    val c1 = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toDouble
    val v = c1.size.toDouble
    val prs = byDoc.flatMap { case (_, ws) => ws.zip(ws.drop(1)) }
    val c2 = prs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c2x = prs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tris = byDoc.flatMap { case (_, ws) =>
      if (ws.size < 3) Nil else ws.sliding(3).map(s => (s(0), s(1), s(2))).toSeq
    }
    val c3 = tris.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c3x = tris.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    corpus.map { case (id, _) =>
      val docTris = byDoc.filter(_._1 == id).flatMap { case (_, ws) =>
        if (ws.size < 3) Nil else ws.sliding(3).map(s => (s(0), s(1), s(2))).toSeq
      }
      if (docTris.isEmpty) id -> (0L, None)
      else {
        val lps = docTris.map { case tr @ (u, tv, t) =>
          math.log(
            l._1 * (c3(tr) + alpha) / (c3x((u, tv)) + v * alpha) +
              l._2 * (c2((tv, t)) + alpha) / (c2x(tv) + v * alpha) +
              l._3 * (c1(t) + alpha) / (n + v * alpha))
        }
        val avg = BigDecimal(lps.sum / lps.size)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> (docTris.size.toLong, Some(avg))
      }
    }.sortBy(_.toString)
  }

  private def scored(corpus: Seq[(Long, String)], alpha: Double,
                     l: (Double, Double, Double)): Seq[(Long, (Long, Option[Double]))] =
    try graft.pipeline.TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
      LmSpec(3, LmSpec.JelinekMercer(alpha, Seq(l._1, l._2, l._3)), countCol = Some("n_tris")),
      "doc_id", "text").df
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }.toSeq.sortBy(_.toString)
    finally graft.api.Pinned.release(spark)

  test("trigramLmScore equals the independent Scala fold") {
    for ((alpha, l) <- Seq(0.5 -> (0.6, 0.3, 0.1), 1.0 -> (0.4, 0.4, 0.2)))
      assert(scored(corpus, alpha, l) == reference(alpha, l), s"alpha=$alpha lambdas=$l")
  }

  test("trigramLmScore edge inputs equal the fold: blank/null text, duplicate ids, empty frame") {
    val l = (0.6, 0.3, 0.1)
    assert(scored(edges, 0.5, l) == reference(0.5, l, edges))
    assert(scored(Seq.empty, 0.5, l).isEmpty, "an empty corpus scores no rows (N = 0)")
  }

  test("Lm3Score node: v7 stamp, round-trip, named validation, capture == direct API") {
    val d = Doc(
      nodes = Seq(External("in"),
        Lm3Score("s", "in", "doc_id", "text", 0.5, 0.6, 0.3, 0.1)),
      outputs = Seq("s"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":7"), "lm3Score is a v7 node")
    assert(Program.fromJson(json) == d, "round-trip must be lossless")
    // bad lambdas fail by node name at load time
    val bad = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"),
        Lm3Score("s", "in", "doc_id", "text", 0.5, 0.9, 0.3, 0.1)), Seq("s")))))
    assert(bad.getMessage.contains("node 's'") && bad.getMessage.contains("sum to 1"))
    // schema-only validation: no count-model jobs, no Pinned leak
    val config = new App.Config()
      .setSource("in", App.Source("rows", rows = Some(corpus.toDF("doc_id", "text"))))
      .addSink("s", App.Sink(format = "memory"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Program.validate(d, spark, config)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "validation must not pin the count models")
    // capture == import execution == direct API
    val direct = graft.pipeline.TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
      LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
      "doc_id", "text").df
      .collect().map(_.toSeq.toList).toSet
    try {
      val rec = Program.Rec.external("in",
          graft.api.MStream(corpus.toDF("doc_id", "text")))
        .lmScore(LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)),
          countCol = Some("n_tris")), "doc_id", "text").as("s")
      val viaDoc = App.runProgram(spark, config,
          Program.toJson(Program.capture(rec)))
        .collectFirst { case App.BatchOutput("s", out) => out }.get
        .collect().map(_.toSeq.toList).toSet
      assert(viaDoc == direct, "document execution must equal the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("Lm3Score JSON: v8 lambda defaults all-or-none; v7 keeps round-13 leniency") {
    def artifact(ver: Int, lambdaJson: String): String =
      s"""{"version":$ver,"nodes":[
         |{"op":"external","name":"in"},
         |{"op":"lm3Score","name":"s","input":"in","idCol":"doc_id",
         |"textCol":"text"$lambdaJson}],"outputs":["s"]}""".stripMargin
    // v8: a hand-written artifact specifying a SUBSET must fail at load
    // with the real cause, not a later confusing sum-to-1 over defaults
    // the author never wrote
    val partial = intercept[IllegalArgumentException](
      Program.fromJson(artifact(8, ""","l3":1.0""")))
    assert(partial.getMessage.contains("all-or-none") &&
      partial.getMessage.contains("l3=1.0"), partial.getMessage)
    // none specified: the documented defaults apply (any version)
    val defaulted = Program.fromJson(artifact(8, ""))
    assert(defaulted.nodes.collectFirst { case l: Lm3Score => (l.l3, l.l2, l.l1) }
      .contains((0.6, 0.3, 0.1)))
    // all three specified: used verbatim
    val full = Program.fromJson(artifact(8, ""","l3":0.5,"l2":0.25,"l1":0.25"""))
    assert(full.nodes.collectFirst { case l: Lm3Score => (l.l3, l.l2, l.l1) }
      .contains((0.5, 0.25, 0.25)))
    // FormatVersion promise: a v7-stamped partial artifact that loaded
    // under round 13 (independent defaults) keeps loading — the stricter
    // rule gates on version 8
    val v7 = Program.fromJson(artifact(7, ""","l3":0.7,"l2":0.2"""))
    assert(v7.nodes.collectFirst { case l: Lm3Score => (l.l3, l.l2, l.l1) }
      .contains((0.7, 0.2, 0.1)))
    // an artifact with NO version field gets the current (strict) rule —
    // authors who never thought about versions should get the better error
    val noVer = intercept[IllegalArgumentException](Program.fromJson(
      """{"nodes":[{"op":"external","name":"in"},
        |{"op":"lm3Score","name":"s","input":"in","idCol":"doc_id",
        |"textCol":"text","l3":1.0}],"outputs":["s"]}""".stripMargin))
    assert(noVer.getMessage.contains("all-or-none"), noVer.getMessage)
  }

  test("Lm3Score interpret drops stale eventOrder like validate's lift") {
    // the score schema (id, n_tris, avg_logprob) no longer carries the
    // input's order column — both faces must agree it is gone, so a
    // downstream stateful op fails the SAME way in validate and interpret
    val d = Doc(
      nodes = Seq(External("in"),
        Lm3Score("s", "in", "doc_id", "text", 0.5, 0.6, 0.3, 0.1)),
      outputs = Seq("s"))
    val ordered = graft.api.MStream(corpus.toDF("doc_id", "text")).orderedBy("text")
    try {
      val out = Program.interpret(d)(_ => ordered)("s")
      assert(out.eventOrder.isEmpty,
        s"interpret must lift (order column dropped), got ${out.eventOrder}")
    } finally graft.api.Pinned.release(spark)
  }
}
