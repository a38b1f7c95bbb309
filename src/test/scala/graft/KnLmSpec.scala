package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.TextOps

/** Interpolated Kneser-Ney LM (`knLmScore` / `knLmScoreAgainst`):
  * scores pinned to an independent Scala fold over the Chen & Goodman
  * interpolated-KN definition (continuation counts, fixed discount),
  * self-ref parity between the inner- and left-join faces, full back-off
  * on unseen contexts, streaming == batch. */
class KnLmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z"), (4L, ""), (5L, "a b c a b c a b c"),
    (6L, "san francisco san francisco bay"))

  /** Interpolated KN folded in plain Scala (no Spark, no SQL): raw
    * counts at the top order, continuation counts (distinct left
    * extensions = distinct (j+1)-gram types per suffix) below, uniform
    * 1/(V+1) floor, full level-skip on unseen contexts. */
  private def reference(order: Int, d: Double,
                        train: Seq[(Long, String)], score: Seq[(Long, String)],
                        minCount: Long = 1L)
      : Map[Long, (Long, Option[Double])] = {
    def w(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val trainDocs = train.map { case (_, t) => w(t) }
    def grams(ws: Seq[String], j: Int): Seq[Seq[String]] =
      if (ws.size < j) Nil else ws.sliding(j).toSeq
    val raw: Map[Int, Map[Seq[String], Long]] = (2 to order).map { j =>
      val c = trainDocs.flatMap(grams(_, j)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      j -> (if (minCount > 1) c.filter(_._2 >= minCount) else c)
    }.toMap
    val cont: Map[Int, Map[Seq[String], Long]] = (1 until order).map { j =>
      j -> raw(j + 1).keys.toSeq.groupBy(_.takeRight(j))
        .view.mapValues(_.size.toLong).toMap
    }.toMap
    val ctxN: Map[Seq[String], (Long, Long)] =
      raw(order).toSeq.groupBy(_._1.dropRight(1))
        .view.mapValues(xs => (xs.map(_._2).sum, xs.size.toLong)).toMap
    val ctxc: Map[Int, Map[Seq[String], (Long, Long)]] = (2 until order).map { j =>
      j -> cont(j).toSeq.groupBy(_._1.dropRight(1))
        .view.mapValues(xs => (xs.map(_._2).sum, xs.size.toLong)).toMap
    }.toMap
    val t1 = cont(1).values.sum.toDouble
    val n1p1 = cont(1).size.toLong
    val v = trainDocs.flatten.distinct.size.toLong
    def lp(g: Seq[String]): Double = {
      var pr = math.max(cont(1).getOrElse(Seq(g.last), 0L).toDouble - d, 0.0) / t1 +
        d * n1p1 / t1 * (1.0 / (v + 1.0))
      for (j <- 2 until order)

        ctxc(j).get(g.takeRight(j).dropRight(1)) match {
          case Some((tot, n1p)) if tot > 0 =>
            pr = math.max(cont(j).getOrElse(g.takeRight(j), 0L).toDouble - d, 0.0) / tot +
              d * n1p / tot * pr
          case _ => ()
        }
      ctxN.get(g.dropRight(1)) match {
        case Some((tot, n1p)) if tot > 0 =>
          pr = math.max(raw(order).getOrElse(g, 0L).toDouble - d, 0.0) / tot +
            d * n1p / tot * pr
        case _ => ()
      }
      math.log(pr)
    }
    score.map { case (id, t) =>
      val pos = grams(w(t), order)
      if (pos.isEmpty) id -> (0L, None)
      else {
        val lps = pos.map(lp)
        val avg = BigDecimal(lps.sum / lps.size)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> (pos.size.toLong, Some(avg))
      }
    }.toMap
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("knLmScore equals the independent fold at orders 2, 3 and 4") {
    for ((order, d) <- Seq((2, 0.75), (3, 0.75), (3, 0.4), (4, 0.75))) {
      val got = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.KneserNey(d)), "doc_id", "text").df)
      assert(got == reference(order, d, corpus, corpus), s"order=$order d=$d")
      graft.api.Pinned.release(spark)
    }
  }

  test("self-referenced against face equals the self-scoring face") {
    try {
      val self = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text").df)
      val agn = TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(corpus.toDF("doc_id", "text"), "text")))
      assert(rowsOf(agn.df) == self,
        "left-join face with everything seen equals the inner-join face")
    } finally graft.api.Pinned.release(spark)
  }

  test("against face: unseen contexts back off per the fold; streaming == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b a b c a"),               // contexts seen in ref
      (11L, "b c x y"),                   // partial: some levels back off
      (12L, "q r s t u"),                 // everything unseen -> uniform floor
      (13L, "a b"))                       // under order tokens -> (0, NULL)
    try {
      val batch = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text", Some(LmRef(ref, "text")))
      val b = rowsOf(batch.df)
      assert(b == reference(3, 0.75, corpus, docs),
        "against face equals the fold trained on ref, scored on docs")
      assert(b(13L) == (0L, None), "short doc scores (0, NULL)")
      assert(b(12L)._2.get < b(10L)._2.get,
        "in-distribution text scores above gibberish")

      val in = MemoryStream[(Long, String)]
      val out = TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text", Some(LmRef(ref, "text")))
      assert(out.df.isStreaming)
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)
      val name = s"kn_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "ingest scoring is stateless")
        assert(rowsOf(spark.table(name)) == b, "streaming equals batch")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("KnScore/KnAgainst nodes: v8 stamp, codec identity, capture == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(
      nodes = Seq(External("in"), External("r"),
        KnScore("s", "in", "doc_id", "text", 3, 0.75),
        KnAgainst("a", "in", "r", "doc_id", "text", "text", 3, 0.4,
          minCount = 2L, broadcastModel = Some(false))),
      outputs = Seq("s", "a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":8"), "KN nodes stamp format version 8")
    assert(Program.fromJson(json) == d, "codec is the identity on the KN nodes")
    val badD = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), KnScore("s", "in", "doc_id", "text", 3, 1.5)), Seq("s")))))
    assert(badD.getMessage.contains("node 's'") && badD.getMessage.contains("(0, 1)"))
    val badMc = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), External("r"),
        KnAgainst("a", "in", "r", "doc_id", "text", "text", 3, 0.75,
          minCount = 0L)), Seq("a")))))
    assert(badMc.getMessage.contains("minCount >= 1"), badMc.getMessage)
    try {
      val docsDf = corpus.toDF("doc_id", "text")
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docsDf))
          .lmScore(LmSpec(3, LmSpec.KneserNey()), "doc_id", "text").as("s"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docsDf)))
        .addSink("s", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("s", o) => o }.get
      assert(rowsOf(out) == rowsOf(TextOps.lmScore(MStream(docsDf), LmSpec(3, LmSpec.KneserNey()),
        "doc_id", "text").df),
        "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("minCount pruning: continuation counts derive from surviving types; shuffled face identical") {
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq((20L, "a b a b c a"), (21L, "san francisco bay area"), (22L, "q r s"))
    try {
      val pruned = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey(), minCount = 2L), "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(pruned == reference(3, 0.75, corpus, docs, minCount = 2L),
        "pruned KN equals the fold with raw counts >= 2 feeding continuations")
      val unpruned = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(pruned != unpruned, "pruning must actually change rare-gram scores")
      val shuffled = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey(), minCount = 2L, broadcastModel = Some(false)),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(shuffled == pruned, "the beyond-broadcast face is score-identical")
    } finally graft.api.Pinned.release(spark)
  }

  test("streaming face rejects broadcastModel=false with a named error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException](TextOps.lmScore(
      MStream(in.toDF().toDF("doc_id", "text")),
      LmSpec(3, LmSpec.KneserNey(), broadcastModel = Some(false)), "doc_id", "text",
      Some(LmRef(corpus.toDF("doc_id", "text"), "text"))))
    assert(e.getMessage.contains("streaming face") &&
      e.getMessage.contains("minCount"), e.getMessage)
    graft.api.Pinned.release(spark)
  }

  test("a corpus without a bigram scores every document (0 n-grams, NULL), KN and MKN") {
    val docs = Seq((0L, "a"), (1L, ""), (2L, "  b ")).toDF("doc_id", "text")
    try for (scored <- Seq(TextOps.lmScore(MStream(docs), LmSpec(3, LmSpec.KneserNey()),
      "doc_id", "text").df,
                           TextOps.lmScore(MStream(docs), LmSpec(3, LmSpec.ModifiedKn()),
                             "doc_id", "text").df))
      assert(rowsOf(scored) == Map(0L -> (0L, None), 1L -> (0L, None), 2L -> (0L, None)))
    finally graft.api.Pinned.release(spark)
  }

  test("parameter contracts: order and discount bounds") {
    val df = corpus.toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df), LmSpec(1, LmSpec.KneserNey()), "doc_id", "text").df)
      .getMessage.contains("[2, 8]"))
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df), LmSpec(3, LmSpec.KneserNey(1.0)), "doc_id", "text").df)
      .getMessage.contains("(0, 1)"))
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df), LmSpec(9, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(df, "text"))))
      .getMessage.contains("[2, 8]"))
  }
}
