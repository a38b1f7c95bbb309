package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.TextOps

/** Modified Kneser-Ney LM (`mknLmScore` / `mknLmScoreAgainst`) — KenLM
  * parity: count-bucketed discounts D1/D2/D3+ per level derived from
  * count-of-counts with `--discount_fallback` semantics. Pinned to an
  * independent Scala fold, to the fixed-discount face at equal
  * discounts, and to hand-computed discount estimates. */
class MknLmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z"), (4L, ""), (5L, "a b c a b c a b c"),
    (6L, "san francisco san francisco bay"), (7L, "a c b a c b d d"),
    (8L, "b d a c x b d a"), (9L, "y x z y x w y"))

  /** Modified-KN folded in plain Scala: same tables as KnLmSpec's fold,
    * but per-count-bucket discounts and γ·tot = D1·N1 + D2·N2 + D3·N3+
    * per context (multiplication order mirrors the production column so
    * the comparison is exact, not approximate). */
  private def referenceMkn(order: Int, ds: Map[Int, (Double, Double, Double)],
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
    def dOf(j: Int, c: Long): Double = {
      val (d1, d2, d3) = ds(j)
      if (c == 1L) d1 else if (c == 2L) d2 else d3
    }
    def gnum(j: Int, cs: Seq[Long]): Double = {
      val (d1, d2, d3) = ds(j)
      d1 * cs.count(_ == 1L) + d2 * cs.count(_ == 2L) + d3 * cs.count(_ >= 3L)
    }
    // per-context (total, gamma numerator)
    val ctxN: Map[Seq[String], (Long, Double)] =
      raw(order).toSeq.groupBy(_._1.dropRight(1))
        .view.mapValues(xs => (xs.map(_._2).sum, gnum(order, xs.map(_._2)))).toMap
    val ctxc: Map[Int, Map[Seq[String], (Long, Double)]] = (2 until order).map { j =>
      j -> cont(j).toSeq.groupBy(_._1.dropRight(1))
        .view.mapValues(xs => (xs.map(_._2).sum, gnum(j, xs.map(_._2)))).toMap
    }.toMap
    val t1 = cont(1).values.sum.toDouble
    val gn1 = gnum(1, cont(1).values.toSeq)
    val v = trainDocs.flatten.distinct.size.toLong
    def lp(g: Seq[String]): Double = {
      val c1 = cont(1).getOrElse(Seq(g.last), 0L)
      var pr = math.max(c1.toDouble - dOf(1, c1), 0.0) / t1 +
        gn1 / t1 * (1.0 / (v + 1.0))
      for (j <- 2 until order)
        ctxc(j).get(g.takeRight(j).dropRight(1)) match {
          case Some((tot, gn)) if tot > 0 =>
            val cj = cont(j).getOrElse(g.takeRight(j), 0L)
            pr = math.max(cj.toDouble - dOf(j, cj), 0.0) / tot + gn / tot * pr
          case _ => ()
        }
      ctxN.get(g.dropRight(1)) match {
        case Some((tot, gn)) if tot > 0 =>
          val cN = raw(order).getOrElse(g, 0L)
          pr = math.max(cN.toDouble - dOf(order, cN), 0.0) / tot + gn / tot * pr
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

  /** Count-of-counts of a level's count table, folded in plain Scala —
    * feeds [[TextOps.mknDerive]] (itself pinned by the hand-computed
    * test below) so the derived-discount integration test is
    * independent of the Spark-side count-of-counts agg. */
  private def foldDiscounts(order: Int, train: Seq[(Long, String)],
                            minCount: Long = 1L)
      : Map[Int, (Double, Double, Double)] = {
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
    (1 to order).map { j =>
      val cs = (if (j == order) raw(order) else cont(j)).values.toSeq
      j -> TextOps.mknDerive(cs.count(_ == 1L), cs.count(_ == 2L),
        cs.count(_ == 3L), cs.count(_ == 4L))
    }.toMap
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("mknDerive: hand-computed estimates, KenLM fallback rule") {
    // (4,2,1,1): Y = 4/8 = 0.5; D1 = 1 - 2*.5*2/4 = 0.5;
    // D2 = 2 - 3*.5*1/2 = 1.25; D3 = 3 - 4*.5*1/1 = 1.0
    assert(TextOps.mknDerive(4, 2, 1, 1) == (0.5, 1.25, 1.0))
    // n4 = 0 is VALID: D3+ = 3 exactly
    assert(TextOps.mknDerive(4, 2, 1, 0) == (0.5, 1.25, 3.0))
    // degenerate count-of-counts -> fallback (all-or-none)
    assert(TextOps.mknDerive(0, 2, 1, 1) == TextOps.MknFallback)
    assert(TextOps.mknDerive(4, 0, 1, 1) == TextOps.MknFallback)
    assert(TextOps.mknDerive(4, 2, 0, 1) == TextOps.MknFallback)
    // out-of-range discount -> fallback even when others are fine
    // (4,2,100,1): D2 = 2 - 3*.5*100/2 = -73
    assert(TextOps.mknDerive(4, 2, 100, 1) == TextOps.MknFallback)
    // the sf0.1 full-corpus shape measured degenerate in the data probe
    assert(TextOps.mknDerive(207, 121, 354, 700) == TextOps.MknFallback)
    // custom fallback is honored
    assert(TextOps.mknDerive(0, 0, 0, 0, (0.4, 0.9, 1.4)) == (0.4, 0.9, 1.4))
  }

  test("mknLmScore with explicit discounts equals the independent fold at orders 2, 3, 4") {
    val ds3 = Map(1 -> (0.4, 1.1, 1.6), 2 -> (0.6, 0.9, 2.1), 3 -> (0.5, 1.0, 1.5))
    for (order <- Seq(2, 3, 4)) {
      val ds = (1 to order).map(j => j -> ds3(math.min(j, 3))).toMap
      val got = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.ModifiedKn(discounts = ds)), "doc_id", "text").df)
      assert(got == referenceMkn(order, ds, corpus, corpus), s"order=$order")
      graft.api.Pinned.release(spark)
    }
  }

  test("derived discounts: Spark count-of-counts agg equals the fold's derivation") {
    for (order <- Seq(2, 3)) {
      val ds = foldDiscounts(order, corpus)
      val got = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.ModifiedKn()), "doc_id", "text").df)
      assert(got == referenceMkn(order, ds, corpus, corpus),
        s"order=$order derived=$ds")
      graft.api.Pinned.release(spark)
    }
  }

  test("equal discounts at every bucket reduce exactly to the fixed-discount face") {
    val d = 0.75 // binary-exact so D*(N1+N2+N3+) == D*N1 + D*N2 + D*N3 bitwise
    val ds = (1 to 3).map(j => j -> (d, d, d)).toMap
    try {
      val mkn = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.ModifiedKn(discounts = ds)), "doc_id", "text").df)
      val kn = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey(d)), "doc_id", "text").df)
      assert(mkn == kn, "modified KN at equal discounts IS interpolated KN")
    } finally graft.api.Pinned.release(spark)
  }

  test("against face: unseen contexts back off per the fold; streaming == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b a b c a"),  // contexts seen in ref
      (11L, "b c x y"),      // partial back-off
      (12L, "q r s t u"),    // fully unseen -> uniform floor
      (13L, "a b"))          // under order tokens -> (0, NULL)
    try {
      val ds = foldDiscounts(3, corpus)
      val batch = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text", Some(LmRef(ref, "text")))
      val b = rowsOf(batch.df)
      assert(b == referenceMkn(3, ds, corpus, docs),
        "against face equals the fold trained on ref, scored on docs")
      assert(b(13L) == (0L, None), "short doc scores (0, NULL)")
      assert(b(12L)._2.get < b(10L)._2.get,
        "in-distribution text scores above gibberish")

      val selfRef = rowsOf(TextOps.lmScore(MStream(ref), LmSpec(3, LmSpec.ModifiedKn()),
        "doc_id", "text").df)
      val selfAgn = rowsOf(TextOps.lmScore(MStream(ref), LmSpec(3, LmSpec.ModifiedKn()),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(selfAgn == selfRef, "self-referenced against face equals self face")

      val in = MemoryStream[(Long, String)]
      val out = TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text")),
        LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text", Some(LmRef(ref, "text")))
      assert(out.df.isStreaming)
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)
      val name = s"mkn_${System.nanoTime()}"
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

  test("minCount pruning feeds count-of-counts AND continuations; shuffled face identical") {
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq((20L, "a b a b c a"), (21L, "san francisco bay area"), (22L, "q r s"))
    try {
      val ds = foldDiscounts(3, corpus, minCount = 2L)
      val pruned = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.ModifiedKn(), minCount = 2L), "doc_id", "text",
        Some(LmRef(ref, "text"))).df)
      assert(pruned == referenceMkn(3, ds, corpus, docs, minCount = 2L),
        "pruned MKN equals the fold with raw counts >= 2 feeding everything")
      val shuffled = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.ModifiedKn(), minCount = 2L, broadcastModel = Some(false)),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(shuffled == pruned, "the beyond-broadcast face is score-identical")
    } finally graft.api.Pinned.release(spark)
  }

  test("MknScore/MknAgainst nodes: v9 stamp, codec identity, capture == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(
      nodes = Seq(External("in"), External("r"),
        MknScore("s", "in", "doc_id", "text", 3, 0.4, 0.9, 1.4),
        MknAgainst("a", "in", "r", "doc_id", "text", "text", 3,
          minCount = 2L, broadcastModel = Some(false))),
      outputs = Seq("s", "a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":9"), "modified-KN nodes stamp format version 9")
    assert(Program.fromJson(json) == d, "codec is the identity on the MKN nodes")
    val badFb = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), MknScore("s", "in", "doc_id", "text", 3,
        fb2 = 2.5)), Seq("s")))))
    assert(badFb.getMessage.contains("fallback"), badFb.getMessage)
    // partial fallback triple in hand-written JSON: all-or-none
    val partial = """{"version":9,"nodes":[{"op":"external","name":"in"},
      {"op":"mknScore","name":"s","input":"in","idCol":"doc_id",
       "textCol":"text","order":3,"fb1":0.4}],"outputs":["s"]}"""
    val badPartial = intercept[IllegalArgumentException](Program.fromJson(partial))
    assert(badPartial.getMessage.contains("all-or-none"), badPartial.getMessage)
    try {
      val docsDf = corpus.toDF("doc_id", "text")
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docsDf))
          .lmScore(LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text").as("s"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docsDf)))
        .addSink("s", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("s", o) => o }.get
      assert(rowsOf(out) == rowsOf(TextOps.lmScore(MStream(docsDf),
        LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text").df),
        "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("the AUTO lever stamps v9 only when the field is absent") {
    import graft.api.Program
    import graft.api.Program._
    val auto = Doc(Seq(External("in"), External("r"),
      KnAgainst("a", "in", "r", "doc_id", "text", "text", 3, 0.75)), Seq("a"))
    val json = Program.toJson(auto)
    assert(json.contains("\"version\":9") && !json.contains("broadcastModel"),
      "auto lever omits the field and stamps v9")
    assert(Program.fromJson(json) == auto, "absent field reads back as auto under v9")
    // an explicitly-stamped v8 document with the field absent keeps the
    // v8 meaning: broadcastModel = true
    val v8json = """{"version":8,"nodes":[{"op":"external","name":"in"},
      {"op":"external","name":"r"},
      {"op":"knAgainst","name":"a","input":"in","ref":"r","idCol":"doc_id",
       "textCol":"text","refTextCol":"text","order":3,"discount":0.75}],
      "outputs":["a"]}"""
    val d8 = Program.fromJson(v8json)
    assert(d8.nodes.collectFirst { case k: KnAgainst => k.broadcastModel }
      .contains(Some(true)), "v8 grammar keeps the explicit-true default")
  }

  test("parameter contracts: order, discount ranges, level coverage") {
    val df = corpus.toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df), LmSpec(1, LmSpec.ModifiedKn()), "doc_id", "text").df)
      .getMessage.contains("[2, 8]"))
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df),
        LmSpec(3, LmSpec.ModifiedKn(discounts = Map(1 -> (0.5, 1.0, 1.5)))), "doc_id", "text").df)
      .getMessage.contains("every level"))
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df),
        LmSpec(3, LmSpec.ModifiedKn(discounts = (1 to 3).map(_ -> (1.5, 1.0, 1.5)).toMap)),
        "doc_id", "text").df).getMessage.contains("D1"))
    assert(intercept[IllegalArgumentException](
      TextOps.lmScore(MStream(df), LmSpec(3, LmSpec.ModifiedKn(fallback = (0.5, 2.5, 1.5))),
        "doc_id", "text").df).getMessage.contains("fallback"))
    val e = intercept[IllegalArgumentException](TextOps.lmScore(MStream(df),
      LmSpec(9, LmSpec.ModifiedKn()), "doc_id", "text", Some(LmRef(df, "text"))))
    assert(e.getMessage.contains("[2, 8]"))
    graft.api.Pinned.release(spark)
  }
}
