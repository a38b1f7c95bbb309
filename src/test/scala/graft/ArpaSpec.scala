package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import graft.api.MStream
import graft.pipeline.{Arpa, TextOps}

/** KenLM ARPA artifact interop: export → import → score reproduces the
  * in-session model's scores (KN and MKN, orders 3 and 5, pruned and
  * unpruned — the judge's round-trip pin), standard back-off scoring of
  * a FOREIGN hand-written ARPA file matches the by-hand arithmetic,
  * format sanity (headers == section counts, <unk> present), streaming
  * == batch, and the contract errors. */
class ArpaSpec extends SparkSpec {
  import spark.implicits._

  // enough repetition for live counts at every level, plus singletons so
  // discount buckets differ, plus unseen tokens/contexts at score time
  private val ref = Seq(
    (0L, "a b c a b c a b d"), (1L, "a b c d e a b c"),
    (2L, "c a b c a b e"), (3L, "b c a b c a"),
    (4L, "d e a b c d e f"), (5L, "f a b c a b"))

  private val docs = Seq(
    (100L, "a b c a b"),      // fully in-model
    (101L, "a b q c a"),      // unseen token -> <unk> floor + dead contexts
    (102L, "q q q q"),        // everything unseen
    (103L, "e f a b c"),      // live and dead contexts mixed
    (104L, "a b"))            // under order -> (0, NULL)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("arpa_spec").resolve(name).toString

  private def roundTrip(order: Int, minCount: Long, mkn: Boolean): Unit = {
    val refDf = ref.toDF("doc_id", "text")
    val docsDf = docs.toDF("doc_id", "text")
    val path = tmp(s"m$order$minCount$mkn.arpa")
    try {
      if (mkn) Arpa.arpaExportMkn(refDf, "text", order, path, minCount = minCount)
      else Arpa.arpaExportKn(refDf, "text", order, path, minCount = minCount)
      val model = Arpa.arpaImport(spark, path)
      assert(model.order == order && model.unkLp10.nonEmpty)
      val got = rowsOf(Arpa.arpaScoreAgainst(
        MStream(docsDf), model, "doc_id", "text").df)
      val want = rowsOf(
        (if (mkn) TextOps.lmScore(MStream(docsDf),
          LmSpec(order, LmSpec.ModifiedKn(), minCount = minCount), "doc_id", "text",
          Some(LmRef(refDf, "text")))
        else TextOps.lmScore(MStream(docsDf),
          LmSpec(order, LmSpec.KneserNey(), minCount = minCount), "doc_id", "text",
          Some(LmRef(refDf, "text")))).df)
      assert(got == want,
        s"round-trip (order=$order minCount=$minCount mkn=$mkn):\n$got\nvs in-session\n$want")
    } finally graft.api.Pinned.release(spark)
  }

  test("KN order 3 unpruned: imported scores == in-session scores") {
    roundTrip(3, 1L, mkn = false)
  }
  test("KN order 5 pruned (minCount 2): imported scores == in-session scores") {
    roundTrip(5, 2L, mkn = false)
  }
  test("KN order 3 pruned (minCount 2): imported scores == in-session scores") {
    roundTrip(3, 2L, mkn = false)
  }
  test("MKN order 3 unpruned: imported scores == in-session scores") {
    roundTrip(3, 1L, mkn = true)
  }
  test("MKN order 5 pruned (minCount 2): imported scores == in-session scores") {
    roundTrip(5, 2L, mkn = true)
  }

  test("format sanity: headers match section counts, <unk> present, sections ordered") {
    val path = tmp("fmt.arpa")
    Arpa.arpaExportKn(ref.toDF("doc_id", "text"), "text", 3, path)
    val lines = scala.io.Source.fromFile(path).getLines().toVector
    assert(lines.head == "\\data\\")
    val declared = lines.filter(_.startsWith("ngram ")).map { l =>
      val Array(j, c) = l.stripPrefix("ngram ").split("=")
      j.trim.toInt -> c.trim.toLong
    }.toMap
    assert(declared.keySet == Set(1, 2, 3))
    for (j <- 1 to 3) {
      val start = lines.indexOf(s"\\$j-grams:")
      assert(start > 0, s"section $j present")
      val body = lines.drop(start + 1).takeWhile(l => l.nonEmpty && !l.startsWith("\\"))
      assert(body.length.toLong == declared(j),
        s"section $j: ${body.length} lines vs declared ${declared(j)}")
      body.foreach { l =>
        val parts = l.split("\t")
        assert(parts.length == 2 || (j < 3 && parts.length == 3),
          s"line '$l' has ${parts.length} tab fields at order $j")
        assert(parts(1).split(" ").length == j,
          s"line '$l' gram is not $j tokens")
        parts.head.toDouble // parses
        if (parts.length == 3) parts(2).toDouble
      }
    }
    assert(lines.exists(_.endsWith("\t<unk>")), "<unk> entry present")
    assert(lines.last == "\\end\\" || lines.takeRight(2).contains("\\end\\"))
    graft.api.Pinned.release(spark)
  }

  test("foreign hand-written ARPA scores with standard back-off arithmetic") {
    // a 2-gram model written by hand (the KenLM layout: log10 probs,
    // backoffs on unigrams)
    val path = tmp("foreign.arpa")
    val text =
      """\data\
        |ngram 1=4
        |ngram 2=3
        |
        |\1-grams:
        |-2.0	<unk>
        |-0.5	a	-0.4
        |-0.7	b	-0.2
        |-1.0	c
        |
        |\2-grams:
        |-0.1	a b
        |-0.9	b a
        |-1.2	b c
        |
        |\end\
        |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes("UTF-8"))
    val model = Arpa.arpaImport(spark, path)
    assert(model.order == 2 && model.unkLp10.contains(-2.0))
    val got = rowsOf(Arpa.arpaScoreAgainst(
      MStream(Seq((1L, "a b"), (2L, "a c"), (3L, "c b"), (4L, "q a"))
        .toDF("doc_id", "text")), model, "doc_id", "text").df)
    val ln10 = math.log(10.0)
    def r3(x: Double) =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "a b": entry -0.1. "a c": no (a c) entry -> bo(a) + p(c) = -0.4 + -1.0.
    // "c b": c has no backoff (weight 1) -> p(b) = -0.7.
    // "q a": no (q a); q not an entry -> weight 1 -> p(a) = -0.5.
    assert(got(1L) == (1L, Some(r3(-0.1 * ln10))))
    assert(got(2L) == (1L, Some(r3(-1.4 * ln10))))
    assert(got(3L) == (1L, Some(r3(-0.7 * ln10))))
    assert(got(4L) == (1L, Some(r3(-0.5 * ln10))))
  }

  test("per-language export: each file scores its language like the by-lang engine") {
    val refL = Seq(
      (0L, "a b a b c a b", "en"), (1L, "a b a b a", "en"),
      (2L, "c c c c d c", "en"), (3L, "a b c a b c", "en"),
      (10L, "x y x y z x", "fr"), (11L, "x y z x y", "fr"),
      (20L, "solo", "zz")) // no bigram -> no model -> skipped
    val docsL = Seq(
      (100L, "a b a b c", "en"), (101L, "x y z q r", "fr"))
    try {
      val dir = java.nio.file.Files.createTempDirectory("arpa_bylang").toString
      val written = Arpa.arpaExportKnByLang(refL.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dir)
      assert(written.map(_._1).toSet == Set("en", "fr"),
        s"zz (no bigram) is skipped: $written")
      // per-language files score exactly like the by-lang engine's slices
      val engine = TextOps.lmScore(MStream(docsL.toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(refL.toDF("doc_id", "text", "lang"), "text", Some(("lang", "lang"))))).df
      val engineRows = rowsOf(engine)
      written.foreach { case (lang, path) =>
        val model = Arpa.arpaImport(spark, path)
        val slice = docsL.filter(_._3 == lang).map(d => (d._1, d._2))
        if (slice.nonEmpty) {
          val got = rowsOf(Arpa.arpaScoreAgainst(
            MStream(slice.toDF("doc_id", "text")), model, "doc_id", "text").df)
          got.foreach { case (id, v) =>
            assert(engineRows(id) == v,
              s"doc $id under $lang.arpa: $v vs by-lang engine ${engineRows(id)}")
          }
        }
      }
      // the MKN face: one modified-KN file per language, score-equal to
      // the by-lang MKN engine per slice
      val dirM = java.nio.file.Files.createTempDirectory("arpa_bylang_mkn").toString
      val writtenM = Arpa.arpaExportMknByLang(refL.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dirM)
      assert(writtenM.map(_._1).toSet == Set("en", "fr"))
      val engineM = rowsOf(TextOps.lmScore(MStream(docsL.toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text",
        Some(LmRef(refL.toDF("doc_id", "text", "lang"), "text", Some(("lang", "lang"))))).df)
      writtenM.foreach { case (lang, path) =>
        val model = Arpa.arpaImport(spark, path)
        val slice = docsL.filter(_._3 == lang).map(d => (d._1, d._2))
        rowsOf(Arpa.arpaScoreAgainst(
          MStream(slice.toDF("doc_id", "text")), model, "doc_id", "text").df)
          .foreach { case (id, v) =>
            assert(engineM(id) == v,
              s"doc $id under mkn $lang.arpa: $v vs by-lang mkn ${engineM(id)}")
          }
      }
    } finally graft.api.Pinned.release(spark)
  }

  test("streaming == batch; stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("stream.arpa")
    try {
      Arpa.arpaExportKn(ref.toDF("doc_id", "text"), "text", 3, path)
      val model = Arpa.arpaImport(spark, path)
      val batch = rowsOf(Arpa.arpaScoreAgainst(
        MStream(docs.toDF("doc_id", "text")), model, "doc_id", "text").df)
      val in = MemoryStream[(Long, String)]
      val out = Arpa.arpaScoreAgainst(
        MStream(in.toDF().toDF("doc_id", "text")), model, "doc_id", "text")
      assert(out.df.isStreaming)
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)
      val name = s"arpa_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "ARPA scoring is stateless at ingest")
        assert(rowsOf(spark.table(name)) == batch, "streaming equals batch")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("ArpaScore node: v10 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val path = tmp("node.arpa")
    try {
      Arpa.arpaExportKn(ref.toDF("doc_id", "text"), "text", 3, path)
      val d = Doc(Seq(External("in"),
        ArpaScore("a", "in", path, "doc_id", "text")), Seq("a"))
      val json = Program.toJson(d)
      assert(json.contains("\"version\":10") && Program.fromJson(json) == d)
      val bad = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
        Doc(Seq(External("in"), ArpaScore("a", "in", " ", "doc_id", "text")), Seq("a")))))
      assert(bad.getMessage.contains("path"), bad.getMessage)
      val docsDf = docs.toDF("doc_id", "text")
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docsDf))
          .arpaScoreAgainst(path, "doc_id", "text").as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docsDf)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
      assert(rowsOf(out) == rowsOf(Arpa.arpaScoreAgainst(
        MStream(docsDf), Arpa.arpaImport(spark, path), "doc_id", "text").df),
        "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  private val refL2 = Seq(
    (0L, "a b a b c a b", "en"), (1L, "a b a b a", "en"),
    (2L, "c c c c d c", "en"), (3L, "a b c a b c", "en"),
    (10L, "x y x y z x", "fr"), (11L, "x y z x y", "fr"),
    (15L, "n m n m n n m", null), // a NULL language with its own model
    (20L, "solo", "zz")) // no bigram -> no model -> skipped

  test("per-language export: ONE training pass, per-slice byte-identical files") {
    def bytes(p: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq
    try {
      val dir = java.nio.file.Files.createTempDirectory("arpa_onepass").toString
      val before = graft.pipeline.TextOps.knModelBuilds.get()
      val written = Arpa.arpaExportKnByLang(refL2.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dir)
      assert(graft.pipeline.TextOps.knModelBuilds.get() - before == 1,
        "ALL languages' models come from ONE language-keyed training pass")
      assert(written.map(_._1).toSet == Set("en", "fr", null),
        s"zz (no bigram) skipped, null language modeled: $written")
      written.foreach { case (lang, path) =>
        val single = tmp(s"single_${Arpa.fileNameOf(lang)}.arpa")
        Arpa.arpaExportKn(refL2.filter(_._3 == lang).map(r => (r._1, r._2))
          .toDF("doc_id", "text"), "text", order = 3, single)
        assert(bytes(path) == bytes(single),
          s"$lang: the keyed-table slice must serialize byte-identically " +
            "to a per-slice training")
      }
      // the MKN face: per-language discounts from the shared frame, same
      // byte identity, still one pass
      val dirM = java.nio.file.Files.createTempDirectory("arpa_onepass_mkn").toString
      val beforeM = graft.pipeline.TextOps.knModelBuilds.get()
      val writtenM = Arpa.arpaExportMknByLang(refL2.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dirM)
      assert(graft.pipeline.TextOps.knModelBuilds.get() - beforeM == 1)
      writtenM.foreach { case (lang, path) =>
        val single = tmp(s"singlem_${Arpa.fileNameOf(lang)}.arpa")
        Arpa.arpaExportMkn(refL2.filter(_._3 == lang).map(r => (r._1, r._2))
          .toDF("doc_id", "text"), "text", order = 3, single)
        assert(bytes(path) == bytes(single), s"mkn $lang byte identity")
      }
    } finally graft.api.Pinned.release(spark)
  }

  test("file-name mapping is injective, reversible and filesystem-safe") {
    val tricky = Seq(null, "", "en", "xh", "x", "x656e", "xc3a4", "ä",
      "__null", "__empty", "a b", "-", "中文")
    val names = tricky.map(Arpa.fileNameOf)
    assert(names.distinct.size == names.size,
      s"two languages may never share a file: ${tricky.zip(names)}")
    tricky.zip(names).foreach { case (l, n) =>
      assert(Arpa.langOfFileName(n) == l, s"'$l' -> '$n' must reverse")
      assert(n.nonEmpty && n.forall(c => c.isLetterOrDigit && c < 128 ||
        c == '_' || c == '-'), s"'$n' must be filesystem-safe ASCII")
    }
  }

  test("directory import + by-lang scoring == the in-session by-lang engine") {
    // en/fr/null modeled; de has no file, zz's slice has no bigram — both
    // are the NULL no-model verdict; q r s are unseen tokens
    val docsL = Seq(
      (100L, "a b a b c", "en"), (101L, "x y z q r", "fr"),
      (102L, "n m q n m", null), (103L, "a b c", "de"),
      (104L, "solo solo solo", "zz"), (105L, "a b", "en")) // under order
    try {
      val dir = java.nio.file.Files.createTempDirectory("arpa_dir").toString
      Arpa.arpaExportKnByLang(refL2.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dir)
      val models = Arpa.arpaImportDir(spark, dir)
      assert(models.map(_._1) == Seq(null, "en", "fr").sortBy(l => if (l == null) "" else l))
      val got = rowsOf(Arpa.arpaScoreAgainstByLang(
        MStream(docsL.toDF("doc_id", "text", "lang")), models,
        "doc_id", "text", "lang").df)
      val want = rowsOf(TextOps.lmScore(MStream(docsL.toDF("doc_id", "text", "lang")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(refL2.toDF("doc_id", "text", "lang"), "text", Some(("lang", "lang"))))).df)
      assert(got == want, s"per-language ARPA scoring:\n$got\nvs engine\n$want")
      assert(got(103L)._2.isEmpty && got(104L)._2.isEmpty,
        "unmodeled languages take the NULL no-model verdict")
      assert(got(103L)._1 == 1L, "position count survives the NULL verdict")
    } finally graft.api.Pinned.release(spark)
  }

  test("by-lang scoring: streaming == batch; stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val docsL = Seq(
      (100L, "a b a b c", "en"), (101L, "x y z q r", "fr"),
      (103L, "a b c", "de"), (105L, "a b", "en"))
    try {
      val dir = java.nio.file.Files.createTempDirectory("arpa_dir_s").toString
      Arpa.arpaExportKnByLang(refL2.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dir)
      val models = Arpa.arpaImportDir(spark, dir)
      val batch = rowsOf(Arpa.arpaScoreAgainstByLang(
        MStream(docsL.toDF("doc_id", "text", "lang")), models,
        "doc_id", "text", "lang").df)
      val in = MemoryStream[(Long, String, String)]
      val out = Arpa.arpaScoreAgainstByLang(
        MStream(in.toDF().toDF("doc_id", "text", "lang")), models,
        "doc_id", "text", "lang")
      assert(out.df.isStreaming)
      in.addData(docsL.take(2): _*)
      in.addData(docsL.drop(2): _*)
      val name = s"arpabl_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
        assert(rowsOf(spark.table(name)) == batch)
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("sentence mode: foreign boundary ARPA scores by hand-computed back-off") {
    // an order-2 model WITH boundary entries, KenLM-style
    val path = tmp("sent_foreign.arpa")
    val text =
      """\data\
        |ngram 1=5
        |ngram 2=3
        |
        |\1-grams:
        |-9.0	<unk>
        |-99.0	<s>	-0.30103
        |-0.7	a	-0.2
        |-1.0	b
        |-0.5	</s>
        |
        |\2-grams:
        |-0.15	<s> a
        |-0.4	a b
        |-0.6	b </s>
        |
        |\end\
        |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
    val model = Arpa.arpaImport(spark, path)
    val got = rowsOf(Arpa.arpaScoreAgainst(
      MStream(Seq((1L, "a b"), (2L, "a b. b q"), (3L, "..."), (4L, "b"))
        .toDF("doc_id", "text")), model, "doc_id", "text",
      sentenceMode = true).df)
    val ln10 = math.log(10.0)
    def r3(x: Double) =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "a b": events a|<s> (-0.15), b|a (-0.4), </s>|b (-0.6)
    assert(got(1L) == (3L, Some(r3(-1.15 / 3 * ln10))))
    // "a b. b q": sentence 1 as above; sentence 2: b|<s> backs off
    // (bo(<s>) -0.30103 + p(b) -1.0), q|b (bo(b) absent = 0 + <unk> -9),
    // </s>|q (q not an entry, weight 1 -> p(</s>) -0.5)
    assert(got(2L) == (6L,
      Some(r3((-1.15 + -1.30103 + -9.0 + -0.5) / 6 * ln10))))
    // only punctuation: no sentence, the (0, NULL) verdict
    assert(got(3L) == (0L, None))
    // "b": events b|<s> (back-off -1.30103), </s>|b (-0.6)
    assert(got(4L) == (2L, Some(r3((-1.30103 + -0.6) / 2 * ln10))))
  }

  test("sentence-mode round trip == in-session sentence-mode KN; streaming == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val refS = Seq(
      (0L, "a b c. a b c! a b d"), (1L, "a b c d e. a b c"),
      (2L, "c a b? c a b e"), (3L, "b c a b c a"),
      (4L, "d e a b c. d e f"), (5L, "f a b c a b"))
    val docsS = Seq(
      (100L, "a b c. a b"), (101L, "a b q? c a"), (102L, "q q. q q"),
      (103L, "e f a b c"), (104L, "a b"), (105L, "..."))
    val path = tmp("sent_rt.arpa")
    try {
      Arpa.arpaExportKn(refS.toDF("doc_id", "text"), "text", order = 3, path,
        sentenceMode = true)
      val model = Arpa.arpaImport(spark, path)
      val got = rowsOf(Arpa.arpaScoreAgainst(
        MStream(docsS.toDF("doc_id", "text")), model, "doc_id", "text",
        sentenceMode = true).df)
      val want = rowsOf(TextOps.lmScore(MStream(docsS.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey(), sentenceMode = true), "doc_id", "text",
        Some(LmRef(refS.toDF("doc_id", "text"), "text"))).df)
      assert(got == want, s"sentence round trip:\n$got\nvs in-session\n$want")
      // n_grams = tokens + one </s> per sentence; "a b" = ONE sentence =
      // 3 events even under the order (the <s> padding completes windows)
      assert(got(100L)._1 == 7L && got(104L)._1 == 3L && got(105L) == (0L, None))
      // boundary entries exist in the file
      val lines = scala.io.Source.fromFile(path).getLines().toVector
      assert(lines.exists(_.contains("\t<s>")) || lines.exists(_.contains("<s> ")),
        "<s> appears in contexts")
      assert(lines.exists(l => l.endsWith("\t</s>") || l.contains("</s>")),
        "</s> is a first-class event")
      // streaming face of sentence mode
      val in = MemoryStream[(Long, String)]
      val out = Arpa.arpaScoreAgainst(
        MStream(in.toDF().toDF("doc_id", "text")), model, "doc_id", "text",
        sentenceMode = true)
      in.addData(docsS: _*)
      val name = s"arpasent_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
        assert(rowsOf(spark.table(name)) == got, "streaming equals batch")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("ArpaScoreLang node: v11 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    try {
      val dir = java.nio.file.Files.createTempDirectory("arpa_node_bl").toString
      Arpa.arpaExportKnByLang(refL2.toDF("doc_id", "text", "lang"),
        "text", "lang", order = 3, dir)
      val d = Doc(Seq(External("in"),
        ArpaScoreLang("a", "in", dir, "doc_id", "text", "lang")), Seq("a"))
      val json = Program.toJson(d)
      assert(json.contains("\"version\":11") && Program.fromJson(json) == d)
      // sentence=true on arpaScore also stamps v11; the default stays v10
      val sentDoc = Doc(Seq(External("in"),
        ArpaScore("a", "in", "/x.arpa", "doc_id", "text", sentence = true)), Seq("a"))
      assert(Program.toJson(sentDoc).contains("\"version\":11"))
      assert(Program.fromJson(Program.toJson(sentDoc)) == sentDoc)
      val docsL = Seq((100L, "a b a b c", "en"), (103L, "a b c", "de"))
      val docsDf = docsL.toDF("doc_id", "text", "lang")
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docsDf))
          .arpaScoreAgainstByLang(dir, "doc_id", "text", "lang").as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docsDf)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
      assert(rowsOf(out) == rowsOf(Arpa.arpaScoreAgainstByLang(
        MStream(docsDf), Arpa.arpaImportDir(spark, dir),
        "doc_id", "text", "lang").df))
    } finally graft.api.Pinned.release(spark)
  }

  test("a failing export releases its pinned scope (no stranded checkpoints)") {
    val old = spark.conf.getOption("graft.arpa.maxEntries")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set("graft.arpa.maxEntries", "3")
    try {
      intercept[IllegalArgumentException](Arpa.arpaExportKn(
        ref.toDF("doc_id", "text"), "text", 3, tmp("leak.arpa")))
      intercept[IllegalArgumentException](Arpa.arpaExportKnByLang(
        refL2.toDF("doc_id", "text", "lang"), "text", "lang", 3,
        java.nio.file.Files.createTempDirectory("arpa_leak").toString))
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "the scoped pins must release on the FAILURE path too")
    } finally {
      old match {
        case Some(v) => spark.conf.set("graft.arpa.maxEntries", v)
        case None => spark.conf.unset("graft.arpa.maxEntries")
      }
      graft.api.Pinned.release(spark)
    }
  }

  test("per-language export: an uncreatable second file leaves no partial files") {
    // languages write in order null, en, fr: a DIRECTORY at en's file
    // path makes the second create fail after the first file opened
    val dir = java.nio.file.Files.createTempDirectory("arpa_partial")
    java.nio.file.Files.createDirectory(dir.resolve(s"${Arpa.fileNameOf("en")}.arpa"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      intercept[java.io.IOException](Arpa.arpaExportKnByLang(
        refL2.toDF("doc_id", "text", "lang"), "text", "lang", 3, dir.toString))
      val left = dir.toFile.list().toSet
      assert(left == Set(s"${Arpa.fileNameOf("en")}.arpa"),
        s"the opened language's partial file (and its checksum) must be deleted: $left")
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "the failed export releases its pins")
    } finally graft.api.Pinned.release(spark)
  }

  test("per-language export: one level summed over languages is capped too") {
    // each language's file holds 8 entries (<unk> + 4 unigrams + 3
    // bigrams), under the cap of 10 — but the keyed export sorts level 1
    // of all three languages (12 entries) in one task
    val three = Seq((0L, "a b c d", "en"), (1L, "a b c d", "fr"),
      (2L, "a b c d", "de")).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("arpa_levelcap")
    val old = spark.conf.getOption("graft.arpa.maxEntries")
    spark.conf.set("graft.arpa.maxEntries", "10")
    try {
      Arpa.arpaExportKn(three.where($"lang" === "en").drop("lang"), "text", 2,
        tmp("one_lang.arpa"))
      val e = intercept[IllegalArgumentException](Arpa.arpaExportKnByLang(
        three, "text", "lang", 2, dir.toString))
      assert(e.getMessage.contains("graft.arpa.maxEntries") &&
        e.getMessage.contains("minCount") && e.getMessage.contains("level-1"),
        e.getMessage)
      assert(dir.toFile.list().isEmpty,
        s"the cap fails before any file opens: ${dir.toFile.list().toSeq}")
    } finally {
      old match {
        case Some(v) => spark.conf.set("graft.arpa.maxEntries", v)
        case None => spark.conf.unset("graft.arpa.maxEntries")
      }
      graft.api.Pinned.release(spark)
    }
  }

  test("contracts: no <unk>, malformed lines, caps, bounds") {
    val noUnk = tmp("nounk.arpa")
    java.nio.file.Files.write(java.nio.file.Paths.get(noUnk),
      "\\data\\\nngram 1=1\nngram 2=1\n\n\\1-grams:\n-0.5\ta\t-0.1\n\n\\2-grams:\n-0.2\ta a\n\n\\end\\\n"
        .getBytes("UTF-8"))
    val m = Arpa.arpaImport(spark, noUnk)
    val e = intercept[IllegalArgumentException](Arpa.arpaScoreAgainst(
      MStream(docs.toDF("doc_id", "text")), m, "doc_id", "text"))
    assert(e.getMessage.contains("<unk>"), e.getMessage)
    val bad = tmp("bad.arpa")
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      "\\data\\\nngram 1=1\n\n\\1-grams:\n-0.5\n\n\\end\\\n".getBytes("UTF-8"))
    assert(intercept[IllegalArgumentException](Arpa.arpaImport(spark, bad))
      .getMessage.contains("malformed"))
    assert(intercept[IllegalArgumentException](Arpa.arpaExportKn(
      ref.toDF("doc_id", "text"), "text", 9, tmp("x.arpa")))
      .getMessage.contains("[2, 8]"))
    assert(intercept[IllegalArgumentException](Arpa.arpaExportKn(
      ref.toDF("doc_id", "text"), "text", 3, tmp("y.arpa"), discount = 1.5))
      .getMessage.contains("(0, 1)"))
    // the modeled-language cap fails by NAME after a BOUNDED collect
    // (limit(1025) — a degenerate language column never materializes on
    // the driver)
    val manyLangs = (0 until 1025).map(i => (i.toLong, "a a a", s"l$i"))
      .toDF("doc_id", "text", "lang")
    val eLangs = intercept[IllegalArgumentException](Arpa.arpaExportKnByLang(
      manyLangs, "text", "lang", 2,
      java.nio.file.Files.createTempDirectory("arpa_caps").toString))
    assert(eLangs.getMessage.contains("1024"), eLangs.getMessage)
    graft.api.Pinned.release(spark)
    val old = spark.conf.getOption("graft.arpa.maxEntries")
    spark.conf.set("graft.arpa.maxEntries", "3")
    try {
      val e2 = intercept[IllegalArgumentException](Arpa.arpaExportKn(
        ref.toDF("doc_id", "text"), "text", 3, tmp("cap.arpa")))
      assert(e2.getMessage.contains("maxEntries"), e2.getMessage)
    } finally {
      old match {
        case Some(v) => spark.conf.set("graft.arpa.maxEntries", v)
        case None => spark.conf.unset("graft.arpa.maxEntries")
      }
      graft.api.Pinned.release(spark)
    }
  }
}
