package graft

import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.functions.Gpt2Bytes
import graft.pipeline.TextOps

/** Byte-level BPE — the GPT-2 tokenizer proper (Radford et al. 2019):
  * the byte→unicode alphabet against the reference construction, the
  * lookahead-free pre-tokenizer's semantics (contractions, leading
  * spaces, the documented multi-space deviation), trainer parity vs a
  * plain-Scala reference over pre-tokens, the merges.txt round trip in
  * the mapped alphabet (Ġ entries — the format GPT-2 artifacts actually
  * use), a hand-written GPT-2-style foreign fixture, ids layout, and
  * streaming == batch. */
class ByteBpeSpec extends SparkSpec {
  import spark.implicits._

  test("byte alphabet == the reference bytes_to_unicode construction") {
    val m = Gpt2Bytes.ByteToChar
    assert(m.length == 256)
    // printable latin-1 bytes map to themselves
    assert(m('A'.toInt) == 'A' && m('!'.toInt) == '!' && m('~'.toInt) == '~')
    assert(m(0xA1) == '¡' && m(0xFF) == 'ÿ')
    // the famous remapped ones: NUL -> U+0100 'Ā', space -> U+0120 'Ġ',
    // newline -> U+010A 'Ċ' (32 controls before space, LF is byte 10)
    assert(m(0x00) == 'Ā')
    assert(m(' '.toInt) == 'Ġ', f"space maps to U+${m(' '.toInt).toInt}%04X")
    assert(m('\n'.toInt) == 'Ċ')
    // bijective: 256 distinct chars
    assert(m.distinct.length == 256)
    // mapped strings are whitespace-free (what merges.txt rides on)
    assert(!m.exists(_.isWhitespace))
  }

  test("pre-tokenizer: contractions, leading spaces, total cover") {
    val got = Seq((1L, "Hello, world's  test 42 don't"))
      .toDF("doc_id", "text")
      .select(TextOps.gpt2PreTokens(col("text")).as("t"))
      .collect().head.getSeq[String](0).toList
    assert(got == List("Hello", ",", " world", "'s", "  ", "test", " 42",
      " don", "'t"), got.toString)
    // the alternatives cover every character: concat rebuilds the text
    assert(got.mkString == "Hello, world's  test 42 don't")
  }

  /** Plain-Scala reference: pre-tokenize (Java regex, the same shared
    * pattern), byte-map, then reference BPE merge rounds. */
  private def refTrain(texts: Seq[String], numMerges: Int): Seq[(String, String)] = {
    val pat = java.util.regex.Pattern.compile(TextOps.Gpt2PreTokenPattern)
    def pre(t: String): Seq[String] = {
      val m = pat.matcher(t)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) out += m.group()
      out.toSeq
    }
    def mapped(t: String): Seq[String] =
      t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => Gpt2Bytes.ByteToChar(b & 0xff).toString).toSeq
    var vocab: Map[Seq[String], Long] = texts.flatMap(pre)
      .groupBy(identity).map { case (tok, xs) => mapped(tok) -> xs.size.toLong }
      .groupBy(_._1).map { case (y, xs) => y -> xs.map(_._2).sum }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges) {
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((y, c) <- vocab; i <- 0 until y.length - 1)
        pair.updateWith((y(i), y(i + 1)))(o => Some(o.getOrElse(0L) + c))
      if (pair.isEmpty) return merges.toSeq
      val (a, b) = pair.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
      merges += ((a, b))
      vocab = vocab.toSeq.map { case (y, c) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < y.length) {
          if (i + 1 < y.length && y(i) == a && y(i + 1) == b) { out += a + b; i += 2 }
          else { out += y(i); i += 1 }
        }
        (out.toSeq, c)
      }.groupBy(_._1).map { case (y, xs) => y -> xs.map(_._2).sum }
    }
    merges.toSeq
  }

  private val rnd = new scala.util.Random(53)
  private val wordsPool = Vector("the", "cat", "sat", "on", "mat", "dog", "ran")
  private val corpus = (0L until 40L).map(i =>
    (i, Seq.fill(3 + rnd.nextInt(6))(wordsPool(rnd.nextInt(wordsPool.size))).mkString(" ")))

  test("trainByteBpeMerges == the plain-Scala reference; merges carry Ġ") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val got = TextOps.trainByteBpeMerges(docs, "text", 8)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).map(x => (x._2, x._3)).toSeq
      val want = refTrain(corpus.map(_._2), 8)
      assert(got == want, s"merges:\n$got\nvs reference\n$want")
      // non-initial words carry the leading space as Ġ in the working
      // alphabet: the tokenized pieces of a two-word doc include one
      val pieces = TextOps.byteBpeTokenize(
        MStream(Seq((1L, "the cat")).toDF("doc_id", "text")),
        TextOps.trainByteBpeMerges(docs, "text", 1), "doc_id", "text")
      assert(pieces.df.columns.contains("n_bbpe_tokens"))
      val m2 = refTrain(Seq("x y x y x y"), 2)
      assert(m2.exists { case (a, b) => (a + b).contains('Ġ') },
        s"space-prefixed merges appear once within-word pairs exhaust: $m2")
    } finally graft.api.Pinned.release(spark)
  }

  test("merges.txt round trip in the byte alphabet; foreign GPT-2 fixture applies") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val merges = TextOps.trainByteBpeMerges(docs, "text", 6)
      val dir = java.nio.file.Files.createTempDirectory("graft_bbpe")
      val p1 = dir.resolve("merges.txt").toString
      // mapped symbols are whitespace-free, so the space-separated
      // format carries them natively (the reason GPT-2 ships this way)
      TextOps.bpeExportMerges(merges, p1)
      val imported = TextOps.bpeImportMerges(spark, p1)
      val t1 = TextOps.byteBpeTokenize(MStream(docs), merges, "doc_id", "text")
        .df.collect().map(_.toString).sorted.toSeq
      val t2 = TextOps.byteBpeTokenize(MStream(docs), imported, "doc_id", "text")
        .df.collect().map(_.toString).sorted.toSeq
      assert(t1 == t2, "tokenize through the re-imported merges == in-session")
      // a hand-written GPT-2-style file (Ġ-prefixed rules) imports and
      // applies: " the" pre-token maps to Ġthe and merges to one piece
      val pf = dir.resolve("foreign.txt")
      java.nio.file.Files.write(pf,
        "#version: 0.2\nĠ t\nĠt h\nĠth e\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val foreign = TextOps.bpeImportMerges(spark, pf.toString)
      val one = Seq((1L, "a the")).toDF("doc_id", "text")
      val ids = TextOps.byteBpeEncodeIds(MStream(one), foreign, "text")
        .df.select(col("ids")).collect().head.getSeq[Long](0).toList
      // pieces: "a" (OOV byte -> -1), "Ġthe" (= atoms Ġ,e,h,t then
      // outputs Ġt,Ġth,Ġthe -> id 6)
      assert(ids == List(-1L, 6L), ids.toString)
    } finally graft.api.Pinned.release(spark)
  }

  test("streaming == batch (zero-shuffle projection), byte encode face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus.take(15).toDF("doc_id", "text")
    try {
      val merges = TextOps.trainByteBpeMerges(docs, "text", 4)
      val batch = TextOps.byteBpeTokenize(MStream(docs), merges, "doc_id", "text")
        .df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val in = MemoryStream[(Long, String)]
      val out = TextOps.byteBpeTokenize(MStream(in.toDF().toDF("doc_id", "text")),
        merges, "doc_id", "text")
      assert(out.df.isStreaming)
      in.addData(corpus.take(15): _*)
      val name = s"bb_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "byte encode is stateless")
        val streamed = spark.table(name)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(streamed == batch, "streaming equals batch")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("vocab.json: canonical layout, byte-identical round trip, file ids apply") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val merges = TextOps.trainByteBpeMerges(docs, "text", 6)
      val dir = java.nio.file.Files.createTempDirectory("graft_bbj_spec")
      val p1 = dir.resolve("vocab.json").toString
      TextOps.byteBpeExportVocabJson(merges, p1)
      val vocab = TextOps.byteBpeImportVocabJson(spark, p1)
      val rows = vocab.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      assert(rows.length == 256 + 6, "256-char alphabet + 6 merge outputs")
      // canonical head: ids 0..255 are the byte alphabet by code point —
      // '!' (the lowest printable) is id 0, exactly the published GPT-2 head
      assert(rows(0) == (("!", 0L)), rows(0).toString)
      // remapped bytes sort after latin-1: 'Ā' (U+0100) lands at id 188
      assert(rows(188) == (("Ā", 188L)), rows(188).toString)
      // merge outputs take 256.. in rank order
      val m1 = merges.collect().sortBy(_.getInt(0)).head
      assert(rows(256)._1 == m1.getString(1) + m1.getString(2))
      // re-export from the imported frame? (export takes merges; assert
      // the file itself is stable instead: write again, byte-identical)
      val p2 = dir.resolve("vocab2.json").toString
      TextOps.byteBpeExportVocabJson(merges, p2)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p1)),
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2))),
        "export is deterministic byte-for-byte")
      // encoding to FILE ids == derived ids shifted by the layout
      // difference: spot-check equality through a doc round trip
      val viaFile = TextOps.byteBpeEncodeIdsImported(MStream(docs), merges,
        vocab, "text").df.select(col("doc_id"), col("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // every id must resolve (the alphabet covers every byte)
      assert(viaFile.values.forall(_.forall(_ >= 0L)), "no OOV with a full alphabet")
      // and mapping ids back through the file reproduces the piece stream
      val idToPiece = rows.map { case (p, i) => i -> p }.toMap
      val pieces = TextOps.byteBpeEncodeIds(MStream(docs), merges, "text")
        .df.select(col("doc_id"), col("ids")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // both encodings segment identically (same merge chain), so the
      // per-doc token COUNTS agree even though id spaces differ
      assert(viaFile.keySet == pieces.keySet &&
        viaFile.forall { case (k, v) => v.length == pieces(k).length })
    } finally graft.api.Pinned.release(spark)
  }

  test("foreign vocab.json fixture: hand-written GPT-2-style ids apply verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bbj_foreign")
    val pv = dir.resolve("vocab.json")
    // ids deliberately NOT the canonical layout — the file's ids win
    java.nio.file.Files.write(pv,
      """{"a": 5, "Ġ": 7, "b": 11, "Ġb": 13}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val vocab = TextOps.byteBpeImportVocabJson(spark, pv.toString)
    val pm = dir.resolve("merges.txt")
    java.nio.file.Files.write(pm,
      "#version: 0.2\nĠ b\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val merges = TextOps.bpeImportMerges(spark, pm.toString)
    val one = Seq((1L, "a b x")).toDF("doc_id", "text")
    val ids = TextOps.byteBpeEncodeIdsImported(MStream(one), merges, vocab, "text")
      .df.select(col("ids")).collect().head.getSeq[Long](0).toList
    // pre-tokens: "a", " b", " x" -> pieces a, Ġb (merged), Ġ, x(OOV)
    assert(ids == List(5L, 13L, 7L, -1L), ids.toString)
    // contracts: duplicate id fails by name
    val pd = dir.resolve("dup.json")
    java.nio.file.Files.write(pd, """{"a": 1, "b": 1}""".getBytes("UTF-8"))
    val bad = intercept[IllegalArgumentException](
      TextOps.byteBpeImportVocabJson(spark, pd.toString))
    assert(bad.getMessage.contains("assigned twice"))
    val pn = dir.resolve("notobj.json")
    java.nio.file.Files.write(pn, """[1, 2]""".getBytes("UTF-8"))
    val bad2 = intercept[IllegalArgumentException](
      TextOps.byteBpeImportVocabJson(spark, pn.toString))
    assert(bad2.getMessage.contains("not a JSON object"))
  }

  test("ByteBpe nodes: v12 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(Seq(External("in"), External("m"),
      ByteBpeIds("a", "in", "m", "text", oovId = -7L, as = "idz")), Seq("a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":12") && Program.fromJson(json) == d)
    val dv = Doc(Seq(External("in"), External("m"), External("v"),
      ByteBpeIdsVocab("a", "in", "m", "v", "text", oovId = -9L, as = "gz")),
      Seq("a"))
    assert(Program.fromJson(Program.toJson(dv)) == dv)
    try {
      val docs = corpus.take(12).toDF("doc_id", "text")
      val merges = TextOps.trainByteBpeMerges(docs, "text", 4)
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docs))
          .byteBpeEncode(Program.Rec.external("m", MStream(merges)),
            "doc_id", "text").as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docs)))
        .setSource("m", App.Source("list", rows = Some(merges)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val direct = TextOps.byteBpeTokenize(MStream(docs), merges, "doc_id", "text")
        .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(out == direct, "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("capture: byteBpeEncodeIdsVocab records the ByteBpeIdsVocab node") {
    import graft.api.Program
    import graft.api.Program._
    try {
      val docs = corpus.take(12).toDF("doc_id", "text")
      val merges = TextOps.trainByteBpeMerges(docs, "text", 4)
      // a foreign vocabulary: every single byte symbol and merge output
      // of the trained table, numbered from 100
      val pieces = merges.collect().flatMap(r =>
        Seq(r.getString(1), r.getString(2), r.getString(1) + r.getString(2))).distinct.sorted
      val vocab = pieces.zipWithIndex.map { case (p, i) => (p, 100L + i) }.toSeq
        .toDF("piece", "gpt_id")
      val rec = Program.Rec.external("in", MStream(docs))
        .byteBpeEncodeIdsVocab(Program.Rec.external("m", MStream(merges)),
          Program.Rec.external("v", MStream(vocab)), "text", oovId = -9L, as = "gz").as("a")
      val cap = Program.capture(rec)
      assert(cap.nodes.last == ByteBpeIdsVocab("a", "in", "m", "v", "text", -9L, "gz"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val direct = TextOps.byteBpeEncodeIdsImported(MStream(docs), merges, vocab, "text",
        -9L, "gz")
      def ids(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("gz"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).sortBy(_._1).toSeq
      assert(ids(rec.stream.df) == ids(direct.df), "live capture equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("empty text emits (0, 0); contracts reject streaming merge tables") {
    val docs = Seq((1L, ""), (2L, "ab ab")).toDF("doc_id", "text")
    try {
      val merges = TextOps.trainByteBpeMerges(docs, "text", 1)
      val by = TextOps.byteBpeTokenize(MStream(docs), merges, "doc_id", "text")
        .df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(by(1L) == ((0L, 0L)))
      assert(by(2L)._1 > 0L)
      val bad = intercept[IllegalArgumentException](
        TextOps.trainByteBpeMerges(docs, "text", 0))
      assert(bad.getMessage.contains("numMerges"))
    } finally graft.api.Pinned.release(spark)
  }
}
