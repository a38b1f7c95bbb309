package graft

import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.{TextOps, WordPiece}

/** WordPiece tokenizer (Schuster & Nakajima 2012): the trainer against
  * a full plain-Scala reimplementation AND the hand-checkable
  * HuggingFace-course example (likelihood scoring picks ("##g", "##s")
  * first where raw BPE pair counts would not), the greedy encoder's
  * [UNK]-collapse semantics, the vocab.txt / merges.txt artifact
  * interop round trips, streaming == batch, and the contracts. */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  // ---- plain-Scala reference trainer --------------------------------

  private def refWrap(w: String): Seq[String] = {
    val cs = w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    cs.head +: cs.tail.map("##" + _)
  }

  private def refMerged(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** (merges, vocab layout) — symbol counts over ALL words (one-symbol
    * words keep feeding denominators), score = n/(ca·cb), ties by
    * (a, b); layout = unk, alphabet (UTF-8 byte order), merge outputs
    * by rank with later collisions skipped. */
  private def refTrain(words: Seq[(String, Long)], numMerges: Int,
                       unk: String = "[UNK]"): (Seq[(String, String)], Seq[String]) = {
    var vocab: Map[Seq[String], Long] =
      words.map { case (w, c) => refWrap(w) -> c }
        .groupBy(_._1).map { case (y, xs) => y -> xs.map(_._2).sum }
    val alphabet = vocab.keys.flatten.toSeq.distinct
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val sym = scala.collection.mutable.Map.empty[String, Long]
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((y, c) <- vocab) {
        y.foreach(s => sym.updateWith(s)(o => Some(o.getOrElse(0L) + c)))
        y.sliding(2).filter(_.size == 2).foreach(p =>
          pair.updateWith((p(0), p(1)))(o => Some(o.getOrElse(0L) + c)))
      }
      if (pair.isEmpty) exhausted = true
      else {
        val (a, b) = pair.toSeq.map { case ((a, b), n) =>
          ((a, b), n.toDouble / (sym(a).toDouble * sym(b).toDouble))
        }.minBy { case ((a, b), s) => (-s, a, b) }._1
        merges += ((a, b))
        val m = refMerged(a, b)
        vocab = vocab.toSeq.map { case (y, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < y.length) {
            if (i + 1 < y.length && y(i) == a && y(i + 1) == b) { out += m; i += 2 }
            else { out += y(i); i += 1 }
          }
          (out.toSeq, c)
        }.groupBy(_._1).map { case (y, xs) => y -> xs.map(_._2).sum }
      }
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    seen += unk
    alphabet.sorted(TextOps.Utf8Ordering).foreach(seen += _)
    merges.foreach { case (a, b) => seen += refMerged(a, b) }
    (merges.toSeq, seen.toSeq)
  }

  private val rnd = new scala.util.Random(47)
  private val syllables = Vector("ka", "to", "mi", "ra", "su", "ne", "lo", "ch", "qu")
  private def randWord(): String =
    Seq.fill(1 + rnd.nextInt(4))(syllables(rnd.nextInt(syllables.size))).mkString
  private val corpus = (0L until 60L)
    .map(i => (i, Seq.fill(3 + rnd.nextInt(8))(randWord()).mkString(" ")))

  test("trainVocab == the plain-Scala reference training (ids = layout order)") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val got = WordPiece.trainVocab(docs, "text", numMerges = 8)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val wordCounts = corpus.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }.toSeq
      val (_, want) = refTrain(wordCounts, 8)
      assert(got.map(_._2) == want,
        s"vocab layout:\n${got.map(_._2)}\nvs reference\n$want")
      assert(got.map(_._1) == got.indices.map(_.toLong), "ids are dense 0..n-1")
    } finally graft.api.Pinned.release(spark)
  }

  test("vocabulary re-materialization is invisible to the learned vocabulary") {
    // graft.bpe.rematEvery=2 folds the pending chain into the working set
    // five times inside a 12-merge run, WITHOUT pruning one-symbol words
    // (they feed the score denominators): the run must learn exactly the
    // default run's vocabulary, which is the reference training's. On
    // this corpus pruning would show: "lo" collapses in round 6, and its
    // 7 copies still count in c(lo) when (ne, ##w) beats (lo, ##w)
    val wordCounts = Seq("wider" -> 8L, "pug" -> 18L, "new" -> 7L,
      "lo" -> 7L, "low" -> 18L, "pun" -> 17L)
    val docs = wordCounts.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    def train(): Seq[String] =
      try WordPiece.trainVocab(docs, "text", numMerges = 12)
        .collect().sortBy(_.getLong(0)).map(_.getString(1)).toSeq
      finally graft.api.Pinned.release(spark)
    val plain = train()
    spark.conf.set("graft.bpe.rematEvery", "2")
    val remat = try train() finally spark.conf.unset("graft.bpe.rematEvery")
    assert(remat == plain, s"re-materialized run:\n$remat\nvs default run\n$plain")
    val (refMerges, refLayout) = refTrain(wordCounts, 12)
    assert(refMerges.size == 12 && plain == refLayout, "12 merges, as the reference")
    val bad = intercept[IllegalArgumentException] {
      spark.conf.set("graft.bpe.rematEvery", "often")
      try train() finally spark.conf.unset("graft.bpe.rematEvery")
    }
    assert(bad.getMessage.contains("graft.bpe.rematEvery"))
  }

  test("HF-course example: likelihood scoring merges (##g, ##s) first, not BPE's pick") {
    // corpus from the HuggingFace LLM-course WordPiece chapter:
    // hug x10, pug x5, pun x12, bun x4, hugs x5. Raw BPE pair counts
    // favor (##u, ##g) at 20; the WordPiece statistic divides by the
    // ubiquitous ##u (36) and picks (##g, ##s): 5/(20*5) = 1/20.
    val docs = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(12)("pun") ++
      Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    try {
      val v1 = WordPiece.trainVocab(docs, "text", numMerges = 1)
        .collect().map(_.getString(1)).toSeq
      // layout: [UNK], alphabet (##g ##n ##s ##u b h p), then the merge
      assert(v1 == Seq("[UNK]", "##g", "##n", "##s", "##u", "b", "h", "p", "##gs"),
        v1.toString)
      // BPE on the same corpus picks (##u-analog) 'u g' first instead
      val bpe = TextOps.trainBpeMerges(docs, "text", 1)
        .collect().map(r => (r.getString(1), r.getString(2))).head
      assert(bpe == ("u", "g"), s"BPE control: $bpe")
    } finally graft.api.Pinned.release(spark)
  }

  test("encode: greedy longest-match, [UNK] collapse, maxInputChars") {
    // hand vocabulary: word-initial hug/hu/h, continuations ##s/##g/##u
    val vocab = Seq("[UNK]", "h", "hu", "hug", "##g", "##s", "##u", "b", "##n")
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("wp_id", "piece")
    val docs = Seq(
      (1L, "hugs"),   // hug + ##s (longest-first, not hu + ...)
      (2L, "bun"),    // b + ##u + ##n
      (3L, "bum"),    // ##m missing -> whole word [UNK]
      (4L, "hugh"),   // hug + ##h missing -> [UNK] (partials discarded)
      (5L, "b"),      // bare single
      (6L, ""),       // wordless -> no tokens
      (7L, "hug " + "h" * 101) // second word over maxInputChars -> [UNK]
    ).toDF("doc_id", "text")
    val got = WordPiece.tokenize(MStream(docs), vocab, "text")
      .df.select(col("doc_id"), col("pieces"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got(1L) == List("hug", "##s"))
    assert(got(2L) == List("b", "##u", "##n"))
    assert(got(3L) == List("[UNK]"))
    assert(got(4L) == List("[UNK]"))
    assert(got(5L) == List("b"))
    assert(got(6L) == List())
    assert(got(7L) == List("hug", "[UNK]"))
    // encode face: n + portable hash, wordless -> (0, 0)
    val enc = WordPiece.encode(MStream(docs), vocab, "doc_id", "text")
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.find(_._1 == 6L).get == ((6L, 0L, 0L)))
    assert(enc.find(_._1 == 1L).get._2 == 2L)
  }

  test("encodeIds: ids are the vocabulary's wp_id, unk scores its own id") {
    val vocab = Seq("[UNK]", "h", "hug", "##s").zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("wp_id", "piece")
    val docs = Seq((1L, "hugs zzz h")).toDF("doc_id", "text")
    val got = WordPiece.encodeIds(MStream(docs), vocab, "text")
      .df.select(col("ids")).collect().head.getSeq[Long](0).toList
    assert(got == List(2L, 3L, 0L, 1L), got.toString) // hug ##s [UNK] h
  }

  test("vocab.txt export -> import round-trips pieces, ids AND bytes") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val vocab = WordPiece.trainVocab(docs, "text", numMerges = 6)
      val dir = java.nio.file.Files.createTempDirectory("graft_wp_spec")
      val p1 = dir.resolve("vocab.txt").toString
      WordPiece.exportVocab(vocab, p1)
      val imported = WordPiece.importVocab(spark, p1)
      val a = vocab.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val b = imported.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(a == b, "import == in-session (ids and pieces)")
      // re-export the imported frame: byte-identical file
      val p2 = dir.resolve("vocab2.txt").toString
      WordPiece.exportVocab(imported, p2)
      val bytes1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p1))
      val bytes2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2))
      assert(java.util.Arrays.equals(bytes1, bytes2), "round trip is byte-identical")
      // encode through the imported frame == in-session
      val e1 = WordPiece.encode(MStream(docs), vocab, "doc_id", "text").df.collect().toSeq
      val e2 = WordPiece.encode(MStream(docs), imported, "doc_id", "text").df.collect().toSeq
      assert(e1.map(_.toString).sorted == e2.map(_.toString).sorted)
    } finally graft.api.Pinned.release(spark)
  }

  test("foreign vocab.txt fixture: BERT layout with [UNK] mid-file") {
    // a hand-written file this engine never trained: [UNK] NOT at id 0
    // (BERT puts specials at 100+); line number = id regardless
    val dir = java.nio.file.Files.createTempDirectory("graft_wp_foreign")
    val p = dir.resolve("vocab.txt")
    java.nio.file.Files.write(p,
      "h\n##u\n[UNK]\n##g\nhug\n##s\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val vocab = WordPiece.importVocab(spark, p.toString)
    assert(vocab.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((0L, "h"), (1L, "##u"), (2L, "[UNK]"), (3L, "##g"), (4L, "hug"), (5L, "##s")))
    val docs = Seq((1L, "hugs hx")).toDF("doc_id", "text")
    val ids = WordPiece.encodeIds(MStream(docs), vocab, "text")
      .df.select(col("ids")).collect().head.getSeq[Long](0).toList
    assert(ids == List(4L, 5L, 2L), ids.toString) // hug ##s [UNK](id 2)
  }

  test("streaming == batch (zero-shuffle projection), encode face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus.take(20).toDF("doc_id", "text")
    try {
      val vocab = WordPiece.trainVocab(docs, "text", numMerges = 4)
      val batch = WordPiece.encode(MStream(docs), vocab, "doc_id", "text")
        .df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val in = MemoryStream[(Long, String)]
      val out = WordPiece.encode(MStream(in.toDF().toDF("doc_id", "text")),
        vocab, "doc_id", "text")
      assert(out.df.isStreaming)
      in.addData(corpus.take(20): _*)
      val name = s"wp_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "encode is stateless")
        val streamed = spark.table(name)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(streamed == batch, "streaming equals batch")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("merges.txt export -> import round-trips rules, bytes AND tokenization") {
    val docs = corpus.toDF("doc_id", "text")
    try {
      val merges = TextOps.trainBpeMerges(docs, "text", 6)
      val dir = java.nio.file.Files.createTempDirectory("graft_bpe_spec")
      val p1 = dir.resolve("merges.txt").toString
      TextOps.bpeExportMerges(merges, p1)
      val head = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p1)).get(0)
      assert(head == "#version: 0.2", "HF header")
      val imported = TextOps.bpeImportMerges(spark, p1)
      val a = merges.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      val b = imported.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      assert(a == b, "import == in-session (ranks and rules)")
      val p2 = dir.resolve("merges2.txt").toString
      TextOps.bpeExportMerges(imported, p2)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p1)),
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2))),
        "round trip is byte-identical")
      val t1 = TextOps.bpeTokenize(docs, "doc_id", "text", merges)
        .collect().map(_.toString).sorted.toSeq
      val t2 = TextOps.bpeTokenize(docs, "doc_id", "text", imported)
        .collect().map(_.toString).sorted.toSeq
      assert(t1 == t2, "tokenize through the imported table == in-session")
    } finally graft.api.Pinned.release(spark)
  }

  test("foreign merges.txt fixture: GPT-2-style file imports and applies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_foreign")
    val p = dir.resolve("merges.txt")
    java.nio.file.Files.write(p,
      "#version: 0.2\nh u\nhu g\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val merges = TextOps.bpeImportMerges(spark, p.toString)
    assert(merges.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq == Seq((1, "h", "u"), (2, "hu", "g")))
    val docs = Seq((1L, "hug hugs")).toDF("doc_id", "text")
    val ids = TextOps.bpeEncodeIds(MStream(docs), merges, "text")
      .df.select(col("ids")).collect().head.getSeq[Long](0).toList
    // vocab layout: atoms (g, h, u) then outputs (hu, hug); 'hug' = id 4,
    // then hug + OOV 's'
    assert(ids == List(4L, 4L, -1L), ids.toString)
  }

  test("Wp nodes: v12 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(Seq(External("in"), External("v"),
      WpIds("a", "in", "v", "text")), Seq("a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":12") && Program.fromJson(json) == d)
    val bad = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), External("v"),
        WpEncode("a", "in", "v", "doc_id", "text", maxInputChars = 0)), Seq("a")))))
    assert(bad.getMessage.contains("maxInputChars"), bad.getMessage)
    try {
      val docs = corpus.take(15).toDF("doc_id", "text")
      val vocab = WordPiece.trainVocab(docs, "text", numMerges = 4)
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docs))
          .wpEncode(Program.Rec.external("v", MStream(vocab)),
            "doc_id", "text").as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docs)))
        .setSource("v", App.Source("list", rows = Some(vocab)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val direct = WordPiece.encode(MStream(docs), vocab, "doc_id", "text")
        .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(out == direct, "document execution equals the direct API")
      // tokenize + ids nodes round-trip their full parameter surface
      val d2 = Doc(Seq(External("in"), External("v"),
        WpTokenize("t", "in", "v", "text", unk = "<unk>", maxInputChars = 7,
          as = "ps"),
        WpIds("a", "t", "v", "text", oovId = -7L, as = "idz")), Seq("a"))
      assert(Program.fromJson(Program.toJson(d2)) == d2)
    } finally graft.api.Pinned.release(spark)
  }

  test("capture: wpEncodeIds records the WpIds node") {
    import graft.api.Program
    import graft.api.Program._
    try {
      val docs = corpus.take(15).toDF("doc_id", "text")
      val vocab = WordPiece.trainVocab(docs, "text", numMerges = 4)
      val rec = Program.Rec.external("in", MStream(docs))
        .wpEncodeIds(Program.Rec.external("v", MStream(vocab)), "text",
          unk = "<unk>", maxInputChars = 9, oovId = -3L, as = "wids").as("a")
      val cap = Program.capture(rec)
      assert(cap.nodes.last == WpIds("a", "in", "v", "text", "<unk>", 9, -3L, "wids"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val direct = WordPiece.encodeIds(MStream(docs), vocab, "text", "<unk>", 9, -3L, "wids")
      def ids(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"), col("wids"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).sortBy(_._1).toSeq
      assert(ids(rec.stream.df) == ids(direct.df), "live capture equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("contracts: vocab shape, dense export ids, malformed files, bounds") {
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    val bad1 = intercept[IllegalArgumentException](
      WordPiece.trainVocab(docs, "text", 0))
    assert(bad1.getMessage.contains("numMerges"))
    val noCols = Seq(("x", 1L)).toDF("piece", "n")
    val bad2 = intercept[IllegalArgumentException](
      WordPiece.encode(MStream(docs), noCols, "doc_id", "text"))
    assert(bad2.getMessage.contains("wp_id"))
    // export demands dense ids
    val sparse = Seq((0L, "a"), (2L, "b")).toDF("wp_id", "piece")
    val dir = java.nio.file.Files.createTempDirectory("graft_wp_contracts")
    val bad3 = intercept[IllegalArgumentException](
      WordPiece.exportVocab(sparse, dir.resolve("v.txt").toString))
    assert(bad3.getMessage.contains("dense"))
    // empty line in vocab.txt
    val pv = dir.resolve("empty.txt")
    java.nio.file.Files.write(pv, "a\n\nb\n".getBytes("UTF-8"))
    val bad4 = intercept[IllegalArgumentException](
      WordPiece.importVocab(spark, pv.toString))
    assert(bad4.getMessage.contains("empty line"))
    // duplicate piece
    val pd = dir.resolve("dup.txt")
    java.nio.file.Files.write(pd, "a\nb\na\n".getBytes("UTF-8"))
    val bad5 = intercept[IllegalArgumentException](
      WordPiece.importVocab(spark, pd.toString))
    assert(bad5.getMessage.contains("twice"))
    // malformed merges line (two spaces)
    val pm = dir.resolve("merges.txt")
    java.nio.file.Files.write(pm, "#version: 0.2\na b c\n".getBytes("UTF-8"))
    val bad6 = intercept[IllegalArgumentException](
      TextOps.bpeImportMerges(spark, pm.toString))
    assert(bad6.getMessage.contains("malformed"))
    // whitespace-carrying rule rejected on export
    val wsm = Seq((1, "a b", "c")).toDF("merge_rank", "lhs", "rhs")
    val bad7 = intercept[IllegalArgumentException](
      TextOps.bpeExportMerges(wsm, dir.resolve("m2.txt").toString))
    assert(bad7.getMessage.contains("space-separated"))
  }
}
