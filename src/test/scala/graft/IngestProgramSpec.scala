package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.{App, MStream, Program}
import graft.api.Program._

/** The pipeline ingest-face operators as program-document nodes (format
  * version 2): codec identity, minimal version stamping, capture →
  * toJson → fromJson → runProgram round trips matching the direct API
  * (batch AND streaming), and the static-side / parameter validations. */
class IngestProgramSpec extends SparkSpec {
  import spark.implicits._

  private val ref = Seq(
    (900L, "the quick brown fox jumps over the lazy dog today"),
    (901L, "pack my box with five dozen liquor jugs right now"))
    .toDF("doc_id", "text")

  private val vocab = Seq(("the", 0L), ("fox", 1L), ("dog", 2L), ("fresh", 3L),
    ("words", 4L), ("appear", 5L)).toDF("word", "id")

  private val arriving = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"), // near-dup -> dropped
    (2L, "fresh words appear in the stream with enough content"),
    (3L, "ok"),                                                // gate: too short
    (4L, "completely original sentences carry fresh ideas forward nicely"))

  // the StreamingIngestPipelineSpec composition as a document
  private val pipelineDoc: Doc = Doc(
    nodes = Seq(
      External("docs"), External("refcorpus"), External("vocab"),
      Where("gated", "docs", "length(text) >= 20"),
      CorpusDedup("deduped", "gated", "refcorpus", "doc_id", "text",
        k = 16, bands = 8, threshold = 0.8, broadcastRef = true),
      EncodeIngest("out", "deduped", "vocab", "doc_id", "text", oovId = -1L)),
    outputs = Seq("out"))

  test("codec is the identity over the six ingest nodes; version stamps 2") {
    val doc = Doc(
      nodes = Seq(
        External("a"), External("r"), External("v"), External("c"), External("emb"),
        CorpusDedup("cd", "a", "r", "id", "text", 16, 8, 0.8, broadcastRef = false),
        EmbedDedup("edx", "emb", "r", "id", "vec", 0.9, None, 1, broadcastRef = true),
        EmbedDedup("edi", "emb", "r", "id", "vec", 0.9, Some("c"), 3, broadcastRef = false),
        LmScore("lm", "a", "r", "id", "text", "rtext", 0.25),
        EncodeIngest("en", "a", "v", "id", "text", -7L),
        DecontamIngest("de", "a", "r", "id", "text", "rtext", 6, 2),
        IvfProbe("ip", "emb", "r", "c", "pid", "vec", "qid", 5, 3,
          broadcastCorpus = false)),
      outputs = Seq("cd", "edx", "edi", "lm", "en", "de", "ip"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":2"),
      "ingest nodes require format version 2")
    assert(Program.fromJson(json) == doc,
      "toJson/fromJson must be the identity on every ingest node and field")
  }

  test("document pipeline (gate -> corpusDedup -> encodeIngest) runs batch, matches direct API") {
    val json = Program.toJson(pipelineDoc)
    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
      .setSource("refcorpus", App.Source("list", rows = Some(ref)))
      .setSource("vocab", App.Source("list", rows = Some(vocab)))
      .addSink("out", App.Sink("memory"))
    val out = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Long](1), r.getLong(2))
    val got = out.select("doc_id", "ids", "n_oov").collect().map(key).toSet
    val direct = graft.pipeline.TextOps.encodeTokensIngest(
        graft.pipeline.Dedup.dedupAgainstCorpus(
          MStream(arriving.toDF("doc_id", "text").where("length(text) >= 20")),
          ref, "doc_id", "text", 16, 8, 0.8),
        vocab, "doc_id", "text")
      .df.select("doc_id", "ids", "n_oov").collect().map(key).toSet
    assert(got == direct && got.map(_._1) == Set(2L, 4L),
      s"document run equals the direct-API pipeline, got ${got.map(_._1)}")
  }

  test("the SAME document runs streaming: one stateless query through the artifact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val json = Program.toJson(pipelineDoc)
    val in = MemoryStream[(Long, String)]
    val name = s"ingest_doc_${System.nanoTime()}"
    val running = App.runProgram(spark,
      new App.Config()
        .setSource("docs", App.Source("list", rows = Some(in.toDF().toDF("doc_id", "text"))))
        .setSource("refcorpus", App.Source("list", rows = Some(ref)))
        .setSource("vocab", App.Source("list", rows = Some(vocab)))
        .addSink("out", App.Sink("memory", outputMode = "append",
          queryName = Some(name))),
      json)
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      in.addData(arriving.take(2): _*)
      in.addData(arriving.drop(2): _*)
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "the document-run ingest pipeline is stateless")
      assert(spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(2L, 4L), "streaming document run drops the near-dup and the gated doc")
    } finally q.stop()
  }

  test("capture surface records the ingest ops; captured doc round-trips the codec") {
    val docsR = Program.Rec.external("docs", MStream(arriving.toDF("doc_id", "text")))
    val refR = Program.Rec.external("refcorpus", MStream(ref))
    val vocabR = Program.Rec.external("vocab", MStream(vocab))
    val embR = Program.Rec.external("emb",
      MStream(Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")))
    val centR = Program.Rec.external("cents",
      MStream(Seq((0, Seq(1.0, 0.0))).toDF("cid", "cv")))
    val piped = docsR.where("length(text) >= 20").as("gated")
      .corpusDedup(refR, "doc_id", "text", 16, 8, 0.8)
      .encodeIngest(vocabR, "doc_id", "text").as("enc")
    val lm = docsR.lmScore(LmSpec(2, LmSpec.AddAlpha(0.25)), "doc_id", "text",
      Some((refR, "text"))).as("lmout")
    val de = docsR.decontaminateIngest(refR, "doc_id", "text", "text", n = 4).as("deout")
    val ex = embR.embedDedup(embR, "vec_id", "embedding", 0.9).as("exact_dedup")
    val iv = embR.embedDedup(embR, "vec_id", "embedding", 0.9,
      centroids = Some(centR), nProbe = 1).as("ivf_dedup")
    val pr = embR.map("vec_id as q_id" -> "q_id", "embedding" -> "embedding")
      .ivfProbe(embR, centR, "vec_id", "embedding", "q_id", topK = 2, nProbe = 1)
      .as("probe")
    val doc = Program.capture(piped, lm, de, ex, iv, pr)
    assert(Program.fromJson(Program.toJson(doc)) == doc,
      "captured ingest pipeline survives the codec")
    assert(doc.outputs.toSet ==
      Set("enc", "lmout", "deout", "exact_dedup", "ivf_dedup", "probe"))
    // the capture's LIVE streams equal a fresh interpret of the document
    val resolve = Map(
      "docs" -> MStream(arriving.toDF("doc_id", "text")),
      "refcorpus" -> MStream(ref), "vocab" -> MStream(vocab),
      "emb" -> MStream(Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")),
      "cents" -> MStream(Seq((0, Seq(1.0, 0.0))).toDF("cid", "cv")))
    val reRun = Program.interpret(doc)(n => resolve(n))
    assert(reRun("enc").df.select("doc_id").collect().map(_.getLong(0)).toSet ==
      piped.stream.df.select("doc_id").collect().map(_.getLong(0)).toSet,
      "re-interpreted document equals the capture's live stream")
    graft.api.Pinned.release(spark)
  }

  test("static-side inputs must be batch; parameter validations name the node") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // streaming reference rejected with the node name
    val in = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException] {
      App.runProgram(spark,
        new App.Config()
          .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
          .setSource("refcorpus", App.Source("list", rows = Some(in.toDF().toDF("doc_id", "text"))))
          .setSource("vocab", App.Source("list", rows = Some(vocab)))
          .addSink("out", App.Sink("memory")),
        Program.toJson(pipelineDoc))
    }
    assert(e.getMessage.contains("deduped") && e.getMessage.contains("batch source"),
      s"streaming static side names the node: ${e.getMessage}")

    def loadFail(doc: Doc, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(doc)))
      assert(ex.getMessage.contains(needle), s"${ex.getMessage} !contains $needle")
    }
    loadFail(Doc(Seq(External("a"), External("r"),
      CorpusDedup("cd", "a", "r", "id", "text", 16, 5, 0.8, broadcastRef = true)),
      Seq("cd")), "positive multiple")
    loadFail(Doc(Seq(External("a"), External("r"),
      CorpusDedup("cd", "a", "r", "id", "text", 16, 8, 1.5, broadcastRef = true)),
      Seq("cd")), "threshold")
    loadFail(Doc(Seq(External("a"), External("r"), External("c"),
      EmbedDedup("ed", "a", "r", "id", "v", 0.9, Some("c"), 0, broadcastRef = true)),
      Seq("ed")), "nProbe")
    loadFail(Doc(Seq(External("a"), External("r"),
      LmScore("lm", "a", "r", "id", "t", "rt", 0.0)), Seq("lm")), "alpha")
    loadFail(Doc(Seq(External("a"), External("r"),
      DecontamIngest("de", "a", "r", "id", "t", "rt", 0, 1)), Seq("de")), "n >= 1")
    loadFail(Doc(Seq(External("q"), External("p"), External("c"),
      IvfProbe("ip", "q", "p", "c", "vec_id", "v", "vec_id", 5, 1,
        broadcastCorpus = true)), Seq("ip")), "qIdCol and idCol are both 'vec_id'")
  }

  test("exported output schemas match the real operators (validate cannot drift)") {
    def namesTypes(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val docs = arriving.toDF("doc_id", "text")
    val lm = graft.pipeline.TextOps.lmScore(MStream(docs), LmSpec(2, LmSpec.AddAlpha()),
      "doc_id", "text", Some(LmRef(ref, "text")))
    assert(namesTypes(lm.df.schema) == namesTypes(
      graft.pipeline.TextOps.lmOutputSchema("doc_id",
        docs.schema("doc_id").dataType, "n_pairs")))
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.select(col("vec_id").as("q_id"), col("embedding"))
    val cents = graft.pipeline.Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 1)
    val pr = graft.pipeline.Ivf.searchIngest(MStream(q), emb,
      "vec_id", "embedding", "q_id", cents, topK = 1, nProbe = 1)
    assert(namesTypes(pr.df.schema) == namesTypes(
      graft.pipeline.Ivf.searchOutputSchema("q_id",
        q.schema("q_id").dataType, "vec_id", emb.schema("vec_id").dataType)))
    graft.api.Pinned.release(spark)
  }

  test("embedDedup exact face rejects broadcastRef=false (no non-broadcast lowering)") {
    val e = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("a"), External("r"),
        EmbedDedup("ed", "a", "r", "id", "v", 0.9, None, 1, broadcastRef = false)),
        Seq("ed")))))
    assert(e.getMessage.contains("broadcast-only") && e.getMessage.contains("IVF"),
      e.getMessage)
  }

  test("dsirScore node: v3 stamping, codec identity, document run equals direct API") {
    val rawDf = ref.select("text")
      .union(arriving.toDF("doc_id", "text").select("text")).toDF("text")
    val doc = Doc(
      nodes = Seq(External("docs"), External("tgt"), External("rawc"),
        DsirScore("w", "docs", "tgt", "rawc", "doc_id", "text", "text", 512, 1.0)),
      outputs = Seq("w"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":3"), "dsirScore requires format version 3")
    assert(Program.fromJson(json) == doc, "codec is the identity on dsirScore")
    assert(Program.toJson(pipelineDoc).contains("\"version\":2"),
      "documents without dsirScore still stamp the lowest version")

    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
      .setSource("tgt", App.Source("list", rows = Some(ref)))
      .setSource("rawc", App.Source("list", rows = Some(rawDf)))
      .addSink("w", App.Sink("memory"))
    Program.validate(doc, spark, config) // schema-only: no model training here
    val out = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("w", df) => df }.get
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))
    val got = out.collect().map(key).toSet
    val direct = graft.pipeline.TextOps.dsirScore(
        MStream(arriving.toDF("doc_id", "text")), ref, rawDf,
        "doc_id", "text", "text", buckets = 512)
      .df.collect().map(key).toSet
    assert(got == direct && got.map(_._1) == Set(1L, 2L, 3L, 4L),
      "document run equals the direct dsirScore API")

    // capture surface records it; captured doc survives the codec
    val docsR = Program.Rec.external("docs", MStream(arriving.toDF("doc_id", "text")))
    val tgtR = Program.Rec.external("tgt", MStream(ref))
    val rawR = Program.Rec.external("rawc", MStream(rawDf))
    val cap = Program.capture(
      docsR.dsirScore(tgtR, rawR, "doc_id", "text", "text", buckets = 512).as("w"))
    assert(Program.fromJson(Program.toJson(cap)) == cap)

    // parameter validation names the node
    val bad = Doc(Seq(External("a"), External("t"), External("r"),
      DsirScore("w", "a", "t", "r", "id", "text", "text", 512, 0.0)), Seq("w"))
    val e = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(bad)))
    assert(e.getMessage.contains("'w'") && e.getMessage.contains("alpha > 0"), e.getMessage)
    graft.api.Pinned.release(spark)
  }

  test("tokenFreq node: v3 codec identity, document run equals direct API") {
    val doc = Doc(
      nodes = Seq(External("docs"), External("refc"),
        TokenFreq("tf", "docs", "refc", "doc_id", "text", "text", 4, 1024, 0L)),
      outputs = Seq("tf"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":3"), "tokenFreq requires format version 3")
    assert(Program.fromJson(json) == doc, "codec is the identity on tokenFreq")
    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
      .setSource("refc", App.Source("list", rows = Some(ref)))
      .addSink("tf", App.Sink("memory"))
    Program.validate(doc, spark, config) // schema-only: no sketch build here
    val out = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("tf", df) => df }.get
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))
    val direct = graft.pipeline.TextOps.tokenFrequencyStats(
        MStream(arriving.toDF("doc_id", "text")), ref, "doc_id", "text", "text",
        depth = 4, width = 1024, rareMax = 0L)
      .df.collect().map(key).toSet
    assert(out.collect().map(key).toSet == direct,
      "document run equals the direct tokenFrequencyStats API")
    // capture + invalid params
    val docsR = Program.Rec.external("docs", MStream(arriving.toDF("doc_id", "text")))
    val refR = Program.Rec.external("refc", MStream(ref))
    val cap = Program.capture(
      docsR.tokenFreq(refR, "doc_id", "text", "text", width = 1024, rareMax = 0L).as("tf"))
    assert(Program.fromJson(Program.toJson(cap)) == cap)
    val bad = Doc(Seq(External("a"), External("r"),
      TokenFreq("tf", "a", "r", "id", "text", "text", 0, 1024, 0L)), Seq("tf"))
    val e = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(bad)))
    assert(e.getMessage.contains("'tf'") && e.getMessage.contains("depth"), e.getMessage)
    graft.api.Pinned.release(spark)
  }

  test("bpeEncode node: v3 codec identity, document run equals direct API") {
    val merges = graft.pipeline.TextOps.trainBpeMerges(
      Seq("low low low lower lower lowest").toDF("text"), "text", 3)
    val doc = Doc(
      nodes = Seq(External("docs"), External("bpe"),
        BpeEncode("enc", "docs", "bpe", "doc_id", "text")),
      outputs = Seq("enc"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":3") && Program.fromJson(json) == doc)
    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
      .setSource("bpe", App.Source("list", rows = Some(merges)))
      .addSink("enc", App.Sink("memory"))
    Program.validate(doc, spark, config)
    val out = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("enc", df) => df }.get
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val direct = graft.pipeline.TextOps.bpeTokenize(
        arriving.toDF("doc_id", "text"), "doc_id", "text", merges)
      .collect().map(key).toSet
    assert(out.collect().map(key).toSet == direct)
    val cap = Program.capture(
      Program.Rec.external("docs", MStream(arriving.toDF("doc_id", "text")))
        .bpeEncode(Program.Rec.external("bpe", MStream(merges)),
          "doc_id", "text").as("enc"))
    assert(Program.fromJson(Program.toJson(cap)) == cap)
    graft.api.Pinned.release(spark)
  }

  test("schema validation covers ingest nodes without running driver jobs") {
    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(arriving.toDF("doc_id", "text"))))
      .setSource("refcorpus", App.Source("list", rows = Some(ref)))
      .setSource("vocab", App.Source("list", rows = Some(vocab)))
    Program.validate(pipelineDoc, spark, config) // resolves clean

    // a wrong column name attributes to the offending node
    val bad = Doc(pipelineDoc.nodes.map {
      case c: CorpusDedup => c.copy(textCol = "body")
      case n => n
    }, pipelineDoc.outputs)
    val e = intercept[IllegalArgumentException](Program.validate(bad, spark, config))
    assert(e.getMessage.contains("deduped"), e.getMessage)

    // the build-time-eager lmScore validates by schema only (no model train)
    val lmDoc = Doc(Seq(External("docs"), External("refcorpus"),
      LmScore("lm", "docs", "refcorpus", "doc_id", "text", "text", 0.5)), Seq("lm"))
    Program.validate(lmDoc, spark, config)
    val lmBad = Doc(Seq(External("docs"), External("refcorpus"),
      LmScore("lm", "docs", "refcorpus", "doc_id", "text", "reftext", 0.5)), Seq("lm"))
    assert(intercept[IllegalArgumentException](
      Program.validate(lmBad, spark, config)).getMessage.contains("lm"))
  }

  test("exactDedup + gopherGate nodes: v4 stamping, codec identity, run equals direct API") {
    // arrivals 1 and 5 are literal copies of ref 900 — the exact screen's
    // targets; 5's trailing tweak makes it a NEAR dup that must SURVIVE
    val exArriving = arriving :+ (5L, "the quick brown fox jumps over the lazy dog today!")
    val doc = Doc(
      nodes = Seq(External("docs"), External("refcorpus"),
        ExactDedup("survivors", "docs", "refcorpus", "doc_id", "text",
          numBits = 1 << 12, numHashes = 5, broadcastRef = true),
        GopherGate("out", "survivors", "doc_id", "text", minWords = 6,
          maxWords = 100000)),
      outputs = Seq("out"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":4"),
      "exactDedup/gopherGate require format version 4")
    assert(Program.fromJson(json) == doc, "codec is the identity on the v4 nodes")
    assert(Program.toJson(pipelineDoc).contains("\"version\":2"),
      "documents without v4 nodes still stamp the lowest version")

    val config = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(exArriving.toDF("doc_id", "text"))))
      .setSource("refcorpus", App.Source("list", rows = Some(ref)))
      .addSink("out", App.Sink("memory"))
    Program.validate(doc, spark, config) // schema-only: no filter collect here
    val out = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    def key(r: org.apache.spark.sql.Row) = r.toSeq.toList
    val direct = graft.pipeline.TextOps.gopherGate(
      graft.pipeline.Dedup.exactDedupAgainstCorpus(
        MStream(exArriving.toDF("doc_id", "text")), ref, "doc_id", "text",
        numBits = 1 << 12, numHashes = 5),
      "doc_id", "text", minWords = 6).df
    assert(out.collect().map(key).toSet == direct.collect().map(key).toSet,
      "document run equals the direct API composition")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 5L),
      "only the literal copy drops at the exact screen; the near dup survives")

    // capture surface records both; captured doc survives the codec
    val docsR = Program.Rec.external("docs", MStream(exArriving.toDF("doc_id", "text")))
    val refR = Program.Rec.external("refcorpus", MStream(ref))
    val cap = Program.capture(
      docsR.exactDedup(refR, "doc_id", "text", numBits = 1 << 12, numHashes = 5)
        .as("survivors").gopherGate("doc_id", "text", minWords = 6).as("out"))
    assert(Program.fromJson(Program.toJson(cap)) == cap)

    // parameter validations name the node
    val badBits = Doc(Seq(External("a"), External("r"),
      ExactDedup("x", "a", "r", "id", "text", 100, 7, true)), Seq("x"))
    val e1 = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(badBits)))
    assert(e1.getMessage.contains("'x'") && e1.getMessage.contains("multiple of 64"), e1.getMessage)
    val badWords = Doc(Seq(External("a"),
      GopherGate("g", "a", "id", "text", 10, 5)), Seq("g"))
    val e2 = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(badWords)))
    assert(e2.getMessage.contains("'g'") && e2.getMessage.contains("minWords"), e2.getMessage)
    graft.api.Pinned.release(spark)
  }

  test("v8 nodes: codec identity, version stamping, capture == direct API, validations") {
    val docsDf = arriving.toDF("doc_id", "text")
    val queries = Seq((100L, "fox dog"), (101L, "fresh ideas")).toDF("q_id", "q_text")
    // codec identity + lowest-version stamping over every v8 node
    val doc = Doc(
      nodes = Seq(External("a"), External("r"), External("q"),
        Lm3Against("la", "a", "r", "id", "text", "rtext", 0.5, 0.6, 0.3, 0.1,
          minCount = 2L, broadcastModel = Some(false)),
        LmNScore("ln", "a", "id", "text", 4, 0.5, Seq(0.4, 0.3, 0.2, 0.1)),
        LmNScore("lnd", "a", "id", "text", 5, 0.5, Nil),
        LmNAgainst("na", "a", "r", "id", "text", "rtext", 2, 1.0, Seq(0.7, 0.3),
          minCount = 3L, broadcastModel = Some(false)),
        Bm25Retrieve("br", "a", "q", "id", "text", "qid", "qtext", 5, 1.2, 0.75,
          broadcastQueries = false),
        WinnowPairs("wp", "a", "id", "text", 3, 4, 2, 64)),
      outputs = Seq("la", "ln", "lnd", "na", "br", "wp"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":8"), "v8 nodes stamp format version 8")
    assert(Program.fromJson(json) == doc, "codec is the identity on every v8 node")
    assert(Program.toJson(pipelineDoc).contains("\"version\":2"),
      "documents without v8 nodes still stamp the lowest version")

    // capture == document run == direct API for the retrieval + LM faces
    try {
      val docsR = Program.Rec.external("docs", MStream(docsDf))
      val refR = Program.Rec.external("refcorpus", MStream(ref))
      val qR = Program.Rec.external("queries", MStream(queries))
      val cap = Program.capture(
        docsR.lmScore(LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)),
          countCol = Some("n_tris")), "doc_id", "text", Some((refR, "text"))).as("lm3"),
        docsR.lmScore(LmSpec(2, LmSpec.JelinekMercer(lambdas = Seq(0.7, 0.3))),
          "doc_id", "text").as("lmn"),
        docsR.bm25Retrieve(qR, "doc_id", "text", "q_id", "q_text", k = 3).as("hits"),
        docsR.winnowOverlapPairs("doc_id", "text").as("pairs"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("docs", App.Source("list", rows = Some(docsDf)))
        .setSource("refcorpus", App.Source("list", rows = Some(ref)))
        .setSource("queries", App.Source("list", rows = Some(queries)))
        .addSink("lm3", App.Sink("memory")).addSink("lmn", App.Sink("memory"))
        .addSink("hits", App.Sink("memory")).addSink("pairs", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val outs = App.runProgram(spark, config, Program.toJson(cap))
        .collect { case App.BatchOutput(n, out) => n -> out }.toMap
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq.toList: Seq[Any]).toSet
      assert(rows(outs("lm3")) == rows(graft.pipeline.TextOps.lmScore(MStream(docsDf),
        LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
        "doc_id", "text", Some(LmRef(ref, "text"))).df))
      assert(rows(outs("lmn")) == rows(graft.pipeline.TextOps.lmScore(MStream(docsDf),
        LmSpec(2, LmSpec.JelinekMercer(alpha = 0.5, lambdas = Seq(0.7, 0.3))), "doc_id", "text").df))
      assert(rows(outs("hits")) == rows(graft.pipeline.TextOps.bm25Retrieve(
        docsDf, "doc_id", "text", queries, "q_id", "q_text", k = 3)))
      assert(rows(outs("pairs")) == rows(graft.pipeline.TextOps.winnowOverlapPairs(
        docsDf, "doc_id", "text")))

      // exported schemas match the real operators (validate cannot drift)
      def namesTypes(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      assert(namesTypes(outs("lmn").schema) == namesTypes(
        graft.pipeline.TextOps.lmOutputSchema("doc_id",
          docsDf.schema("doc_id").dataType, "n_grams")))
      assert(namesTypes(outs("hits").schema) == namesTypes(
        graft.pipeline.TextOps.bm25RetrieveOutputSchema("q_id",
          queries.schema("q_id").dataType, "doc_id",
          docsDf.schema("doc_id").dataType)))
      assert(namesTypes(outs("pairs").schema) == namesTypes(
        graft.pipeline.TextOps.winnowPairsOutputSchema(
          docsDf.schema("doc_id").dataType)))
    } finally graft.api.Pinned.release(spark)

    // schema-only validation of the build-time-eager census/prefix nodes:
    // packChunks (RangedPrefix checkpoints at lowering) and corpusDedup
    // (the salted cover's census checkpoints at lowering) must not fire
    // jobs or leak Pinned registrations during validate
    val eagerDoc = Doc(
      nodes = Seq(External("docs"), External("refcorpus"),
        PackChunks("pk", "docs", "doc_id", "text", "text", 512L),
        CorpusDedup("cdx", "docs", "refcorpus", "doc_id", "text", 16, 8, 0.8,
          broadcastRef = true)),
      outputs = Seq("pk", "cdx"))
    val eagerCfg = new App.Config()
      .setSource("docs", App.Source("list", rows = Some(docsDf)))
      .setSource("refcorpus", App.Source("list", rows = Some(ref)))
      .addSink("pk", App.Sink("memory")).addSink("cdx", App.Sink("memory"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Program.validate(eagerDoc, spark, eagerCfg)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "validate must not checkpoint the RangedPrefix/census machinery")

    // parameter validations name the node
    def loadFail(d: Doc, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(d)))
      assert(ex.getMessage.contains(needle), s"${ex.getMessage} !contains $needle")
    }
    loadFail(Doc(Seq(External("a"), External("r"),
      Lm3Against("x", "a", "r", "id", "t", "rt", 0.5, 0.9, 0.3, 0.1)), Seq("x")),
      "sum to 1")
    loadFail(Doc(Seq(External("a"),
      LmNScore("x", "a", "id", "t", 9, 0.5, Nil)), Seq("x")), "[2, 8]")
    loadFail(Doc(Seq(External("a"),
      LmNScore("x", "a", "id", "t", 3, 0.5, Seq(0.5, 0.5))), Seq("x")),
      "3 lambdas")
    loadFail(Doc(Seq(External("a"), External("r"),
      LmNAgainst("x", "a", "r", "id", "t", "rt", 3, 0.0, Nil)), Seq("x")), "alpha")
    loadFail(Doc(Seq(External("a"), External("q"),
      Bm25Retrieve("x", "a", "q", "id", "t", "id", "qt", 5, 1.2, 0.75, true)),
      Seq("x")), "rename one")
    loadFail(Doc(Seq(External("a"),
      WinnowPairs("x", "a", "id", "t", 0, 4, 2, 64)), Seq("x")), "n >= 1")
    // hand-written partial lambda artifact fails at load with the real cause
    val partial = intercept[IllegalArgumentException](Program.fromJson(
      """{"version":8,"nodes":[{"op":"external","name":"a"},
        |{"op":"external","name":"r"},
        |{"op":"lm3Against","name":"x","input":"a","ref":"r","idCol":"id",
        |"textCol":"t","refTextCol":"rt","l3":1.0}],"outputs":["x"]}""".stripMargin))
    assert(partial.getMessage.contains("all-or-none"), partial.getMessage)
  }
}
