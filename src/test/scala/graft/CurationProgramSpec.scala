package graft

import org.apache.spark.sql.functions._
import graft.api.{App, MStream, Program}
import graft.api.Program._

/** The corpus-curation family as program-document nodes (format
  * version 6): JSON round-trip, version stamping, load-time parameter
  * validation by node name, capture ≡ direct API ≡ reloaded-document
  * execution, schema-only validation for the build-time-eager nodes
  * (dedupCorpus, semanticDedup, spanScrub), and the stateless
  * annotator/generator nodes running the same document streaming. */
class CurationProgramSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),
    (3L, "der schnelle braune fuchs und der faule hund", "de"),
    (4L, "a completely different document about spark and data the", "en"),
    (5L, "short one", "en")).toDF("id", "text", "src")

  test("all nineteen v6 nodes JSON round-trip and stamp format version 6") {
    val d = Doc(
      nodes = Seq(
        External("in"), External("cents"),
        DedupCorpus("dc", "in", "id", "text", 8, 4, 0.7),
        DedupCorpusBest("db", "in", "id", "text", 8, 4, 0.7, "length(text)"),
        SemanticDedup("sd", "in", "cents", "id", "vec", 0.9),
        SemanticDedupBest("sb", "in", "cents", "id", "vec", 0.9, "id * 1.0"),
        LineScrub("ls", "in", "id", "text", 3),
        SpanScrub("sc", "in", "id", "text", 5, 2, true),
        QualityAnnotate("qa", "in", "text"),
        PiiScrub("ps", "qa", "text"),
        LangId("li", "ps", "text", "lang"),
        ChunkTokens("ct", "li", "id", "text", 32, 24),
        PackChunks("pc", "in", "id", "text", "src", 100L),
        Winnow("wn", "in", "id", "text", 3, 4),
        Repetition("rp", "in", "id", "text"),
        Normalize("nz", "in", "text", "norm_text"),
        StripMarkup("sm", "in", "text", "clean_text", "domains"),
        JlProjection("jl", "in", "vec", 16, 7, "projected"),
        TopKPerKey("tk", "in", Seq("src"), "id", "length(text)", 3, "score"),
        Sq8Ingest("sq", "jl", "cents", "projected", "codes"),
        ZOrder("zo", "in", Seq("id"), 8, 12)),
      outputs = Seq("ct"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":6"), "curation nodes need format version 6")
    assert(Program.fromJson(json) == d, "round-trip must be lossless")
  }

  test("a document without curation nodes still stamps its lowest version") {
    val d = Doc(Seq(External("in"), Where("w", "in", "id > 1")), Seq("w"))
    assert(Program.toJson(d).contains("\"version\":1"))
  }

  test("load-time parameter validation names the offending node") {
    def bad(node: Node, extra: Seq[Node] = Nil): String =
      intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
        Doc(Seq(External("in")) ++ extra :+ node, Seq(node.name))))).getMessage
    assert(bad(DedupCorpus("x", "in", "id", "text", 7, 4, 0.7))
      .contains("positive multiple of bands"))
    assert(bad(DedupCorpus("x", "in", "id", "text", 8, 4, 1.5))
      .contains("dedupCorpus needs threshold in (0,1]"))
    assert(bad(SemanticDedup("x", "in", "cents", "id", "vec", 0.0),
      extra = Seq(External("cents"))).contains("semanticDedup needs threshold in (0,1]"))
    assert(bad(LineScrub("x", "in", "id", "text", 0)).contains("minWords >= 1"))
    assert(bad(SpanScrub("x", "in", "id", "text", 1, 2, false))
      .contains("k >= 2"))
    assert(bad(ChunkTokens("x", "in", "id", "text", 8, 9))
      .contains("0 < stride <= chunkSize"))
    assert(bad(PackChunks("x", "in", "id", "text", "src", 0L))
      .contains("budget > 0"))
    assert(bad(Winnow("x", "in", "id", "text", 0, 4)).contains("n >= 1"))
    assert(bad(JlProjection("x", "in", "vec", 0, 0, "p"))
      .contains("outDim in [1,4096]"))
    // the hyperplane family index seed * outDim + outDim - 1 overflows an Int
    assert(bad(JlProjection("x", "in", "vec", 4096, 600000, "p"))
      .contains("jlProject needs seed * outDim + outDim - 1 <= 2147483647"))
    assert(bad(TopKPerKey("x", "in", Nil, "id", "v", 3, "score"))
      .contains("topkPerKey needs keys non-empty"))
    assert(bad(TopKPerKey("x", "in", Seq("g"), "id", "v", 0, "score"))
      .contains("k > 0"))
    assert(bad(ZOrder("x", "in", Seq("a", "b", "c", "d", "e"), 8, 12))
      .contains("1-4 columns"))
    assert(bad(ZOrder("x", "in", Seq("a"), 0, 12)).contains("numFiles >= 1"))
  }

  test("zorder capture == direct API, and it validates schema-only") {
    val piped = Program.Rec.external("in", MStream(docs))
      .zorderBy(Seq("id"), numFiles = 2, bits = 4).as("out")
    val live = piped.stream.df.collect().map(_.getLong(0))
    assert(live.toSet == docs.collect().map(_.getLong(0)).toSet,
      "zorder is a pure layout op — row set unchanged")
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .addSink("out", App.Sink("memory"))
    Program.validate(Program.capture(piped), spark, config)
  }

  test("sq8Encode document node encodes against the pinned stats artifact") {
    val embs = Seq((1L, Seq(0.0, 10.0)), (2L, Seq(10.0, 20.0))).toDF("id", "vec")
    val stats = Seq((0L, 0.0, 10.0), (1L, 10.0, 20.0)).toDF("dim", "lo", "hi")
    val piped = Program.Rec.external("in", MStream(embs))
      .sq8Encode(Program.Rec.external("stats", MStream(stats)), "vec")
      .as("out")
    val live = piped.stream.df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(live(1L) == Seq(0, 0) && live(2L) == Seq(255, 255), live.toString)
    // validation is schema-only: an EMPTY stats source would fail the
    // collect contract if eager
    val emptyStats = stats.limit(0)
    val doc = Program.capture(piped)
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(embs)))
      .setSource("stats", App.Source("list", rows = Some(emptyStats)))
      .addSink("out", App.Sink("memory"))
    Program.validate(doc, spark, config)
  }

  test("batch-face nodes reject a streaming input by node name") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = MStream(in.toDF().toDF("id", "text"))
    val doc = Doc(
      nodes = Seq(External("in"),
        DedupCorpus("dc", "in", "id", "text", 8, 4, 0.7)),
      outputs = Seq("dc"))
    val e = intercept[IllegalArgumentException](
      Program.interpret(doc)(Map("in" -> stream)))
    assert(e.getMessage.contains("node 'dc'") &&
      e.getMessage.contains("batch-face"), e.getMessage)
  }

  test("normalize and topKPerKey capture == direct API") {
    val piped = Program.Rec.external("in", MStream(docs))
      .normalize("text")
      .topKPerKey(Seq("src"), "id", "length(norm_text)", k = 2, scoreAs = "len")
      .as("out")
    val live = piped.stream.df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val direct = graft.operators.GroupTopK.topKPerKey(
        docs.withColumn("norm_text",
          graft.pipeline.TextOps.normalizeText(col("text"))),
        Seq("src"), "id", expr("length(norm_text)"), 2, "len")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(live == direct && live.nonEmpty,
      "normalize/topKPerKey capture diverged from the direct API")
  }

  test("captured curation pipeline == direct API == reloaded document") {
    val piped = Program.Rec.external("in", MStream(docs))
      .qualityAnnotate("text")
      .langId("text")
      .where("n_words >= 3 AND lang = 'en'")
      .chunkTokens("id", "text", chunkSize = 4, stride = 2)
      .as("out")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "chunk_id", "chunk_text", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val live = key(piped.stream.df)
    assert(live.nonEmpty)
    assert(!live.exists(_._1 == 3L), "the de document must be gated out")
    assert(!live.exists(_._1 == 5L), "the 2-word document must be gated out")

    // direct API on the same input
    val annotated = MStream(docs)
      .addFields(graft.pipeline.TextOps.qualityFeatures(col("text")): _*)
      .addFields("lang" -> graft.pipeline.TextOps.langId(col("text")))
      .where(expr("n_words >= 3 AND lang = 'en'"))
    val direct = key(graft.pipeline.TextOps.chunkTokens(
      annotated.df, "id", "text", chunkSize = 4, stride = 2))
    assert(live == direct, "capture path diverged from the direct API")

    // ship + reload + run under a config
    val json = Program.toJson(Program.capture(piped))
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .addSink("out", App.Sink("memory"))
    Program.validate(Program.fromJson(json), spark, config)
    val reloaded = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    assert(key(reloaded) == live, "reloaded document diverged from the capture")
  }

  test("dedupCorpus and lineScrub capture == direct API (eager at capture)") {
    val piped = Program.Rec.external("in", MStream(docs))
      .dedupCorpus("id", "text", k = 8, bands = 4, threshold = 0.7)
      .as("out")
    val live = piped.stream.df.collect().map(_.getLong(0)).toSet
    val direct = graft.pipeline.Dedup.deduplicateCorpus(
      docs, "id", "text", 8, 4, 0.7).collect().map(_.getLong(0)).toSet
    assert(live == direct, "dedupCorpus capture diverged from the direct API")
    assert(!(live.contains(1L) && live.contains(2L)),
      "exact duplicates 1 and 2 must collapse to one survivor")

    // keep-best elects the score-maximizing member instead of the min id
    val best = Program.Rec.external("in", MStream(docs))
      .dedupCorpusBest("id", "text", k = 8, bands = 4, threshold = 0.7,
        score = "id * 1.0") // score by id: the HIGHEST id must survive
      .as("bestOut")
    val bestIds = best.stream.df.collect().map(_.getLong(0)).toSet
    assert(bestIds.contains(2L) && !bestIds.contains(1L),
      s"keep-best must elect the max-score member of {1,2}: $bestIds")

    val ls = Program.Rec.external("in", MStream(docs))
      .lineScrub("id", "text", minWords = 2).as("lsOut")
    val lsLive = ls.stream.df.select("id", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val lsDirect = graft.pipeline.Dedup.scrubDuplicateLines(docs, "id", "text", 2)
      .select("id", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lsLive == lsDirect, "lineScrub capture diverged from the direct API")
    assert(lsLive(2L) == 1L, "doc 2's duplicate line must be scrubbed")
    graft.api.Pinned.release(spark)
  }

  test("the eager curation nodes validate schema-only") {
    // semanticDedup's centroids source is EMPTY: validation must pass
    // (schema-only) where execution would fail collecting the codebook
    val emptyCents = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val embs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec")
    val doc = Doc(
      nodes = Seq(External("in"), External("cents"),
        SemanticDedup("sd", "in", "cents", "id", "vec", 0.9),
        SemanticDedupBest("sb", "in", "cents", "id", "vec", 0.9, "id * 1.0"),
        DedupCorpus("dc2", "sd", "id", "vec", 8, 4, 0.7)),
      outputs = Seq("dc2"))
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(embs)))
      .setSource("cents", App.Source("list", rows = Some(emptyCents)))
      .addSink("dc2", App.Sink("memory"))
    Program.validate(doc, spark, config) // would collect an empty codebook if eager

    // spanScrub's output schema feeds downstream analysis
    val sdoc = Doc(
      nodes = Seq(External("in"),
        SpanScrub("sc", "in", "id", "text", 5, 2, false),
        Where("w", "sc", "n_kept > 0")),
      outputs = Seq("w"))
    val sconfig = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .addSink("w", App.Sink("memory"))
    Program.validate(sdoc, spark, sconfig)

    // a bad column still fails by node name
    val bad = Doc(
      nodes = Seq(External("in"),
        SpanScrub("sc", "in", "nope", "text", 5, 2, false)),
      outputs = Seq("sc"))
    val e = intercept[IllegalArgumentException](
      Program.validate(bad, spark, sconfig))
    assert(e.getMessage.contains("node 'sc'"), e.getMessage)
  }

  test("jlProject + sq8Encode run the SAME document streaming (stats pinned)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // a 4-dim corpus, projected to 2 dims, then SQ8-coded against a
    // pinned stats artifact: the whole chain is stateless projections
    val stats = Seq((0L, -2.0, 2.0), (1L, -2.0, 2.0)).toDF("dim", "lo", "hi")
    val json = Program.toJson(Doc(
      nodes = Seq(
        External("in"), External("stats"),
        JlProjection("jl", "in", "vec", 2, 3, "projected"),
        Sq8Ingest("sq", "jl", "stats", "projected", "codes")),
      outputs = Seq("sq")))
    val rows = (0L until 40L).map(i =>
      (i, Seq(i * 0.1, 1.0 - i * 0.05, 0.5, -0.25 * (i % 4))))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Int](r.fieldIndex("codes")))
    val batch = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(rows.toDF("id", "vec"))))
        .setSource("stats", App.Source("list", rows = Some(stats)))
        .addSink("sq", App.Sink("memory")))(
      Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("sq", df) => df }.get
    val b = batch.collect().map(key).toSet
    assert(b.nonEmpty)

    val in = MemoryStream[(Long, Seq[Double])]
    val name = s"sq8_stream_${System.nanoTime()}"
    val running = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(in.toDF().toDF("id", "vec"))))
        .setSource("stats", App.Source("list", rows = Some(stats)))
        .addSink("sq", App.Sink("memory", outputMode = "append",
          queryName = Some(name))))(
      Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("sq", sq) => sq }.head
    try {
      rows.grouped(10).foreach(g => in.addData(g: _*))
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "projection + pinned-stats encode are stateless")
      assert(spark.table(name).collect().map(key).toSet == b,
        "streaming document output equals the batch run exactly")
    } finally q.stop()
  }

  test("the stateless annotator nodes run the SAME document streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val json = Program.toJson(Doc(
      nodes = Seq(
        External("in"),
        QualityAnnotate("qa", "in", "text"),
        LangId("li", "qa", "text", "lang"),
        Where("w", "li", "n_words >= 3 AND lang = 'en'"),
        ChunkTokens("ct", "w", "id", "text", 4, 2)),
      outputs = Seq("ct")))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))
    val batch = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(docs)))
        .addSink("ct", App.Sink("memory")))(
      Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("ct", df) => df }.get
    val b = batch.select("id", "chunk_id", "chunk_text", "n_tokens")
      .collect().map(key).toSet

    val in = MemoryStream[(Long, String, String)]
    val name = s"curate_stream_${System.nanoTime()}"
    val running = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(in.toDF().toDF("id", "text", "src"))))
        .addSink("ct", App.Sink("memory", outputMode = "append",
          queryName = Some(name))))(
      Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("ct", sq) => sq }.head
    try {
      rows.grouped(2).foreach(g => in.addData(g: _*))
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "annotator/generator nodes are stateless")
      assert(spark.table(name)
        .select("id", "chunk_id", "chunk_text", "n_tokens")
        .collect().map(key).toSet == b,
        "streaming document output equals the batch run exactly")
    } finally q.stop()
  }
}
