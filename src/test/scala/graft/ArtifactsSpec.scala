package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.{Artifacts, MStream}
import graft.pipeline.TextOps

/** Cross-session model artifacts: save/load round trip per artifact
  * family (threshold cuts, vocabulary, BPE merges, IVF codebook — all
  * bit-exact through parquet), the torn-save rejection, the kind tag,
  * the SaveArtifact/LoadArtifact program nodes, and the no-double-train
  * q_ppl_apply shape (scoring from a LOADED cuts artifact equals scoring
  * from the in-session frame). */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("artifacts_spec").resolve("a").toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("save/load round trip per family: cuts, vocab, merges, IVF codebook") {
    val docs = Seq(
      (1L, "a b a b c a", "en"), (2L, "a b c d", "en"), (3L, "c c d a b", "en"),
      (4L, "x y x y z", "fr"), (5L, "x y z z", "fr"), (6L, "z x y x", "fr"))
      .toDF("doc_id", "text", "lang")
    try {
      // threshold cuts (lang, bucket, cut)
      val ref = docs.where(col("doc_id") <= 4)
      val cuts = TextOps.perplexityBucketThresholds(docs, ref,
        "doc_id", "text", "lang", "text", buckets = 2, order = 2)
      val d1 = tmp()
      Artifacts.save(d1, "ppl-thresholds", Map("table" -> cuts),
        meta = Map("order" -> "2", "buckets" -> "2"))
      val a1 = Artifacts.load(spark, d1, expectKind = Some("ppl-thresholds"))
      assert(a1.kind == "ppl-thresholds" && a1.meta("order") == "2")
      assert(sortedRows(a1.tables("table")) == sortedRows(cuts),
        "cuts round-trip bit-exact")
      // scoring from the LOADED artifact == scoring from the in-session
      // frame (the no-double-train contract)
      val scored = TextOps.lmScore(MStream(docs), LmSpec(2, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(ref, "text"))).df
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val fromMem = TextOps.bucketByThresholds(MStream(scored), cuts,
        "lang", "avg_logprob").df
      val fromDisk = TextOps.bucketByThresholds(MStream(scored),
        a1.tables("table"), "lang", "avg_logprob").df
      assert(sortedRows(fromDisk) == sortedRows(fromMem),
        "loaded cuts score identically to in-session cuts")
      // vocabulary
      val vocab = TextOps.buildVocab(docs, "text", minCount = 2L, maxSize = 10)
      val d2 = tmp()
      Artifacts.save(d2, "vocab", Map("table" -> vocab))
      assert(sortedRows(Artifacts.load(spark, d2).tables("table")) ==
        sortedRows(vocab))
      // BPE merges
      val merges = TextOps.trainBpeMerges(docs, "text", numMerges = 3)
      val d3 = tmp()
      Artifacts.save(d3, "bpe-merges", Map("table" -> merges))
      assert(sortedRows(Artifacts.load(spark, d3).tables("table")) ==
        sortedRows(merges))
      // IVF codebook (over the embeddings-shaped frame)
      val embs = (0L until 12L).map(i =>
        (i, Seq.tabulate(4)(d => math.sin(i * 0.3 + d)))).toDF("vec_id", "embedding")
      val book = graft.pipeline.Ivf.train(embs, "vec_id", "embedding", k = 2, iters = 1)
      val d4 = tmp()
      Artifacts.save(d4, "ivf-codebook", Map("table" -> book))
      assert(sortedRows(Artifacts.load(spark, d4).tables("table")) ==
        sortedRows(book))
      // multi-table artifacts keep every part
      val d5 = tmp()
      Artifacts.save(d5, "bundle", Map("cuts" -> cuts, "vocab" -> vocab))
      val a5 = Artifacts.load(spark, d5)
      assert(a5.tables.keySet == Set("cuts", "vocab"))
      // unigram vocabulary: tokenize from the LOADED artifact == from the
      // in-session frame (the (piece, cnt) columns are the contract)
      val uni = graft.pipeline.Unigram.trainVocab(docs, "text",
        vocabSize = 20, maxPieceLen = 3, emRounds = 1, seedSize = 30)
      val d6 = tmp()
      Artifacts.save(d6, "unigram-vocab", Map("table" -> uni))
      val uniLoaded = Artifacts.load(spark, d6).tables("table")
      val tokMem = graft.pipeline.Unigram.tokenize(MStream(docs), uni,
        "text", maxPieceLen = 3).df.select(col("doc_id"), col("pieces"))
      val tokDisk = graft.pipeline.Unigram.tokenize(MStream(docs), uniLoaded,
        "text", maxPieceLen = 3).df.select(col("doc_id"), col("pieces"))
      assert(sortedRows(tokDisk) == sortedRows(tokMem),
        "loaded unigram vocab tokenizes identically")
    } finally graft.api.Pinned.release(spark)
  }

  test("contracts: torn save, kind mismatch, name rules, overwrite") {
    val cuts = Seq(("en", 1, -2.5)).toDF("lang", "bucket", "cut")
    val d = tmp()
    Artifacts.save(d, "ppl-thresholds", Map("table" -> cuts))
    assert(intercept[IllegalArgumentException](
      Artifacts.load(spark, d, expectKind = Some("bpe-merges")))
      .getMessage.contains("expected"))
    assert(intercept[IllegalArgumentException](
      Artifacts.save(d, "ppl-thresholds", Map("table" -> cuts)))
      .getMessage.contains("already holds"))
    Artifacts.save(d, "ppl-thresholds", Map("table" -> cuts), overwrite = true)
    assert(intercept[IllegalArgumentException](
      Artifacts.save(tmp(), "bad kind!", Map("table" -> cuts)))
      .getMessage.contains("must match"))
    assert(intercept[IllegalArgumentException](
      Artifacts.save(tmp(), "k", Map("bad name!" -> cuts)))
      .getMessage.contains("must match"))
    // a directory without a manifest is an aborted save
    val torn = tmp()
    cuts.write.parquet(torn + "/tables/table")
    assert(intercept[IllegalArgumentException](Artifacts.load(spark, torn))
      .getMessage.contains("manifest"))
  }

  test("SaveArtifact/LoadArtifact nodes: v10 stamp, codec, document run == direct") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = tmp()
    val doc = Doc(Seq(External("in"),
      SaveArtifact("s", "in", d, "cuts-k"),
      LoadArtifact("l", d, Some("cuts-k"))), Seq("l"))
    val json = Program.toJson(doc)
    assert(json.contains("\"version\":10") && Program.fromJson(json) == doc)
    assert(intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), SaveArtifact("s", "in", " ", "k")), Seq("s")))))
      .getMessage.contains("saveArtifact needs dir non-blank"), "empty dir rejected")
    // capture: the save tee writes live, the load starts a new pipeline
    val cuts = Seq(("en", 1, -2.5), ("fr", 1, -3.0)).toDF("lang", "bucket", "cut")
    val saved = Program.capture(
      Program.Rec.external("in", MStream(cuts))
        .saveArtifact(d, "cuts-k", overwrite = true).as("s"))
    assert(Program.fromJson(Program.toJson(saved)) == saved)
    val loadedRec = Program.Rec.loadArtifact(spark, d, Some("cuts-k"))
    assert(loadedRec.stream.df.collect().length == 2, "capture load reads the artifact")
    // document run: save then load in one program
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(cuts)))
      .addSink("l", App.Sink("memory"))
    val runDoc = Doc(Seq(External("in"),
      SaveArtifact("s", "in", d, "cuts-k", overwrite = true),
      LoadArtifact("l", d, Some("cuts-k"))), Seq("l"))
    Program.validate(runDoc, spark, config)
    val out = App.runProgram(spark, config, Program.toJson(runDoc))
      .collectFirst { case App.BatchOutput("l", o) => o }.get
    assert(sortedRows(out) == sortedRows(cuts), "saved-then-loaded == input")
  }
}
