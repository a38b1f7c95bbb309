package graft

import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.TextOps

/** Per-language BPE (one-pass multi-tokenizer training): the one-pass
  * trainer against per-slice [[TextOps.trainBpeMerges]] runs (languages
  * must never interact — the key only shares the scan), the
  * by-language encode face against per-slice [[TextOps.bpeTokenize]],
  * the NULL verdict for unmodeled languages, null-language handling,
  * and the node codec/run. */
class LangBpeSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(61)
  private val pools = Map(
    "aa" -> Vector("kato", "mira", "sune", "lo"),
    "bb" -> Vector("chu", "qura", "toto", "mi"),
    "cc" -> Vector("zel", "vor", "zelvor", "ka"))
  private val corpus = (0L until 90L).map { i =>
    val lang = Seq("aa", "bb", "cc")(rnd.nextInt(3))
    val w = pools(lang)
    (i, lang, Seq.fill(3 + rnd.nextInt(6))(w(rnd.nextInt(w.size))).mkString(" "))
  }

  test("one-pass trainer == per-slice trainBpeMerges for every language") {
    val docs = corpus.toDF("doc_id", "lang", "text")
    try {
      val got = TextOps.trainBpeMergesByLang(docs, "lang", "text", 8)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .groupBy(_._1).map { case (l, xs) =>
          l -> xs.sortBy(_._2).map(x => (x._2, x._3, x._4)).toSeq }
      for (l <- Seq("aa", "bb", "cc")) {
        val slice = TextOps.trainBpeMerges(
          docs.where(col("lang") === l), "text", 8)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          .sortBy(_._1).toSeq
        assert(got(l) == slice, s"language $l:\n${got(l)}\nvs per-slice\n$slice")
      }
    } finally graft.api.Pinned.release(spark)
  }

  test("re-materialization is invisible to the per-language merges") {
    // graft.bpe.rematEvery=2 folds every language's pending chain into the
    // working set (pruning collapsed words) five times inside a 12-round
    // run: it must learn exactly the default run's merge tables
    val docs = corpus.toDF("doc_id", "lang", "text")
    def train(): Seq[(String, Int, String, String)] =
      try TextOps.trainBpeMergesByLang(docs, "lang", "text", 12)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .toSeq.sorted
      finally graft.api.Pinned.release(spark)
    val plain = train()
    spark.conf.set("graft.bpe.rematEvery", "2")
    val remat = try train() finally spark.conf.unset("graft.bpe.rematEvery")
    assert(remat == plain, s"re-materialized run:\n$remat\nvs default run\n$plain")
    assert(plain.map(_._2).max >= 10, s"the run reaches ten rounds: $plain")
    val bad = intercept[IllegalArgumentException] {
      spark.conf.set("graft.bpe.rematEvery", "often")
      try train() finally spark.conf.unset("graft.bpe.rematEvery")
    }
    assert(bad.getMessage.contains("graft.bpe.rematEvery"))
  }

  test("by-language encode == per-slice bpeTokenize; unmodeled lang gets NULL") {
    val docs = corpus.toDF("doc_id", "lang", "text")
    try {
      val merges = TextOps.trainBpeMergesByLang(docs, "lang", "text", 6)
      val got = TextOps.bpeTokenizeByLang(MStream(docs), merges,
        "doc_id", "lang", "text").df
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))).toMap
      for (l <- Seq("aa", "bb", "cc")) {
        val slice = docs.where(col("lang") === l)
        val want = TextOps.bpeTokenize(slice, "doc_id", "text",
          TextOps.trainBpeMerges(slice, "text", 6))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        want.foreach { case (id, v) =>
          assert(got(id).contains(v), s"doc $id in $l: ${got(id)} vs $v") }
      }
      // an unmodeled language (absent from the merge table) -> NULL verdict
      val stranger = Seq((999L, "zz", "kato mira")).toDF("doc_id", "lang", "text")
      val nul = TextOps.bpeTokenizeByLang(MStream(stranger), merges,
        "doc_id", "lang", "text").df.collect().head
      assert(nul.isNullAt(1) && nul.isNullAt(2), "unmodeled language is NULL")
      // a modeled language with an empty text -> (0, 0), not NULL
      val empty = Seq((998L, "aa", "")).toDF("doc_id", "lang", "text")
      val z = TextOps.bpeTokenizeByLang(MStream(empty), merges,
        "doc_id", "lang", "text").df.collect().head
      assert(z.getLong(1) == 0L && z.getLong(2) == 0L)
    } finally graft.api.Pinned.release(spark)
  }

  test("null language trains and addresses like any other key") {
    val docs = (corpus.take(30).map { case (i, _, t) => (i, null: String, t) } ++
      corpus.drop(30).take(30)).toDF("doc_id", "lang", "text")
    try {
      val merges = TextOps.trainBpeMergesByLang(docs, "lang", "text", 4)
      val langs = merges.select("lang").distinct()
        .collect().map(r => Option(r.getString(0))).toSet
      assert(langs.contains(None), s"null language modeled: $langs")
      val nullSlice = docs.where(col("lang").isNull)
      val want = TextOps.trainBpeMerges(nullSlice, "text", 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      val gotNull = merges.where(col("lang").isNull)
        .collect().map(r => (r.getInt(1), r.getString(2), r.getString(3))).sortBy(_._1).toSeq
      assert(gotNull == want, s"null-lang slice: $gotNull vs $want")
      val enc = TextOps.bpeTokenizeByLang(MStream(docs.where(col("lang").isNull)),
        merges, "doc_id", "lang", "text").df.collect()
      assert(enc.nonEmpty && enc.forall(r => !r.isNullAt(1)),
        "null-language docs encode under the null-language table")
    } finally graft.api.Pinned.release(spark)
  }

  test("BpeLangEncode node: v12 stamp, codec identity, document run == direct API") {
    import graft.api.{App, Program}
    import graft.api.Program._
    val d = Doc(Seq(External("in"), External("m"),
      BpeLangEncode("a", "in", "m", "doc_id", "lang", "text")), Seq("a"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":12") && Program.fromJson(json) == d)
    try {
      val docs = corpus.take(30).toDF("doc_id", "lang", "text")
      val merges = TextOps.trainBpeMergesByLang(docs, "lang", "text", 3)
      val cap = Program.capture(
        Program.Rec.external("in", MStream(docs))
          .bpeLangEncode(Program.Rec.external("m", MStream(merges)),
            "doc_id", "lang", "text").as("a"))
      assert(Program.fromJson(Program.toJson(cap)) == cap)
      val config = new App.Config()
        .setSource("in", App.Source("list", rows = Some(docs)))
        .setSource("m", App.Source("list", rows = Some(merges)))
        .addSink("a", App.Sink("memory"))
      Program.validate(cap, spark, config)
      val out = App.runProgram(spark, config, Program.toJson(cap))
        .collectFirst { case App.BatchOutput("a", o) => o }.get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val direct = TextOps.bpeTokenizeByLang(MStream(docs), merges,
        "doc_id", "lang", "text")
        .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(out == direct, "document execution equals the direct API")
    } finally graft.api.Pinned.release(spark)
  }

  test("contracts: bounds, merge-frame shape, streaming artifact rejection") {
    val docs = Seq((1L, "aa", "x y")).toDF("doc_id", "lang", "text")
    val bad1 = intercept[IllegalArgumentException](
      TextOps.trainBpeMergesByLang(docs, "lang", "text", 0))
    assert(bad1.getMessage.contains("numMerges"))
    val noCols = Seq((1, "a", "b")).toDF("merge_rank", "lhs", "rhs")
    val bad2 = intercept[IllegalArgumentException](
      TextOps.bpeTokenizeByLang(graft.api.MStream(docs), noCols,
        "doc_id", "lang", "text"))
    assert(bad2.getMessage.contains("lang"))
  }
}
