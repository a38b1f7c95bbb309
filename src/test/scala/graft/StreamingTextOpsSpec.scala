package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.TextOps

/** Dual-mode ingest faces of the encode and decontaminate operators:
  * streaming output must equal the batch branch (which carries the
  * q_encode / q_decontaminate oracles), and both are stateless at ingest
  * (broadcast static side + per-batch combine — no state-store rows). */
class StreamingTextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def streamed[T](out: MStream)(read: String => Set[T]): Set[T] = {
    import org.apache.spark.sql.streaming.OutputMode
    assert(out.df.isStreaming)
    val name = s"sto_${System.nanoTime()}"
    val q = out.df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "ingest op is stateless: no state rows accumulate")
      read(name)
    } finally q.stop()
  }

  test("encodeTokensIngest: streaming equals batch (ids, oov, dropped empty docs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq(("alpha", 0L), ("beta", 1L), ("gamma", 2L)).toDF("word", "id")
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta unknown alpha"),
      (3L, ""),                       // token-less: no output row, either mode
      (4L, "unknown only words here"))
    def key(r: org.apache.spark.sql.Row): (Long, Seq[Long], Long) =
      (r.getLong(0), r.getSeq[Long](1), r.getLong(2))

    val batch = TextOps.encodeTokensIngest(
      MStream(docs.toDF("doc_id", "text")), vocab, "doc_id", "text")
    assert(!batch.df.isStreaming)
    val b = batch.df.select("doc_id", "ids", "n_oov").collect().map(key).toSet
    assert(b == Set(
      (1L, Seq(0L, 1L, 2L), 0L),
      (2L, Seq(1L, -1L, 0L), 1L),
      (4L, Seq(-1L, -1L, -1L, -1L), 4L)))

    val in = MemoryStream[(Long, String)]
    val out = TextOps.encodeTokensIngest(
      MStream(in.toDF().toDF("doc_id", "text")), vocab, "doc_id", "text")
    in.addData(docs.take(2): _*)
    in.addData(docs.drop(2): _*)
    val s = streamed(out)(nm =>
      spark.table(nm).select("doc_id", "ids", "n_oov").collect().map(key).toSet)
    assert(s == b, "streaming encode equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("decontaminateIngest: streaming equals batch (zero-overlap and short docs kept)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("one two three four five six seven eight nine ten")
      .toDF("text")
    val docs = Seq(
      (1L, "prefix one two three four five six seven eight nine ten suffix"), // overlaps
      (2L, "a completely clean training document with enough words to gram"),
      (3L, "short"))                 // under n words: no grams, scores 0
    def key(r: org.apache.spark.sql.Row): (Long, Long, Int) =
      (r.getLong(0), r.getLong(1), r.getInt(2))

    val batch = TextOps.decontaminateIngest(
      MStream(docs.toDF("doc_id", "text")), bench, "doc_id", "text", "text", n = 8)
    assert(!batch.df.isStreaming)
    val b = batch.df.select("doc_id", "n_overlap", "contaminated")
      .collect().map(key).toSet
    assert(b.map(_._1) == Set(1L, 2L, 3L), "every doc scores, hit or not")
    assert(b.exists(r => r._1 == 1L && r._3 == 1), "overlapping doc flagged")
    assert(b.exists(r => r._1 == 3L && r._2 == 0L && r._3 == 0), "short doc scores 0")

    val in = MemoryStream[(Long, String)]
    val out = TextOps.decontaminateIngest(
      MStream(in.toDF().toDF("doc_id", "text")), bench, "doc_id", "text", "text", n = 8)
    in.addData(docs.take(1): _*)
    in.addData(docs.drop(1): _*)
    val s = streamed(out)(nm =>
      spark.table(nm).select("doc_id", "n_overlap", "contaminated")
        .collect().map(key).toSet)
    assert(s == b, "streaming decontamination equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("lmScoreAgainst: streaming equals batch (unseen-pair backoff, short docs NULL)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      "the cat sat on the mat",
      "the dog sat on the rug",
      "a cat and a dog").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the rug"),       // all pairs seen
      (2L, "quantum flux capacitors hum"),  // all pairs unseen -> floor
      (3L, "word"))                         // under 2 tokens -> (0, NULL)
    def key(r: org.apache.spark.sql.Row): (Long, Long, Option[Double]) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))

    val batch = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
      LmSpec(2, LmSpec.AddAlpha()), "doc_id", "text", Some(LmRef(ref, "text")))
    assert(!batch.df.isStreaming)
    val b = batch.df.collect().map(key).toSet
    assert(b.exists(r => r._1 == 3L && r._2 == 0L && r._3.isEmpty),
      "short doc scores (0, NULL)")
    assert(b.exists(r => r._1 == 2L && r._2 == 3L && r._3.nonEmpty),
      "unseen pairs score at the smoothed floor, not dropped")
    val seen = b.find(_._1 == 1L).get._3.get
    val unseen = b.find(_._1 == 2L).get._3.get
    assert(seen > unseen, "in-distribution text scores above gibberish")

    val in = MemoryStream[(Long, String)]
    val out = TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text")),
      LmSpec(2, LmSpec.AddAlpha()), "doc_id", "text", Some(LmRef(ref, "text")))
    in.addData(docs.take(2): _*)
    in.addData(docs.drop(2): _*)
    val s = streamed(out)(nm => spark.table(nm).collect().map(key).toSet)
    assert(s == b, "streaming LM scoring equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("dsirScore: streaming equals batch (target-like selected, short docs NULL)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val target = Seq(
      "the cat sat on the mat",
      "the dog sat on the rug",
      "a cat and a dog sat down").toDF("text")
    val raw = (target.as[String].collect().toSeq ++ Seq(
      "quantum flux capacitors hum loudly",
      "flux hum quantum capacitors again",
      "lorem ipsum dolor sit amet")).toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the rug"),        // target-like
      (2L, "quantum flux capacitors hum"),   // raw-only
      (3L, "word"))                          // <2 words -> (0, NULL, false)
    def key(r: org.apache.spark.sql.Row): (Long, Long, Option[Double], Boolean) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))

    val batch = TextOps.dsirScore(
      MStream(docs.toDF("doc_id", "text")), target, raw, "doc_id", "text", "text")
    assert(!batch.df.isStreaming)
    val b = batch.df.collect().map(key).toSet
    assert(b.exists(r => r._1 == 3L && r._2 == 0L && r._3.isEmpty && !r._4),
      "short doc scores (0, NULL, false)")
    val tLike = b.find(_._1 == 1L).get
    val rOnly = b.find(_._1 == 2L).get
    assert(tLike._3.get > rOnly._3.get, "target-like text outscores raw-only text")
    assert(tLike._4, "target-like doc is selected")
    assert(!rOnly._4, "raw-only doc is not selected")

    val in = MemoryStream[(Long, String)]
    val out = TextOps.dsirScore(
      MStream(in.toDF().toDF("doc_id", "text")), target, raw, "doc_id", "text", "text")
    in.addData(docs.take(2): _*)
    in.addData(docs.drop(2): _*)
    val s = streamed(out)(nm => spark.table(nm).collect().map(key).toSet)
    assert(s == b, "streaming DSIR scoring equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("tokenFrequencyStats: streaming equals batch (rare tokens, empty docs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      "the cat sat on the mat",
      "the dog and the cat sat",
      "the bird sat on a branch").toDF("text")
    val docs = Seq(
      (1L, "the cat sat"),             // all tokens frequent in ref
      (2L, "quantum flux the"),        // two reference-unseen tokens
      (3L, ""))                        // token-less -> (0, NULL, 0)
    def key(r: org.apache.spark.sql.Row): (Long, Long, Option[Long], Long) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))

    val batch = TextOps.tokenFrequencyStats(
      MStream(docs.toDF("doc_id", "text")), ref, "doc_id", "text", "text",
      depth = 4, width = 1024, rareMax = 0L)
    assert(!batch.df.isStreaming)
    val b = batch.df.collect().map(key).toSet
    assert(b.exists(r => r._1 == 3L && r._2 == 0L && r._3.isEmpty && r._4 == 0L),
      "token-less doc scores (0, NULL, 0)")
    val frequent = b.find(_._1 == 1L).get
    val rare = b.find(_._1 == 2L).get
    assert(frequent._4 == 0L, "all-frequent doc has no rare tokens")
    assert(rare._4 == 2L && rare._3.contains(0L),
      "reference-unseen tokens count as rare with estimate 0 (1024 buckets, " +
        "9 distinct reference tokens: a full-row collision across all 4 rows " +
        "is impossible)")

    val in = MemoryStream[(Long, String)]
    val out = TextOps.tokenFrequencyStats(
      MStream(in.toDF().toDF("doc_id", "text")), ref, "doc_id", "text", "text",
      depth = 4, width = 1024, rareMax = 0L)
    in.addData(docs.take(2): _*)
    in.addData(docs.drop(2): _*)
    val s = streamed(out)(nm => spark.table(nm).collect().map(key).toSet)
    assert(s == b, "streaming frequency annotation equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("bpeTokenizeIngest: streaming equals batch (frozen merges, empty docs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val trainDocs = Seq("low low low lower lower lowest").toDF("text")
    val merges = TextOps.trainBpeMerges(trainDocs, "text", numMerges = 3)
    val docs = Seq(
      (1L, "low lower"),
      (2L, "slow glowing"),
      (3L, ""))                        // word-less -> (0, 0)
    def key(r: org.apache.spark.sql.Row): (Long, Long, Long) =
      (r.getLong(0), r.getLong(1), r.getLong(2))

    val batch = TextOps.bpeTokenizeIngest(
      MStream(docs.toDF("doc_id", "text")), merges, "doc_id", "text")
    assert(!batch.df.isStreaming)
    val b = batch.df.collect().map(key).toSet
    assert(b.exists(r => r._1 == 3L && r._2 == 0L && r._3 == 0L),
      "word-less doc emits (0, 0)")
    // merges (l,o),(lo,w),(low,e): "low" -> [low], "lower" -> [lowe, r]
    assert(b.find(_._1 == 1L).get._2 == 3L, "low=1 token, lower=2 tokens")

    val in = MemoryStream[(Long, String)]
    val out = TextOps.bpeTokenizeIngest(
      MStream(in.toDF().toDF("doc_id", "text")), merges, "doc_id", "text")
    in.addData(docs.take(2): _*)
    in.addData(docs.drop(2): _*)
    val s = streamed(out)(nm => spark.table(nm).collect().map(key).toSet)
    assert(s == b, "streaming BPE application equals the batch oracle face")
    graft.api.Pinned.release(spark)
  }

  test("both ingest faces agree on a seeded random corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val vocabWords = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def doc(): String =
      Seq.fill(rnd.nextInt(14))(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" ")
    val docs = (0L until 60L).map(i => (i, doc()))
    val vocab = vocabWords.take(5).zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("word", "id")
    val bench = Seq(docs(10)._2, docs(20)._2).toDF("text")

    val be = TextOps.encodeTokensIngest(
        MStream(docs.toDF("doc_id", "text")), vocab, "doc_id", "text")
      .df.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    val bd = TextOps.decontaminateIngest(
        MStream(docs.toDF("doc_id", "text")), bench, "doc_id", "text", "text", n = 4)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val inE = MemoryStream[(Long, String)]
    val outE = TextOps.encodeTokensIngest(
      MStream(inE.toDF().toDF("doc_id", "text")), vocab, "doc_id", "text")
    docs.grouped(25).foreach(g => inE.addData(g: _*))
    val se = streamed(outE)(nm => spark.table(nm).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet)
    assert(se == be)

    val inD = MemoryStream[(Long, String)]
    val outD = TextOps.decontaminateIngest(
      MStream(inD.toDF().toDF("doc_id", "text")), bench, "doc_id", "text", "text", n = 4)
    docs.grouped(25).foreach(g => inD.addData(g: _*))
    val sd = streamed(outD)(nm => spark.table(nm).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    assert(sd == bd)
    graft.api.Pinned.release(spark)
  }
}
