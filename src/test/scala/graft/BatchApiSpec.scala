package graft

import graft.pipeline.TextOps.LmSpec
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}
import scala.jdk.CollectionConverters._

/**
 * Batch API units: enrichment-join condition splitting (precondition /
 * equi-key / residual, reference `JoinPreconditionExtractor` +
 * `JoinKeyExpressionExtractor` semantics), residual join paths not covered
 * by the driver oracle, and pipeline operator edge cases.
 */
class BatchApiSpec extends SparkSpec {

  /** In-memory PNG from a pixel formula — shared by the image decode and
    * resize tests (java.awt + javax.imageio ship in the JDK). */
  private def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgbAt(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Delta-optimized animated GIF (the common real-world form): frame 0
    * full 8x8 gray 100, frame 1 a 2x2 gray-200 patch at offset (1,1) —
    * correct decoding COMPOSITES frame 1 onto the frame-0 canvas. Shared
    * by the video-decode and frame-extraction tests. */
  private def deltaGif(): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val f0 = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) f0.setRGB(x, y, 0x646464)
    writer.writeToSequence(new javax.imageio.IIOImage(f0, null, null), null)
    val f1 = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) f1.setRGB(x, y, 0xC8C8C8)
    val md = writer.getDefaultImageMetadata(
      new javax.imageio.ImageTypeSpecifier(f1), null)
    val fmt = "javax_imageio_gif_image_1.0"
    val tree = md.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
    val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
      .asInstanceOf[org.w3c.dom.Element]
    desc.setAttribute("imageLeftPosition", "1")
    desc.setAttribute("imageTopPosition", "1")
    md.setFromTree(fmt, tree)
    writer.writeToSequence(new javax.imageio.IIOImage(f1, null, md), null)
    writer.endWriteSequence()
    ios.flush(); ios.close(); writer.dispose()
    baos.toByteArray
  }
  import spark.implicits._

  private def lstream = new MStream(
    Seq((1L, "a", 1.0, 1L), (2L, "a", 5.0, 3L), (3L, "b", 2.0, 5L))
      .toDF("id", "k", "v", "t"), Seq("t", "id"))

  private def rstream = new MStream(
    Seq((10L, "a", 100.0, 2L), (11L, "a", 7.0, 4L), (12L, "c", 1.0, 6L))
      .toDF("rid", "rk", "rv", "rt"), Seq("rt", "rid"))

  test("left enrichment pairs each left with the latest prior right of its key") {
    val out = lstream.leftJoin(rstream).on((l, r) => l("k") === r("rk"))
      .select((l, r) => Seq(l("id").as("id"), r("rid").as("rid")))
      .df.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(out == Set((1L, None), (2L, Some(10L)), (3L, None)))
  }

  test("preconditions push down; residuals filter the pairing") {
    // precondition: right rv < 50 removes rid=10; residual: r.rv > l.v
    val out = lstream.leftJoin(rstream)
      .on((l, r) => l("k") === r("rk") && r("rv") < 50.0 && r("rv") > l("v"))
      .select((l, r) => Seq(l("id").as("id"), r("rid").as("rid")))
      .df.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // id=2 (t=3, v=5): latest prior right passing precondition is none (rid10 filtered,
    // rid11 arrives at t=4) → None. id=1: no prior right → None.
    assert(out == Set((1L, None), (2L, None), (3L, None)))
  }

  test("left inner with residual: left waits for the first future right that satisfies it") {
    val out = lstream.leftInnerJoin(rstream)
      .on((l, r) => l("k") === r("rk") && r("rv") < 50.0)
      .select((l, r) => Seq(l("id").as("id"), r("rid").as("rid")))
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // id=1 (t=1): rid10 fails residual→wait→rid11 (t=4) matches; id=2 (t=3): same;
    // id=3 key b: no right ever → absent
    assert(out == Set((1L, 11L), (2L, 11L)))
  }

  test("full join residual: batch face matches the streaming trace, strict and lenient") {
    // same event trace as StreamingMStreamJoinSpec's full-join tests —
    // the batch lowering must produce the identical row sets
    def lefts = new MStream(
      Seq((2L, "a", 5.0), (3L, "a", 50.0)).toDF("seq", "k", "v"), Seq("seq"))
    def rights = new MStream(
      Seq((1L, "a", 100), (4L, "a", 600), (5L, "a", 400)).toDF("seq", "k", "w"), Seq("seq"))
    def run(lenient: Boolean): List[(Option[Long], Option[Int])] = {
      val b0 = lefts.fullJoin(rights)
      val b = if (lenient) b0.lenient() else b0
      b.on((l, r) => l("k") === r("k") && r("w") > l("v") * 10)
        .select((l, r) => Seq(l("seq").as("lseq"), r("w").as("rw")))
        .df.collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
                   Option(r.get(1)).map(_.asInstanceOf[Int]))).toList
    }
    // reference-strict default: only pairs satisfying the residual emit
    // (FullJoinKeyedCoProcessFunction.scala:57-79 — no else branch)
    assert(run(lenient = false).sortBy(_._1) ==
      List((Some(2L), Some(100)), (Some(3L), Some(600))),
      "strict batch face == streaming reference trace")
    // lenient: every arrival emits, failing pair keeps the arriving side
    assert(run(lenient = true).toSet == Set(
      (None, Some(100)), (Some(2L), Some(100)), (Some(3L), None),
      (Some(3L), Some(600)), (None, Some(400))),
      "lenient batch face == streaming lenient trace")
  }

  test("non-equi join conditions are rejected like the reference") {
    val e = intercept[IllegalArgumentException] {
      lstream.leftJoin(rstream).on((l, r) => l("v") < r("rv"))
    }
    assert(e.getMessage.contains("Non-keyed"))
  }

  test("uniqueBy keeps the latest record per extracted value") {
    val s = new MStream(
      Seq(("u1", "x", 1L, 1.0), ("u1", "x", 2L, 9.0), ("u2", "x", 1L, 4.0))
        .toDF("u", "typ", "t", "v"), Seq("t"))
    val out = s.uniqueBy(Seq("u", "typ"), Seq("t"))
      .df.collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(out == Set(("u1", 2L, 9.0), ("u2", 1L, 4.0)))
  }

  test("tokenization is whitespace-robust: counts and shingle features agree on tabs/newlines/runs") {
    import graft.pipeline.TextOps
    val docs = Seq(
      ("tab", "a\tb\nc", 3),
      ("runs", "a  b   c", 3),
      ("edges", " a b ", 2),
      ("crlf", "a\r\nb", 2),
      ("vtff", "ab\fc", 3),
      ("plain", "x y z", 3),
      ("empty", "", 0)
    ).toDF("id", "text", "expect")
    val got = docs.select(col("id"), col("expect"),
      TextOps.tokenCountWhitespace(col("text")).as("n"),
      size(graft.functions.VectorFunctions.wordShingleHashes(col("text"), 1)).as("nsh"),
      TextOps.words(col("text")).as("ws")).collect()
    got.foreach { r =>
      assert(r.getAs[Int]("n") == r.getAs[Int]("expect"),
        s"${r.getAs[String]("id")}: token count")
      assert(r.getAs[Int]("nsh") == r.getAs[Int]("expect"),
        s"${r.getAs[String]("id")}: native 1-shingle count must equal token count")
      assert(!r.getSeq[String](r.fieldIndex("ws")).contains(""),
        s"${r.getAs[String]("id")}: no empty tokens")
    }
    // 2-gram shingles across irregular separators: same as single-space text
    val shRow = docs.filter(col("id") === "runs")
      .select(TextOps.wordShingles(col("text"), 2).as("s")).collect()(0)
    assert(shRow.getSeq[String](0) == Seq("a b", "b c"),
      "shingles normalize separator runs")
    // the native hasher agrees with polyHash of the normalized shingle text
    val agree = docs.select(
      graft.functions.VectorFunctions.wordShingleHashes(col("text"), 2).as("h"),
      transform(TextOps.wordShingles(col("text"), 2),
        s => graft.pipeline.TextOps.polyHash(s)).as("e")).collect()
    agree.foreach(r => assert(r.getSeq[Long](0).distinct.sorted ==
      r.getSeq[Long](1).distinct.sorted,
      "one-pass shingle hashes == polyHash of shingle strings under \\s+ rule"))
  }

  test("zero-word documents: chunking emits nothing, quality ratios are NULL (no ANSI errors)") {
    import graft.pipeline.TextOps
    val docs = Seq((1L, ""), (2L, " \t\n"), (3L, "one two three")).toDF("doc_id", "text")
    // chunkTokens: sequence(0, -1, stride) would throw under ANSI — the
    // zero-word filter must keep empty docs out entirely
    val chunks = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 2, stride = 2)
      .collect()
    assert(chunks.map(_.getLong(0)).toSet == Set(3L), "only the real doc chunks")
    assert(chunks.length == 2)
    // quality: division by the zero word count must yield NULL, not throw
    val feats = TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
    val q = docs.select(col("doc_id") +: feats: _*).orderBy("doc_id").collect()
    assert(q(0).getAs[Int]("n_words") == 0 && q(0).isNullAt(q(0).fieldIndex("avg_word_len"))
      && q(0).isNullAt(q(0).fieldIndex("stopword_ratio")))
    assert(q(1).getAs[Int]("n_words") == 0 && q(1).isNullAt(q(1).fieldIndex("avg_word_len")))
    assert(q(2).getAs[Int]("n_words") == 3 && !q(2).isNullAt(q(2).fieldIndex("avg_word_len")))
  }

  test("wordShingles handles short documents") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "text")
    val out = df.select(col("id"), TextOps.wordShingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(out(1L) == Set.empty[String])
    assert(out(2L) == Set("a b c", "b c d"))
  }

  test("containment near-dup flags a doc embedded in a larger one that Jaccard misses") {
    import graft.pipeline.Dedup
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota kappa lambda mu nu xi omicron pi rho sigma"
    val docs = Seq((1L, small), (2L, big),
      (3L, "wholly other unrelated words entirely different tokens here now"))
      .toDF("id", "text")
    // bands = k (one row per band): a single shared minhash makes a
    // candidate, which low-jaccard containment pairs need
    val got = Dedup.containmentNearDup(docs, "id", "text",
      k = 16, bands = 16, threshold = 0.9).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getDouble(got(0).fieldIndex("containment_a")) == 1.0,
      "every shingle of the small doc appears in the big one")
    assert(got(0).getDouble(got(0).fieldIndex("containment_b")) < 0.9,
      "the big doc is not contained in the small one")
    // the symmetric Jaccard pipeline misses this pair at its threshold
    assert(Dedup.minhashNearDup(docs, "id", "text",
      k = 16, bands = 16, threshold = 0.8).count() == 0,
      "jaccard 6/16 is under 0.8 — containment is what catches the embed")
  }

  /** bigramLmScore by brute force: one (id, n_pairs, avg_logprob) per
    * input row; a duplicated id scores the pairs of all its documents,
    * V = distinct continuations. */
  private def bigramReference(docs: Seq[(Long, String)]): Seq[(Long, (Long, Option[Double]))] = {
    val pairs = docs.flatMap { case (id, t) =>
      val w = if (t == null) Array.empty[String] else t.split("\\s+").filter(_.nonEmpty)
      w.sliding(2).filter(_.length == 2).map(p => (id, p(0), p(1)))
    }
    val bc = pairs.groupBy(p => (p._2, p._3)).map { case (k, xs) => k -> xs.size }
    val cu = pairs.groupBy(_._2).map { case (k, xs) => k -> xs.size }
    val v = pairs.map(_._3).distinct.size
    docs.map { case (id, _) =>
      val ps = pairs.filter(_._1 == id)
      val avg = if (ps.isEmpty) None else Some(BigDecimal(ps.map { case (_, a, b) =>
          math.log((bc((a, b)) + 0.5) / (cu(a) + 0.5 * v))
        }.sum / ps.size).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (id, (ps.size.toLong, avg))
    }.sortBy(_.toString)
  }

  private def bigramScored(docs: Seq[(Long, String)]): Seq[(Long, (Long, Option[Double]))] =
    try graft.pipeline.TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
      LmSpec(2, LmSpec.AddAlpha()), "doc_id", "text").df
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toSeq
      .sortBy(_.toString)
    finally graft.api.Pinned.release(spark)

  test("bigramLmScore equals a brute-force reference on a seeded random corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (1L to 8L).map { i =>
      (i, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    assert(bigramScored(docs) == bigramReference(docs), s"docs=$docs")
  }

  test("bigramLmScore edge inputs equal the brute-force reference: blank/null text, duplicate ids, empty frame") {
    // whitespace-only, tab/newline-separated and null text; a duplicated
    // id; "e" only ever starts a document, so it is not in V
    val edges = Seq((1L, "e a b a"), (2L, " \t\n "), (3L, "a\tb\nb  a\r\nc"),
      (4L, null), (5L, "b c a"), (5L, "c c b"), (6L, "e"))
    assert(bigramScored(edges) == bigramReference(edges), s"docs=$edges")
    assert(bigramScored(Seq.empty).isEmpty, "an empty corpus scores no rows")
  }

  test("cross-corpus near-dup pairs new against ref only, never within a side") {
    import graft.pipeline.Dedup
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, a), (2L, a),                       // both NEW: an exact pair, but same side
      (10L, a + " lambda"),                   // REF near-dup of 1 and 2
      (11L, "wholly other unrelated words entirely different tokens here now"))
    val newDocs = docs.take(2).toDF("id", "text")
    val refDocs = docs.drop(2).toDF("id", "text")
    val got = Dedup.crossCorpusNearDup(newDocs, refDocs, "id", "text",
        k = 16, bands = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L)),
      "each new doc pairs with the ref near-dup; the new-new exact pair is not reported")
  }

  test("minhash LSH finds exact duplicates and skips unrelated docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different words about spark catalyst tungsten codegen shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDup(docs, "doc_id", "text", k = 16, bands = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("assignSplit labels are exhaustive, repartition-invariant, and salt-independent") {
    import graft.pipeline.Sampling
    val docs = (1L to 2000L).map(i => (i, s"doc$i")).toDF("id", "text")
    val splits = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    def labels(df: org.apache.spark.sql.DataFrame) =
      Sampling.assignSplit(df, col("id"), splits, salt = "s1")
        .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = labels(docs)
    val b = labels(docs.repartition(13, col("text")))
    assert(a == b, "assignment is a pure function of the key — partitioning-invariant")
    assert(a.values.toSet == Set("train", "validation", "test"), "all bands hit")
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.75 && frac < 0.85, s"train fraction ~0.8, got $frac")
    val c = Sampling.assignSplit(docs, col("id"), splits, salt = "s2")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c, "a different salt redraws the assignment")
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(docs, col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("hash sampling is reproducible across partitionings and salts draw independently") {
    import graft.pipeline.Sampling
    val docs = (0L until 2000L).map(i => (i, s"s${i % 4}")).toDF("id", "src")
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    val a = ids(Sampling.hashSample(docs.repartition(7), col("id"), 0.3, salt = "x"))
    val b = ids(Sampling.hashSample(docs.repartition(3), col("id"), 0.3, salt = "x"))
    assert(a == b, "partitioning-independent selection")
    assert(math.abs(a.size - 600) < 120, s"~30% kept, got ${a.size}")
    val c = ids(Sampling.hashSample(docs, col("id"), 0.3, salt = "y"))
    assert(c != a, "different salt draws a different sample")
    val strat = Sampling.stratifiedHashSample(docs, col("id"), col("src"),
      rates = Map("s0" -> 1.0, "s1" -> 0.0), defaultRate = 0.5)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(strat("s0") == 500 && !strat.contains("s1"), "per-stratum rates applied")
  }

  test("exact-k sample: definitional sort equality, partition invariance, bounded-heap plan") {
    import graft.pipeline.Sampling
    import graft.functions.VectorFunctions
    val docs = spark.range(0L, 2000L).select(col("id"), (col("id") % 4).as("grp"))
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    // definitional semantics: the k smallest (gate, id) — mirror the gate
    // formula explicitly, pinning it against silent drift from the oracle
    val gate = pmod(VectorFunctions.polyHashNative(
      concat(col("id").cast("string"), lit("ev"))) * lit(2654435761L), lit(1000000L))
    val expected = ids(docs.orderBy(gate, col("id")).limit(150))
    val got = Sampling.exactKSample(docs, "id", k = 150, salt = "ev")
    assert(ids(got) == expected, "heap lowering must equal the definitional sort")
    assert(got.columns.toSeq == Seq("id", "grp"), "full input rows survive")
    assert(ids(Sampling.exactKSample(docs.repartition(7), "id", 150, "ev")) == expected,
      "partitioning-invariant draw")
    val redraw = ids(Sampling.exactKSample(docs, "id", 150, "ev2"))
    assert(redraw != expected, "a different salt redraws the sample")
    assert(ids(Sampling.exactKSample(docs, "id", 5000, "ev")) == ids(docs),
      "k beyond the corpus keeps every row")
    // plan: bounded-heap partial aggregation, no global Sort of the corpus
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.toLowerCase.contains("partial"),
      "map-side partial k-heaps present")
    assert(!plan.contains("Sort "), s"no corpus sort in the sample plan")
    intercept[IllegalArgumentException] {
      Sampling.exactKSample(docs.select(col("id").cast("string").as("id")), "id", 10)
    }
    // internal working names must not capture a caller's own __-columns
    val hostile = docs.withColumn("__kid0", lit(1))
    assert(ids(Sampling.exactKSample(hostile, "id", 150, "ev")) == expected,
      "a caller column named __kid0 must not break the semi-join")
  }

  test("per-stratum exact-k equals capPerKey's window draw; no rank window in the plan") {
    import graft.pipeline.Sampling
    val docs = spark.range(0L, 2000L)
      .select(col("id"), concat(lit("s"), (col("id") % 5).cast("string")).as("src"))
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "src").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // unique integral ids: the heap face must reproduce the window face
    // EXACTLY (same gate, same asc order, same id tiebreak)
    val window = keyset(Sampling.capPerKey(docs, col("src"), col("id"), 12, "c"))
    val heap = Sampling.exactKPerKey(docs, "src", "id", 12, "c")
    assert(keyset(heap) == window, "heap lowering diverged from the rank window")
    assert(keyset(Sampling.exactKPerKey(docs.repartition(7), "src", "id", 12, "c")) == window,
      "partitioning-invariant draw")
    val plan = heap.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.toLowerCase.contains("partial"),
      "map-side partial k-heaps present")
    assert(!plan.contains("Window"), "no rank window — a hot stratum must not serialize")
    // a stratum legitimately named 'score' (capPerKey accepts it) must not
    // trip topKPerKey's internal output-name constraints
    val scored = docs.withColumnRenamed("src", "score")
    assert(Sampling.exactKPerKey(scored, "score", "id", 12, "c")
      .select("id").collect().map(_.getLong(0)).toSet == window.map(_._1),
      "drop-in parity with capPerKey on a 'score'-named stratum")
  }

  test("temperature mixing flattens source shares toward uniform, deterministically") {
    import graft.pipeline.Sampling
    // 1600 big + 100 small: natural mix 94/6; alpha 0.5 should pull the
    // kept composition much closer to even
    val docs = ((0L until 1600L).map(i => (i, "big")) ++
      (10000L until 10100L).map(i => (i, "small"))).toDF("id", "src")
    def mix(d: org.apache.spark.sql.DataFrame) = Sampling
      .temperatureMix(d, col("id"), col("src"), alpha = 0.5, budgetRows = 400L, salt = "t")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = mix(docs)
    assert(m == mix(docs.repartition(7)), "partitioning-invariant selection")
    // tempered shares: sqrt(1600)=40, sqrt(100)=10 -> want 320 big / 80
    // small; small's rate caps below 1? 80/100 = 0.8 -> ~80 kept
    assert(math.abs(m("big") - 320) < 60, s"big ~320, got ${m("big")}")
    assert(math.abs(m("small") - 80) < 25, s"small ~80, got ${m("small")}")
    val smallShare = m("small").toDouble / (m("big") + m("small"))
    assert(smallShare > 0.12, s"small's share must rise well above 6%: $smallShare")
    // alpha = 1 reproduces the natural mix rates (p_s * budget / n_s is
    // uniform across sources)
    val nat = Sampling.temperatureMix(docs, col("id"), col("src"),
        alpha = 1.0, budgetRows = 400L, salt = "t")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val natShare = nat("small").toDouble / (nat("big") + nat("small"))
    assert(natShare < 0.1, s"alpha=1 keeps the natural composition: $natShare")
  }

  test("stratified gate: the map-literal lowering (>32 strata) matches per-stratum gating") {
    import graft.pipeline.Sampling
    val n = 50 // > LiteralStrataEntries: forces the map-literal face
    assert(n > Sampling.LiteralStrataEntries)
    val docs = ((0L until 2000L).map(i => (i, s"s${i % n}")) ++
      (9000L until 9100L).map(i => (i, null: String))).toDF("id", "src")
    val rates = (0 until n).map(j => s"s$j" -> (j % 11) / 10.0).toMap
    val got = Sampling.stratifiedHashSample(docs, col("id"), col("src"), rates,
        defaultRate = 0.25, salt = "z")
      .collect().map(_.getLong(0)).toSet
    // definitional semantics: each stratum gated independently at its own
    // rate (plain hashSample — no stratum table at all); NULL strata at
    // the default
    val expected = ((0 until n).flatMap { j =>
      Sampling.hashSample(docs.where(col("src") === s"s$j"), col("id"),
        rates(s"s$j"), "z").collect().map(_.getLong(0))
    } ++ Sampling.hashSample(docs.where(col("src").isNull), col("id"), 0.25, "z")
      .collect().map(_.getLong(0))).toSet
    assert(got == expected, "map-literal stratified gate diverged from per-stratum gates")
    assert(got.exists(_ >= 9000L), "NULL strata gate at the default rate")
  }

  test("stratified gate: matches are size-threshold-invariant for non-string strata") {
    import graft.pipeline.Sampling
    // an INT stratum column with string rate keys: both lowerings compare
    // on the stratum CAST TO STRING, so growing the table past the
    // literal threshold must never change which rows match
    val docs = (0L until 1200L).map(i => (i, (i % 6).toInt)).toDF("id", "src")
    val base = Map("3" -> 1.0, "4" -> 0.0)
    def kept(rates: Map[String, Double]): Set[Long] =
      Sampling.stratifiedHashSample(docs, col("id"), col("src"), rates,
          defaultRate = 0.5, salt = "ti")
        .collect().map(_.getLong(0)).toSet
    val small = kept(base)
    // pad with never-matching keys to force the hashed-lookup face
    val big = kept(base ++ (0 until 40).map(j => s"zz$j" -> 0.9))
    assert(small == big, "crossing the lowering threshold changed the sample")
    assert((0L until 1200L).filter(_ % 6 == 3).toSet.subsetOf(small),
      "stratum 3 (rate 1.0) keeps every row under the string-cast match")
    assert(!small.exists(_ % 6 == 4), "stratum 4 (rate 0.0) keeps none")
  }

  test("temperature mixing drops NULL-stratum rows and excludes them from the rate fold") {
    import graft.pipeline.Sampling
    val docs = ((0L until 800L).map(i => (i, "big")) ++
      (10000L until 10100L).map(i => (i, "small"))).toDF("id", "src")
    val withNulls = docs.unionByName(
      (20000L until 20300L).map(i => (i, null: String)).toDF("id", "src"))
    // must not NPE on the driver-side sort, and the null group must not
    // inflate the tempered normalizer: rates (hence survivors) identical
    // to the null-free corpus
    def mix(d: org.apache.spark.sql.DataFrame): Map[Long, String] = Sampling
      .temperatureMix(d, col("id"), col("src"), alpha = 0.5, budgetRows = 300L, salt = "n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = mix(withNulls)
    assert(m == mix(docs), "NULL strata perturb the rate table")
    assert(m.keys.forall(_ < 20000L), "a NULL-stratum row survived the gate")
  }

  test("temperature mixing rejects unbounded stratum cardinality by name, not driver OOM") {
    import graft.pipeline.Sampling
    val docs = spark.range(Sampling.MaxStrata + 1)
      .select(col("id"), col("id").cast("string").as("src"))
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureMix(docs, col("id"), col("src"),
        alpha = 0.5, budgetRows = 10L)
    }
    assert(e.getMessage.contains(s"cap ${Sampling.MaxStrata}"), e.getMessage)
  }

  test("weighted mixing repeats by floor(w) or ceil(w), reproducibly across partitionings") {
    import graft.pipeline.Sampling
    val docs = (0L until 2000L).map(i => (i, s"s${i % 4}")).toDF("id", "src")
    def mult(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weights = Map("s0" -> 2.5, "s1" -> 1.0, "s2" -> 0.4)
    val a = mult(Sampling.weightedMix(docs.repartition(7), col("id"), col("src"), weights))
    val b = mult(Sampling.weightedMix(docs.repartition(3), col("id"), col("src"), weights))
    assert(a == b, "partitioning-independent multiplicities")
    // every s0 row appears 2 or 3 times, s1 exactly once, s2 0-or-1,
    // default-weight (s3) rows never appear; realized total tracks E[w]
    val bySrc = (i: Long) => s"s${i % 4}"
    assert(a.forall { case (id, n) => bySrc(id) match {
      case "s0" => n == 2L || n == 3L
      case "s1" => n == 1L
      case "s2" => n == 1L // multiplicity 0 rows are simply absent
      case _    => false   // s3 should never be present
    }})
    val s0Total = a.collect { case (id, n) if bySrc(id) == "s0" => n }.sum
    assert(math.abs(s0Total - 1250L) < 120, s"~2.5x on 500 s0 rows, got $s0Total")
    assert(a.keys.count(bySrc(_) == "s2") > 120 && a.keys.count(bySrc(_) == "s2") < 280,
      "~40% of s2 rows present")
    // epoch indices are 0-based and contiguous per row
    val epochs = Sampling.weightedMix(docs, col("id"), col("src"), weights)
      .filter(col("src") === "s0").groupBy("id")
      .agg(min("epoch").as("mn"), max("epoch").as("mx"), count(lit(1)).as("n"))
      .collect()
    assert(epochs.forall(r => r.getLong(r.fieldIndex("mn")) == 0L &&
      r.getLong(r.fieldIndex("mx")) == r.getLong(r.fieldIndex("n")) - 1))
  }

  test("simhash pigeonhole banding finds exactly the all-pairs Hamming matches") {
    val docs = (0L until 40L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 31 + j * 7) % 9}").mkString(" ")
      (i, words)
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhashShingles(docs, "doc_id", "text", n = 2, bits = 16)
    val banded = Dedup.simhashPairs(sigs, "doc_id", bits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, "pigeonhole candidates = all-pairs truth (exact, not probabilistic)")
    assert(brute.nonEmpty, "fixture actually produces near pairs")
  }

  test("brute-force top-k ranks by cosine") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 0).select(col("vec_id").as("q_id"), col("embedding"))
    val out = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", "q_id", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toList.sortBy(_._2)
    assert(out.map(_._1) == List(1L, 2L), "nearest first, self excluded")
  }

  test("partial top-k matches exact top-k and stays in the row domain") {
    // 60 corpus vectors / 3 queries across many partitions exercises the
    // update, merge (partial->final), and tie paths of BoundedTopK
    val rnd = new scala.util.Random(7)
    val embs = (0L until 60L).map { i =>
      val a = rnd.nextDouble() * math.Pi * 2
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding").repartition(8)
    val q = embs.filter(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", "q_id", k = 5)
    val partial = Similarity.bruteForceTopKPartial(embs, q, "vec_id", "embedding", "q_id", k = 5)
    assert(key(partial) == key(exact), "bounded-heap aggregation = exact ranking")
    val plan = partial.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapElements"),
      "no typed-object barrier around the top-k aggregation")
    assert(plan.contains("ObjectHashAggregate") && plan.toLowerCase.contains("partial"),
      "map-side partial top-k present")
  }

  test("bm25Retrieve: single-query batch equals bm25TopK exactly, stopwords included") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the dog sleeps all day the dog dreams"),
      (2L, "a fox and a dog walked into a bar"),
      (3L, "completely unrelated text about spark joins"),
      (4L, "the the the the the"),
      (5L, "fox fox fox"),
      (6L, "")).toDF("doc_id", "text")
    for (terms <- Seq(Seq("fox", "dog"), Seq("the"), Seq("fox", "the", "bar"))) {
      val single = graft.pipeline.TextOps.bm25TopK(docs, "doc_id", "text", terms, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val qs = Seq((99L, terms.mkString(" "))).toDF("q_id", "q_text")
      val batch = graft.pipeline.TextOps.bm25Retrieve(
          docs, "doc_id", "text", qs, "q_id", "q_text", k = 5)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch == single,
        s"terms=$terms: batch $batch must equal single-query $single")
    }
    // a query with no indexed words returns no rows, not a failure
    val none = graft.pipeline.TextOps.bm25Retrieve(docs, "doc_id", "text",
      Seq((1L, "zzz absent"), (2L, "")).toDF("q_id", "q_text"),
      "q_id", "q_text", k = 5)
    assert(none.count() == 0)
    // the beyond-broadcast face (broadcastQueries = false, joins
    // planner-sized with broadcast disabled) returns identical rankings
    val qs2 = Seq((7L, "fox dog the"), (8L, "bar")).toDF("q_id", "q_text")
    def faces(bq: Boolean): Set[(Long, Long, Double, Long)] =
      graft.pipeline.TextOps.bm25Retrieve(docs, "doc_id", "text", qs2,
          "q_id", "q_text", k = 4, broadcastQueries = bq)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val viaBroadcast = faces(true)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(faces(false) == viaBroadcast,
      "shuffled query face must equal the broadcast face (ranks included)")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // output-name collisions are a named contract error
    val clash = intercept[IllegalArgumentException] {
      graft.pipeline.TextOps.bm25Retrieve(docs, "doc_id", "text",
        docs.select(col("doc_id"), col("text").as("q_text")),
        "doc_id", "q_text", k = 3)
    }
    assert(clash.getMessage.contains("qIdCol and idCol"))
  }

  test("canonicalUrl: case, default ports, fragments, tracking params, pass-through") {
    val cases = Seq(
      "HTTPS://WWW.Example.COM:443/A/B?x=1#frag" -> "https://www.example.com/A/B?x=1",
      "http://Host.com:80/" -> "http://host.com/",
      "http://host.com:8080/p" -> "http://host.com:8080/p", // non-default port kept
      "https://h.com/p?utm_source=a&utm_medium=b" -> "https://h.com/p",
      "https://h.com/p?UTM_Source=a&Fbclid=b" -> "https://h.com/p", // names case-insensitive
      "https://h.com/p?gclid=1&q=2&utm_campaign=3" -> "https://h.com/p?q=2",
      "https://h.com/p?a=1&fbclid=xyz&b=2" -> "https://h.com/p?a=1&b=2",
      "https://h.com/Case/Sensitive" -> "https://h.com/Case/Sensitive",
      // '&' is a legal PATH sub-delimiter: the strip must never touch it
      "https://h.com/a&utm_b=1/x" -> "https://h.com/a&utm_b=1/x",
      "https://h.com/a&&b" -> "https://h.com/a&&b",
      // userinfo is case-sensitive; only the host lowercases
      "https://UserA@Host.COM/p" -> "https://UserA@host.com/p",
      // VALUELESS tracking params (common in crawls) strip too — alone,
      // in runs, mixed with valued ones, leading and trailing
      "https://h.com/p?fbclid&q=1" -> "https://h.com/p?q=1",
      "https://h.com/p?a=1&UTM_x&fbclid" -> "https://h.com/p?a=1",
      "https://h.com/p?fbclid&gclid&q=1" -> "https://h.com/p?q=1",
      "https://h.com/p?q=1&fbclid&r=2&gclid=3" -> "https://h.com/p?q=1&r=2",
      "https://h.com/p?fbclid" -> "https://h.com/p",
      // a PREFIX of a tracking name is a genuine param — never stripped
      "https://h.com/p?fbclidX=1&q=2" -> "https://h.com/p?fbclidX=1&q=2",
      "https://h.com/p?fbclidX&q=2" -> "https://h.com/p?fbclidX&q=2",
      // protocol-relative: effective scheme unknown -> passthrough (doc'd)
      "//Host.com/Path?utm_source=x" -> "//Host.com/Path?utm_source=x",
      "not a url at all" -> "not a url at all")
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), graft.pipeline.TextOps.canonicalUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"canonicalUrl($in)") }
  }

  test("multimodal frame sampling slices the payload without decoding") {
    val df = Multimodal.withFakeMedia(Seq((1L, "abcdefgh")).toDF("id", "text"), "text")
    val frames = Multimodal.frameSample(df, 4).select("frames")
      .collect().head.getSeq[Array[Byte]](0)
    assert(frames.map(new String(_, "UTF-8")).mkString == "abcdefgh",
      "frames tile the payload")
  }

  test("multimodal resize resamples the payload and updates metadata") {
    val df = Multimodal.withFakeMedia(Seq((1L, "abcdefgh")).toDF("id", "text"), "text")
    val out = Multimodal.resizeStub(df, w = 2, h = 2).select("media", "media_meta").collect().head
    assert(new String(out.getAs[Array[Byte]](0), "UTF-8") == "aceg",
      "nearest-neighbor stride over the payload")
    val meta = out.getStruct(1)
    assert(meta.getInt(1) == 2 && meta.getInt(2) == 2, "meta reflects target dims")
  }

  test("multimodal decode stub is partition-parallel and deterministic") {
    val df = Multimodal.withFakeMedia(
      Seq((1L, "aa"), (2L, "zzzz")).toDF("id", "text").repartition(2), "text")
    val out = Multimodal.decodeBatched(df, "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(out == Set((1L, 2, 97.0), (2L, 4, 122.0)))
  }

  test("multimodal image decode: real PNG pixels through the batched codec slot") {
    // generate genuine PNGs in memory with java.awt + javax.imageio (both
    // ship in the JDK): a 4x3 solid mid-gray and a 2x2 black/white checker
    val gray = png(4, 3, (_, _) => 0x808080) // luma = 128 everywhere
    val checker = png(2, 2, (x, y) => if ((x + y) % 2 == 0) 0x000000 else 0xffffff)
    val notAnImage = "plain text bytes".getBytes("UTF-8")
    val rows = Seq(
      (1L, gray, "image/png"), (2L, checker, "image/png"),
      (3L, notAnImage, "text/plain"), // non-image format: fallback path
      (4L, notAnImage, "image/png"),  // declared image but undecodable
      (5L, null, "image/png"))        // null payload: fallback, never an NPE
    val df = spark.createDataFrame(rows.map { case (id, b, f) =>
      org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row(f, null, null, null)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
      .repartition(2)
    val out = Multimodal.decodeImageBatched(df, "id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(2) && out(1L).getInt(3) == 4 && out(1L).getInt(4) == 3)
    assert(math.abs(out(1L).getDouble(5) - 128.0) < 0.5, "solid gray luma ~128")
    assert(out(2L).getBoolean(2) && out(2L).getInt(3) == 2 && out(2L).getInt(4) == 2)
    assert(math.abs(out(2L).getDouble(5) - 127.5) < 0.5, "checker luma ~127.5")
    assert(!out(3L).getBoolean(2) && out(3L).isNullAt(3),
      "non-image format takes the byte-stats fallback")
    assert(!out(4L).getBoolean(2),
      "undecodable bytes degrade to fallback instead of failing the task")
    assert(out(3L).isNullAt(5) && out(3L).getDouble(6) > 0,
      "fallback mean_byte lives in its own column — never in mean_luma")
    assert(out(1L).isNullAt(6), "decoded rows carry no byte-stats stand-in")
    assert(!out(5L).getBoolean(2) && out(5L).isNullAt(1) &&
      out(5L).isNullAt(5) && out(5L).isNullAt(6),
      "null media degrades to fallback with null byte stats, never an NPE")
  }

  test("multimodal image resize: real nearest-neighbor pixels, pass-through degradation") {
    // a 4x2 left-black/right-white split image: downsize to 2x1 samples
    // source pixels (0,0) and (2,0) -> one black, one white target pixel
    val split = png(4, 2, (x, _) => if (x < 2) 0x000000 else 0xffffff)
    val notImage = "plain text bytes".getBytes("UTF-8")
    val rows = Seq(
      (1L, split, "image/png"),
      (2L, notImage, "text/plain"),  // non-image: pass through unchanged
      (3L, notImage, "image/png"),   // undecodable: pass through unchanged
      (4L, null, "image/png"))       // null payload: pass through, no NPE
    val df = spark.createDataFrame(rows.map { case (id, b, f) =>
      org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row(f, null, null, null)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
      .repartition(2)
    val out = Multimodal.resizeImageBatched(df, "id", 2, 1).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3), "decodable image resizes")
    val meta = out(1L).getStruct(2)
    assert(meta.getString(0) == "image/png" && meta.getInt(1) == 2 && meta.getInt(2) == 1)
    // decode the resized payload: 2x1, pixels black + white -> mean 127.5
    val dec = Multimodal.decodeImageBatched(
      Multimodal.resizeImageBatched(df.filter($"id" === 1L), "id", 2, 1), "id")
      .collect().head
    assert(dec.getBoolean(2) && dec.getInt(3) == 2 && dec.getInt(4) == 1)
    assert(math.abs(dec.getDouble(5) - 127.5) < 1e-9,
      "nearest-neighbor samples source (0,0) and (2,0) exactly")
    // upsizing repeats pixels: 4x2 -> 8x2 keeps the 50/50 split
    val up = Multimodal.decodeImageBatched(
      Multimodal.resizeImageBatched(df.filter($"id" === 1L), "id", 8, 2), "id")
      .collect().head
    assert(up.getInt(3) == 8 && math.abs(up.getDouble(5) - 127.5) < 1e-9)
    assert(!out(2L).getBoolean(3) &&
      java.util.Arrays.equals(out(2L).getAs[Array[Byte]](1), notImage),
      "non-image payloads pass through byte-identical")
    assert(!out(3L).getBoolean(3), "undecodable bytes pass through, never fail the task")
    assert(!out(4L).getBoolean(3) && out(4L).isNullAt(1),
      "null media passes through as null, never an NPE")
    intercept[IllegalArgumentException] {
      Multimodal.resizeImageBatched(df, "id", 0, 5)
    }
  }

  test("multimodal audio decode: real WAV PCM through the batched codec slot") {
    // generate genuine WAV containers in memory with javax.sound.sampled
    // (ships in the JDK): a full-half-scale square wave (rms exactly 0.5)
    // and a 440 Hz sine at half scale (rms ~ 0.5/sqrt(2))
    def wav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val square = wav(8000, Array.tabulate(800)(i =>
      if (i % 2 == 0) 16384.toShort else (-16384).toShort))
    val sine = wav(16000, Array.tabulate(16000)(i =>
      (16384 * math.sin(2 * math.Pi * 440 * i / 16000)).toShort))
    val notAudio = "plain text bytes".getBytes("UTF-8")
    val rows = Seq(
      (1L, square, "audio/wav"), (2L, sine, "audio/wav"),
      (3L, notAudio, "text/plain"), // non-audio format: fallback path
      (4L, notAudio, "audio/wav"),  // declared audio but undecodable
      (5L, null, "audio/wav"))      // null payload: fallback, never an NPE
    val df = spark.createDataFrame(rows.map { case (id, b, f) =>
      org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row(f, null, null, null)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
      .repartition(2)
    val out = Multimodal.decodeAudioBatched(df, "id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(2) && out(1L).getInt(3) == 8000 && out(1L).getInt(4) == 1)
    assert(out(1L).getLong(5) == 800, "true per-channel sample count from the container")
    assert(math.abs(out(1L).getDouble(6) - 0.1) < 1e-9, "duration = 800 / 8000 Hz")
    assert(math.abs(out(1L).getDouble(7) - 0.5) < 1e-6, "half-scale square rms = 0.5")
    assert(out(2L).getBoolean(2) && out(2L).getInt(3) == 16000)
    assert(math.abs(out(2L).getDouble(7) - 0.5 / math.sqrt(2)) < 0.01,
      "half-scale sine rms ~ 0.3536")
    assert(!out(3L).getBoolean(2) && out(3L).isNullAt(7),
      "non-audio format takes the byte-stats fallback")
    assert(!out(4L).getBoolean(2),
      "undecodable bytes degrade to fallback instead of failing the task")
    assert(out(3L).getDouble(8) > 0, "fallback mean_byte populated")
    assert(!out(5L).getBoolean(2) && out(5L).isNullAt(1) && out(5L).isNullAt(8),
      "null media degrades to fallback with null byte stats, never an NPE")
  }

  test("multimodal audio resample: explicit nearest-frame kernel, pass-through degradation") {
    import spark.implicits._
    // synthesized 8 kHz mono WAV: resample to 4 kHz keeps every 2nd frame,
    // so the decoded RMS equals the even-sample closed form
    val media = Multimodal.synthesizeAudio(
      Seq(Tuple1(9L)).toDF("id").select($"id".cast("long").as("id")), "id", 400, 8000)
    val dec = Multimodal.decodeAudioBatched(
      Multimodal.resampleAudioBatched(media, "id", 4000), "id").collect().head
    assert(dec.getBoolean(2) && dec.getInt(3) == 4000 && dec.getInt(4) == 1)
    assert(dec.getLong(5) == 200, "half the frames survive an 8k->4k resample")
    val expect = math.sqrt((0 until 200).map { i =>
      val s = (((9L * 131 + (2 * i) * 17) % 2000) + 2000) % 2000 - 1000
      val v = s / 32768.0; v * v
    }.sum / 200)
    assert(math.abs(dec.getDouble(7) - expect) < 1e-12,
      "resampled RMS equals the even-sample closed form")
    // upsample 8k->16k repeats frames: RMS unchanged, count doubled
    val up = Multimodal.decodeAudioBatched(
      Multimodal.resampleAudioBatched(media, "id", 16000), "id").collect().head
    assert(up.getInt(3) == 16000 && up.getLong(5) == 800)
    // non-audio / undecodable / null payloads pass through unchanged
    val notAudio = "plain text bytes".getBytes("UTF-8")
    val rows = Seq((1L, notAudio, "text/plain"), (2L, notAudio, "audio/wav"),
      (3L, null, "audio/wav"))
    val df = spark.createDataFrame(rows.map { case (id, b, f) =>
      org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row(f, null, null, null)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
    val out = Multimodal.resampleAudioBatched(df, "id", 4000).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(3) &&
      java.util.Arrays.equals(out(1L).getAs[Array[Byte]](1), notAudio),
      "non-audio payloads pass through byte-identical")
    assert(!out(2L).getBoolean(3), "undecodable bytes pass through, never fail the task")
    assert(!out(3L).getBoolean(3) && out(3L).isNullAt(1),
      "null media passes through as null, never an NPE")
    intercept[IllegalArgumentException] {
      Multimodal.resampleAudioBatched(df, "id", 0)
    }
    // untrusted header rate: a 1 Hz container resampled upward would need
    // a multi-hundred-MB buffer — over MaxPcmBytes it passes through
    // instead of OOMing or wrapping the frame count
    val slow = Multimodal.synthesizeAudio(
      Seq(Tuple1(1L)).toDF("id").select($"id".cast("long").as("id")), "id", 400, 1)
    val guarded = Multimodal.resampleAudioBatched(slow, "id", 400000).collect().head
    assert(!guarded.getBoolean(3), "over-cap PCM bound degrades to pass-through")
  }

  test("multimodal video decode: real multi-frame GIF with temporal sampling") {
    // hand-build a 3-frame animated GIF of 2x2 solid grays 10, 200, 60
    // (RGB gray — the writer derives an exact palette; solid tiny frames
    // round-trip, unlike varied ones: see synthesizeVideos' >=8x8 guard);
    // every=2 samples frames {0, 2} -> mean luma exactly (10+60)/2 = 35
    def gif(frameGrays: Seq[Int], w: Int, h: Int): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameGrays.foreach { g =>
        val im = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, (g << 16) | (g << 8) | g)
        writer.writeToSequence(new javax.imageio.IIOImage(im, null, null), null)
      }
      writer.endWriteSequence()
      ios.flush(); ios.close(); writer.dispose()
      baos.toByteArray
    }
    val anim = gif(Seq(10, 200, 60), 2, 2)
    val notVideo = "plain text bytes".getBytes("UTF-8")
    // single-frame container labeled video/*: a 3x2 solid gray-90 PNG —
    // must decode as a 1-frame video (format-name dispatch, not a GIF
    // metadata exception turning into a silent fallback)
    val stillPng = png(3, 2, (_, _) => 0x5A5A5A)
    // valid GIF whose LogicalScreenDescriptor is patched to claim
    // 50000x50000 (2.5e9 px, over MaxCanvasPixels): the decoder must
    // refuse to allocate the canvas and degrade, not OOM the task. GIF
    // has no header checksum, so the patch leaves the container parseable
    // (bytes 6..9 are the little-endian 16-bit screen width/height).
    val hugeLsd = {
      val b = gif(Seq(100), 8, 8).clone()
      b(6) = 0x50.toByte; b(7) = 0xC3.toByte // 50000 LE
      b(8) = 0x50.toByte; b(9) = 0xC3.toByte
      b
    }
    val rows = Seq(
      (1L, anim, "video/gif"),
      (2L, notVideo, "text/plain"), // non-video format: fallback path
      (3L, notVideo, "video/gif"),  // declared video but undecodable
      (4L, null, "video/gif"),      // null payload: fallback, never an NPE
      (5L, deltaGif(), "video/gif"),
      (6L, stillPng, "video/png"),
      (7L, hugeLsd, "video/gif"))
    val df = spark.createDataFrame(rows.map { case (id, b, f) =>
      org.apache.spark.sql.Row(id, b, org.apache.spark.sql.Row(f, null, null, null)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
      .repartition(2)
    val out = Multimodal.decodeVideoBatched(df, "id", every = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(2) && out(1L).getInt(3) == 2 && out(1L).getInt(4) == 2)
    assert(out(1L).getInt(5) == 3, "container frame count from the reader scan")
    assert(out(1L).getInt(6) == 2, "every=2 over 3 frames samples frames 0 and 2")
    assert(math.abs(out(1L).getDouble(7) - 35.0) < 1e-9,
      "sampled-frame luma = (10+60)/2, skipped frame 1 (gray 200) untouched")
    assert(!out(2L).getBoolean(2) && out(2L).isNullAt(7),
      "non-video format takes the byte-stats fallback")
    assert(!out(3L).getBoolean(2),
      "undecodable bytes degrade to fallback instead of failing the task")
    assert(out(2L).getDouble(8) > 0, "fallback mean_byte populated")
    assert(!out(4L).getBoolean(2) && out(4L).isNullAt(1) && out(4L).isNullAt(8),
      "null media degrades to fallback with null byte stats, never an NPE")
    val delta = out(5L)
    assert(delta.getBoolean(2) && delta.getInt(3) == 8 && delta.getInt(4) == 8,
      "dims are the logical screen, not the delta frame's sub-rect")
    assert(delta.getInt(5) == 2 && delta.getInt(6) == 1,
      "every=2 over 2 frames samples frame 0 only")
    assert(math.abs(delta.getDouble(7) - 100.0) < 1e-9,
      "sampled frame 0 luma unaffected by the later delta frame")
    val deltaAll = Multimodal.decodeVideoBatched(
      df.filter($"id" === 5L), "id", every = 1).collect().head
    assert(deltaAll.getInt(6) == 2)
    assert(math.abs(deltaAll.getDouble(7) - (100.0 + (60 * 100.0 + 4 * 200.0) / 64) / 2) < 1e-9,
      "frame 1 composites its 2x2 patch onto the frame-0 canvas")
    val still = out(6L)
    assert(still.getBoolean(2) && still.getInt(3) == 3 && still.getInt(4) == 2,
      "a single-frame container labeled video/* decodes via format-name dispatch")
    assert(still.getInt(5) == 1 && still.getInt(6) == 1,
      "still image = 1 frame, frame 0 sampled")
    assert(math.abs(still.getDouble(7) - 90.0) < 1e-9, "solid gray-90 luma")
    assert(!out(7L).getBoolean(2) && out(7L).getDouble(8) > 0,
      "an over-cap header claim degrades to the byte-stats fallback, never an OOM")
    // synthesizer round-trip: decode every frame of a generated payload and
    // check the closed form the q_decode_video oracle mirrors
    val media = Multimodal.synthesizeVideos(
      Seq(Tuple1(7L)).toDF("id").select($"id".cast("long").as("id")), "id", 8, 8, 2)
    val dec = Multimodal.decodeVideoBatched(media, "id", every = 1).collect().head
    val expect = (for (f <- 0 until 2; y <- 0 until 8; x <- 0 until 8) yield {
      val v = (((7L * 31 + f * 97 + x * 7 + y * 13) % 256) + 256) % 256
      0.299 * v + 0.587 * v + 0.114 * v
    }).sum / 128
    assert(dec.getInt(5) == 2 && dec.getInt(6) == 2)
    assert(math.abs(dec.getDouble(7) - expect) < 1e-9,
      "GIF palette round-trips the pixel formula bit-exactly")
  }

  test("multimodal frame extraction: exploded PNGs are composited canvases") {
    import spark.implicits._
    // synthesizer round-trip: 2 frames explode to 2 PNG rows whose decoded
    // luminance matches the per-frame closed form
    val media = Multimodal.synthesizeVideos(
      Seq(Tuple1(3L)).toDF("id").select($"id".cast("long").as("id")), "id", 8, 8, 2)
    val frames = Multimodal.explodeFramesBatched(media, "id", every = 1)
    val decoded = Multimodal.decodeImageBatched(
        frames.select((col("id") * 10 + col("frame_idx")).as("fid"),
          col("media"), col("media_meta")), "fid")
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    for (f <- 0 until 2) {
      val expect = (for (y <- 0 until 8; x <- 0 until 8) yield {
        val v = (((3L * 31 + f * 97 + x * 7 + y * 13) % 256) + 256) % 256
        0.299 * v + 0.587 * v + 0.114 * v
      }).sum / 64
      assert(math.abs(decoded(30L + f) - expect) < 1e-9,
        s"frame $f PNG round-trips the pixel formula")
    }
    // delta-optimized GIF (shared deltaGif: frame 1 = 2x2 patch at (1,1)
    // on an 8x8 base): the EXPLODED frame 1 must be the composited
    // canvas, not the patch
    val deltaDf = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(7L, deltaGif(),
        org.apache.spark.sql.Row("video/gif", null, null, null))).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("media_meta", Multimodal.MediaMetaType))))
    val out = Multimodal.explodeFramesBatched(deltaDf, "id", every = 1).collect()
      .map(r => r.getInt(1) -> r).toMap
    assert(out.keySet == Set(0, 1), "both frames explode")
    assert(out(1).getStruct(3).getInt(1) == 8 && out(1).getStruct(3).getInt(2) == 8,
      "exploded delta frame has logical-screen dims")
    val im1 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1).getAs[Array[Byte]](2)))
    assert((im1.getRGB(0, 0) & 0xffffff) == 0x646464,
      "outside the patch the frame-0 base shows through (composited)")
    assert((im1.getRGB(1, 1) & 0xffffff) == 0xC8C8C8, "the patch is applied")
    // non-video payloads produce no rows (explode semantics)
    val none = Multimodal.explodeFramesBatched(
      deltaDf.withColumn("media_meta",
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.lit("text/plain").as("format"),
          org.apache.spark.sql.functions.lit(null).cast("int").as("width"),
          org.apache.spark.sql.functions.lit(null).cast("int").as("height"),
          org.apache.spark.sql.functions.lit(null).cast("int").as("n_frames"))),
      "id", every = 1)
    assert(none.count() == 0, "non-video payloads explode to zero rows")
  }

  test("windowed join state stays bounded on a hot key") {
    // one hot key with 10k rights before each left — the ring-buffer window
    // aggregate keeps n=3 elements of state, never the full right history
    val lefts = new MStream(
      Seq((1L, "hot", 5000L), (2L, "hot", 10001L)).toDF("id", "k", "t"), Seq("t", "id"))
    val rights = new MStream(
      (1L to 10000L).map(i => (100L + i, "hot", i, i.toDouble))
        .toDF("rid", "rk", "rt", "rv"), Seq("rt", "rid"))
    val joined = lefts.leftJoinWindow(rights, 3).on((l, r) => l("k") === r("rk"))
      .select((l, rwin) => Seq(l("id").as("id"),
        expr("transform(_rwin, r -> r.rid)").as("rids")))
    val plan = joined.df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bounded_last3"), "bounded window aggregate in the plan")
    assert(!plan.contains("collect_list"), "no unbounded running list")
    val out = joined.df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    // left (t=5000, id=1) sorts before the rt=5000 right on the second
    // order column, so its window is rights rt=1..4999
    assert(out(1L) == List(100L + 4997, 100L + 4998, 100L + 4999))
    assert(out(2L) == List(100L + 9998, 100L + 9999, 100L + 10000))
  }

  test("left-inner residual matches across all search rounds on a hot key") {
    // three waiting lefts on one hot key whose first satisfying right is
    // 5 / 100 / 800 rights ahead — exercising the 16-round, the 512-round,
    // and the chunked remainder loop of the bucketed search; plus one that
    // never matches (no output)
    val lefts = new MStream(
      Seq((1L, "hot", 10L, 5.0), (2L, "hot", 20L, 100.0),
          (3L, "hot", 30L, 800.0), (4L, "hot", 40L, 99999.0))
        .toDF("id", "k", "t", "need"), Seq("t", "id"))
    // rights arrive after every left (rt > 40); the i-th right has rv=i
    val rights = new MStream(
      (1L to 1000L).map(i => (2000L + i, "hot", 100L + i, i.toDouble))
        .toDF("rid", "rk", "rt", "rv"), Seq("rt", "rid"))
    val out = lefts.leftInnerJoin(rights)
      .on((l, r) => l("k") === r("rk") && r("rv") >= l("need"))
      .select((l, r) => Seq(l("id").as("id"), r("rid").as("rid")))
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2005L), (2L, 2100L), (3L, 2800L)))
  }

  test("left-inner residual remainder runs in bounded chunks: adversarial hot key terminates with the same answers") {
    // shrink the remainder chunk so the loop genuinely iterates: a match
    // 800 rights out needs ceil((800-512)/100) = 3 bounded rounds, and the
    // never-matching lefts must leave the loop once their key's 1000
    // rights are exhausted — under the old unbounded final round they
    // joined every farther right in one task
    val prev = spark.conf.getOption("graft.join.residualChunk")
    spark.conf.set("graft.join.residualChunk", "100")
    try {
      val lefts = new MStream(
        Seq((1L, "hot", 10L, 800.0), (2L, "hot", 20L, 99999.0),
            (3L, "hot", 30L, 99999.0), (4L, "cold", 40L, 1.0))
          .toDF("id", "k", "t", "need"), Seq("t", "id"))
      val rights = new MStream(
        (1L to 1000L).map(i => (2000L + i, "hot", 100L + i, i.toDouble))
          .toDF("rid", "rk", "rt", "rv"), Seq("rt", "rid"))
      val out = lefts.leftInnerJoin(rights)
        .on((l, r) => l("k") === r("rk") && r("rv") >= l("need"))
        .select((l, r) => Seq(l("id").as("id"), r("rid").as("rid")))
        .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // id=1 matches 800 rights out; ids 2-3 never match (emit nothing);
      // id=4's key has no rights at all (emit nothing)
      assert(out == Set((1L, 2800L)))
    } finally prev match {
      case Some(v) => spark.conf.set("graft.join.residualChunk", v)
      case None => spark.conf.unset("graft.join.residualChunk")
    }
  }

  test("minhash LSH recall/precision vs exhaustive ground truth on the real corpus") {
    // quantitative trust in the scale path: ground truth = exact jaccard
    // over ALL pairs of the sf0.001 corpus; the banded pipeline must find
    // nearly every true pair (16 hashes / 8 bands at t=0.8 gives
    // P(candidate) ~ 1-(1-s^2)^8 ~ 0.9997 at s=0.8) and, because every
    // candidate is exactly verified, report NO false positives
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").df
    val hashed = sort_array(array_distinct(
      graft.functions.VectorFunctions.wordShingleHashes(col("text"), 3)))
    val sets = docs.select(col("doc_id"), hashed.as("__sh"))
      .filter(size(col("__sh")) >= 1)
    val truth = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        graft.functions.VectorFunctions.jaccardSorted(col("a.__sh"), col("b.__sh")).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture sanity: the corpus contains true near-dup pairs")
    val found = Dedup.minhashNearDup(docs, "doc_id", "text", k = 16, bands = 8, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((found -- truth).isEmpty,
      s"precision must be exact (verified candidates): false positives ${found -- truth}")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.95,
      s"LSH recall $recall below 0.95: missed ${truth -- found}")
  }

  test("triangle-tiled block jaccard equals naive all-pairs (no dup, no miss)") {
    val docs = (1L to 60L).map { i =>
      val block = if (i <= 45) "big" else "small" // skewed blocks
      (i, block, s"document number $i talks about topic ${i % 5} and subject ${i % 3}")
    }.toDF("doc_id", "src", "text")
    // tiny comparisonsPerTask forces real tiling (G=12 for the big block);
    // threshold 0 keeps every pair, so coverage mismatches can't hide
    val tiled = Dedup.ngramJaccardWithinBlocks(docs, "doc_id", "text", "src",
        n = 3, threshold = 0.0, comparisonsPerTask = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList.sorted
    val hashed = sort_array(array_distinct(
      graft.functions.VectorFunctions.charShingleHashes(col("text"), 3)))
    val sets = docs.select(col("src"), col("doc_id"), hashed.as("__sh"))
    val naive = sets.as("a").join(sets.as("b"),
        col("a.src") === col("b.src") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(graft.functions.VectorFunctions.jaccardSorted(col("a.__sh"), col("b.__sh")), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList.sorted
    assert(naive.size == 45 * 44 / 2 + 15 * 14 / 2)
    assert(tiled == naive)
  }

  test("multimodal native byteFeatures equals the batched codec path") {
    // a null-media row rides along: both paths must yield null
    // byte_len/mean_byte for it (null-safe native functions on one side,
    // the explicit null-payload branch on the other)
    val df = Multimodal.withFakeMedia(
        Seq((1L, "hello world"), (2L, ""), (3L, "Zz!")).toDF("id", "text"), "text")
      .withColumn("media",
        when(col("id") === 2L, lit(null).cast("binary")).otherwise(col("media")))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getInt(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getString(3))).toSet
    val got = rows(Multimodal.decodeBatched(df, "id"))
    assert(rows(Multimodal.byteFeatures(df, "id")) == got)
    assert(got.exists { case (id, len, mean, _) => id == 2L && len == null && mean == null },
      "null payload round-trips the encoder with null byte stats")
  }

  test("bucketized range join equals naive all-pairs filter; plan is an equi-join") {
    import graft.operators.RangeJoins
    val rnd = new scala.util.Random(7)
    // points and intervals spanning cell boundaries, incl. negative values,
    // empty intervals, and intervals longer than several cells
    val pts = (1 to 200).map(_ => rnd.nextLong(2000) - 500).toDF("pt")
    val ivs = (1 to 60).map { i =>
      val s = rnd.nextLong(2000) - 600
      (i.toLong, s, s + rnd.nextLong(300) - 20) // some e < s -> empty
    }.toDF("iv_id", "s", "e")
    val got = RangeJoins.pointInInterval(pts, "pt", ivs, "s", "e", bucketWidth = 64)
    val naive = pts.crossJoin(ivs)
      .filter(col("pt") >= col("s") && col("pt") <= col("e"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("pt", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(key(got) == key(naive), "bucketized join = exact range semantics, no dup/miss")
    assert(!got.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "the range predicate must not plan as a nested-loop join")
  }

  test("as-of join equals naive per-left argmax; plan is one window, no join node") {
    import graft.operators.AsofJoins
    val rnd = new scala.util.Random(11)
    // small ts domain forces timestamp ties -> exercises the tie-break
    val lRows = (1 to 300).map(i => (i.toLong, rnd.nextInt(8).toLong, rnd.nextLong(500)))
    val rRows = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextLong(500), rnd.nextInt(50).toDouble))
    val lefts = lRows.toDF("l_id", "l_k", "l_ts")
    val rights = rRows.toDF("r_id", "r_k", "r_ts", "r_v")
    val tol = 60L
    val got = AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id"), tolerance = Some(tol))
    val gotPairs = got.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val expected = lRows.map { case (lid, lk, lts) =>
      val best = rRows.filter(r => r._2 == lk && r._3 <= lts && r._3 >= lts - tol)
        .sortBy(r => (r._3, r._1)).lastOption
      (lid, best.map(_._1).getOrElse(-1L))
    }.toSet
    assert(gotPairs == expected, "as-of = latest right within tolerance, (ts, id) tie-break")
    assert(got.count() == 300L, "left as-of keeps every left row")
    val inner = AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id"), tolerance = Some(tol), inner = true)
    assert(inner.count() == expected.count(_._2 >= 0L).toLong)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "as-of must lower to union+window, never a join")
    intercept[IllegalArgumentException] { // disjoint-name guard
      AsofJoins.asofBackward(lefts, "l_ts", lefts, "l_ts", Seq("l_k" -> "l_k"), Seq("l_id"))
    }
  }

  test("forward as-of equals naive per-left argmin; first-wins ties") {
    import graft.operators.AsofJoins
    val rnd = new scala.util.Random(13)
    val lRows = (1 to 300).map(i => (i.toLong, rnd.nextInt(8).toLong, rnd.nextLong(500)))
    val rRows = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextLong(500), rnd.nextInt(50).toDouble))
    val lefts = lRows.toDF("l_id", "l_k", "l_ts")
    val rights = rRows.toDF("r_id", "r_k", "r_ts", "r_v")
    val tol = 60L
    val got = AsofJoins.asofForward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id"), tolerance = Some(tol))
    val gotPairs = got.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val expected = lRows.map { case (lid, lk, lts) =>
      val best = rRows.filter(r => r._2 == lk && r._3 >= lts && r._3 <= lts + tol)
        .sortBy(r => (r._3, r._1)).headOption
      (lid, best.map(_._1).getOrElse(-1L))
    }.toSet
    assert(gotPairs == expected, "forward as-of = earliest right within tolerance, first-wins")
    assert(!got.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("as-of drops null-timestamp rights instead of matching them as oldest") {
    import graft.operators.AsofJoins
    val lefts = Seq((1L, 1L, 10L)).toDF("l_id", "l_k", "l_ts")
    val rights = Seq((1L, 1L, Option.empty[Long], 1.0), (2L, 1L, Some(50L), 2.0))
      .toDF("r_id", "r_k", "r_ts", "r_v")
    // the only right at-or-before t10 is the null-ts one, which must NOT
    // masquerade as "oldest" — the left emits unmatched
    val got = AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id")).collect()
    assert(got.length == 1 && got(0).isNullAt(got(0).fieldIndex("r_id")))
  }

  test("null-timestamp lefts emit unmatched in BOTH directions, with or without tolerance") {
    import graft.operators.AsofJoins
    val lefts = Seq((1L, 1L, Option.empty[Long]), (2L, 1L, Some(10L)))
      .toDF("l_id", "l_k", "l_ts")
    val rights = Seq((1L, 1L, 5L, 1.0), (2L, 1L, 20L, 2.0))
      .toDF("r_id", "r_k", "r_ts", "r_v")
    // forward + no tolerance is the trap case: a nulls-FIRST sort would put
    // every right in the null-ts left's forward frame and match r1
    for (tol <- Seq(Option.empty[Long], Some(100L)); fwd <- Seq(false, true)) {
      val got = (if (fwd)
          AsofJoins.asofForward(lefts, "l_ts", rights, "r_ts",
            Seq("l_k" -> "r_k"), Seq("r_id"), tol)
        else
          AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
            Seq("l_k" -> "r_k"), Seq("r_id"), tol))
        .select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      val expectReal = if (fwd) 2L else 1L
      assert(got == Set((1L, -1L), (2L, expectReal)),
        s"fwd=$fwd tol=$tol: null-ts left unmatched, real left matches r$expectReal")
    }
  }

  test("as-of with a composite key matches per-(k1,k2) naive; MStream batch dispatch covers both directions") {
    import graft.operators.AsofJoins
    val rnd = new scala.util.Random(17)
    val lRows = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(3).toLong, rnd.nextLong(300)))
    val rRows = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(3).toLong, rnd.nextLong(300)))
    val lefts = lRows.toDF("l_id", "l_k1", "l_k2", "l_ts")
    val rights = rRows.toDF("r_id", "r_k1", "r_k2", "r_ts")
    val keys = Seq("l_k1" -> "r_k1", "l_k2" -> "r_k2")
    def naive(fwd: Boolean) = lRows.map { case (lid, k1, k2, lts) =>
      val cands = rRows.filter(r => r._2 == k1 && r._3 == k2 &&
        (if (fwd) r._4 >= lts else r._4 <= lts))
      val best =
        if (fwd) cands.sortBy(r => (r._4, r._1)).headOption
        else cands.sortBy(r => (r._4, r._1)).lastOption
      (lid, best.map(_._1).getOrElse(-1L))
    }.toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(pairs(AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts", keys, Seq("r_id")))
      == naive(fwd = false), "composite-key backward")
    assert(pairs(AsofJoins.asofForward(lefts, "l_ts", rights, "r_ts", keys, Seq("r_id")))
      == naive(fwd = true), "composite-key forward")
    // the MStream batch dispatch reaches the same lowerings
    val lm = new graft.api.MStream(lefts, Seq("l_ts"))
    val rm = new graft.api.MStream(rights, Seq("r_ts"))
    assert(pairs(lm.asofJoin(rm, "l_ts", "r_ts", keys, Seq("r_id")).df) == naive(fwd = false))
    assert(pairs(lm.asofJoin(rm, "l_ts", "r_ts", keys, Seq("r_id"),
      direction = AsofJoins.Forward).df) == naive(fwd = true))
  }

  test("as-of Duration tolerance: unit-safe on timestamps, rejected on numeric axes") {
    import graft.operators.AsofJoins
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val lefts = Seq((1L, 1L, ts(100))).toDF("l_id", "l_k", "l_ts")
    val rights = Seq((1L, 1L, ts(40), 1.0), (2L, 1L, ts(95), 2.0))
      .toDF("r_id", "r_k", "r_ts", "r_v")
    val viaDuration = AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id"), java.time.Duration.ofSeconds(10))
    val viaMs = AsofJoins.asofBackward(lefts, "l_ts", rights, "r_ts",
      Seq("l_k" -> "r_k"), Seq("r_id"), tolerance = Some(10000L))
    assert(viaDuration.select("r_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(viaDuration.collect().toSeq == viaMs.collect().toSeq,
      "Duration overload == millisecond Long on TimestampType")
    // numeric time axis: a Duration has no defined conversion — must raise
    val numL = Seq((1L, 1L, 100L)).toDF("l_id", "l_k", "l_ts")
    val numR = Seq((1L, 1L, 95L, 1.0)).toDF("r_id", "r_k", "r_ts", "r_v")
    intercept[IllegalArgumentException] {
      AsofJoins.asofBackward(numL, "l_ts", numR, "r_ts",
        Seq("l_k" -> "r_k"), Seq("r_id"), java.time.Duration.ofSeconds(10))
    }
    intercept[IllegalArgumentException] {
      AsofJoins.asofForward(numL, "l_ts", numR, "r_ts",
        Seq("l_k" -> "r_k"), Seq("r_id"), java.time.Duration.ofSeconds(10))
    }
  }

  test("range join rejects internal-column collisions and over-long intervals") {
    import graft.operators.RangeJoins
    val pts = Seq(5L).toDF("pt")
    val ivs = Seq((1L, 0L, 10L)).toDF("iv_id", "s", "e")
    // caller columns named like the internal cell keys would be silently
    // overwritten — must raise instead
    intercept[IllegalArgumentException] {
      RangeJoins.pointInInterval(pts.withColumn("__pcell", lit(1L)), "pt", ivs, "s", "e", 64)
    }
    intercept[IllegalArgumentException] {
      RangeJoins.pointInInterval(pts, "pt", ivs.withColumn("__icell", lit(1L)), "s", "e", 64)
    }
    // an interval exploding past maxCellsPerInterval fails loudly at run time
    val long = Seq((1L, 0L, 10000L)).toDF("iv_id", "s", "e")
    val ex = intercept[Exception] {
      RangeJoins.pointInInterval(pts, "pt", long, "s", "e",
        bucketWidth = 1, maxCellsPerInterval = 100).collect()
    }
    assert(ex.getMessage.contains("maxCellsPerInterval") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxCellsPerInterval")))
    // within the cap the result is unchanged
    val ok = RangeJoins.pointInInterval(pts, "pt", long, "s", "e",
      bucketWidth = 1, maxCellsPerInterval = 20000)
    assert(ok.count() == 1L)
  }
}
