package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.pipeline.TextOps

/** Order-n interpolated LM (`ngramLmScore` / `ngramLmScoreAgainst` /
  * `lm3ScoreAgainst`): order-n scores pinned to an independent Scala fold
  * over the definition, order-3 parity with the shipped trigram face,
  * streaming == batch on the against face, lambda-default contracts. */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z"), (4L, ""), (5L, "a b c a b c a b c"))

  /** The order-n definition folded in plain Scala (no Spark, no SQL):
    * counts per order from their own j-gram populations, JM interpolation
    * highest order first, add-alpha with V = distinct unigrams. */
  private def reference(order: Int, alpha: Double, l: Seq[Double],
                        train: Seq[(Long, String)], score: Seq[(Long, String)],
                        minCount: Long = 1L)
      : Map[Long, (Long, Option[Double])] = {
    def w(s: String) =
      if (s == null) Seq.empty[String] else s.split("\\s+").filter(_.nonEmpty).toSeq
    val trainDocs = train.map { case (_, t) => w(t) }
    def gramsOf(ws: Seq[String], j: Int): Seq[Seq[String]] =
      if (ws.size < j) Nil else ws.sliding(j).toSeq
    val counts: Map[Int, Map[Seq[String], Long]] = (1 to order).map { j =>
      val raw = trainDocs.flatMap(gramsOf(_, j)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      j -> (if (j >= 2 && minCount > 1) raw.filter(_._2 >= minCount) else raw)
    }.toMap
    val ctxs: Map[Int, Map[Seq[String], Long]] = (2 to order).map { j =>
      j -> counts(j).toSeq.groupBy(_._1.dropRight(1))
        .view.mapValues(_.map(_._2).sum).toMap
    }.toMap
    val n = counts(1).values.sum.toDouble
    val v = counts(1).size.toDouble
    // a duplicated id scores the positions of all its documents
    val posOf = score.groupBy(_._1).view
      .mapValues(_.flatMap { case (_, t) => gramsOf(w(t), order) }).toMap
    score.map { case (id, _) =>
      val pos = posOf(id)
      if (pos.isEmpty) id -> (0L, None)
      else {
        val lps = pos.map { g =>
          math.log((order to 1 by -1).zip(l).map { case (j, wj) =>
            val gram = g.takeRight(j)
            val c = counts(j).getOrElse(gram, 0L).toDouble
            val cx = if (j >= 2) ctxs(j).getOrElse(gram.dropRight(1), 0L).toDouble else n
            wj * (c + alpha) / (cx + v * alpha)
          }.sum)
        }
        val avg = BigDecimal(lps.sum / lps.size)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> (pos.size.toLong, Some(avg))
      }
    }.toMap
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("ngramLmScore equals the independent fold at orders 2, 4 and 5") {
    for ((order, alpha, l) <- Seq(
        (2, 0.5, Seq(0.7, 0.3)),
        (4, 0.5, Seq(0.4, 0.3, 0.2, 0.1)),
        (5, 1.0, Seq(0.4, 0.25, 0.15, 0.12, 0.08)))) {
      val got = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.JelinekMercer(alpha = alpha, lambdas = l)), "doc_id", "text").df)
      assert(got == reference(order, alpha, l, corpus, corpus),
        s"order=$order alpha=$alpha")
      graft.api.Pinned.release(spark)
    }
  }

  test("ngramLmScore edge inputs equal the fold: blank/null text, duplicate ids, empty frame") {
    val edges = Seq(
      (0L, "a b a b c a b"), (1L, " \t\n "), (2L, "a\tb\na  b\r\nc a b"),
      (3L, null), (4L, "a b c a b c"), (4L, "c a b a"), (5L, "x y"))
    def rows(docs: Seq[(Long, String)], order: Int, l: Seq[Double]) =
      try TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.JelinekMercer(alpha = 0.5, lambdas = l)), "doc_id", "text").df
        .collect().map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq.sortBy(_.toString)
      finally graft.api.Pinned.release(spark)
    for ((order, l) <- Seq(2 -> Seq(0.7, 0.3), 3 -> Seq(0.6, 0.3, 0.1),
        5 -> Seq(0.4, 0.25, 0.15, 0.12, 0.08))) {
      val want = edges.map { case (id, _) => id -> reference(order, 0.5, l, edges, edges)(id) }
      assert(rows(edges, order, l) == want.sortBy(_.toString), s"order=$order")
      assert(rows(Seq.empty, order, l).isEmpty, s"order=$order: empty corpus, no rows")
    }
  }

  test("order 3 is the shipped trigram face (same scores, n column renamed)") {
    try {
      val tri = rowsOf(TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
        "doc_id", "text").df)
      val gen = TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(alpha = 0.5, lambdas = Seq(0.6, 0.3, 0.1))),
        "doc_id", "text").df
      assert(gen.columns.toSeq == Seq("doc_id", "n_grams", "avg_logprob"))
      assert(rowsOf(gen) == tri)
      // self-referenced against face reproduces the self-scoring result
      // (every context seen -> the left-join backoff never fires)
      val agn = TextOps.lmScore(MStream(corpus.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
        "doc_id", "text", Some(LmRef(corpus.toDF("doc_id", "text"), "text")))
      assert(agn.df.columns.toSeq == Seq("doc_id", "n_tris", "avg_logprob"))
      assert(rowsOf(agn.df) == tri)
    } finally graft.api.Pinned.release(spark)
  }

  test("lambda contracts: halving default sums to 1; partial/invalid rejected") {
    assert(TextOps.lambdasFor(3, Nil) == Seq(4.0 / 7, 2.0 / 7, 1.0 / 7))
    assert(math.abs(TextOps.lambdasFor(5, Nil).sum - 1.0) < 1e-12)
    val wrongLen = intercept[IllegalArgumentException](
      LmSpec(4, LmSpec.JelinekMercer(lambdas = Seq(0.5, 0.5))).check("lmScore", against = false, byLang = false))
    assert(wrongLen.getMessage.contains("4 lambdas"))
    val badSum = intercept[IllegalArgumentException](
      LmSpec(2, LmSpec.JelinekMercer(lambdas = Seq(0.9, 0.3))).check("lmScore", against = false, byLang = false))
    assert(badSum.getMessage.contains("sum to 1"))
    val badOrder = intercept[IllegalArgumentException](TextOps.lmScore(
      MStream(corpus.toDF("doc_id", "text")), LmSpec(1, LmSpec.JelinekMercer()), "doc_id", "text").df)
    assert(badOrder.getMessage.contains("[2, 8]"))
  }

  test("ngramLmScoreAgainst: unseen backoff matches the fold; streaming == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b a b c a"),                  // contexts seen in ref
      (11L, "q r s t u v w"),                // everything unseen -> floor
      (12L, "a b"))                          // under order tokens -> (0, NULL)
    val order = 3
    val l = Seq(0.6, 0.3, 0.1)
    try {
      val batch = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(order, LmSpec.JelinekMercer(alpha = 0.5, lambdas = l)), "doc_id", "text",
        Some(LmRef(ref, "text")))
      assert(!batch.df.isStreaming)
      assert(batch.df.columns.toSeq == Seq("doc_id", "n_grams", "avg_logprob"))
      val b = rowsOf(batch.df)
      assert(b == reference(order, 0.5, l, corpus, docs),
        "against face equals the fold trained on ref, scored on docs")
      assert(b(12L) == (0L, None), "short doc scores (0, NULL)")
      assert(b(11L)._2.get < b(10L)._2.get,
        "in-distribution text scores above gibberish")

      val in = MemoryStream[(Long, String)]
      val out = TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text")),
        LmSpec(order, LmSpec.JelinekMercer(alpha = 0.5, lambdas = l)), "doc_id", "text",
        Some(LmRef(ref, "text")))
      assert(out.df.isStreaming)
      in.addData(docs.take(2): _*)
      in.addData(docs.drop(2): _*)
      val name = s"ngram_${System.nanoTime()}"
      val q = out.df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
          "ingest scoring is stateless: no state rows accumulate")
        assert(rowsOf(spark.table(name)) == b,
          "streaming scoring equals the batch face")
      } finally q.stop()
    } finally graft.api.Pinned.release(spark)
  }

  test("minCount pruning scores pruned grams as unseen; broadcastModel=false identical") {
    val ref = corpus.toDF("doc_id", "text")
    val docs = Seq((20L, "a b a b c a"), (21L, "c c c c d"), (22L, "x y z w"))
    try {
      val pruned = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(alpha = 0.5, lambdas = Seq(0.6, 0.3, 0.1)), minCount = 2L),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(pruned == reference(3, 0.5, Seq(0.6, 0.3, 0.1), corpus, docs,
        minCount = 2L), "pruned model equals the fold with counts >= 2")
      val unpruned = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(alpha = 0.5, lambdas = Seq(0.6, 0.3, 0.1))),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(pruned != unpruned, "pruning must actually change rare-gram scores")
      val shuffled = rowsOf(TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer(alpha = 0.5, lambdas = Seq(0.6, 0.3, 0.1)), minCount = 2L,
          broadcastModel = Some(false)),
        "doc_id", "text", Some(LmRef(ref, "text"))).df)
      assert(shuffled == pruned, "the beyond-broadcast face is score-identical")
    } finally graft.api.Pinned.release(spark)
  }

  test("awaitPinned registers completed siblings even when one pin fails") {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    // one future pins a real frame, the other fails: the completed pin's
    // ids must land in the registry (so release can unpersist them) and
    // the failure must still propagate
    val good = Future {
      val (cp, ids) = graft.api.Pinned.checkpointTracked(
        spark.range(100).toDF("id"))
      (cp, ids)
    }
    val bad = Future[(org.apache.spark.sql.DataFrame, Set[Int])] {
      throw new RuntimeException("count-table build failed")
    }
    val before = graft.api.Pinned.registered(spark)
    val e = intercept[RuntimeException](
      TextOps.awaitPinned(spark, Seq(good, bad))(_._2))
    assert(e.getMessage.contains("count-table build failed"))
    val after = graft.api.Pinned.registered(spark)
    assert((after -- before).nonEmpty,
      "the completed sibling's checkpoint ids must be registered on failure")
    graft.api.Pinned.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(after -- before).isEmpty,
      "release reclaims the sibling's blocks — zero leaked")
  }

  test("awaitAll settles every sibling before rethrowing; later failures are suppressed") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // a private pool: the held siblings block their threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val heldDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val fast = Future[Int](throw new RuntimeException("fails at once"))
      val held = Future[Int] {
        latch.await()
        heldDone.set(true)
        throw new IllegalStateException("fails after the latch")
      }
      val ok = Future { latch.await(); 1 }
      val waiter = Future(TextOps.awaitAll(Seq(fast, held, ok))())
      val deadline = System.nanoTime() + 10.seconds.toNanos
      while (!fast.isCompleted && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fast.isCompleted, "the fast failure completes on its own")
      Thread.sleep(300)
      assert(!waiter.isCompleted,
        "awaitAll must not return (or throw) while a sibling still runs")
      latch.countDown()
      val e = intercept[RuntimeException](Await.result(waiter, 30.seconds))
      assert(e.getMessage == "fails at once", "the first failure rethrows")
      assert(heldDone.get && ok.isCompleted, "every sibling settled first")
      assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("fails after the latch"),
        "the other failure attaches as suppressed")
      // the success path returns every value in order
      assert(TextOps.awaitAll(Seq(Future(1), Future(2)))() == Seq(1, 2))
    } finally pool.shutdownNow()
  }
}
