package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import graft.api.MStream
import graft.pipeline.TextOps

/** The AUTO broadcast lever of the LM against faces (round 15): with no
  * explicit `broadcastModel`, the tables of each pin broadcast iff the
  * pin's MEASURED persisted size fits the session's
  * autoBroadcastJoinThreshold. Pinned at both boundaries — a small model
  * broadcasts, an over-threshold model shuffles, and each pin of a KN
  * model flips exactly at its own size — plus scores identical across
  * all three lever settings, and the streaming-face rejection when auto
  * decides the model cannot broadcast. */
class LmAutoLeverSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z w u v"), (5L, "a b c a b c a b c"))
  private val docs = Seq((10L, "a b a b c"), (11L, "q r s t u"))

  /** MODEL-table broadcast joins in the executed plan: broadcast hash
    * joins keyed on the suffix-aligned gram columns (__p1..__pN) — the
    * per-doc aggregate join-back may legitimately broadcast regardless of
    * the lever, so the assertion targets only the scoring joins.
    * Descends into the AQE-final plan (AdaptiveSparkPlanExec exposes no
    * children) and completed query stages. */
  private def modelBroadcastJoins(plan: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def deep(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => a +: deep(a.executedPlan)
      case q: QueryStageExec => q +: deep(q.plan)
      case x => Seq(x)
    }
    deep(plan).collect {
      case b: BroadcastHashJoinExec
          if b.leftKeys.exists(_.references.exists(_.name.startsWith("__p"))) => b
    }
  }

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }

  test("auto broadcasts a small model and shuffles an over-threshold one") {
    try {
      // tiny corpus, generous threshold: every model join broadcasts
      val small = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
        Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df
      small.collect()
      assert(modelBroadcastJoins(small.queryExecution.executedPlan).nonEmpty,
        "under-threshold model tables broadcast")

      // 1-byte threshold: auto decides every table is beyond-broadcast —
      // no scoring join broadcasts (planned AND executed under the low
      // threshold: AQE would otherwise re-broadcast the tiny stages)
      val (big, forced) = withThreshold(1L) {
        val b = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
          LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
          Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df
        val f = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
          LmSpec(3, LmSpec.KneserNey(), broadcastModel = Some(true)), "doc_id", "text",
          Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df
        b.collect(); f.collect()
        (b, f)
      }
      assert(modelBroadcastJoins(big.queryExecution.executedPlan).isEmpty,
        "over-threshold model tables shuffle under auto")
      // the explicit lever still forces broadcast hints past the threshold
      assert(modelBroadcastJoins(forced.queryExecution.executedPlan).nonEmpty,
        "Some(true) overrides the auto decision")
      assert(big.collect().toSet == small.collect().toSet &&
        forced.collect().toSet == small.collect().toSet,
        "scores are identical across all three lever settings")
    } finally graft.api.Pinned.release(spark)
  }

  test("ngram face: auto decision applies per table and keeps scores identical") {
    try {
      val auto = TextOps.lmScore(MStream(docs.toDF("doc_id", "text")),
        LmSpec(3, LmSpec.JelinekMercer()), "doc_id", "text",
        Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df.collect().toSet
      val shuffled = withThreshold(1L) {
        TextOps.lmScore(MStream(docs.toDF("doc_id", "text")), LmSpec(3, LmSpec.JelinekMercer()),
          "doc_id", "text", Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df
      }.collect().toSet
      assert(auto == shuffled, "auto-shuffled face is score-identical")
    } finally graft.api.Pinned.release(spark)
  }

  test("auto decides once per pin, at the pin's exact measured size") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.LogicalRDD
    def build(): org.apache.spark.sql.DataFrame = TextOps.lmScore(
      MStream(docs.toDF("doc_id", "text")), LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
      Some(LmRef(corpus.toDF("doc_id", "text"), "text"))).df
    // the pins under the broadcast-hinted model sides
    def hintedPins(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          h.child.collect { case lr: LogicalRDD => lr.rdd.id }
      }.flatten.toSet
    def pinBytes(): Map[Int, Long] = {
      val ids = graft.api.Pinned.registered(spark)
      spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    }
    val sizes = try { build(); pinBytes().values.toSeq.sorted }
      finally graft.api.Pinned.release(spark)
    assert(sizes.size == 2 && sizes.head < sizes.last,
      s"a KN model pins its raw and its continuation tables apart: $sizes")
    // just under, at, and just over each pin's size
    for ((thr, hinted) <- Seq(sizes.head - 1 -> 0, sizes.head -> 1,
                              sizes.last - 1 -> 1, sizes.last -> 2))
      try {
        val (df, bytes) = withThreshold(thr) { val d = build(); (d, pinBytes()) }
        assert(hintedPins(df) == bytes.filter(_._2 <= thr).keySet && bytes.count(_._2 <= thr) == hinted,
          s"threshold $thr: hinted pins ${hintedPins(df)} of $bytes")
      } finally graft.api.Pinned.release(spark)
  }

  test("streaming face: auto rejection when the model cannot broadcast") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    try {
      val in = MemoryStream[(Long, String)]
      val e = withThreshold(1L) {
        intercept[IllegalArgumentException](TextOps.lmScore(
          MStream(in.toDF().toDF("doc_id", "text")), LmSpec(3, LmSpec.KneserNey()), "doc_id", "text",
          Some(LmRef(corpus.toDF("doc_id", "text"), "text"))))
      }
      assert(e.getMessage.contains("streaming face") &&
        e.getMessage.contains("minCount"), e.getMessage)
      // Some(true) is the explicit escape: the stream builds fine
      val ok = withThreshold(1L) {
        TextOps.lmScore(MStream(in.toDF().toDF("doc_id", "text")),
          LmSpec(3, LmSpec.KneserNey(), broadcastModel = Some(true)), "doc_id", "text",
          Some(LmRef(corpus.toDF("doc_id", "text"), "text")))
      }
      assert(ok.df.isStreaming)
    } finally graft.api.Pinned.release(spark)
  }
}
