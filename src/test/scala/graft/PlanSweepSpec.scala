package graft

/** Whole-surface plan audit: every driver-facing query's physical plan at
  * sf0.001, swept for the two operators that must never appear by accident
  * at 100 TB — a cartesian product anywhere, and a broadcast nested-loop
  * join outside the short allowlist of places where one is the DESIGN
  * (a one-row broadcast or an explicitly-quadratic correctness baseline).
  * A new query or a refactor that silently plans one fails here. */
class PlanSweepSpec extends SparkSpec {

  // BNLJ by design:
  //  - q_ngram_jaccard: the ONE-ROW occupancy aggregate cross-joins onto
  //    the per-block stats (broadcast of a single row)
  //  - q_embed_dedup: the exact all-pairs baseline broadcasts the corpus
  //    by construction (the LSH-bucketed variant is the scale path)
  //  - q_ann_topk: brute-force baseline broadcasts the (tiny) probe set
  //    against every partition on an inequality condition
  //  - q_bm25 / q_tfidf: corpus statistics (N, avgdl / N) reduce to a
  //    SINGLE broadcast row cross-joined onto the scoring scan
  //  - q_embed_ingest: exact cross-corpus cosine anti-join against the
  //    broadcast reference (the IVF/LSH path is the beyond-broadcast
  //    variant; the exact form carries the oracle)
  //  - q_heavy_hitters: the count–min sketch + token total reduce to a
  //    SINGLE broadcast row cross-joined onto the candidate scoring
  //  - q_pq_topk: exhaustive-ADC face broadcasts the (tiny) probe set's
  //    lookup tables against the coded corpus, like q_ann_topk
  //  - q_bm25_batch: the (N, avgdl) collection stats reduce to a SINGLE
  //    row cross-joined onto the query-term × idf table (itself bounded
  //    by the query batch), like q_bm25
  //  - q_hybrid_rrf: both leg baselines by design — the BM25 leg's
  //    single stats row (q_bm25_batch) and the ANN leg's broadcast
  //    probe set on an inequality condition (q_ann_topk)
  //  - q_hybrid_rrf_ivf: the BM25 leg's single stats row only — the
  //    routed dense leg is a cid equi-join (the very point of the IVF
  //    face; its self-exclusion filter rides the equi-join, not a NLJ)
  private val bnljByDesign =
    Set("q_ngram_jaccard", "q_embed_dedup", "q_ann_topk", "q_bm25", "q_tfidf",
      "q_embed_ingest", "q_heavy_hitters", "q_pq_topk", "q_bm25_batch",
      "q_hybrid_rrf", "q_hybrid_rrf_ivf")

  test("no query plans a cartesian product; nested-loop joins only by design") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = q(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(name))
        offenders += s"$name: BroadcastNestedLoopJoin outside the allowlist"
    }
    assert(offenders.isEmpty, s"plan sweep found:\n${offenders.mkString("\n")}")
  }
}
