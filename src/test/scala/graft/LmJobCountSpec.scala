package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.TextOps

/** Job-count gate of the self-scoring Jelinek-Mercer faces: model build
  * plus one scoring collect on a fixed small corpus, counted by a
  * SparkListener ([[graft.api.Metrics.cost]]). Job count is a first-class
  * cost here — at small scale a query's wall time follows its jobs, not
  * its compute. A face whose count rises above its bound fails; the
  * bounds only ever tighten. */
class LmJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z"), (4L, ""), (5L, "a b c a b c a b c"))

  // the counts measured with the one-pass model (one grouping-sets pin,
  // one N/V collect)
  private val faces: Seq[(String, Int, DataFrame => DataFrame)] = Seq(
    ("bigramLmScore", 9, TextOps.bigramLmScore(_, "doc_id", "text")),
    ("trigramLmScore", 13, TextOps.trigramLmScore(_, "doc_id", "text")),
    ("ngramLmScore(order = 5)", 17, TextOps.ngramLmScore(_, "doc_id", "text", order = 5)))

  for ((face, bound, score) <- faces)
    test(s"$face runs at most $bound jobs") {
      val docs = corpus.toDF("doc_id", "text")
      val jobs =
        try graft.api.Metrics.cost(spark)(score(docs).collect())._2.jobs
        finally graft.api.Pinned.release(spark)
      info(s"$face ran $jobs jobs")
      assert(jobs <= bound, s"$face ran $jobs jobs, bound $bound")
    }
}
