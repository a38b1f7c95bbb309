package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}
import graft.api.MStream
import graft.pipeline.TextOps

/** Job-count gate of the LM faces: model build plus one scoring collect
  * on a fixed small corpus (the against faces score it against itself;
  * the by-language faces label it with two languages), counted by a
  * SparkListener ([[graft.api.Metrics.cost]]). Job count is a first-class
  * cost here — at small scale a query's wall time follows its jobs, not
  * its compute. A face whose count rises above its bound fails; the
  * bounds only ever tighten. */
class LmJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "a b a b c a b"), (1L, "a b a b a"), (2L, "c c c c d c"),
    (3L, "x y z"), (4L, ""), (5L, "a b c a b c a b c"))

  private def against(f: (MStream, DataFrame) => MStream): DataFrame => DataFrame =
    d => f(MStream(d), d).df

  // the self JM faces: the counts measured with the one-pass model (one
  // grouping-sets pin, one N/V collect); the rest: the counts measured
  // before their scoring stages were merged into one
  private val faces: Seq[(String, Int, DataFrame => DataFrame)] = Seq(
    ("bigramLmScore", 9, TextOps.bigramLmScore(_, "doc_id", "text")),
    ("trigramLmScore", 13, TextOps.trigramLmScore(_, "doc_id", "text")),
    ("ngramLmScore(order = 5)", 17, TextOps.ngramLmScore(_, "doc_id", "text", order = 5)),
    ("knLmScore(order = 3)", 23, TextOps.knLmScore(_, "doc_id", "text", order = 3)),
    ("mknLmScore(order = 3)", 29, TextOps.mknLmScore(_, "doc_id", "text", order = 3)),
    ("ngramLmScoreAgainst(order = 3)", 19, against(TextOps.ngramLmScoreAgainst(
      _, _, "doc_id", "text", "text", order = 3))),
    ("knLmScoreAgainst(order = 3)", 23, against(TextOps.knLmScoreAgainst(
      _, _, "doc_id", "text", "text", order = 3))),
    ("mknLmScoreAgainst(order = 3)", 29, against(TextOps.mknLmScoreAgainst(
      _, _, "doc_id", "text", "text", order = 3))),
    ("lmScoreAgainst", 12, against(TextOps.lmScoreAgainst(
      _, _, "doc_id", "text", "text"))),
    ("ngramLmScoreAgainstByLang(order = 3)", 20, against(TextOps.ngramLmScoreAgainstByLang(
      _, _, "doc_id", "text", "lang", "text", "lang", order = 3))),
    ("knLmScoreAgainstByLang(order = 3)", 27, against(TextOps.knLmScoreAgainstByLang(
      _, _, "doc_id", "text", "lang", "text", "lang", order = 3))),
    ("mknLmScoreAgainstByLang(order = 3)", 33, against(TextOps.mknLmScoreAgainstByLang(
      _, _, "doc_id", "text", "lang", "text", "lang", order = 3))))

  for ((face, bound, score) <- faces)
    test(s"$face runs at most $bound jobs") {
      val docs = corpus.toDF("doc_id", "text")
        .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("fr"))
      val jobs =
        try graft.api.Metrics.cost(spark)(score(docs).collect())._2.jobs
        finally graft.api.Pinned.release(spark)
      info(s"$face ran $jobs jobs")
      assert(jobs <= bound, s"$face ran $jobs jobs, bound $bound")
    }
}
