package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
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

  private def self(spec: LmSpec): DataFrame => DataFrame =
    d => TextOps.lmScore(MStream(d), spec, "doc_id", "text").df
  private def against(spec: LmSpec, byLang: Boolean = false): DataFrame => DataFrame =
    d => TextOps.lmScore(MStream(d), spec, "doc_id", "text",
      Some(LmRef(d, "text", Option.when(byLang)(("lang", "lang"))))).df

  // the counts measured with the one count builder: one grouping-sets
  // pin and one driver fold per JM model, a second (continuation) pin
  // for a KN model, one more fold for the MKN discounts
  private val faces: Seq[(String, Int, DataFrame => DataFrame)] = Seq(
    ("bigramLmScore", 9, self(LmSpec(2, LmSpec.AddAlpha()))),
    ("trigramLmScore", 13, self(LmSpec(3,
      LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")))),
    ("ngramLmScore(order = 5)", 17, self(LmSpec(5, LmSpec.JelinekMercer()))),
    ("knLmScore(order = 3)", 17, self(LmSpec(3, LmSpec.KneserNey()))),
    ("mknLmScore(order = 3)", 18, self(LmSpec(3, LmSpec.ModifiedKn()))),
    ("ngramLmScoreAgainst(order = 3)", 13, against(LmSpec(3, LmSpec.JelinekMercer()))),
    ("knLmScoreAgainst(order = 3)", 17, against(LmSpec(3, LmSpec.KneserNey()))),
    ("mknLmScoreAgainst(order = 3)", 18, against(LmSpec(3, LmSpec.ModifiedKn()))),
    ("lmScoreAgainst", 9, against(LmSpec(2, LmSpec.AddAlpha()))),
    ("ngramLmScoreAgainstByLang(order = 3)", 14,
      against(LmSpec(3, LmSpec.JelinekMercer()), byLang = true)),
    ("knLmScoreAgainstByLang(order = 3)", 18,
      against(LmSpec(3, LmSpec.KneserNey()), byLang = true)),
    ("mknLmScoreAgainstByLang(order = 3)", 20,
      against(LmSpec(3, LmSpec.ModifiedKn()), byLang = true)))

  // test names keep the bound they were first registered under, so test
  // ids stay stable as bounds tighten: a tightened face asserts its
  // current (lower) bound from `faces` under its original name
  private val namedBound = Map(
    "knLmScore(order = 3)" -> 23, "mknLmScore(order = 3)" -> 29,
    "ngramLmScoreAgainst(order = 3)" -> 19, "knLmScoreAgainst(order = 3)" -> 23,
    "mknLmScoreAgainst(order = 3)" -> 29, "lmScoreAgainst" -> 12,
    "ngramLmScoreAgainstByLang(order = 3)" -> 20,
    "knLmScoreAgainstByLang(order = 3)" -> 27,
    "mknLmScoreAgainstByLang(order = 3)" -> 33)

  for ((face, bound, score) <- faces)
    test(s"$face runs at most ${namedBound.getOrElse(face, bound)} jobs") {
      val docs = corpus.toDF("doc_id", "text")
        .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("fr"))
      val jobs =
        try graft.api.Metrics.cost(spark)(score(docs).collect())._2.jobs
        finally graft.api.Pinned.release(spark)
      info(s"$face ran $jobs jobs")
      assert(jobs <= bound, s"$face ran $jobs jobs, bound $bound")
    }
}
