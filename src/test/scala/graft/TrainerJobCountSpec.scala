package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.{TextOps, WordPiece}

/** Job-count gate of the subword trainers, in the manner of
  * [[LmJobCountSpec]]: each trainer learns 6 merges on a fixed small
  * corpus with `graft.bpe.rematEvery=2`, so the shared merge-round loop
  * re-materializes its working set twice, counted by a SparkListener
  * ([[graft.api.Metrics.cost]]). A trainer whose count rises above its
  * bound fails; the bounds only ever tighten. A trainer that fails after
  * pinning its word count (a malformed loop conf, the language cap) must
  * leave the persisted-RDD set as it found it. */
class TrainerJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "en", "lower lowest newer newest wider"),
    (1L, "fr", "chanter chantons chantez chanteur"),
    (2L, "en", "low lower newest widest"),
    (3L, "fr", "danser dansons chanter"),
    (4L, "en", ""),
    (5L, "fr", "chantait dansait"))

  // (trainer, job bound, rows of the learned table, train): the bounds are
  // the counts measured with one loop — the word-count pin, one collect
  // per round and one pin per re-materialization, plus the language-cap
  // count (per-language BPE) or the alphabet collect (WordPiece)
  private val trainers: Seq[(String, Int, Int, DataFrame => DataFrame)] = Seq(
    ("trainBpeMerges", 10, 6, TextOps.trainBpeMerges(_, "text", 6)),
    ("trainByteBpeMerges", 10, 6, TextOps.trainByteBpeMerges(_, "text", 6)),
    ("trainBpeMergesByLang", 13, 12, TextOps.trainBpeMergesByLang(_, "lang", "text", 6)),
    ("WordPiece.trainVocab", 17, 25, WordPiece.trainVocab(_, "text", 6)))

  for ((trainer, bound, nRows, train) <- trainers)
    test(s"$trainer runs at most $bound jobs for 6 merges re-materialized every 2") {
      val docs = corpus.toDF("doc_id", "lang", "text")
      spark.conf.set("graft.bpe.rematEvery", "2")
      val (rows, cost) =
        try graft.api.Metrics.cost(spark)(train(docs).collect())
        finally {
          spark.conf.unset("graft.bpe.rematEvery")
          graft.api.Pinned.release(spark)
        }
      info(s"$trainer ran ${cost.jobs} jobs")
      assert(rows.length == nRows, s"$trainer learned ${rows.length} rows, want $nRows")
      assert(cost.jobs <= bound, s"$trainer ran ${cost.jobs} jobs, bound $bound")
    }

  /** Persisted RDDs a `train` call that must fail leaves behind (new ids,
    * so an unrelated RDD the context cleaner drops meanwhile cannot mask
    * one). */
  private def leftBehind(train: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](train)
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  for ((trainer, _, _, train) <- trainers)
    test(s"$trainer releases its word-count pin when graft.bpe.rematEvery is malformed") {
      val docs = corpus.toDF("doc_id", "lang", "text")
      spark.conf.set("graft.bpe.rematEvery", "often")
      try assert(leftBehind(train(docs).collect()).isEmpty)
      finally spark.conf.unset("graft.bpe.rematEvery")
    }

  test("trainBpeMergesByLang releases its word-count pin over the 1024-language cap") {
    val docs = (0 until 1025).map(i => (i.toLong, s"l$i", "a b")).toDF("doc_id", "lang", "text")
    assert(leftBehind(TextOps.trainBpeMergesByLang(docs, "lang", "text", 6)).isEmpty)
  }
}
