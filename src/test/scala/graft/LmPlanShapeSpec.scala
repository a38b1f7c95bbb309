package graft

import graft.pipeline.TextOps.{LmRef, LmSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import graft.api.MStream
import graft.pipeline.{Arpa, TextOps}

/** Batch plan shape of every public LM scoring face:
  *  - whether the logical plan carries the round-robin `Repartition`
  *    that spreads the scoring stage — `TextOps.scoringSpread`'s table
  *    (order >= 3, except the self-scored KN family) plus
  *    trigramLmScore's explicit narrow stage;
  *  - that every join of the model side plans as a broadcast join on
  *    small data (the AUTO lever): keyed joins as broadcast hash joins,
  *    the one-row stats cross joins as broadcast nested-loop joins. The
  *    one join left out is the output join that brings every input id
  *    back (keyed by the id column);
  *  - that the plan scans its input at most twice: once for the
  *    positions, once for the id join-back. The model is pinned, and its
  *    scalars are driver-built, so nothing that trained it re-runs.
  * The corpus is read from a ONE-file parquet: its scan is one
  * partition, so the spread helper takes its repartition branch. A local
  * relation already splits across the session's cores, and a
  * `coalesce(1)` is itself a boundary — on either the helper is the
  * identity and the spread decision would not show. */
class LmPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("lm_plan_shape")
      .resolve("docs.parquet").toString
    Seq((0L, "a b c a b c d", "en"), (1L, "b c d a b", "fr"),
      (2L, "c d e", "en"), (3L, "a", "fr"), (4L, "d a b c", "fr"))
      .toDF("doc_id", "text", "lang").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("lm_plan_arpa").toString

  private def self(spec: LmSpec): () => DataFrame =
    () => TextOps.lmScore(MStream(docs), spec, "doc_id", "text").df
  private def against(spec: LmSpec, byLang: Boolean = false): () => DataFrame =
    () => TextOps.lmScore(MStream(docs), spec, "doc_id", "text",
      Some(LmRef(docs, "text", Option.when(byLang)(("lang", "lang"))))).df

  // (face, spreads the scoring stage, batch plan)
  private val faces: Seq[(String, Boolean, () => DataFrame)] = Seq(
    ("bigramLmScore", false, self(LmSpec(2, LmSpec.AddAlpha()))),
    ("trigramLmScore", false, self(LmSpec(3,
      LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")))),
    ("ngramLmScore(order = 2)", false,
      self(LmSpec(2, LmSpec.JelinekMercer()))),
    ("ngramLmScore(order = 3)", true,
      self(LmSpec(3, LmSpec.JelinekMercer()))),
    ("knLmScore(order = 3)", false,
      self(LmSpec(3, LmSpec.KneserNey()))),
    ("mknLmScore(order = 3)", false,
      self(LmSpec(3, LmSpec.ModifiedKn()))),
    ("lmScoreAgainst", false,
      against(LmSpec(2, LmSpec.AddAlpha()))),
    ("ngramLmScoreAgainst(order = 2)", false,
      against(LmSpec(2, LmSpec.JelinekMercer()))),
    ("ngramLmScoreAgainst(order = 3)", true,
      against(LmSpec(3, LmSpec.JelinekMercer()))),
    ("lm3ScoreAgainst", true,
      against(LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")))),
    ("knLmScoreAgainst(order = 2)", false,
      against(LmSpec(2, LmSpec.KneserNey()))),
    ("knLmScoreAgainst(order = 3)", true,
      against(LmSpec(3, LmSpec.KneserNey()))),
    ("knLmScoreAgainst(order = 3, sentenceMode)", true,
      against(LmSpec(3, LmSpec.KneserNey(), sentenceMode = true))),
    ("mknLmScoreAgainst(order = 3)", true,
      against(LmSpec(3, LmSpec.ModifiedKn()))),
    ("ngramLmScoreAgainstByLang(order = 2)", false,
      against(LmSpec(2, LmSpec.JelinekMercer()), byLang = true)),
    ("ngramLmScoreAgainstByLang(order = 3)", true,
      against(LmSpec(3, LmSpec.JelinekMercer()), byLang = true)),
    ("knLmScoreAgainstByLang(order = 3)", true,
      against(LmSpec(3, LmSpec.KneserNey()), byLang = true)),
    ("mknLmScoreAgainstByLang(order = 3)", true,
      against(LmSpec(3, LmSpec.ModifiedKn()), byLang = true)),
    ("arpaScoreAgainst(order = 3)", true, () => {
      val path = java.nio.file.Paths.get(tmpDir(), "m.arpa").toString
      Arpa.arpaExportKn(docs, "text", 3, path)
      Arpa.arpaScoreAgainst(MStream(docs), Arpa.arpaImport(spark, path),
        "doc_id", "text").df
    }),
    ("arpaScoreAgainstByLang(order = 3)", true, () => {
      val dir = tmpDir()
      Arpa.arpaExportKnByLang(docs, "text", "lang", 3, dir)
      Arpa.arpaScoreAgainstByLang(MStream(docs), Arpa.arpaImportDir(spark, dir),
        "doc_id", "text", "lang").df
    }))

  for ((face, spread, build) <- faces)
    test(s"$face: scoring stage ${if (spread) "spreads" else "stays narrow"}, " +
      "model joins broadcast") {
      try {
        val df = build()
        val repartitions = df.queryExecution.analyzed.collect {
          case r: Repartition if r.shuffle => r
        }
        assert(repartitions.nonEmpty == spread,
          s"$face: round-robin Repartition ${if (spread) "missing" else "present"}:\n" +
            df.queryExecution.analyzed)
        val modelJoins = df.queryExecution.sparkPlan.collect { case j: BaseJoinExec => j }
          .filterNot(j => (j.leftKeys ++ j.rightKeys)
            .exists(_.references.exists(_.name == "doc_id")))
        assert(modelJoins.nonEmpty, s"$face: no model join found")
        modelJoins.foreach { j =>
          val broadcastJoin =
            if (j.leftKeys.isEmpty) j.isInstanceOf[BroadcastNestedLoopJoinExec]
            else j.isInstanceOf[BroadcastHashJoinExec]
          assert(broadcastJoin, s"$face: a model join does not broadcast:\n$j")
        }
        val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
        assert(scans.size <= 2,
          s"$face: ${scans.size} input scans, at most 2 (positions + id join-back):\n" +
            df.queryExecution.sparkPlan)
      } finally graft.api.Pinned.release(spark)
    }
}
