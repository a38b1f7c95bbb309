package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Program
import graft.api.Program._
import graft.pipeline.TextOps.LmSpec

/** The one parameter contract of the LM family, [[LmSpec.check]], over
  * every combination no scoring face accepts: each row fails the check
  * with a message that starts with the caller's label. Rows whose bad
  * value a program-document LM node can carry run through
  * `Program.fromJson` too, and the document is rejected with the
  * `node '<name>': <op>` prefix; the rest (a self-scored `minCount`, a
  * JM `sentenceMode`, ...) have no node field to carry them. Needs no
  * SparkSession. */
class LmSpecContractSpec extends AnyFunSuite {

  private val jm = LmSpec.JelinekMercer()
  private val kn = LmSpec.KneserNey()
  private val mkn = LmSpec.ModifiedKn()
  private val tri = Seq(0.6, 0.3, 0.1)

  // (case, spec, against a reference, per-language, the node carrying it)
  private val rows: Seq[(String, LmSpec, Boolean, Boolean, Option[Node])] = Seq(
    ("sentenceMode on a Jelinek-Mercer model", LmSpec(3, jm, sentenceMode = true),
      true, false, None),
    ("sentenceMode on a self-scored model", LmSpec(3, kn, sentenceMode = true),
      false, false, None),
    ("sentenceMode with language columns", LmSpec(3, kn, sentenceMode = true),
      true, true, None),
    ("minCount on a self-scored model", LmSpec(3, kn, minCount = 2L), false, false, None),
    ("broadcastModel on a self-scored model", LmSpec(3, jm, broadcastModel = Some(true)),
      false, false, None),
    ("add-alpha at order 3", LmSpec(3, LmSpec.AddAlpha()), true, false, None),
    ("add-alpha with language columns", LmSpec(2, LmSpec.AddAlpha()), true, true, None),
    ("add-alpha with minCount", LmSpec(2, LmSpec.AddAlpha(), minCount = 2L),
      true, false, None),
    ("add-alpha with broadcastModel", LmSpec(2, LmSpec.AddAlpha(),
      broadcastModel = Some(false)), true, false, None),
    ("explicit MKN discounts with language columns", LmSpec(2, LmSpec.ModifiedKn(
      Map(1 -> (0.5, 1.0, 1.5), 2 -> (0.5, 1.0, 1.5)))), true, true, None),
    ("explicit MKN discounts missing a level", LmSpec(3, LmSpec.ModifiedKn(
      Map(1 -> (0.5, 1.0, 1.5)))), false, false, None),
    ("an explicit MKN level triple out of bounds", LmSpec(2, LmSpec.ModifiedKn(
      Map(1 -> (1.5, 1.0, 1.5), 2 -> (0.5, 1.0, 1.5)))), true, false, None),
    ("a count column on a Kneser-Ney model", LmSpec(3, kn, countCol = Some("n_tris")),
      true, false, None),
    ("n_tris on a self-scored model of order 4", LmSpec(4, jm, countCol = Some("n_tris")),
      false, false, None),
    ("order 1", LmSpec(1, kn), false, false,
      Some(KnScore("x", "in", "doc_id", "text", 1))),
    ("order 9", LmSpec(9, jm), true, false,
      Some(LmNAgainst("x", "in", "r", "doc_id", "text", "text", 9))),
    ("order 9 per language", LmSpec(9, mkn), true, true,
      Some(MknAgainstLang("x", "in", "r", "doc_id", "text", "lang", "text", "lang", 9))),
    ("too few lambdas", LmSpec(4, LmSpec.JelinekMercer(lambdas = Seq(0.5, 0.5))),
      false, false, Some(LmNScore("x", "in", "doc_id", "text", 4, lambdas = Seq(0.5, 0.5)))),
    ("lambdas summing past 1", LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.9, 0.3, 0.1)),
      countCol = Some("n_tris")), false, false,
      Some(Lm3Score("x", "in", "doc_id", "text", 0.5, 0.9, 0.3, 0.1))),
    ("lambdas summing past 1 against a reference", LmSpec(3,
      LmSpec.JelinekMercer(0.5, Seq(0.9, 0.3, 0.1)), countCol = Some("n_tris")),
      true, false, Some(Lm3Against("x", "in", "r", "doc_id", "text", "text", 0.5, 0.9, 0.3, 0.1))),
    ("a negative lambda", LmSpec(2, LmSpec.JelinekMercer(lambdas = Seq(1.2, -0.2))),
      true, true, Some(LmAgainstLang("x", "in", "r", "doc_id", "text", "lang", "text",
        "lang", 2, lambdas = Seq(1.2, -0.2)))),
    ("alpha 0", LmSpec(2, LmSpec.AddAlpha(0.0)), true, false,
      Some(LmScore("x", "in", "r", "doc_id", "text", "text", 0.0))),
    ("a discount of 1", LmSpec(3, LmSpec.KneserNey(1.0)), true, false,
      Some(KnAgainst("x", "in", "r", "doc_id", "text", "text", 3, 1.0))),
    ("a discount of 0", LmSpec(3, LmSpec.KneserNey(0.0)), true, true,
      Some(KnAgainstLang("x", "in", "r", "doc_id", "text", "lang", "text", "lang", 3, 0.0))),
    ("an MKN fallback D2 past 2", LmSpec(3, LmSpec.ModifiedKn(fallback = (0.5, 2.5, 1.5))),
      false, false, Some(MknScore("x", "in", "doc_id", "text", 3, 0.5, 2.5, 1.5))),
    ("an MKN fallback D1 of 0", LmSpec(3, LmSpec.ModifiedKn(fallback = (0.0, 1.0, 1.5))),
      true, true, Some(MknAgainstLang("x", "in", "r", "doc_id", "text", "lang", "text",
        "lang", 3, 0.0))),
    ("minCount 0", LmSpec(3, mkn, minCount = 0L), true, false,
      Some(MknAgainst("x", "in", "r", "doc_id", "text", "text", 3, minCount = 0L))),
    ("minCount 0 on the trigram against face", LmSpec(3,
      LmSpec.JelinekMercer(0.5, tri), minCount = 0L, countCol = Some("n_tris")), true, false,
      Some(Lm3Against("x", "in", "r", "doc_id", "text", "text", minCount = 0L))))

  for ((what, spec, against, byLang, node) <- rows)
    test(s"LmSpec.check rejects $what") {
      val e = intercept[IllegalArgumentException](spec.check("lmScore", against, byLang))
      assert(e.getMessage.startsWith("lmScore "), e.getMessage)
      node.foreach { n =>
        val op = n match {
          case _: LmScore => "lmScore"; case _: Lm3Score => "lm3Score"
          case _: Lm3Against => "lm3Against"; case _: LmNScore => "lmnScore"
          case _: LmNAgainst => "lmnAgainst"; case _: LmAgainstLang => "lmAgainstLang"
          case _: KnScore => "knScore"; case _: KnAgainst => "knAgainst"
          case _: KnAgainstLang => "knAgainstLang"; case _: MknScore => "mknScore"
          case _: MknAgainst => "mknAgainst"; case _: MknAgainstLang => "mknAgainstLang"
          case other => fail(s"not an LM node: $other")
        }
        val doc = Doc(Seq(External("in"), External("r"), n), Seq("x"))
        val json = Program.toJson(doc)
        assert(json.contains(s"\"op\":\"$op\""), json)
        val d = intercept[IllegalArgumentException](Program.fromJson(json))
        assert(d.getMessage.startsWith(s"node 'x': $op "), d.getMessage)
      }
    }

  test("the combinations the faces accept pass the check") {
    val ok: Seq[(LmSpec, Boolean, Boolean)] = Seq(
      (LmSpec(2, LmSpec.AddAlpha()), true, false),
      (LmSpec(2, LmSpec.AddAlpha()), false, false),
      (LmSpec(3, LmSpec.JelinekMercer(0.5, tri), countCol = Some("n_tris")), false, false),
      (LmSpec(3, LmSpec.JelinekMercer(0.5, tri), 2L, Some(false),
        countCol = Some("n_tris")), true, false),
      (LmSpec(5, jm), false, false),
      (LmSpec(8, jm, 3L, Some(true), countCol = Some("n_any")), true, false),
      (LmSpec(3, jm, countCol = Some("n_tris")), true, true),
      (LmSpec(2, kn), false, false),
      (LmSpec(3, kn, 2L, None, sentenceMode = true), true, false),
      (LmSpec(3, kn), true, true),
      (LmSpec(3, LmSpec.ModifiedKn((1 to 3).map(_ -> (0.5, 1.0, 1.5)).toMap)), false, false),
      (LmSpec(4, mkn, sentenceMode = true), true, false),
      (LmSpec(3, mkn, 2L, Some(false)), true, true))
    ok.foreach { case (spec, against, byLang) => spec.check("lmScore", against, byLang) }
  }
}
