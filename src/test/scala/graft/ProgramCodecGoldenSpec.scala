package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Program

/**
 * The program-document golden corpus: every document the specs and the
 * program queries pass through `Program.toJson`/`fromJson`, plus
 * hand-written legacy inputs (unversioned, explicit old stamps, absent
 * optional fields, partial all-or-none groups), one JSON object per line
 * of `src/test/resources/program/corpus.jsonl`. Each line freezes what the
 * codec makes of its `input`: the decoded `Doc.toString`, the re-encoded
 * JSON, its version stamp and each node's input edges — or, for a document
 * the codec rejects, the error.
 *
 * A new document joins by appending `{"input": "<json>"}` to the file and
 * running `sbt "Test/runMain graft.ProgramCorpus"`, which fills in the
 * facts of every line from the current codec, rewrites the file in input
 * order, and prints how many rejections changed only their error text and
 * each document whose outcome flipped. Review the diff: no existing line
 * may change unless the change is a deliberate format change. Every
 * `Program.FieldRules` reference needs a document its rule rejects.
 */
object ProgramCorpus {
  implicit val formats: Formats = DefaultFormats

  val path = Paths.get("src/test/resources/program/corpus.jsonl")

  /** The functions the corpus's applyFn nodes call, with their arities. */
  val functions: Seq[(String, Int)] = Seq("codec_fn" -> 2, "pf_scale" -> 2,
    "pf_pos" -> 1, "cap_scale" -> 2, "cap_pos" -> 1, "norm_text" -> 1,
    "is_substantial" -> 2, "fmt_doc_stats" -> 3)

  def lines(): Seq[JValue] =
    Files.readAllLines(path, UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)
      .map(JsonMethods.parse(_))

  /** What the codec makes of one document. */
  def facts(input: String): JValue = {
    val got: List[JField] = try {
      val doc = Program.fromJson(input)
      val json = Program.toJson(doc)
      List("doc" -> JString(doc.toString), "json" -> JString(json),
        "version" -> JsonMethods.parse(json) \ "version",
        "inputs" -> JArray(doc.nodes.map(n =>
          JArray(Program.nodeInputs(n).map(JString(_)).toList)).toList))
    } catch {
      case e: Exception => List("error" -> JString(s"${e.getClass.getName}: ${e.getMessage}"))
    }
    JObject(("input" -> JString(input)) :: got)
  }

  /** The node class names of a corpus line's decoded document. */
  def nodeClasses(line: JValue): Seq[String] =
    Program.fromJson((line \ "input").extract[String]).nodes.map(_.getClass.getSimpleName)

  def withFunctions[T](body: => T): T = {
    val added = functions.filter { case (f, _) => Program.Functions.registeredArity(f).isEmpty }
    added.foreach { case (f, arity) =>
      Program.Functions.register(f, arity)(_ => org.apache.spark.sql.functions.lit(0)) }
    try body finally added.foreach { case (f, _) => Program.Functions.unregister(f) }
  }

  /** Refill every line's facts from the current codec, and report how the
    * outcomes moved: how many rejections changed only their error text,
    * and each document that flipped between accepted and rejected. */
  def main(args: Array[String]): Unit = withFunctions {
    val before = lines().map(l => (l \ "input").extract[String] -> l).toMap
    val inputs = before.keys.toSeq.sorted
    val after = inputs.map(facts)
    Files.write(path, after.map(f => JsonMethods.compact(JsonMethods.render(f)))
      .mkString("", "\n", "\n").getBytes(UTF_8))
    println(s"wrote ${inputs.size} documents to $path")
    def rejected(l: JValue): Boolean = (l \ "error") != JNothing
    val changed = inputs.zip(after).filter { case (i, now) => before(i) != now }
    val flipped = changed.filter { case (i, now) => rejected(before(i)) != rejected(now) }
    println(s"${changed.count { case (i, now) => rejected(before(i)) && rejected(now) }} " +
      "rejected documents changed only their error text")
    println(s"${flipped.size} documents flipped outcome")
    flipped.foreach { case (i, now) =>
      println(s"${if (rejected(now)) "accepted -> rejected" else "rejected -> accepted"}: $i") }
  }
}

class ProgramCodecGoldenSpec extends AnyFunSuite {
  import ProgramCorpus.formats

  private lazy val corpus = ProgramCorpus.lines()

  test("every corpus document keeps its Doc, bytes, version stamp and node inputs") {
    ProgramCorpus.withFunctions {
      val drifted = corpus.filter(l => ProgramCorpus.facts((l \ "input").extract[String]) != l)
      assert(corpus.size > 100, s"corpus has ${corpus.size} documents")
      if (drifted.nonEmpty) fail(s"${drifted.size} of ${corpus.size} documents drifted; first:\n" +
        drifted.take(3).map { l =>
          val now = ProgramCorpus.facts((l \ "input").extract[String])
          s"recorded ${JsonMethods.compact(l)}\nnow      ${JsonMethods.compact(now)}"
        }.mkString("\n"))
    }
  }

  test("every field-rule reference rejects a corpus document under its rule") {
    val errors = corpus.flatMap(l => (l \ "error").extractOpt[String])
    val refs = Program.FieldRules.flatMap { case (rule, ops) => ops.split(' ').toSeq.map { r =>
      val (op, field) = r.span(_ != '.')
      s"$op needs ${field.drop(1)} ${rule.bound}, got"
    } }
    assert(refs.size > 90, refs.size.toString)
    val unpinned = refs.filterNot(r => errors.exists(_.contains(r)))
    assert(unpinned.isEmpty, s"rule references no corpus document rejects: " +
      unpinned.mkString("; "))
  }

  test("a rule row naming an unknown op or field, or an unreadable type, fails the codec build") {
    import Program.{NonEmpty, OneOf, Positive}
    def bad(rule: Program.Rule, ref: String): String =
      intercept[IllegalStateException](Program.checkRules(Seq(rule -> ref))).getMessage
    assert(bad(Positive, "nope.k").contains("ops with no node class: nope"))
    assert(bad(Positive, "corpusDedup.nope").contains("corpusDedup has no field 'nope'"))
    assert(bad(OneOf("a"), "recordWindow.aggs.nope").contains("no tuple key 'nope'"))
    assert(bad(Positive, "scan.kind").contains("cannot read String"))
    assert(bad(NonEmpty, "corpusDedup.k").contains("cannot read Int"))
    Program.checkRules(Program.FieldRules)
  }

  test("every node class appears in a decoded corpus document") {
    import scala.reflect.runtime.universe.typeOf
    val classes = typeOf[Program.Node].typeSymbol.asClass.knownDirectSubclasses
      .map(_.name.toString)
    val seen = ProgramCorpus.withFunctions {
      corpus.filter(l => (l \ "error") == JNothing).flatMap(ProgramCorpus.nodeClasses).toSet
    }
    assert(classes.size > 90, classes.toString)
    assert((classes -- seen).isEmpty, s"node classes with no decoded corpus document: " +
      (classes -- seen).toSeq.sorted.mkString(", "))
  }
}
