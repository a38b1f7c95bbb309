package graft

import org.apache.spark.sql.functions._
import graft.api.{App, MStream, Program}
import graft.api.Program._

/** The sampling/training-mix family as program-document nodes (format
  * version 5): JSON round-trip, version stamping, load-time parameter
  * validation by node name, capture ≡ import execution, and the
  * build-time-eager temperatureMix validating schema-only. */
class SamplingProgramSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 600L)
    .map(i => (i, s"s${i % 3}", 10L + i % 7)).toDF("id", "src", "toks")

  test("all eight nodes JSON round-trip and stamp format version 5") {
    val d = Doc(
      nodes = Seq(
        External("in"), External("pairs"),
        HashSample("hs", "in", "id", 0.5, "a"),
        StratifiedSample("st", "hs", "id", "src",
          Map("s0" -> 0.9, "s1" -> 0.1), 0.25, "b"),
        AssignSplit("sp", "st", "id", Seq("train" -> 0.9, "test" -> 0.1), "split", "c"),
        WeightedMix("wm", "sp", "id", "src", Map("s0" -> 2.5), 1.0, "d"),
        CapPerKey("cap", "wm", "src", "id", 10, "e"),
        CapTokens("ct", "cap", "src", "id", "toks", 100L, "f"),
        TemperatureMix("tm", "ct", "id", "src", 0.5, 50L, "g"),
        SafeSplit("ss", "tm", "pairs", "id", "id_a", "id_b",
          Seq("train" -> 0.8, "validation" -> 0.2), "band", "h")),
      outputs = Seq("ss"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":5"), "sampling nodes need format version 5")
    assert(Program.fromJson(json) == d, "round-trip must be lossless")
  }

  test("load-time parameter validation names the offending node") {
    def bad(node: Node, extra: Seq[Node] = Nil): String =
      intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
        Doc(Seq(External("in")) ++ extra :+ node, Seq(node.name))))).getMessage
    assert(bad(HashSample("x", "in", "id", 1.5, "")).contains("hashSample needs rate in [0,1]"))
    assert(bad(StratifiedSample("x", "in", "id", "src", Map("a" -> 2.0), 0.0, ""))
      .contains("stratifiedSample needs rates in [0,1]"))
    assert(bad(AssignSplit("x", "in", "id", Seq("a" -> 0.5, "b" -> 0.4), "split", ""))
      .contains("sum to 1"))
    assert(bad(WeightedMix("x", "in", "id", "src", Map("a" -> -1.0), 0.0, ""))
      .contains("weightedMix needs weights >= 0"))
    assert(bad(CapPerKey("x", "in", "src", "id", 0, "")).contains("n > 0"))
    assert(bad(CapTokens("x", "in", "src", "id", "toks", 0L, "")).contains("budget > 0"))
    assert(bad(TemperatureMix("x", "in", "id", "src", 1.5, 10L, ""))
      .contains("temperatureMix needs alpha in (0,1]"))
    assert(bad(SafeSplit("x", "in", "pairs", "id", "a", "b", Nil, "split", ""),
      extra = Seq(External("pairs"))).contains("safeSplit needs splits non-empty"))
  }

  test("exactK node: v6 round-trip, named validation, capture == direct API") {
    val d = Doc(nodes = Seq(External("in"), ExactKSample("ek", "in", "id", 25, "v")),
      outputs = Seq("ek"))
    val json = Program.toJson(d)
    assert(json.contains("\"version\":6"), "exactK is a v6 node")
    assert(Program.fromJson(json) == d, "round-trip must be lossless")
    val e = intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
      Doc(Seq(External("in"), ExactKSample("x", "in", "id", 0, "")), Seq("x")))))
    assert(e.getMessage.contains("k > 0") && e.getMessage.contains("node 'x'"))
    val piped = Program.Rec.external("in", MStream(docs))
      .exactKSample("id", 25, "v").as("out")
    val live = piped.stream.df.select("id").collect().map(_.getLong(0)).toSet
    val direct = graft.pipeline.Sampling.exactKSample(docs, "id", 25, "v")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(live == direct && live.size == 25, "capture path diverged from the direct API")
    // the per-stratum sibling: round-trip + capture == direct
    val d2 = Doc(nodes = Seq(External("in"), ExactKStrata("es", "in", "src", "id", 7, "w")),
      outputs = Seq("es"))
    assert(Program.fromJson(Program.toJson(d2)) == d2, "exactKStrata round-trip")
    val piped2 = Program.Rec.external("in", MStream(docs))
      .exactKPerKey("src", "id", 7, "w").as("out2")
    val live2 = piped2.stream.df.select("id").collect().map(_.getLong(0)).toSet
    val direct2 = graft.pipeline.Sampling.exactKPerKey(docs, "src", "id", 7, "w")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(live2 == direct2 && live2.size == 21, "per-stratum capture diverged (3 strata x 7)")
  }

  test("captured pipeline == reloaded document == direct API, including safeSplit") {
    val pairsDf = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val bands = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    val piped = Program.Rec.external("in", MStream(docs))
      .stratifiedSample("id", "src", Map("s0" -> 1.0, "s1" -> 0.5), 0.25, "q")
      .safeSplit(Program.Rec.external("pairs", MStream(pairsDf)),
        "id", "id_a", "id_b", bands, as = "band", salt = "w")
      .as("out")
    val live = piped.stream.df.select("id", "src", "band")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(live.nonEmpty)

    // direct API on the same inputs
    val gated = graft.pipeline.Sampling.stratifiedHashSample(
      docs, col("id"), col("src"), Map("s0" -> 1.0, "s1" -> 0.5), 0.25, "q")
    val direct = graft.pipeline.Sampling.leakageSafeSplit(
        gated, "id", pairsDf, "id_a", "id_b", bands, as = "band", salt = "w")
      .select("id", "src", "band")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(live == direct, "capture path diverged from the direct API")

    // ship + reload + run under a config
    val json = Program.toJson(Program.capture(piped))
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .setSource("pairs", App.Source("list", rows = Some(pairsDf)))
      .addSink("out", App.Sink("memory"))
    Program.validate(Program.fromJson(json), spark, config)
    val reloaded = App.runProgram(spark, config, json)
      .collectFirst { case App.BatchOutput("out", df) => df }.get
      .select("id", "src", "band")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(reloaded == live, "reloaded document diverged from the capture")
    // the safeSplit guarantee holds through the document path: the
    // {1,2,3} near-dup cluster lands in one band
    val bandOf = reloaded.filter(r => Set(1L, 2L, 3L).contains(r._1)).map(_._3)
    assert(bandOf.toSet.size <= 1, s"cluster straddles bands: $bandOf")
    graft.api.Pinned.release(spark)
  }

  test("the pure hash-gate nodes run the SAME document streaming (one per-row plan)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // gate -> split -> epoch mix: all three are per-row gates, so the
    // document lowers onto a stream unchanged (no state, no watermark)
    val json = Program.toJson(Doc(
      nodes = Seq(
        External("in"),
        StratifiedSample("st", "in", "id", "src",
          Map("s0" -> 1.0, "s1" -> 0.5), 0.0, "sx"),
        AssignSplit("sp", "st", "id", Seq("train" -> 0.9, "test" -> 0.1), "split", "sy"),
        WeightedMix("wm", "sp", "id", "src", Map("s0" -> 2.0, "s1" -> 1.0), 0.0, "sz")),
      outputs = Seq("wm")))
    val rows = (0L until 300L).map(i => (i, s"s${i % 3}", 1L))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(3), r.getLong(4)) // id, src, split, epoch
    val batch = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(rows.toDF("id", "src", "toks"))))
        .addSink("wm", App.Sink("memory")))(
      Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("wm", df) => df }.get
    val b = batch.collect().map(key).toSet
    assert(b.nonEmpty && b.forall(_._2 != "s2"), "default weight 0 drops s2")
    assert(b.exists(_._4 == 1L), "s0 rows carry epoch copies")

    val in = MemoryStream[(Long, String, Long)]
    val name = s"mix_stream_${System.nanoTime()}"
    val running = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(in.toDF().toDF("id", "src", "toks"))))
        .addSink("wm", App.Sink("memory", outputMode = "append",
          queryName = Some(name))))(
      Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("wm", sq) => sq }.head
    try {
      rows.grouped(100).foreach(g => in.addData(g: _*))
      q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
        "hash gates are stateless")
      assert(spark.table(name).collect().map(key).toSet == b,
        "streaming document output equals the batch run exactly")
    } finally q.stop()
  }

  test("temperatureMix validates schema-only (empty sources never collect counts)") {
    val doc = Doc(
      nodes = Seq(External("in"),
        TemperatureMix("tm", "in", "id", "src", 0.5, 100L, "z")),
      outputs = Seq("tm"))
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .addSink("tm", App.Sink("memory"))
    // would throw "empty input" if validation executed the eager counts
    Program.validate(doc, spark, config)
    // a bad column still fails by node name
    val badDoc = Doc(
      nodes = Seq(External("in"),
        TemperatureMix("tm", "in", "nope", "src", 0.5, 100L, "z")),
      outputs = Seq("tm"))
    val e = intercept[IllegalArgumentException](Program.validate(badDoc, spark, config))
    assert(e.getMessage.contains("node 'tm'"), e.getMessage)
  }

  test("capTokens validates schema-only (no checkpoint jobs, no Pinned leak)") {
    // build-time eager since the RangedPrefix rewrite: validation must
    // NOT lower it (that would checkpoint the range assignment — Spark
    // jobs per validated document and registry entries never released)
    val doc = Doc(
      nodes = Seq(External("in"),
        CapTokens("ct", "in", "src", "id", "toks", 100L, "z")),
      outputs = Seq("ct"))
    val config = new App.Config()
      .setSource("in", App.Source("list", rows = Some(docs)))
      .addSink("ct", App.Sink("memory"))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    Program.validate(doc, spark, config)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "validation must not checkpoint (Pinned leak per validated document)")
    // capPerKey became eager with the same rewrite — same contract
    val docCap = Doc(
      nodes = Seq(External("in"), CapPerKey("cp", "in", "src", "id", 5, "z")),
      outputs = Seq("cp"))
    Program.validate(docCap, spark,
      new App.Config()
        .setSource("in", App.Source("list", rows = Some(docs)))
        .addSink("cp", App.Sink("memory")))
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "capPerKey validation must not checkpoint either")
    // a bad column still fails by node name
    val badDoc = Doc(
      nodes = Seq(External("in"),
        CapTokens("ct", "in", "src", "id", "nope", 100L, "z")),
      outputs = Seq("ct"))
    val e2 = intercept[IllegalArgumentException](Program.validate(badDoc, spark, config))
    assert(e2.getMessage.contains("node 'ct'"), e2.getMessage)
  }
}
