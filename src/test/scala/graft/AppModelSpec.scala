package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.api.{App, MStream}

/** Application-model semantics: program is pure dataflow over named
  * streams; sources/sinks bind by name in the config (Milan
  * `ApplicationConfiguration` separation). */
class AppModelSpec extends SparkSpec {
  import spark.implicits._

  test("batch program runs against config-bound sources and sinks") {
    val data = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    val out = java.nio.file.Files.createTempDirectory("graft_app").toString
    val config = new App.Config()
      .setSource("input", App.Source(format = "list", rows = Some(data)))
      .addSink("totals", App.Sink(format = "parquet", path = Some(s"$out/totals")))
      .addSink("totals", App.Sink(format = "memory"))

    val running = App.run(spark, config) { input =>
      Map("totals" -> input("input").groupBy("k").select(sum(col("v")).as("total")))
    }
    assert(running.size == 2)
    val roundTrip = spark.read.parquet(s"$out/totals")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(roundTrip == Set(("a", 3.0), ("b", 5.0)), "parquet sink wrote program output")
  }

  test("streaming program: keepReading source drives a live query to a memory sink") {
    val config = new App.Config()
      .setSource("ticks", App.Source(format = "rate",
        options = Map("rowsPerSecond" -> "50"), keepReading = true))
      .addSink("out", App.Sink(format = "memory", outputMode = "append",
        queryName = Some(s"app_stream_${System.nanoTime()}")))
    val running = App.run(spark, config) { input =>
      Map("out" -> input("ticks").where(col("value") % 2 === 0)
        .map(col("value"), (col("value") * 10).as("v10")))
    }
    val q = running.collect { case App.StreamingOutput(_, query) => query }.head
    try {
      var tries = 0
      def count() = spark.table(q.name).count()
      while (count() == 0 && tries < 100) { q.processAllAvailable(); Thread.sleep(100); tries += 1 }
      val rows = spark.table(q.name).collect()
      assert(rows.nonEmpty, "streaming rows reached the memory sink")
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10), "projection applied in-stream")
      assert(rows.forall(_.getLong(0) % 2 == 0), "filter applied in-stream")
    } finally q.stop()
  }

  test("describeJson serializes the resolved program without executing") {
    val data = Seq(("a", 1.0)).toDF("k", "v")
    val config = new App.Config().setSource("input", App.Source("list", rows = Some(data)))
    val json = App.describeJson(spark, config) { input =>
      Map("out" -> input("input").groupBy("k").select(sum(col("v")).as("total")))
    }
    assert(json.contains("\"out\"") && json.contains("Aggregate") && json.contains("total"))
  }

  test("per-query state store binding runs stateful ops on RocksDB") {
    val cp = java.nio.file.Files.createTempDirectory("graft_rocks_cp").toString
    val config = new App.Config()
      .setSource("ticks", App.Source(format = "rate",
        options = Map("rowsPerSecond" -> "100"), keepReading = true))
      .addSink("counts", App.Sink(format = "memory", outputMode = "update",
        queryName = Some(s"rocks_${System.nanoTime()}"),
        checkpoint = Some(cp), stateStore = Some("rocksdb")))
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val running = App.run(spark, config) { input =>
      Map("counts" -> input("ticks")
        .addFields("k" -> col("value") % 10)
        .groupBy("k").select(count(lit(1)).as("n")))
    }
    val q = running.collect { case App.StreamingOutput(_, query) => query }.head
    try {
      var tries = 0
      while (spark.table(q.name).count() == 0 && tries < 100) {
        q.processAllAvailable(); Thread.sleep(100); tries += 1
      }
      val metrics = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet.toArray.map(_.toString))
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state operator ran on RocksDB, got metrics: ${metrics.mkString(",")}")
      assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass") == before,
        "provider conf restored after start — no leak into later queries")
    } finally q.stop()
  }

  test("config JSON round-trips every source/sink binding") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "string").add("v", "double")
    val config = new App.Config()
      .setSource("input", App.Source(format = "parquet", path = Some("/data/in"),
        options = Map("mergeSchema" -> "false"), schema = Some(schema),
        order = Seq("ts_ns", "event_id")))
      .setSource("bus", App.Source.kafka("broker:9092", "clicks",
        startingOffsets = "earliest"))
      .addSink("out", App.Sink(format = "parquet", path = Some("/data/out"),
        mode = "append", clusterBy = Seq("n_chars", "doc_id"), clusterFiles = 64,
        partitionBy = Seq("source")))
      .addSink("out", App.Sink(format = "memory", outputMode = "complete",
        queryName = Some("t"), checkpoint = Some("/cp/out"),
        stateStore = Some("rocksdb")))
      .setFanOutSinks("out")
      .addLineageSink(App.Sink(format = "parquet", path = Some("/data/lineage")))
      .releasePinnedAfterRun()
    val reloaded = App.configFromJson(App.configToJson(config))
    assert(reloaded.sourceBindings == config.sourceBindings, "sources survive")
    assert(reloaded.sinkBindings == config.sinkBindings, "sinks survive")
    assert(reloaded.fanOutStreams == Set("out"), "fan-out flags survive")
    assert(reloaded.lineageSink == config.lineageSink, "the lineage binding survives")
    assert(reloaded.releasePinnedAfterRunEnabled, "pin-release hygiene survives")
    // reloaded config is runnable, not just structurally equal
    val reloaded2 = App.configFromJson(App.configToJson(
      new App.Config().setSource("input",
        App.Source(format = "json", path = Some("/tmp/nope"), keepReading = false))))
    assert(reloaded2.source("input").format == "json")
  }

  test("a clusterBy sink z-orders the written files; streaming rejects it by name") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_sink").toString
    val pts = scala.util.Random.shuffle(
      (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)).toList)
    App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(pts.toDF("x", "y"))))
        .addSink("out", App.Sink(format = "parquet", path = Some(s"$dir/out"),
          clusterBy = Seq("x", "y"), clusterFiles = 8)))(
      in => Map("out" -> in("in")))
    // each written file covers a small rectangle: total bounding-box area
    // across files ~tiles the domain instead of 8 x the whole domain
    val perFile = spark.read.parquet(s"$dir/out")
      .select(col("x"), col("y"), input_file_name().as("f"))
      .groupBy("f")
      .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("area"))
      .collect()
    assert(perFile.length == 8, s"clusterFiles must bound the file count: ${perFile.length}")
    val total = perFile.map(_.getLong(1)).sum
    assert(total <= 32L * 32 * 2,
      s"z-ordered files must tile the domain (area $total vs ${8 * 32 * 32} unclustered)")

    // streaming + clusterBy is rejected by name (no global range sample)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val e = intercept[IllegalArgumentException] {
      App.run(spark, new App.Config()
          .setSource("in", App.Source("list", rows = Some(in.toDF().toDF("x", "y"))))
          .addSink("out", App.Sink(format = "parquet", path = Some(s"$dir/s"),
            checkpoint = Some(s"$dir/cp"), clusterBy = Seq("x"))))(
        in2 => Map("out" -> in2("in")))
    }
    assert(e.getMessage.contains("batch-layout knob"), e.getMessage)
  }

  test("a partitionBy sink writes hive-style directories, batch and streaming") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part_sink").toString
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src")
    App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(rows)))
        .addSink("out", App.Sink(format = "parquet", path = Some(s"$dir/b"),
          partitionBy = Seq("src"))))(in => Map("out" -> in("in")))
    assert(new java.io.File(s"$dir/b/src=a").isDirectory &&
      new java.io.File(s"$dir/b/src=b").isDirectory,
      "batch write must produce hive-style partition directories")
    // partition pruning reaches the read: only src=a files are listed
    val pruned = spark.read.parquet(s"$dir/b").filter(col("src") === "a")
    assert(pruned.count() == 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "the partition filter must prune at the source")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val running = App.run(spark, new App.Config()
        .setSource("in", App.Source("list", rows = Some(in.toDF().toDF("id", "src"))))
        .addSink("out", App.Sink(format = "parquet", path = Some(s"$dir/s"),
          outputMode = "append", checkpoint = Some(s"$dir/cp"),
          partitionBy = Seq("src"))))(in2 => Map("out" -> in2("in")))
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      in.addData((10L, "a"), (11L, "c"))
      q.processAllAvailable()
      assert(new java.io.File(s"$dir/s/src=c").isDirectory,
        "the streaming file sink must partition too")
      assert(spark.read.parquet(s"$dir/s").count() == 2)
    } finally q.stop()
  }

  test("s3 source helper builds the s3a binding") {
    val s = App.Source.s3("corpus-bucket", "docs/year=2026/", format = "parquet")
    assert(s.path.contains("s3a://corpus-bucket/docs/year=2026/"))
    assert(s.format == "parquet" && !s.keepReading)
  }

  test("kafka source helper binds Milan's message-bus ingress shape") {
    val s = App.Source.kafka("b1:9092,b2:9092", "events")
    assert(s.format == "kafka" && s.keepReading)
    assert(s.options("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(s.options("subscribe") == "events")
    assert(s.options("startingOffsets") == "latest")
  }

  test("JSON-loaded config drives a streaming program end-to-end (rate source standing in for the broker)") {
    // the deployment path a Kafka binding takes: ship a JSON config, load
    // it, run the compiled program — with the rate source substituting for
    // the unreachable broker (same keepReading streaming read path).
    val name = s"rate_e2e_${System.nanoTime()}"
    val json = App.configToJson(new App.Config()
      .setSource("in", App.Source(format = "rate",
        options = Map("rowsPerSecond" -> "100"), keepReading = true))
      .addSink("out", App.Sink(format = "memory", outputMode = "append",
        queryName = Some(name))))
    val running = App.run(spark, App.configFromJson(json)) { in =>
      Map("out" -> in("in").map(col("value"), (col("value") * 2).as("doubled")))
    }
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      var rows = 0L
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (rows == 0 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        rows = spark.table(name).count()
        if (rows == 0) Thread.sleep(100)
      }
      assert(rows > 0, "JSON-loaded streaming config produced rows")
      val bad = spark.table(name).filter(col("doubled") =!= col("value") * 2).count()
      assert(bad == 0, "program transform applied")
    } finally q.stop()
  }

  test("sqs/dynamodb/kinesis bindings carry Milan's addressing and survive the JSON round-trip") {
    val cfg = new App.Config()
      .setSource("q", App.Source.sqs("https://sqs.test.example/123/queue", "eu-west-1"))
      .setSource("d", App.Source.dynamoDbStream("tbl", "eu-west-1"))
      .addSink("out", App.Sink.kinesis("events", "eu-west-1"))
      .addSink("out", App.Sink.sqs("https://sqs.test.example/123/out", "eu-west-1"))
      .addSink("out", App.Sink.dynamoDb("results", "eu-west-1"))
    val back = App.configFromJson(App.configToJson(cfg))
    assert(back.source("q").format == "sqs" &&
      back.source("q").options("sqsUrl").endsWith("/queue") && back.source("q").keepReading)
    assert(back.source("d").format == "dynamodb-streams" &&
      back.source("d").options("tableName") == "tbl")
    assert(back.sinkList("out").map(_.format) == Seq("kinesis", "sqs", "dynamodb"))
    assert(back.sinkList("out").head.options("streamName") == "events")
  }

  test("parity sweep: EVERY Source/Sink binding round-trips field-exact with options intact") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("payload", "binary")
    val extra = Map("x-custom" -> "1", "another" -> "two")
    // one row per binding constructor the API exposes
    val sources: Seq[(String, App.Source)] = Seq(
      "file" -> App.Source(format = "parquet", path = Some("/data/in"),
        options = extra, schema = Some(schema), keepReading = false,
        order = Seq("ts", "id")),
      "csv" -> App.Source(format = "csv", path = Some("/data/in.csv"),
        options = extra ++ Map("header" -> "true", "sep" -> "|")),
      "json" -> App.Source(format = "json", path = Some("/data/in.json"),
        options = extra ++ Map("multiLine" -> "true")),
      "rate" -> App.Source(format = "rate",
        options = Map("rowsPerSecond" -> "7"), keepReading = true),
      "s3" -> App.Source.s3("bkt", "pfx/part", format = "json",
        options = extra, keepReading = true),
      "kafka" -> App.Source.kafka("b:9092", "topic",
        startingOffsets = "earliest", options = extra),
      "sqs" -> App.Source.sqs("https://sqs/q", "us-east-1", options = extra),
      "ddbs" -> App.Source.dynamoDbStream("tbl", "us-east-1", options = extra))
    val sinks: Seq[(String, App.Sink)] = Seq(
      "file" -> App.Sink(format = "parquet", path = Some("/data/out"),
        options = extra, mode = "append"),
      "memory" -> App.Sink(format = "memory", outputMode = "complete",
        queryName = Some("tbl"), checkpoint = Some("/cp"),
        stateStore = Some("rocksdb")),
      "console" -> App.Sink(format = "console", outputMode = "append"),
      "kinesis" -> App.Sink.kinesis("stream", "us-east-1", options = extra),
      "sqs" -> App.Sink.sqs("https://sqs/out", "us-east-1", options = extra),
      "ddb" -> App.Sink.dynamoDb("results", "us-east-1", options = extra))
    val cfg = new App.Config()
    sources.foreach { case (n, s) => cfg.setSource(n, s) }
    sinks.foreach { case (n, k) => cfg.addSink(n, k) }
    val back = App.configFromJson(App.configToJson(cfg))
    sources.foreach { case (n, s) =>
      assert(back.source(n) == s, s"source '$n' must round-trip field-exact")
      assert(back.source(n).options == s.options, s"source '$n' options intact")
    }
    sinks.foreach { case (n, k) =>
      assert(back.sinkList(n) == Seq(k), s"sink '$n' must round-trip field-exact")
      assert(back.sinkList(n).head.options == k.options, s"sink '$n' options intact")
    }
    // builder-injected addressing rides in options and must survive too
    assert(back.source("kafka").options("kafka.bootstrap.servers") == "b:9092")
    assert(back.source("sqs").options("region") == "us-east-1")
    assert(back.sinkList("kinesis").head.options("streamName") == "stream")
    assert(back.sinkList("ddb").head.options("tableName") == "results")
  }

  test("in-memory rows sources refuse to serialize") {
    val data = Seq(("a", 1.0)).toDF("k", "v")
    val c = new App.Config().setSource("m", App.Source("list", rows = Some(data)))
    val e = intercept[IllegalArgumentException](App.configToJson(c))
    assert(e.getMessage.contains("serialize"))
  }

  test("missing bindings fail with the stream name") {
    val e = intercept[IllegalArgumentException] {
      App.run(spark, new App.Config().addSink("x", App.Sink("memory"))) { _ => Map.empty }
    }
    assert(e.getMessage.contains("'x'"))
  }

  test("program document round-trips export→import→run (map/where/groupSelect/join)") {
    import graft.api.Program
    import graft.api.Program._
    // the document a deployment would ship: filter events, project, enrich
    // each event with the latest matching user record, aggregate per tier
    val doc = Doc(
      nodes = Seq(
        External("events"),
        External("users"),
        Where("recent", "events", "v > 0"),
        MapCols("projected", "recent", Seq(
          Field("user_id", "user_id"), Field("v * 2", "v2"), Field("seq", "seq"))),
        OrderBy("ordered", "projected", Seq("seq")),
        Join("enriched", "left", "ordered", "users",
          "l.user_id = r.uid", Seq(
            Field("l.user_id", "user_id"), Field("l.v2", "v2"),
            Field("r.tier", "tier"))),
        GroupSelect("out", "enriched", Seq("tier"), Seq(
          Field("sum(v2)", "total"), Field("count(1)", "n")))),
      outputs = Seq("out"))

    val json = Program.toJson(doc)
    val reloaded = Program.fromJson(json)
    assert(reloaded == doc, "document survives the JSON round-trip structurally")

    val events = Seq((1L, 1.0, 1L), (1L, -5.0, 2L), (2L, 3.0, 3L), (3L, 7.0, 4L))
      .toDF("user_id", "v", "seq")
    val users = Seq((1L, "gold", 1L), (2L, "silver", 2L)).toDF("uid", "tier", "useq")
    val config = new App.Config()
      .setSource("events", App.Source("list", rows = Some(events)))
      .setSource("users", App.Source("list", rows = Some(users), order = Seq("useq")))
      .addSink("out", App.Sink("memory"))
    val out = App.run(spark, config)(Program.interpret(reloaded))
      .collectFirst { case App.BatchOutput("out", df) => df }.get
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // user 1 matched gold, user 2 silver, user 3 unmatched (null tier);
    // v=-5 filtered by the where node; v2 = v*2
    assert(out == Set(("gold", 2.0, 1L), ("silver", 6.0, 1L), (null, 14.0, 1L)),
      s"imported program computed the same dataflow, got $out")
  }

  test("one program document runs batch AND streaming from the same artifact") {
    import graft.api.Program
    import graft.api.Program._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the document: watermark -> filter -> exact dedup within the horizon
    val json = Program.toJson(Doc(
      nodes = Seq(
        External("ev"),
        Watermark("wm", "ev", "ts", "10 seconds"),
        Where("pos", "wm", "v > 0"),
        DedupBy("out", "pos", Seq("k"), withinWatermark = true)),
      outputs = Seq("out")))

    // batch run
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val batchRows = Seq(("a", t(1), 5.0), ("a", t(2), 7.0), ("b", t(3), -1.0))
      .toDF("k", "ts", "v")
    val batchOut = App.run(spark,
        new App.Config()
          .setSource("ev", App.Source("list", rows = Some(batchRows)))
          .addSink("out", App.Sink("memory")))(
        Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    assert(batchOut.count() == 1, "batch: one survivor for key a, b filtered")

    // streaming run of the SAME document
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val name = s"prog_stream_${System.nanoTime()}"
    val running = App.run(spark,
        new App.Config()
          .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("k", "ts", "v"))))
          .addSink("out", App.Sink("memory", outputMode = "append",
            queryName = Some(name))))(
        Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      in.addData(("a", t(1), 5.0), ("b", t(2), -3.0))
      in.addData(("a", t(3), 9.0), ("c", t(4), 2.0))
      q.processAllAvailable()
      val got = spark.table(name).collect().map(_.getString(0)).toSet
      assert(got == Set("a", "c"),
        "streaming: dedup state spans micro-batches, filter applied in-stream")
    } finally q.stop()
  }

  test("program import rejects malformed documents at load time") {
    import graft.api.Program
    val badSql = """{"nodes": [{"op": "external", "name": "a"},
      {"op": "where", "name": "w", "input": "a", "predicate": "v > (1"}],
      "outputs": ["w"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(badSql))
      .getMessage.contains("where needs predicate a SQL expression"))
    val badRef = """{"nodes": [{"op": "where", "name": "w", "input": "missing",
      "predicate": "v > 1"}], "outputs": ["w"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(badRef))
      .getMessage.contains("before it is defined"))
    val badOut = """{"nodes": [{"op": "external", "name": "a"}], "outputs": ["nope"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(badOut))
      .getMessage.contains("not produced"))
    val badOp = """{"nodes": [{"op": "frobnicate", "name": "x"}], "outputs": []}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(badOp))
      .getMessage.contains("unknown program op"))
    val emptyAggs = """{"nodes": [{"op": "external", "name": "a"},
      {"op": "groupSelect", "name": "g", "input": "a", "keys": ["k"], "aggs": []}],
      "outputs": ["g"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(emptyAggs))
      .getMessage.contains("groupSelect needs aggs non-empty"))
    val badScan = """{"nodes": [{"op": "external", "name": "a"},
      {"op": "scan", "name": "s", "input": "a", "kind": "frob", "keys": []}],
      "outputs": ["s"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(badScan))
      .getMessage.contains("scan needs kind one of"))
  }

  test("program document format version: default, round-trip, too-new rejection") {
    import graft.api.Program
    import graft.api.Program._
    val doc = Doc(Seq(External("a")), Seq("a"))
    val json = Program.toJson(doc)
    // toJson stamps the LOWEST version expressing the doc: a v1-only
    // grammar document stays loadable by a v1 library
    assert(json.contains("\"version\":1"),
      "toJson stamps the minimal format version")
    assert(Program.fromJson(json) == doc)
    // pre-tag artifacts (no version field) read as version 1
    assert(Program.fromJson(
      """{"nodes": [{"op": "external", "name": "a"}], "outputs": ["a"]}""") == doc)
    val tooNew = s"""{"version": ${Program.FormatVersion + 1},
      "nodes": [{"op": "external", "name": "a"}], "outputs": ["a"]}"""
    assert(intercept[IllegalArgumentException](Program.fromJson(tooNew))
      .getMessage.contains("newer than this library"))
  }

  test("program codec is the identity over every node type") {
    import graft.api.Program
    import graft.api.Program._
    Program.Functions.register("codec_fn", 2)(a => a.head + a(1))
    val doc = Doc(
      nodes = Seq(
        External("a"), External("b"),
        MapCols("m", "a", Seq(Field("x + 1", "y"))),
        Where("w", "m", "y > 0"),
        AddTo("t", "w", Seq(Field("y * 2", "z"))),
        OrderBy("o", "t", Seq("z", "y")),
        Union("u", Seq("o", "b")),
        Distinct("d", "u"),
        GroupSelect("g", "d", Seq("y"), Seq(Field("sum(z)", "s"))),
        WindowSelect("ws", "d", Seq("y"), "ts", "1 hour", Some("10 minutes"),
          "0 seconds", "win", Seq(Field("count(1)", "n"))),
        Join("j", "leftInner", "g", "ws", "l.y = r.y AND r.n > 1",
          Seq(Field("l.s", "s"), Field("r.n", "n"))),
        Scan("sc", "o", "maxBy", Seq("y"), Some("z"), None),
        DedupBy("dd", "o", Seq("y"), withinWatermark = true),
        Watermark("wm", "a", "ts", "30 seconds"),
        Asof("as", "o", "b", "z", "bts", Seq("y" -> "by"), Seq("bid"),
          Some(500L), "forward", inner = true),
        UniqueBy("uq", "o", Seq("y"), Seq("z")),
        ToField("tf", "o", "rec"),
        SessionSelect("ses", "o", Seq("y"), "ts", "5 minutes", "sess_start",
          Seq(Field("count(1)", "n"))),
        RecordWindow("rw", "o", Seq("y"), 3,
          Seq(("sumBy", "z", "rsum"), ("countBy", "z", "rn"))),
        ApplyFn("af", "o", "codec_fn", Seq("y", "z"), "addField", Some("yz")),
        ApplyFn("af2", "af", "codec_fn", Seq("y", "1"), "map", Some("y1")),
        BeginCycle("bc", "o", 7),
        Where("fbw", "bc", "y > 0"),
        CloseCycle("cc", "bc", "fbw")),
      outputs = Seq("j", "sc"))
    assert(Program.fromJson(Program.toJson(doc)) == doc,
      "toJson/fromJson must be the identity on every node type and field")
  }

  test("program uniqueBy/toField/recordWindow nodes execute") {
    import graft.api.Program
    import graft.api.Program._
    val doc = Program.fromJson(Program.toJson(Doc(
      nodes = Seq(
        External("ev"),
        OrderBy("o", "ev", Seq("t")),
        UniqueBy("uq", "o", Seq("k"), Seq("t")),
        RecordWindow("rw", "o", Seq("k"), 2, Seq(("sumBy", "v", "rsum"))),
        ToField("tf", "uq", "rec")),
      outputs = Seq("uq", "rw", "tf"))))
    val ev = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 4.0), ("b", 4L, 9.0))
      .toDF("k", "t", "v")
    val config = new App.Config()
      .setSource("ev", App.Source("list", rows = Some(ev), order = Seq("t")))
      .addSink("uq", App.Sink("memory")).addSink("rw", App.Sink("memory"))
      .addSink("tf", App.Sink("memory"))
    val outs = App.run(spark, config)(Program.interpret(doc))
      .collect { case App.BatchOutput(n, df) => n -> df }.toMap
    val uq = outs("uq").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(uq == Set(("a", 3L), ("b", 4L)), "uniqueBy keeps the latest record per key")
    val rw = outs("rw").filter(col("k") === "a").orderBy("t")
      .select("rsum").collect().map(_.getDouble(0)).toSeq
    assert(rw == Seq(1.0, 3.0, 6.0), "trailing-2 running sums")
    assert(outs("tf").columns.toSeq == Seq("rec"), "toField wraps the record")
  }

  test("applyFn documents resolve registered functions batch AND streaming; " +
       "rejections name the node") {
    import graft.api.Program
    import graft.api.Program._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    Program.Functions.register("pf_scale", 2)(a => a.head * a(1))
    Program.Functions.register("pf_pos", 1)(a => a.head > 0)
    val json = Program.toJson(Doc(Seq(
      External("ev"),
      ApplyFn("scaled", "ev", "pf_scale", Seq("v", "10"), "addField", Some("v10")),
      ApplyFn("kept", "scaled", "pf_pos", Seq("v"), "where", None),
      ApplyFn("out", "kept", "pf_scale", Seq("v10", "2"), "map", Some("v20"))),
      Seq("out")))

    val batchRows = Seq(("a", 1.0), ("b", -3.0), ("c", 2.0)).toDF("k", "v")
    val batchOut = App.run(spark, new App.Config()
        .setSource("ev", App.Source("list", rows = Some(batchRows)))
        .addSink("out", App.Sink("memory")))(
      Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    assert(batchOut.columns.toSeq == Seq("v20"), "map kind keeps only the result")
    assert(batchOut.collect().map(_.getDouble(0)).sorted.toSeq == Seq(20.0, 40.0),
      "addField -> where -> map chain through registered functions")

    val in = MemoryStream[(String, Double)]
    val name = s"fn_stream_${System.nanoTime()}"
    val running = App.run(spark, new App.Config()
        .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("k", "v"))))
        .addSink("out", App.Sink("memory", outputMode = "append",
          queryName = Some(name))))(
      Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      in.addData(("a", 1.0), ("b", -3.0))
      in.addData(("c", 2.0))
      q.processAllAvailable()
      val got = spark.table(name).collect().map(_.getDouble(0)).toSet
      assert(got == Set(20.0, 40.0), "streaming applyFn chain matches batch")
    } finally q.stop()

    def bad(node: Node): IllegalArgumentException =
      intercept[IllegalArgumentException](Program.fromJson(Program.toJson(
        Doc(Seq(External("ev"), node), Seq(node.name)))))
    assert(bad(ApplyFn("x", "ev", "nope_fn", Seq("v"), "map", Some("o")))
      .getMessage.contains("node 'x': function 'nope_fn' is not registered"))
    assert(bad(ApplyFn("x", "ev", "pf_scale", Seq("v"), "map", Some("o")))
      .getMessage.contains("takes 2 argument(s), got 1"))
    assert(bad(ApplyFn("x", "ev", "pf_scale", Seq("v", "2"), "frob", Some("o")))
      .getMessage.contains("applyFn needs kind one of"))
    assert(bad(ApplyFn("x", "ev", "pf_scale", Seq("v", "2"), "map", None))
      .getMessage.contains("needs an 'as' output name"))
  }

  test("program document covers scan family, dedupBy, and as-of join") {
    import graft.api.Program
    import graft.api.Program._
    val doc = Program.fromJson(Program.toJson(Doc(
      nodes = Seq(
        External("trades"),
        External("quotes"),
        OrderBy("ordered", "trades", Seq("seq")),
        Scan("running", "ordered", "sumBy", Seq("sym"), Some("qty * 2"), Some("run2")),
        DedupBy("deduped", "running", Seq("sym", "qty"), withinWatermark = false),
        Asof("priced", "deduped", "quotes", "tts", "qts",
          keys = Seq("sym" -> "qsym"), rightOrder = Seq("qid"),
          tolerance = Some(100L), direction = "backward", inner = false),
        Scan("lastp", "priced", "last", Nil, None, None)),
      outputs = Seq("priced", "lastp"))))

    val trades = Seq(("A", 1L, 10L, 1L), ("A", 2L, 20L, 2L), ("A", 2L, 30L, 3L))
      .toDF("sym", "qty", "tts", "seq")
    val quotes = Seq(("A", 5L, 100L, 1.5), ("A", 18L, 101L, 2.5))
      .toDF("qsym", "qts", "qid", "px")
    val config = new App.Config()
      .setSource("trades", App.Source("list", rows = Some(trades), order = Seq("seq")))
      .setSource("quotes", App.Source("list", rows = Some(quotes)))
      .addSink("priced", App.Sink("memory")).addSink("lastp", App.Sink("memory"))
    val outs = App.run(spark, config)(Program.interpret(doc))
      .collect { case App.BatchOutput(n, df) => n -> df }.toMap
    val priced = outs("priced")
      .select("sym", "qty", "tts", "run2", "px")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toSet
    // running sum of qty*2 per sym over seq order: 2, 6; the (A,2,30)
    // row dedups away (same (sym, qty) as seq=2); backward as-of within
    // tolerance 100: tts=10 -> qts=5 quote (px 1.5), tts=20 -> qts=18 (2.5)
    assert(priced == Set(("A", 1L, 10L, 2L, 1.5), ("A", 2L, 20L, 6L, 2.5)),
      s"scan+dedup+asof document pipeline, got $priced")
    assert(outs("lastp").count() == 1, "ungrouped last() keeps the final record")
  }

  test("program full join and sliding windowSelect execute") {
    import graft.api.Program
    import graft.api.Program._
    val doc = Program.fromJson(Program.toJson(Doc(
      nodes = Seq(
        External("l"), External("r"),
        Join("j", "full", "l", "r", "l.k = r.rk",
          Seq(Field("l.id", "id"), Field("r.rid", "rid"))),
        External("ts"),
        WindowSelect("w", "ts", Nil, "t", "10 seconds", Some("5 seconds"),
          "0 seconds", "win", Seq(Field("sum(v)", "sv")))),
      outputs = Seq("j", "w"))))
    val l = Seq((1L, "a", 1L)).toDF("id", "k", "t")
    val r = Seq((100L, "b", 2L)).toDF("rid", "rk", "rt")
    val ts = Seq((java.sql.Timestamp.valueOf("2026-01-01 00:00:07"), 3.0))
      .toDF("t", "v")
    val config = new App.Config()
      .setSource("l", App.Source("list", rows = Some(l), order = Seq("t", "id")))
      .setSource("r", App.Source("list", rows = Some(r), order = Seq("rt", "rid")))
      .setSource("ts", App.Source("list", rows = Some(ts)))
      .addSink("j", App.Sink("memory")).addSink("w", App.Sink("memory"))
    val outs = App.run(spark, config)(Program.interpret(doc))
      .collect { case App.BatchOutput(n, df) => n -> df }.toMap
    val j = outs("j").collect()
      .map(rr => (if (rr.isNullAt(0)) -1L else rr.getLong(0),
        if (rr.isNullAt(1)) -1L else rr.getLong(1))).toSet
    assert(j == Set((1L, -1L), (-1L, 100L)),
      "full enrichment emits both unmatched sides with nulls")
    // one record at 00:07 lands in sliding windows starting 00:00 and 00:05
    assert(outs("w").count() == 2, "sliding window emits one row per covering window")
  }

  test("program document covers union/distinct/addFields/windowSelect") {
    import graft.api.Program
    import graft.api.Program._
    val doc = Program.fromJson(Program.toJson(Doc(
      nodes = Seq(
        External("a"),
        External("b"),
        Union("u", Seq("a", "b")),
        Distinct("d", "u"),
        AddTo("t", "d", Seq(Field("cast(k as string)", "ks"))),
        WindowSelect("w", "t", Seq("ks"), ts = "ts", size = "10 seconds",
          slide = None, offset = "0 seconds", windowAs = "win",
          aggs = Seq(Field("sum(v)", "sv")))),
      outputs = Seq("d", "w"))))
    val a = Seq((1L, 2.0, java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
                (1L, 2.0, java.sql.Timestamp.valueOf("2026-01-01 00:00:02")))
      .toDF("k", "v", "ts")
    val b = Seq((1L, 2.0, java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
                (2L, 9.0, java.sql.Timestamp.valueOf("2026-01-01 00:00:15")))
      .toDF("k", "v", "ts")
    val config = new App.Config()
      .setSource("a", App.Source("list", rows = Some(a)))
      .setSource("b", App.Source("list", rows = Some(b)))
      .addSink("d", App.Sink("memory")).addSink("w", App.Sink("memory"))
    val outs = App.run(spark, config)(Program.interpret(doc))
      .collect { case App.BatchOutput(name, df) => name -> df }.toMap
    assert(outs("d").count() == 3, "union is bag semantics, distinct collapses the dup")
    val w = outs("w").collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(w == Set(("1", 4.0), ("2", 9.0)), s"windowed per-key sums, got $w")
  }

  test("config carries graft.* engine tuning: JSON round-trip, applied during run, restored after") {
    val json = App.configToJson(new App.Config()
      .setSource("v", App.Source("parquet", path = Some("/tmp/x.parquet")))
      .addSink("out", App.Sink("memory"))
      .setTuning("graft.join.residualChunk", "100"))
    val loaded = App.configFromJson(json)
    assert(loaded.tuning == Map("graft.join.residualChunk" -> "100"),
      "tuning survives the config JSON round-trip")

    assert(intercept[IllegalArgumentException](
      new App.Config().setTuning("spark.sql.shuffle.partitions", "8"))
      .getMessage.contains("graft.*"), "non-graft keys are rejected")

    // the knob is visible to operators DURING the program build (that is
    // when the residual join reads it) and restored afterwards
    spark.conf.unset("graft.join.residualChunk")
    val data = Seq((1L, 2.0)).toDF("k", "v")
    var seenDuringBuild: Option[String] = None
    App.run(spark, new App.Config()
        .setSource("v", App.Source("list", rows = Some(data)))
        .addSink("out", App.Sink("memory"))
        .setTuning("graft.join.residualChunk", "100")) { in =>
      seenDuringBuild = spark.conf.getOption("graft.join.residualChunk")
      Map("out" -> in("v"))
    }
    assert(seenDuringBuild.contains("100"), "tuning applied for the build")
    assert(spark.conf.getOption("graft.join.residualChunk").isEmpty,
      "session conf restored after the run")
  }

  test("schema validation resolves each node against bound sources and names the bad one") {
    import graft.api.Program
    import graft.api.Program._
    val events = Seq((1L, 2.0)).toDF("user_id", "v")
    val config = new App.Config()
      .setSource("events", App.Source("list", rows = Some(events)))
    val good = Doc(
      nodes = Seq(
        External("events"),
        Where("pos", "events", "v > 0"),
        GroupSelect("out", "pos", Seq("user_id"), Seq(Field("sum(v)", "total")))),
      outputs = Seq("out"))
    Program.validate(good, spark, config) // resolves cleanly

    val badCol = Doc(
      nodes = Seq(
        External("events"),
        Where("pos", "events", "v > 0"),
        GroupSelect("totals", "pos", Seq("user_id"),
          Seq(Field("sum(missing_col)", "total")))),
      outputs = Seq("totals"))
    val e = intercept[IllegalArgumentException](Program.validate(badCol, spark, config))
    assert(e.getMessage.contains("node 'totals'"),
      s"failure names the unresolvable node, got: ${e.getMessage}")
    assert(e.getMessage.toLowerCase.contains("missing_col"),
      "and carries the analyzer's detail")

    // downstream of the bad node nothing is reached; a bad MIDDLE node is
    // still the one named
    val badMid = Doc(
      nodes = Seq(
        External("events"),
        Where("oops", "events", "nope > 0"),
        GroupSelect("out", "oops", Seq("user_id"), Seq(Field("sum(v)", "total")))),
      outputs = Seq("out"))
    val e2 = intercept[IllegalArgumentException](Program.validate(badMid, spark, config))
    assert(e2.getMessage.contains("node 'oops'"))

    // unbound source still reports through the external node
    val e3 = intercept[IllegalArgumentException](
      Program.validate(good, spark, new App.Config()))
    assert(e3.getMessage.contains("events"))
  }

  test("capture: a recorded pipeline exports the exact document its DSL twin hand-writes") {
    import graft.api.Program
    import graft.api.Program._
    import graft.api.MStream
    val events = Seq((1L, 1.0, 1L), (1L, -5.0, 2L), (2L, 3.0, 3L), (3L, 7.0, 4L))
      .toDF("user_id", "v", "seq")
    val users = Seq((1L, "gold", 1L), (2L, "silver", 2L)).toDF("uid", "tier", "useq")

    // compose on the RECORDING surface: every op executes (rec.stream is a
    // live MStream) AND appends its node
    val ev = Program.Rec.external("events", new MStream(events))
    val us = Program.Rec.external("users", new MStream(users, eventOrder = Seq("useq")))
    val rec = ev.where("v > 0").as("recent")
      .map("user_id" -> "user_id", "v * 2" -> "v2", "seq" -> "seq").as("projected")
      .orderedBy("seq").as("ordered")
      .leftJoin(us, "l.user_id = r.uid",
        "l.user_id" -> "user_id", "l.v2" -> "v2", "r.tier" -> "tier").as("enriched")
      .groupSelect(Seq("tier"), "sum(v2)" -> "total", "count(1)" -> "n").as("out")
    val captured = Program.capture(rec)

    // byte-for-byte the document the import test hand-writes
    val handWritten = Doc(
      nodes = Seq(
        External("events"),
        Where("recent", "events", "v > 0"),
        MapCols("projected", "recent", Seq(
          Field("user_id", "user_id"), Field("v * 2", "v2"), Field("seq", "seq"))),
        OrderBy("ordered", "projected", Seq("seq")),
        External("users"),
        Join("enriched", "left", "ordered", "users",
          "l.user_id = r.uid", Seq(
            Field("l.user_id", "user_id"), Field("l.v2", "v2"),
            Field("r.tier", "tier"))),
        GroupSelect("out", "enriched", Seq("tier"), Seq(
          Field("sum(v2)", "total"), Field("count(1)", "n")))),
      outputs = Seq("out"))
    assert(captured == handWritten,
      "recording surface captures the same nodes a hand-authored document declares")
    assert(Program.fromJson(Program.toJson(captured)) == captured,
      "captured document survives its own JSON round-trip")

    // the live recorded stream and the export->import->run replay agree
    val direct = rec.stream.df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val config = new App.Config()
      .setSource("events", App.Source("list", rows = Some(events)))
      .setSource("users", App.Source("list", rows = Some(users), order = Seq("useq")))
      .addSink("out", App.Sink("memory"))
    val replay = App.runProgram(spark, config, Program.toJson(captured))
      .collectFirst { case App.BatchOutput("out", df) => df }.get
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(replay == direct && direct == Set(
        ("gold", 2.0, 1L), ("silver", 6.0, 1L), (null, 14.0, 1L)),
      s"capture->toJson->fromJson->runProgram replays the recorded dataflow, got $replay")
  }

  test("capture: fullJoinLenient records the lenient full Join node") {
    import graft.api.Program
    import graft.api.Program._
    import graft.api.MStream
    // BatchApiSpec's full-join residual trace: the lenient face keeps the
    // arriving side of every failing pair
    val lefts = Seq((2L, "a", 5.0), (3L, "a", 50.0)).toDF("seq", "k", "v")
    val rights = Seq((1L, "a", 100), (4L, "a", 600), (5L, "a", 400)).toDF("seq", "k", "w")
    val rec = Program.Rec.external("ls", new MStream(lefts, Seq("seq")))
      .fullJoinLenient(Program.Rec.external("rs", new MStream(rights, Seq("seq"))),
        "l.k = r.k AND r.w > l.v * 10", "l.seq" -> "lseq", "r.w" -> "rw").as("j")
    val captured = Program.capture(rec)
    assert(captured.nodes.last == Join("j", "full", "ls", "rs",
      "l.k = r.k AND r.w > l.v * 10", Seq(Field("l.seq", "lseq"), Field("r.w", "rw")),
      lenientResidual = true))
    val json = Program.toJson(captured)
    assert(json.contains("\"lenientResidual\":true") && Program.fromJson(json) == captured)
    val live = rec.stream.df.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
                 Option(r.get(1)).map(_.asInstanceOf[Int]))).toSet
    assert(live == Set((None, Some(100)), (Some(2L), Some(100)), (Some(3L), None),
      (Some(3L), Some(600)), (None, Some(400))), live.toString)
  }

  test("capture: one captured document runs batch AND streaming") {
    import graft.api.Program
    import graft.api.MStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val batchRows = Seq(("a", t(1), 5.0), ("a", t(2), 7.0), ("b", t(3), -1.0))
      .toDF("k", "ts", "v")
    // record on a batch stream, ship the artifact
    val json = Program.toJson(Program.capture(
      Program.Rec.external("ev", new MStream(batchRows))
        .withWatermark("ts", "10 seconds")
        .where("v > 0")
        .dedupBy(Seq("k"), withinWatermark = true).as("out")))

    val batchOut = App.run(spark,
        new App.Config()
          .setSource("ev", App.Source("list", rows = Some(batchRows)))
          .addSink("out", App.Sink("memory")))(
        Program.interpret(Program.fromJson(json)))
      .collectFirst { case App.BatchOutput("out", df) => df }.get
    assert(batchOut.count() == 1, "batch: one survivor for key a, b filtered")

    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val name = s"cap_stream_${System.nanoTime()}"
    val running = App.run(spark,
        new App.Config()
          .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("k", "ts", "v"))))
          .addSink("out", App.Sink("memory", outputMode = "append",
            queryName = Some(name))))(
        Program.interpret(Program.fromJson(json)))
    val q = running.collect { case App.StreamingOutput("out", sq) => sq }.head
    try {
      in.addData(("a", t(1), 5.0), ("b", t(2), -3.0))
      in.addData(("a", t(3), 9.0), ("c", t(4), 2.0))
      q.processAllAvailable()
      val got = spark.table(name).collect().map(_.getString(0)).toSet
      assert(got == Set("a", "c"),
        "streaming: the captured artifact drives the same stateful dedup")
    } finally q.stop()
  }

  test("capture surface covers every program node type; captured docs survive the codec") {
    import graft.api.Program
    import graft.api.Program._
    import graft.api.MStream
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val evDf = Seq(("a", 2.0, t(1), 1L), ("a", 3.0, t(12), 2L), ("b", 5.0, t(3), 3L))
      .toDF("k", "v", "ts", "seq")
    val rDf = Seq(("a", 10L, 100L)).toDF("rk", "rid", "rseq")

    val ev = Program.Rec.external("ev", new MStream(evDf, Seq("seq")))
    val rs = Program.Rec.external("rs", new MStream(rDf, Seq("rseq", "rid")))
    val base = ev.where("v > 0")
      .addFields("v * 2" -> "v2")
      .map("k" -> "k", "v2" -> "v2", "ts" -> "ts", "seq" -> "seq")
      .orderedBy("seq")
    val outs: Seq[Program.Rec] = Seq(
      base.union(base.distinct()),
      base.sumBy("v2", "run", keys = Seq("k")),
      base.recordWindow(Seq("k"), 2, ("sumBy", "v2", "rw")),
      base.dedupBy(Seq("k")),
      ev.withWatermark("ts", "10 seconds"),
      base.uniqueBy(Seq("k"), Seq("seq")),
      base.toField("rec"),
      base.groupSelect(Seq("k"), "sum(v2)" -> "total"),
      base.windowSelect(Seq("k"), "ts", "10 seconds", None, "0 seconds", "win",
        Seq("sum(v2)" -> "sv")),
      base.sessionSelect(Seq("k"), "ts", "5 seconds", "sstart", "count(1)" -> "n"),
      base.leftJoin(rs, "l.k = r.rk", "l.k" -> "k", "r.rid" -> "rid"),
      base.asofJoin(rs, "seq", "rseq", Seq("k" -> "rk"), Seq("rid")),
      { Program.Functions.register("cap_scale", 2)(a => a.head * a(1))
        Program.Functions.register("cap_pos", 1)(a => a.head > 0)
        base.addFieldFn("cap_scale", "v4", "v2", "2")
          .whereFn("cap_pos", "v4")
          .applyFn("cap_scale", Seq("v4", "0.5"), "vh") },
      { val head = base.beginCycle()
        head.closeCycle(head
          .map("k" -> "k", "v2 / 2" -> "v2", "ts" -> "ts", "seq" -> "seq")
          .where("v2 > 1")) })
    val doc = Program.capture(outs: _*)
    val nodeTypes = doc.nodes.map(_.getClass.getSimpleName).toSet
    val allTypes = Set("External", "MapCols", "Where", "AddTo", "OrderBy", "Union",
      "Distinct", "GroupSelect", "WindowSelect", "Join", "Scan", "DedupBy",
      "Watermark", "Asof", "UniqueBy", "ToField", "SessionSelect", "RecordWindow",
      "ApplyFn", "BeginCycle", "CloseCycle")
    assert(nodeTypes == allTypes,
      s"recording surface reaches every node type; missing ${allTypes.diff(nodeTypes)}")
    assert(Program.fromJson(Program.toJson(doc)) == doc,
      "the full-surface captured document is codec-stable")
    assert(doc.outputs.size == outs.size, "every branch is an addressable output")
  }

  test("cycle documents reject nesting, dangling closes, reserved names, bad maxIterations") {
    import graft.api.Program
    import graft.api.Program._
    def load(ns: Node*): Doc =
      Program.fromJson(Program.toJson(Doc(ns.toVector, Seq(ns.last.name))))
    assert(intercept[IllegalArgumentException](load(
      External("a"), BeginCycle("c1", "a", 5), BeginCycle("c2", "c1", 5),
      CloseCycle("x1", "c2", "c1"), CloseCycle("x2", "c1", "c1")))
      .getMessage.contains("nested cycles"))
    assert(intercept[IllegalArgumentException](load(
      External("a"), BeginCycle("c1", "a", 5)))
      .getMessage.contains("never closed"))
    assert(intercept[IllegalArgumentException](load(
      External("a"), CloseCycle("x", "nope", "a")))
      .getMessage.contains("no cycle is open"))
    assert(intercept[IllegalArgumentException](load(
      External("__cycle_a")))
      .getMessage.contains("reserved"))
    assert(intercept[IllegalArgumentException](load(
      External("a"), BeginCycle("c1", "a", 0), CloseCycle("x", "c1", "a")))
      .getMessage.contains("maxIterations > 0"))
  }

  test("capture: shared upstreams dedup; name collisions and bad inputs reject") {
    import graft.api.Program
    import graft.api.MStream
    val data = Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v")
    val base = Program.Rec.external("src", new MStream(data)).where("v > 0").as("pos")
    // two branches off one recorded node, rejoined: upstream appears once
    val left = base.map("k" -> "k", "v * 2" -> "dbl").as("l2").orderedBy("k").as("lo")
    val right = base.map("k" -> "k", "v + 1" -> "inc").as("r2").orderedBy("k").as("ro")
    val joined = left.leftJoin(right, "l.k = r.k",
      "l.k" -> "k", "l.dbl" -> "dbl", "r.inc" -> "inc").as("out")
    val doc = Program.capture(joined)
    assert(doc.nodes.count(_.name == "pos") == 1, "shared upstream captured once")
    assert(doc.nodes.map(_.name) == Seq("src", "pos", "l2", "lo", "r2", "ro", "out"),
      "nodes stay topologically ordered after the branch merge")

    val eDup = intercept[IllegalArgumentException](joined.distinct().as("pos"))
    assert(eDup.getMessage.contains("'pos'"), "renaming onto a live name rejects")

    // auto-names never collide across branches
    val a1 = base.distinct()
    val a2 = base.distinct()
    val u = a1.union(a2)
    assert(Program.capture(u).nodes.map(_.name).distinct.size ==
      Program.capture(u).nodes.size, "auto-generated node names stay unique")
    // identical independent derivations dedup to ONE shared node...
    assert(Program.capture(u).nodes.count(_.isInstanceOf[Program.Distinct]) == 1,
      "structurally identical branches share a node")
    // ...while DIFFERENT derivations over the same base get distinct names
    // (content-derived, not positional — positional naming collides here)
    val m1 = base.map("k" -> "k", "v * 2" -> "d")
    val m2 = base.map("k" -> "k", "v + 1" -> "d")
    val mu = m1.union(m2)
    val mdoc = Program.capture(mu)
    assert(mdoc.nodes.count(_.isInstanceOf[Program.MapCols]) == 2,
      "differing branches keep their own nodes instead of colliding")
    assert(Program.fromJson(Program.toJson(mdoc)) == mdoc)
    assert(mu.stream.df.count() == 4, "the recorded union executes both branches")
  }

  test("fan-out: a two-sink stream runs ONE query and scans its source once per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val memName = s"fanout_${System.nanoTime()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    val running = App.run(spark, new App.Config()
        .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("id", "v"))))
        .addSink("out", App.Sink("parquet", path = Some(dir), outputMode = "append"))
        .addSink("out", App.Sink("memory", outputMode = "append",
          queryName = Some(memName)))
        .setFanOutSinks("out")) { src =>
      Map("out" -> src("ev").map(col("id"), (col("v") * 2).as("v2")))
    }
    val outs = running.collect { case s: App.StreamingOutput => s }
    assert(outs.size == 1, s"two sinks must share ONE streaming query, got ${outs.size}")
    val q = outs.head.query
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      in.addData((3L, 3.0))
      q.processAllAvailable()
      // the load-bearing pin: the shared lineage consumed each fed row
      // ONCE — two separate per-sink queries would have read 6
      val scanned = q.recentProgress.map(_.numInputRows).sum
      assert(scanned == 3, s"3 fed rows -> $scanned scanned (per-sink queries would double-read)")
      val mem = spark.table(memName).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(mem == Set((1L, 2.0), (2L, 4.0), (3L, 6.0)), s"memory face: $mem")
      val pq = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(pq == mem, "both sinks received every micro-batch")
    } finally q.stop()
  }

  test("fan-out rejects non-append modes and conflicting state stores by name") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def run(s1: App.Sink, s2: App.Sink): Seq[App.Running] = {
      val in = MemoryStream[(Long, Double)]
      App.run(spark, new App.Config()
          .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("id", "v"))))
          .addSink("out", s1).addSink("out", s2)
          .setFanOutSinks("out")) { src => Map("out" -> src("ev")) }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout_rej").toString
    val e1 = intercept[IllegalArgumentException] {
      run(App.Sink("parquet", path = Some(s"$dir/a"), outputMode = "update"),
        App.Sink("memory", outputMode = "update", queryName = Some("fo_rej")))
    }
    assert(e1.getMessage.contains("outputMode=append"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      run(App.Sink("parquet", path = Some(s"$dir/b"), outputMode = "append",
          stateStore = Some("rocksdb")),
        App.Sink("parquet", path = Some(s"$dir/c"), outputMode = "append",
          stateStore = Some("hdfs")))
    }
    assert(e2.getMessage.contains("state store"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      run(App.Sink("parquet", outputMode = "append"), // no path
        App.Sink("parquet", path = Some(s"$dir/d"), outputMode = "append"))
    }
    assert(e3.getMessage.contains("needs a path"), e3.getMessage)
  }

  private val managerKey = graft.streaming.LocalCheckpointFileManager.ConfKey
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Hadoop `.<name>.crc` sidecars and temp files under a checkpoint:
    * what Spark's default (forking) manager leaves and graft's does not.
    * RocksDB uploads its SST files with Hadoop's `FileSystem`, not through
    * the checkpoint file manager, so their sidecars do not count. */
  private def hadoopLeftovers(root: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator.asScala.map(_.getFileName.toString).filterNot(_.endsWith(".sst.crc"))
      .filter(n => (n.startsWith(".") && n.endsWith(".crc")) || n.endsWith(".tmp")).toSeq
    finally s.close()
  }

  /** A two-batch stateful count through App.run on `sink`; returns the
    * final counts per key. */
  private def countTwice(sink: App.Sink): Map[Long, Long] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val q = App.run(spark, new App.Config()
        .setSource("ev", App.Source("list", rows = Some(in.toDF().toDF("id"))))
        .addSink("counts", sink)) { src =>
      Map("counts" -> src("ev").addFields("k" -> col("id") % 3)
        .groupBy("k").select(count(lit(1)).as("n")))
    }.collect { case App.StreamingOutput(_, q) => q }.head
    try {
      in.addData(1L, 2L, 3L, 4L)
      q.processAllAvailable()
      in.addData(5L, 6L)
      q.processAllAvailable()
      spark.table(sink.queryName.get).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).map(_._2.maxBy(_._2))
    } finally q.stop()
  }

  test("App.run restores the checkpoint manager and state store confs, also when a start throws") {
    val prior = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set(providerKey, prior)
    try {
      val cp = java.nio.file.Files.createTempDirectory("graft_restore_cp").toString
      val counts = countTwice(App.Sink("memory", outputMode = "update",
        queryName = Some(s"restore_${System.nanoTime()}"), checkpoint = Some(cp),
        stateStore = Some("rocksdb")))
      assert(counts == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
      assert(spark.conf.getOption(managerKey).isEmpty, "the manager class is unset again")
      assert(spark.conf.getOption(providerKey).contains(prior), "the prior provider is back")
      assert(hadoopLeftovers(cp).isEmpty, "graft's manager wrote the checkpoint")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Long]
      intercept[Exception] { // a memory sink without a queryName fails at start
        App.run(spark, new App.Config()
            .setSource("ev", App.Source("list", rows = Some(in.toDF())))
            .addSink("out", App.Sink("memory", outputMode = "append",
              stateStore = Some("rocksdb")))) { src => Map("out" -> src("ev")) }
      }
      assert(spark.conf.getOption(managerKey).isEmpty)
      assert(spark.conf.getOption(providerKey).contains(prior))
    } finally spark.conf.unset(providerKey)
  }

  test("a checkpoint file manager class the user set on the session is honoured") {
    val cp = java.nio.file.Files.createTempDirectory("graft_user_cfm").toString
    val cls = classOf[CountingCheckpointFileManager].getName
    spark.conf.set(managerKey, cls)
    val before = CountingCheckpointFileManager.created.get()
    try {
      val counts = countTwice(App.Sink("memory", outputMode = "update",
        queryName = Some(s"user_cfm_${System.nanoTime()}"), checkpoint = Some(cp)))
      assert(counts == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
      assert(CountingCheckpointFileManager.created.get() > before, "the user's class ran")
      assert(spark.conf.getOption(managerKey).contains(cls), "and is still set")
    } finally spark.conf.unset(managerKey)
  }

  test("rocksdb and hdfs per-sink state stores run under graft's checkpoint manager") {
    for (store <- Seq("rocksdb", "hdfs")) {
      val cp = java.nio.file.Files.createTempDirectory(s"graft_${store}_cfm").toString
      val counts = countTwice(App.Sink("memory", outputMode = "update",
        queryName = Some(s"${store}_cfm_${System.nanoTime()}"), checkpoint = Some(cp),
        stateStore = Some(store)))
      assert(counts == Map(0L -> 2L, 1L -> 2L, 2L -> 2L), store)
      val state = java.nio.file.Files.walk(java.nio.file.Paths.get(cp, "state"))
      val stateFiles = try state.iterator.asScala.count(java.nio.file.Files.isRegularFile(_))
        finally state.close()
      assert(stateFiles > 0, s"$store wrote state files")
      assert(hadoopLeftovers(cp).isEmpty, s"$store: ${hadoopLeftovers(cp).take(5)}")
    }
  }
  // ------------------------------------------------ no-data micro-batches

  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Commit-log entries under a checkpoint: one per micro-batch that ran. */
  private def commits(cp: String): Int =
    Option(new java.io.File(cp, "commits").listFiles).getOrElse(Array.empty[java.io.File])
      .count(_.getName.forall(_.isDigit))

  private def sec(s: Long) = new Timestamp(s * 1000L)

  /** One program over a MemoryStream of [[TEv]], started through App.run
    * into a memory sink with its own checkpoint. */
  private final class Face(mode: String)(program: MStream => MStream) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in: MemoryStream[TEv] = MemoryStream[TEv]
    val cp: String = java.nio.file.Files.createTempDirectory("graft_nodata").toString
    val name = s"nodata_${System.nanoTime()}"
    val q: StreamingQuery = App.run(spark, new App.Config()
        .setSource("ev", App.Source("list", rows = Some(in.toDF())))
        .addSink("out", App.Sink("memory", outputMode = mode, queryName = Some(name),
          checkpoint = Some(cp)))) { src => Map("out" -> program(src("ev"))) }
      .collect { case App.StreamingOutput(_, q) => q }.head
    def feed(evs: TEv*): Unit = { in.addData(evs); q.processAllAvailable() }
    def rows: Set[(Long, String, Long)] = spark.table(name).collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2))).toSet
    /** State rows of the last batch that read data (after its eviction). */
    def stateRows: Long =
      q.recentProgress.filter(_.numInputRows > 0).last.stateOperators.map(_.numRowsTotal).sum
  }

  /** 10 s tumbling count per key, watermark delay 0. */
  private def windowCount(ev: MStream): MStream =
    ev.withWatermark("ts", "0 seconds").groupBy("k").tumblingWindow(col("ts"), "10 seconds")
      .select("w", count(lit(1)).as("cnt"))
      .map(col("w.start").as("w_start"), col("k"), col("cnt"))

  test("no-data rule: an update-mode window count runs one micro-batch per data batch, " +
    "and a closed window's state falls at the next data batch") {
    val f = new Face("update")(windowCount)
    try {
      val held = Seq(Seq(5L), Seq(25L), Seq(27L, 8L)).zipWithIndex.map { case (ss, i) =>
        f.feed(ss.map(s => TEv("a", sec(s), 1.0)): _*)
        assert(commits(f.cp) == i + 1, s"data batch $i ran no no-data batch after it")
        f.stateRows
      }
      // batch 1 moves the watermark to 25 s, which closes [0, 10): its state
      // is still held after batch 1 and goes at batch 2, not in between
      assert(held == Seq(1L, 2L, 1L))
      // batch 2's row at 8 s is behind that watermark: dropped as late, as a
      // no-data batch in between would have had it dropped
      assert(f.q.recentProgress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum == 1)
      assert(f.rows == Set((0L, "a", 1L), (20L, "a", 1L), (20L, "a", 2L)))
    } finally f.q.stop()
  }

  test("no-data rule: append-mode windows and event-time timeouts still emit a closed " +
    "window with no new data") {
    // the append-mode windowed count emits [0, 10) once the watermark passes 10 s
    val win = new Face("append")(windowCount)
    try {
      win.feed(TEv("a", sec(5), 1.0))
      win.feed(TEv("a", sec(25), 1.0))
      assert(win.rows == Set((0L, "a", 1L)))
      assert(commits(win.cp) > 2, "no-data batches ran")
    } finally win.q.stop()
    // timeWindowApply fires its event-time timeout in the no-data batch
    val twa = new Face("append")(ev => MStream(graft.streaming.StreamingWindows
      .timeWindowApply[TEv, String, Med](
        ev.df.as[TEv].withWatermark("ts", "0 seconds"), _.k, _.ts, windowMs = 10000L) {
        (ws, k, buf) => Med(k, ws.getTime / 1000, buf.map(_.v).sum) }.toDF()))
    try {
      twa.feed(TEv("a", sec(1), 1.0), TEv("a", sec(5), 2.0))
      twa.feed(TEv("a", sec(25), 4.0))
      assert(spark.table(twa.name).as[Med].collect().toSeq == Seq(Med("a", 0L, 3.0)))
    } finally twa.q.stop()
    // an event-time timeout in an update-mode query keeps its no-data batch too
    val upd = new Face("update")(ev => MStream(ev.df.as[TEv].withWatermark("ts", "0 seconds")
      .groupByKey(_.k).flatMapGroupsWithState[Long, (Timestamp, String, Long)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (k: String, it: Iterator[TEv], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.get
            state.remove()
            Iterator.single((new Timestamp(0L), k, n))
          } else {
            val evs = it.toSeq
            state.update(state.getOption.getOrElse(0L) + evs.size)
            state.setTimeoutTimestamp(evs.map(_.ts.getTime).max + 10000L)
            Iterator.empty
          }
      }.toDF("w_start", "k", "cnt")))
    try {
      upd.feed(TEv("a", sec(5), 1.0), TEv("b", sec(6), 1.0))
      upd.feed(TEv("b", sec(30), 1.0))
      assert(upd.rows == Set((0L, "a", 1L)), "key a timed out without new data")
    } finally upd.q.stop()
  }

  test("no-data rule: a second query over the same in-memory stream still reads the " +
    "batch an update-mode window query has finished") {
    // Spark's MemoryStream drops a batch from its buffer once any query
    // reading it commits the batch, which a query does when it constructs
    // its next micro-batch. A no-data batch was that next one, so a slower
    // query over the same stream could read the batch as empty
    val win = new Face("update")(windowCount)
    try {
      win.feed(TEv("a", sec(5), 1.0), TEv("a", sec(6), 1.0))
      val name = s"nodata_reader_${System.nanoTime()}"
      val q = App.run(spark, new App.Config()
          .setSource("ev", App.Source("list", rows = Some(win.in.toDF())))
          .addSink("out", App.Sink("memory", outputMode = "append", queryName = Some(name)))) {
        src => Map("out" -> src("ev")) }.collect { case App.StreamingOutput(_, q) => q }.head
      try {
        q.processAllAvailable()
        assert(spark.table(name).count() == 2)
      } finally q.stop()
    } finally win.q.stop()
  }

  test("no-data rule: a stateTtl join (processing-time timeout) keeps its no-data batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ls = MemoryStream[LRec]
    val rs = MemoryStream[RRec]
    val cp = java.nio.file.Files.createTempDirectory("graft_nodata_ttl").toString
    val name = s"nodata_ttl_${System.nanoTime()}"
    val q = App.run(spark, new App.Config()
        .setSource("l", App.Source("list", rows = Some(ls.toDF())))
        .setSource("r", App.Source("list", rows = Some(rs.toDF())))
        .addSink("out", App.Sink("memory", outputMode = "append", queryName = Some(name),
          checkpoint = Some(cp)))) { src =>
      Map("out" -> MStream(graft.streaming.StreamingJoins.enrichmentJoin[LRec, RRec, String, Pair](
        src("l").df.as[LRec], src("r").df.as[RRec], _.k, _.k, _.seq, _.seq,
        graft.streaming.StreamingJoins.LeftEnrichment,
        stateTtl = Some(java.time.Duration.ofMinutes(10)))(Pair(_, _)).toDF()))
    }.collect { case App.StreamingOutput(_, q) => q }.head
    try {
      rs.addData(RRec("a", 1, 100))
      ls.addData(LRec("a", 2, 10))
      // Spark re-runs a processing-time timeout every trigger, so the query
      // never idles and processAllAvailable would not return: poll instead
      val deadline = System.nanoTime() + 60000000000L
      def done = spark.table(name).count() == 1 &&
        q.recentProgress.exists(p => p.numInputRows == 0 && p.batchId > 0)
      while (!done && System.nanoTime() < deadline) Thread.sleep(50)
      assert(done, "the pair arrived and a no-data batch ran after it")
      assert(spark.table(name).as[Pair].collect().toSeq ==
        Seq(Pair(Some(LRec("a", 2, 10)), Some(RRec("a", 1, 100)))))
    } finally q.stop()
  }

  test("no-data rule: a user-set value is honoured, and the session conf is restored") {
    val keys = Seq(noDataKey, "spark.sql.streaming.statefulOperator.allowMultiple")
    assert(!keys.exists(spark.conf.getAll.contains), "the shared session leaves both keys unset")
    // unset: the rule applies to the query, and the keys are unset again after start
    val off = new Face("update")(windowCount)
    try {
      assert(!keys.exists(spark.conf.getAll.contains), "both keys are unset after start")
      off.feed(TEv("a", sec(5), 1.0))
      off.feed(TEv("a", sec(25), 1.0))
      assert(commits(off.cp) == 2)
    } finally off.q.stop()
    // set to true by the user: the update face keeps its no-data batches
    spark.conf.set(noDataKey, "true")
    try {
      val on = new Face("update")(windowCount)
      try {
        assert(spark.conf.getAll.get(noDataKey).contains("true"), "still the user's value")
        assert(!spark.conf.getAll.contains(keys(1)), "the rule set nothing")
        on.feed(TEv("a", sec(5), 1.0))
        on.feed(TEv("a", sec(25), 1.0))
        assert(commits(on.cp) == 4, "a no-data batch ran after each data batch")
        assert(on.q.lastProgress.numInputRows == 0 &&
          on.q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 1,
          "the no-data batch evicted the closed window")
      } finally on.q.stop()
    } finally spark.conf.unset(noDataKey)
  }
}

/** A user-chosen checkpoint file manager: Spark's FileSystem-based one,
  * counting instantiations. */
class CountingCheckpointFileManager(path: org.apache.hadoop.fs.Path,
                                    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}

object CountingCheckpointFileManager {
  val created = new java.util.concurrent.atomic.AtomicInteger()
}
