package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Milan's application model, Spark-first (reference:
 * `application/Application.scala:13`, `ApplicationConfiguration.scala:29`,
 * `ApplicationInstance.scala:14`): the *program* is pure dataflow over
 * named external streams; *sources and sinks are bound by name outside the
 * program* in a configuration object. Program + configuration = runnable
 * instance, in batch (finite sources) or streaming (Structured Streaming)
 * mode from the same program.
 */
object App {

  /** Where/how to read a named external stream
    * (Milan `FileDataSource`/`ListDataSource` etc. + `DataFormat`). */
  final case class Source(
      format: String,
      path: Option[String] = None,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      /** Milan `ReadMode.KeepReading` = streaming, `Once` = batch. */
      keepReading: Boolean = false,
      /** For in-memory list sources (Milan `ListDataSource`). */
      rows: Option[DataFrame] = None,
      /** Arrival-order columns for stateful batch operators. */
      order: Seq[String] = Nil)

  object Source {
    /** Message-bus ingress — the analog of the reference's production
      * Kinesis source (`application/sources/KinesisDataSource.scala:35`),
      * bound to a Kafka topic via Spark's built-in kafka source. Needs the
      * spark-sql-kafka connector on the classpath and a reachable broker,
      * so it is untestable offline; the rate source (`Source("rate",
      * keepReading = true)`) stands in for unbounded non-file ingress in
      * AppModelSpec. */
    /** S3 source binding (Milan `S3DataSource`,
      * `application/sources/S3DataSource.scala:21`): same DataSource API
      * with an s3a:// path — on a cluster the hadoop-aws jars and
      * credentials provider must be on the classpath; untestable offline,
      * so the spec asserts only the constructed binding. */
    def s3(bucket: String, key: String, format: String = "parquet",
           options: Map[String, String] = Map.empty,
           keepReading: Boolean = false): Source =
      Source(format = format, path = Some(s"s3a://$bucket/$key"),
        options = options, keepReading = keepReading)

    def kafka(bootstrapServers: String, topic: String,
              startingOffsets: String = "latest",
              keepReading: Boolean = true,
              options: Map[String, String] = Map.empty): Source =
      Source(format = "kafka",
        options = options ++ Map(
          "kafka.bootstrap.servers" -> bootstrapServers,
          "subscribe" -> topic,
          "startingOffsets" -> startingOffsets),
        keepReading = keepReading)

    /** Queue ingress binding (Milan `SqsDataSource`,
      * `application/sources/SqsDataSource.scala:17`). Spark ships no SQS
      * connector; the binding names a DataSource V2 format (any published
      * SQS connector registers one) + the queue URL, so a config document
      * carries the same information as the reference's source. Untestable
      * offline — the spec asserts the binding; the rate source stands in
      * for live-queue smoke (AppModelSpec). */
    def sqs(queueUrl: String, region: String,
            keepReading: Boolean = true,
            options: Map[String, String] = Map.empty): Source =
      Source(format = "sqs",
        options = options ++ Map("sqsUrl" -> queueUrl, "region" -> region),
        keepReading = keepReading)

    /** Change-stream ingress binding (Milan `DynamoDbStreamSource`):
      * DataSource V2 format name + table, same posture as [[sqs]]. */
    def dynamoDbStream(table: String, region: String,
                       keepReading: Boolean = true,
                       options: Map[String, String] = Map.empty): Source =
      Source(format = "dynamodb-streams",
        options = options ++ Map("tableName" -> table, "region" -> region),
        keepReading = keepReading)
  }

  /** Where/how to write a named output stream
    * (Milan `FileDataSink`/`ConsoleDataSink`/`SingletonMemorySink`). */
  final case class Sink(
      format: String,
      path: Option[String] = None,
      options: Map[String, String] = Map.empty,
      mode: String = "overwrite",
      /** streaming only: update/append/complete */
      outputMode: String = "update",
      /** memory sink table name (the test oracle, like SingletonMemorySink). */
      queryName: Option[String] = None,
      /** streaming only: checkpoint dir for fault-tolerant state — the
        * durable-state analog of Milan's `StateStore.Directory`. */
      checkpoint: Option[String] = None,
      /** streaming only: state backend for this query's stateful operators
        * ("rocksdb", "hdfs", or a full provider class name). Milan binds a
        * state store per operation (`application/StateStore.scala`,
        * `ApplicationConfiguration.setStateStore:121`); Spark scopes the
        * provider per streaming query, so the binding lives on the sink —
        * each output stream picks its backend independently. */
      stateStore: Option[String] = None,
      /** batch file sinks only: Z-order-cluster the output by these
        * columns before writing (`Layout.zorderBy`), so every file
        * carries tight min/max stats on ALL of them — the layout knob of
        * the external half, like Delta's OPTIMIZE ZORDER BY at write
        * time. `clusterFiles` bounds the file count (0 = the session's
        * shuffle parallelism). */
      clusterBy: Seq[String] = Nil,
      clusterFiles: Int = 0,  // 0 = the session's shuffle parallelism
      /** file sinks: hive-style directory partitioning (`write.partitionBy`)
        * — the partition-pruning layout knob (one directory per value;
        * use for low-cardinality columns like source/date, `clusterBy`
        * for the high-cardinality multi-dimensional ones). Works batch
        * AND streaming (the stock file streaming sink partitions too). */
      partitionBy: Seq[String] = Nil) {
    require(clusterFiles >= 0,
      s"clusterFiles must be >= 0 (0 = session shuffle parallelism), got $clusterFiles")
  }

  object Sink {
    /** Message-bus egress bindings (Milan `KinesisDataSink`/`SqsDataSink`/
      * `DynamoDbDataSink`, `application/sinks/KinesisDataSink.scala:19`):
      * format name + addressing options for the matching DataSource V2
      * connector — AWS endpoints are unreachable offline, so the specs
      * assert the binding shape only (same posture as `Source.s3`/`kafka`). */
    def kinesis(streamName: String, region: String,
                options: Map[String, String] = Map.empty): Sink =
      Sink(format = "kinesis",
        options = options ++ Map("streamName" -> streamName, "region" -> region))

    def sqs(queueUrl: String, region: String,
            options: Map[String, String] = Map.empty): Sink =
      Sink(format = "sqs",
        options = options ++ Map("sqsUrl" -> queueUrl, "region" -> region))

    def dynamoDb(table: String, region: String,
                 options: Map[String, String] = Map.empty): Sink =
      Sink(format = "dynamodb",
        options = options ++ Map("tableName" -> table, "region" -> region))
  }

  private val stateStoreProviders = Map(
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")

  /** Milan `ApplicationConfiguration`: name → source / sinks bindings. */
  final class Config {
    private var sources = Map.empty[String, Source]
    private var sinks = Map.empty[String, Seq[Sink]]
    private var lineage: Option[Sink] = None
    def setSource(stream: String, s: Source): Config = { sources += stream -> s; this }
    def addSink(stream: String, s: Sink): Config = {
      sinks += stream -> (sinks.getOrElse(stream, Nil) :+ s); this
    }
    /** Milan `ApplicationConfiguration.addLineageSink`
      * (`application/ApplicationConfiguration.scala:111`): bind a sink for
      * the lineage side-channel. When bound, [[App.run]] records lineage —
      * enrichment/as-of joins and running-aggregate scans in the program
      * expose a `record_id` column and their (op, output_id, input_id)
      * edges are written to this sink as the stream `__lineage`. */
    def addLineageSink(s: Sink): Config = { lineage = Some(s); this }
    def lineageSink: Option[Sink] = lineage
    /** Opt-in pinned-frame hygiene for long-lived services: when enabled,
      * [[App.run]] releases the frames THIS run pinned (residual-join
      * matches, vocabularies, cycle fixpoints, broadcast dedup references
      * — see [[Pinned]]) as soon as the run's consuming actions complete:
      * at the end of `run` for all-batch runs whose sinks write eagerly,
      * or — for runs with streaming outputs — when the LAST of the run's
      * streaming queries terminates (a listener watches them). Runs with
      * a batch `memory` sink keep their pins (the caller collects the
      * returned frame later); release those with [[Pinned.release]] once
      * consumed. Default off: `run`'s returned frames stay
      * re-executable. */
    def releasePinnedAfterRun(enable: Boolean = true): Config = {
      releasePinned = enable; this
    }
    def releasePinnedAfterRunEnabled: Boolean = releasePinned
    private var releasePinned = false
    /** Engine tuning the configuration carries with it (milan configs
      * travel with their job, `ApplicationConfiguration`): `graft.*` conf
      * knobs — e.g. `graft.join.residualChunk`, the residual left-inner
      * join's remainder chunk size — applied for the duration of
      * [[App.run]] and restored afterwards, so a shipped JSON config tunes
      * the engine without touching code or leaking session state. */
    def setTuning(key: String, value: String): Config = {
      require(key.startsWith("graft."),
        s"engine tuning keys are graft.* confs, got '$key' (set Spark confs on the session)")
      tuningMap += key -> value; this
    }
    def tuning: Map[String, String] = tuningMap
    private var tuningMap = Map.empty[String, String]
    /** Opt-in single-scan fan-out for a stream bound to MULTIPLE sinks.
      * Structured Streaming gives every sink its own query, so a shared
      * lineage re-reads its sources and re-executes once per sink (the
      * SURVEY §4 "Ref dereference" deviation — milan's generated graphs
      * share the subgraph). With fan-out enabled the stream runs as ONE
      * `foreachBatch` query that materializes each micro-batch once
      * (persist) and writes it to every sink — one source scan and one
      * plan execution per trigger regardless of sink count
      * (AppModelSpec pins input rows = fed rows, not sinks × rows).
      * Contract: APPEND mode only (the fan-out faces append per batch, so
      * update/complete re-emissions would duplicate rows — rejected by
      * name); file-format sinks get replay-idempotent per-batch atomic
      * appends; a `memory` sink accumulates the batch trace under its
      * queryName; the first bound checkpoint drives the (single) query;
      * sinks must agree on any `stateStore`; `cycle-feedback` sinks keep
      * their dedicated query. */
    def setFanOutSinks(stream: String, enable: Boolean = true): Config = {
      fanOut = if (enable) fanOut + stream else fanOut - stream; this
    }
    def fanOutEnabled(stream: String): Boolean = fanOut.contains(stream)
    def fanOutStreams: Set[String] = fanOut
    private var fanOut = Set.empty[String]
    def source(stream: String): Source = sources.getOrElse(stream,
      throw new IllegalArgumentException(s"no source bound for stream '$stream'"))
    def sinkList(stream: String): Seq[Sink] = sinks.getOrElse(stream, Nil)
    def sinkStreams: Seq[String] = sinks.keys.toSeq
    def sourceBindings: Map[String, Source] = sources
    def sinkBindings: Map[String, Seq[Sink]] = sinks
  }

  /** Milan serializes a full application instance to JSON and can parse it
    * back (`application/ApplicationInstance.scala:27` `toJsonString`,
    * `program/TreeParser.scala:49`). Here the program half is plain Scala
    * by design (SURVEY §7 — Catalyst is the IR), so the JSON round-trip
    * covers the external half: every source/sink binding serializes and
    * loads back, letting a deployment ship one JSON config per
    * environment against a compiled program. `describeJson` exports the
    * program side (schemas + optimized plans) for inspection. */
  def configToJson(config: Config): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    def sourceJson(s: Source): org.json4s.JObject = {
      if (s.rows.nonEmpty) throw new IllegalArgumentException(
        "in-memory `rows` sources hold live DataFrames and cannot serialize; bind them after load")
      ("format" -> s.format) ~ ("path" -> s.path) ~ ("options" -> s.options) ~
        ("schema" -> s.schema.map(_.json)) ~ ("keepReading" -> s.keepReading) ~
        ("order" -> s.order)
    }
    def sinkJson(k: Sink): org.json4s.JObject =
      ("format" -> k.format) ~ ("path" -> k.path) ~ ("options" -> k.options) ~
        ("mode" -> k.mode) ~ ("outputMode" -> k.outputMode) ~
        ("queryName" -> k.queryName) ~ ("checkpoint" -> k.checkpoint) ~
        ("stateStore" -> k.stateStore) ~ ("clusterBy" -> k.clusterBy) ~
        ("clusterFiles" -> k.clusterFiles) ~ ("partitionBy" -> k.partitionBy)
    JsonMethods.compact(JsonMethods.render(
      ("sources" -> config.sourceBindings.map { case (n, s) => n -> sourceJson(s) }) ~
        ("sinks" -> config.sinkBindings.map { case (n, ks) => n -> ks.map(sinkJson) }) ~
        ("tuning" -> config.tuning) ~
        ("fanOut" -> config.fanOutStreams.toSeq.sorted) ~
        ("lineage" -> config.lineageSink.map(sinkJson)) ~
        ("releasePinned" -> config.releasePinnedAfterRunEnabled)))
  }

  /** Parse a `configToJson` document back into a bindable `Config`. */
  def configFromJson(json: String): Config = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(json)
    val c = new Config
    (j \ "sources") match {
      case JObject(fields) => fields.foreach { case (name, v) =>
        c.setSource(name, Source(
          format = (v \ "format").extract[String],
          path = (v \ "path").extractOpt[String],
          options = (v \ "options").extract[Map[String, String]],
          schema = (v \ "schema").extractOpt[String]
            .map(s => DataType.fromJson(s).asInstanceOf[StructType]),
          keepReading = (v \ "keepReading").extract[Boolean],
          order = (v \ "order").extract[Seq[String]]))
      }
      case _ =>
    }
    def sinkOf(k: JValue): Sink = Sink(
      format = (k \ "format").extract[String],
      path = (k \ "path").extractOpt[String],
      options = (k \ "options").extract[Map[String, String]],
      mode = (k \ "mode").extract[String],
      outputMode = (k \ "outputMode").extract[String],
      queryName = (k \ "queryName").extractOpt[String],
      checkpoint = (k \ "checkpoint").extractOpt[String],
      stateStore = (k \ "stateStore").extractOpt[String],
      clusterBy = (k \ "clusterBy").extractOpt[Seq[String]].getOrElse(Nil),
      clusterFiles = (k \ "clusterFiles").extractOpt[Int].getOrElse(0),
      partitionBy = (k \ "partitionBy").extractOpt[Seq[String]].getOrElse(Nil))
    (j \ "sinks") match {
      case JObject(fields) => fields.foreach { case (name, v) =>
        v.extract[Seq[JValue]].foreach(k => c.addSink(name, sinkOf(k)))
      }
      case _ =>
    }
    (j \ "tuning") match {
      case JObject(fields) => fields.foreach { case (k, v) =>
        c.setTuning(k, v.extract[String])
      }
      case _ =>
    }
    (j \ "fanOut") match {
      case JArray(vs) => vs.foreach(v => c.setFanOutSinks(v.extract[String]))
      case _ =>
    }
    (j \ "lineage") match {
      case JNothing | JNull =>
      case v => c.addLineageSink(sinkOf(v))
    }
    (j \ "releasePinned") match {
      case JBool(b) => c.releasePinnedAfterRun(b)
      case _ =>
    }
    c
  }

  /** One running output: batch results are materialized DataFrames,
    * streaming outputs are live queries. */
  sealed trait Running
  final case class BatchOutput(stream: String, df: DataFrame) extends Running
  final case class StreamingOutput(stream: String, query: StreamingQuery) extends Running

  private[graft] def readSource(spark: SparkSession, s: Source): MStream = {
    val df = s.rows.getOrElse {
      val reader =
        if (s.keepReading) {
          val r = spark.readStream.format(s.format).options(s.options)
          s.schema.foreach(r.schema)
          s.path.map(r.load).getOrElse(r.load())
        } else {
          val r = spark.read.format(s.format).options(s.options)
          s.schema.foreach(r.schema)
          s.path.map(r.load).getOrElse(r.load())
        }
      reader
    }
    new MStream(df, s.order)
  }

  /** Milan `ApplicationInstance.toJsonString` parity
    * (`application/ApplicationInstance.scala:27`): a JSON description of
    * the resolved program — output stream names, schemas, and optimized
    * plans — without executing anything. Exception: operators that are
    * build-time-eager BY DESIGN (residual left-inner joins, batch cycle
    * fixpoints) run their driver jobs while the program is being built,
    * so describing a program containing them does execute those stages. */
  def describeJson(spark: SparkSession, config: Config)(
      program: (String => MStream) => Map[String, MStream]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outputs = program(name => readSource(spark, config.source(name)))
    outputs.map { case (name, s) =>
      s"""${q(name)}: {"schema": ${q(s.df.schema.json)}, "plan": ${q(
        s.df.queryExecution.optimizedPlan.toString)}}"""
    }.mkString("{", ",", "}")
  }

  /** Run a serialized program document under a configuration — the full
    * ship-a-program-as-an-artifact path (milan
    * `tools/CompileApplicationInstance.scala:28` builds a runnable job from
    * the `ApplicationInstance` JSON the same way): parse, validate, lower to
    * MStream dataflow, bind, run. */
  def runProgram(spark: SparkSession, config: Config, programJson: String): Seq[Running] =
    run(spark, config)(Program.interpret(Program.fromJson(programJson)))

  /**
   * Run a program under a configuration: resolve each named input, apply
   * the dataflow, drive every bound sink. The program never names paths or
   * formats — exactly Milan's separation.
   */
  def run(spark: SparkSession, config: Config)(
      program: (String => MStream) => Map[String, MStream]): Seq[Running] =
    // the config's graft.* tuning holds for the whole run: build-time-eager
    // operators (residual joins) read their knobs during the program build
    withConfs(spark, config.tuning) {
      // pinned frames register into a per-run scope (thread-local, like
      // the lineage recorder below): concurrent runs on one session
      // attribute their checkpoints exactly, and releasing one run's pins
      // can never free a frame another run's unexecuted plan references
      Pinned.scoped(spark) { pins =>
        // if the program build or a sink start throws below, frames
        // operators already pinned into this scope would otherwise be
        // stranded (the scope dies with the call) — adopt them into the
        // session registry so the documented Pinned.release(spark)
        // fallback can still reclaim the blocks after a failed run
        try runScoped(spark, config, pins)(program)
        catch { case t: Throwable => Pinned.adopt(pins); throw t }
      }
    }

  private def runScoped(spark: SparkSession, config: Config, pins: Pinned.Scope)(
      program: (String => MStream) => Map[String, MStream]): Seq[Running] = {
        val outs = config.lineageSink match {
          // recorder is scoped to THIS run (thread-local for the
          // synchronous program build), so concurrent runs on one session
          // neither mix edge frames nor disable each other's recording
          // mid-build
          case Some(_) => Lineage.scoped(spark)(rec =>
            runWithLineage(spark, config, Some(rec))(program))
          case None => runWithLineage(spark, config, None)(program)
        }
        // auto-release once every consuming action has run. Batch sinks
        // consume eagerly inside run — except `memory`, whose BatchOutput
        // the caller collects later (a streaming memory sink is fine: its
        // table materializes rows per micro-batch). Streaming outputs
        // consume for as long as their queries live, so their release
        // waits on a termination listener. Deferred-consumption runs fall
        // back to the session registry for a later Pinned.release(spark).
        val batchEager = outs.collect { case b: BatchOutput => b }.forall { b =>
          (if (b.stream == "__lineage") config.lineageSink.toSeq
           else config.sinkList(b.stream)).forall(_.format != "memory")
        }
        val streamingQs = outs.collect { case StreamingOutput(_, q) => q }
        if (!config.releasePinnedAfterRunEnabled || !batchEager) Pinned.adopt(pins)
        else if (streamingQs.isEmpty) pins.release()
        else {
          val remaining = java.util.concurrent.ConcurrentHashMap
            .newKeySet[java.util.UUID]()
          streamingQs.foreach(q => remaining.add(q.id))
          val released = new java.util.concurrent.atomic.AtomicBoolean(false)
          // StreamExecution posts QueryTerminatedEvent BEFORE removing the
          // query from streams.active, and the bus only delivers to
          // listeners attached at post time — a query dying in the
          // attach window is missed by both the event and a single
          // liveness sweep. So: sweep against streams.active on EVERY
          // event (progress events from surviving queries re-drive it)
          // plus two delayed one-shot re-sweeps for the all-terminated-
          // before-attach case, and release exactly once.
          var listenerRef: org.apache.spark.sql.streaming.StreamingQueryListener = null
          def sweep(): Unit = {
            val live = spark.streams.active.map(_.id).toSet
            remaining.removeIf(id => !live.contains(id))
            if (remaining.isEmpty && released.compareAndSet(false, true)) {
              pins.release()
              spark.streams.removeListener(listenerRef)
            }
          }
          listenerRef = new org.apache.spark.sql.streaming.StreamingQueryListener {
            override def onQueryStarted(
                e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
            override def onQueryProgress(
                e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = sweep()
            override def onQueryTerminated(
                e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
              remaining.remove(e.id)
              sweep()
            }
          }
          spark.streams.addListener(listenerRef)
          sweep()
          // the one-shots cover the all-terminated-before-attach case even
          // when StreamExecution's removal from streams.active lags; a
          // query that outlives them keeps the listener attached, and its
          // progress/termination events keep driving sweeps
          if (!released.get()) Seq(1000L, 10000L, 60000L).foreach { delay =>
            releaseTimer.schedule(new java.util.TimerTask {
              override def run(): Unit =
                try sweep() catch { case _: Throwable => () }
            }, delay)
          }
        }
        outs
      }

  // daemon timer backing the delayed pin-release re-sweeps above; shared,
  // tasks are one-shot and rare (two per streaming run)
  private lazy val releaseTimer = new java.util.Timer("graft-pin-release", true)

  /** Set `confs` on the session for the duration of `body`, then restore
    * each key's prior value (or unset it). The session conf is SHARED:
    * concurrent runs on one session that set DIFFERENT values race on
    * set/restore — give each such run its own session
    * (`spark.newSession()`). */
  private def withConfs[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    if (confs.isEmpty) return body
    // getAll holds only the keys that are set: getOption would return a
    // registered default, and restoring it would leave the key set
    val set = spark.conf.getAll
    val saved = confs.keys.map(k => k -> set.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every streaming query `run` starts goes through here: per-sink
    * queries, fan-out, cycle-feedback and lineage. For the duration of
    * `start` the frame's session carries the sink's state store provider,
    * graft's fork-free checkpoint file manager
    * ([[graft.streaming.LocalCheckpointFileManager]]) and, where
    * [[noDataBatchOnlyEvicts]] holds for the query, the confs that skip
    * Spark's no-data micro-batches; all are restored afterwards.
    * `StreamExecution` clones the session when the query is constructed,
    * so the query keeps them for its lifetime, and the provider is pinned
    * in the checkpoint from then on. A manager class the user already set
    * (session or Hadoop conf) is left alone, and so are the no-data confs
    * if the user set either (session or SparkConf). */
  private def startStreaming(df: DataFrame, stateStore: Option[String], outputMode: String)(
      start: => StreamingQuery): StreamingQuery = {
    val session = df.sparkSession
    val managerKey = graft.streaming.LocalCheckpointFileManager.ConfKey
    val userManager = session.conf.getOption(managerKey).nonEmpty ||
      session.sparkContext.hadoopConfiguration.get(managerKey) != null
    val manager =
      if (userManager) Map.empty[String, String]
      else Map(managerKey -> classOf[graft.streaming.LocalCheckpointFileManager].getName)
    val provider = stateStore.map(s =>
      "spark.sql.streaming.stateStore.providerClass" -> stateStoreProviders.getOrElse(s, s))
    val noData = Map(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.statefulOperator.allowMultiple" -> "false")
    val userSet = session.conf.getAll.keySet
    val skipNoData =
      if (noData.keys.exists(userSet) || !noDataBatchOnlyEvicts(df, outputMode)) Map.empty
      else noData
    withConfs(session, manager ++ provider ++ skipNoData)(start)
  }

  /** Whether Spark's no-data micro-batch can only evict state in a
    * streaming query over `df` written in `outputMode`; `startStreaming`
    * then switches it off for that query. Milan's streams emit when data
    * arrives, and nothing there matches a watermark-advance batch that
    * emits no row; the next data batch evicts the same state.
    *
    * It holds when the output mode is update or complete (append mode is
    * never touched: its no-data batch emits the rows the watermark
    * finalizes) and the analyzed plan has exactly one stateful node, on
    * this allow-list:
    *  - `Aggregate`, windowed or not: update mode emits only the groups a
    *    batch changed, and a closed window's state falls one data batch
    *    later; complete mode never evicts;
    *  - `Deduplicate` and `DeduplicateWithinWatermark`: they only evict;
    *  - `FlatMapGroupsWithState` with `NoTimeout`: it never asks for a
    *    no-data batch.
    * Every other stateful node keeps Spark's default: an `EventTimeTimeout`
    * fires in the no-data batch (`StreamingWindows.timeWindowApply`,
    * `StreamingAsof`, `SpaceSaving`); a `ProcessingTimeTimeout` re-runs
    * every batch (the `stateTtl` paths of `StreamingJoins` and
    * `StreamingScans`); `transformWithState`, stream-stream joins,
    * streaming limits and chains of stateful nodes are not on the list;
    * and a node type the match below names neither as stateless nor as
    * allowed counts as stateful, so the rule fails safe.
    *
    * What a data batch drops as late must not change. Spark 4's default
    * watermark propagator filters late rows with the watermark of the
    * batch BEFORE the current one, so without the no-data batch in
    * between, a data batch would let through rows the watermark had
    * already passed. The rule therefore also sets
    * `statefulOperator.allowMultiple=false`, Spark's single-watermark
    * propagator: with one stateful node it filters late rows and evicts
    * under the same, current watermark, which is what the no-data batch
    * achieved. A restarted query reads that watermark from its commit
    * log. */
  private def noDataBatchOnlyEvicts(df: DataFrame, outputMode: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def stateless(p: LogicalPlan): Boolean = p match {
      case j: Join => !(j.left.isStreaming && j.right.isStreaming) // stream-static
      case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias | _: EventTimeWatermark |
           _: Union | _: Generate | _: Expand | _: SerializeFromObject |
           _: DeserializeToObject | _: MapElements | _: MapPartitions | _: AppendColumns |
           _: TypedFilter | _: Repartition | _: RepartitionByExpression | _: Sort => true
      case _ => false
    }
    Set("update", "complete")(outputMode.toLowerCase(java.util.Locale.ROOT)) && {
      // a batch subtree holds no state
      val stateful = df.queryExecution.analyzed.collect {
        case p if p.isStreaming && !stateless(p) => p
      }
      stateful match {
        case Seq(_: Aggregate | _: Deduplicate | _: DeduplicateWithinWatermark) => true
        case Seq(f: FlatMapGroupsWithState) => f.timeout == NoTimeout
        case _ => false
      }
    }
  }

  /** Append `df` as `format` files into `dir` with atomic visibility:
    * write to a staging dir INSIDE the channel (executors then write to
    * the same, possibly shared, filesystem the rename targets, and the
    * source's file listing skips dot-prefixed paths), then rename each
    * part file into place — atomic on posix/HDFS semantics — so a
    * concurrent listing-based stream source never observes a partial
    * file. Visible files are `fb-$tag-…`, so a caller that pre-deletes
    * its tag's files gets IDEMPOTENT per-batch appends (fan-out replay). */
  private def appendAtomic(df: DataFrame, dir: String, tag: Long,
                           format: String = "parquet",
                           options: Map[String, String] = Map.empty): Unit = {
    val staging = new org.apache.hadoop.fs.Path(
      dir, s".stage-$tag-${java.util.UUID.randomUUID()}")
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val fs = staging.getFileSystem(conf)
    try {
      df.write.format(format).options(options).mode("overwrite")
        .save(staging.toString)
      val parts = fs.listStatus(staging,
        (p: org.apache.hadoop.fs.Path) => p.getName.startsWith("part-"))
      parts.zipWithIndex.foreach { case (st, i) =>
        val dest = new org.apache.hadoop.fs.Path(dir, s"fb-$tag-$i-${st.getPath.getName}")
        // rename reports failure as `false` (e.g. dest exists, dir gone) —
        // surfacing it is what keeps the channel at-least-once instead of
        // silently dropping a batch
        if (!fs.rename(st.getPath, dest)) throw new java.io.IOException(
          s"feedback channel: rename ${st.getPath} -> $dest failed")
      }
    } finally fs.delete(staging, true)
  }

  /** Delete `dir`'s visible files for one [[appendAtomic]] tag — the
    * replay-idempotence half of the fan-out file face: a micro-batch
    * re-delivered after a crash first removes its own previous output. */
  private def deleteBatchFiles(spark: SparkSession, dir: String, tag: Long): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(d))
      fs.listStatus(d, (p: org.apache.hadoop.fs.Path) =>
          p.getName.startsWith(s"fb-$tag-"))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** One streaming query serving every sink of a stream (see
    * `Config.setFanOutSinks`): `foreachBatch` materializes the micro-batch
    * once and writes it N times — the shared lineage executes once per
    * trigger instead of once per sink. APPEND-ONLY by contract: both
    * faces below have append semantics (the memory face accumulates the
    * batch trace, the file face appends per batch), so an update/complete
    * fan-out would silently duplicate re-emitted rows — rejected by name.
    * File sinks are replay-IDEMPOTENT: each batch pre-deletes its own
    * `fb-$batchId-…` files then atomic-renames fresh ones, so a batch
    * re-delivered after a crash overwrites itself instead of doubling
    * (the exactly-once property the stock file sink gets from its commit
    * log). A bound `stateStore` is honored for the (single) query; sinks
    * must agree on it. */
  private def fanOutStreaming(spark: SparkSession, stream: String,
                              df: DataFrame, sinks: Seq[Sink]): Running = {
    require(sinks.forall(_.format != "cycle-feedback"),
      s"fan-out for '$stream': cycle-feedback sinks keep their dedicated query " +
        "(empty-batch skipping + atomic rename)")
    val modes = sinks.map(_.outputMode).distinct
    require(modes == Seq("append"),
      s"fan-out sinks for '$stream' must all be outputMode=append (got " +
        s"${modes.mkString(", ")}): the fan-out faces append per batch, so " +
        "update/complete re-emissions would duplicate rows")
    val stores = sinks.flatMap(_.stateStore).distinct
    require(stores.size <= 1,
      s"fan-out sinks for '$stream' share ONE query and must agree on the " +
        s"state store, got ${stores.mkString(", ")}")
    sinks.filter(s => s.format != "memory" && s.format != "console").foreach(s =>
      require(s.path.nonEmpty,
        s"fan-out ${s.format} sink for '$stream' needs a path"))
    require(sinks.forall(s => s.partitionBy.isEmpty && s.clusterBy.isEmpty),
      s"fan-out sinks for '$stream' write flat fb-batch files (the " +
        "replay-idempotent rename contract) — partitionBy/clusterBy need " +
        "a dedicated per-sink query or a batch run")
    // memory-face accumulation: (full-trace frame, its checkpoint RDD ids).
    // Each batch RE-checkpoints the union so the registered view stays ONE
    // plan node deep (an ever-growing Union chain re-analyzes slower every
    // batch) and the superseded blocks are released — storage is O(rows),
    // like a real memory sink's buffer, not O(rows × batches)
    val memAccum = new scala.collection.mutable.HashMap[String, (DataFrame, Set[Int])]
    def unpersistIds(ids: Set[Int]): Unit = Pinned.unpersist(spark, ids)
    val w = df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val pinned = batch.persist()
        try sinks.foreach { sink =>
          sink.format match {
            case "console" => pinned.show(false)
            case "memory" =>
              val name = sink.queryName.getOrElse(throw new IllegalArgumentException(
                s"fan-out memory sink for '$stream' needs a queryName"))
              // foreachBatch frames live on a per-query session CLONE —
              // re-root the materialized trace onto the caller's session
              // so the accumulated view lands in the visible catalog
              val step = pinned.localCheckpoint()
              val (next, oldIds) = memAccum.get(name) match {
                case None => (step, Set.empty[Int])
                case Some((prev, prevIds)) =>
                  (prev.unionByName(step).localCheckpoint(),
                    prevIds ++ Pinned.idsOf(step))
              }
              memAccum(name) = (next, Pinned.idsOf(next))
              org.apache.spark.sql.graftbridge.ColumnBridge.onSession(spark, next)
                .createOrReplaceTempView(name)
              unpersistIds(oldIds)
            case f =>
              val dir = sink.path.get
              deleteBatchFiles(spark, dir, batchId) // replay overwrites itself
              appendAtomic(pinned, dir, batchId, f, sink.options)
          }
        } finally pinned.unpersist(false)
    }
    sinks.flatMap(_.checkpoint).headOption.foreach(cp =>
      w.option("checkpointLocation", cp))
    sinks.flatMap(_.queryName).headOption.foreach(n => w.queryName(s"${n}_fanout"))
    StreamingOutput(stream, startStreaming(df, stores.headOption, "append")(w.start()))
  }

  private def runWithLineage(spark: SparkSession, config: Config,
      recorder: Option[Lineage.Recorder])(
      program: (String => MStream) => Map[String, MStream]): Seq[Running] = {
    val outputs = program(name => readSource(spark, config.source(name)))
    val lineageOut = (config.lineageSink, recorder) match {
      case (Some(sink), Some(rec)) =>
        val edges = rec.allEdges(spark)
        if (edges.isStreaming) {
          // lineage is a side OUTPUT stream: one more streaming query over
          // the same sources, append mode (operators emit edges once)
          val w = edges.writeStream.format(sink.format)
            .options(sink.options).outputMode("append")
          sink.queryName.foreach(w.queryName)
          sink.checkpoint.foreach(cp => w.option("checkpointLocation", cp))
          Seq(StreamingOutput("__lineage", startStreaming(edges, sink.stateStore, "append")(
            sink.path.map(w.start).getOrElse(w.start()))))
        } else {
          sink.format match {
            case "memory" | "console" =>
              if (sink.format == "console") edges.show(false)
            case f =>
              val w = edges.write.format(f).options(sink.options).mode(sink.mode)
              sink.path.map(w.save).getOrElse(w.save())
          }
          Seq(BatchOutput("__lineage", edges))
        }
      case _ => Nil
    }
    lineageOut ++ config.sinkStreams.flatMap { stream =>
      val out = outputs.getOrElse(stream,
        throw new IllegalArgumentException(s"program produced no stream '$stream'"))
      val bound = config.sinkList(stream)
      if (out.df.isStreaming && config.fanOutEnabled(stream) && bound.size > 1)
        Seq(fanOutStreaming(spark, stream, out.df, bound))
      else bound.map { sink =>
        if (out.df.isStreaming && sink.clusterBy.nonEmpty)
          throw new IllegalArgumentException(
            s"sink for '$stream': clusterBy is a batch-layout knob " +
              "(z-ordering needs a global range sample; per-micro-batch " +
              "clustering would be meaningless) — drop it or run batch")
        // the layout knobs only mean something on file sinks — reject a
        // silent no-op instead of ignoring the misconfiguration
        if ((sink.clusterBy.nonEmpty || sink.partitionBy.nonEmpty) &&
            Set("memory", "console", "cycle-feedback").contains(sink.format))
          throw new IllegalArgumentException(
            s"sink for '$stream': clusterBy/partitionBy are file-layout " +
              s"knobs — the '${sink.format}' sink writes no files")
        if (out.df.isStreaming && sink.format == "cycle-feedback") {
          // Cycles.feedbackChannel egress: skip empty micro-batches (a
          // stock file sink's empty-batch part files would re-trigger the
          // loop's own source forever) and publish by atomic rename so the
          // listing-based source never reads a half-written file.
          val dir = sink.path.getOrElse(throw new IllegalArgumentException(
            "cycle-feedback sink needs a path"))
          val w = out.df.writeStream.foreachBatch {
            (batch: DataFrame, batchId: Long) =>
              if (!batch.isEmpty) appendAtomic(batch, dir, batchId)
          }
          sink.queryName.foreach(w.queryName)
          sink.checkpoint.foreach(cp => w.option("checkpointLocation", cp))
          StreamingOutput(stream, startStreaming(out.df, sink.stateStore, "append")(w.start()))
        } else if (out.df.isStreaming) {
          val w = out.df.writeStream.format(sink.format)
            .options(sink.options).outputMode(sink.outputMode)
          if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*)
          sink.queryName.foreach(w.queryName)
          sink.checkpoint.foreach(cp => w.option("checkpointLocation", cp))
          StreamingOutput(stream, startStreaming(out.df, sink.stateStore, sink.outputMode)(
            sink.path.map(w.start).getOrElse(w.start())))
        } else sink.format match {
          case "memory" => BatchOutput(stream, out.df) // caller collects
          case "console" => out.df.show(false); BatchOutput(stream, out.df)
          case "cycle-feedback" => // batch run of the same program: one pass
            appendAtomic(out.df, sink.path.getOrElse(throw
              new IllegalArgumentException("cycle-feedback sink needs a path")),
              System.nanoTime())
            BatchOutput(stream, out.df)
          case f =>
            val data =
              if (sink.clusterBy.isEmpty) out.df
              else {
                // the z-order executes the upstream thrice (min/max agg,
                // range sample, write) — persist it for the write's scope
                out.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                graft.operators.Layout.zorderBy(out.df, sink.clusterBy,
                  if (sink.clusterFiles > 0) sink.clusterFiles
                  else spark.conf.get("spark.sql.shuffle.partitions").toInt)
              }
            try {
              val w = data.write.format(f).options(sink.options).mode(sink.mode)
              if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*)
              sink.path.map(w.save).getOrElse(w.save())
            } finally if (sink.clusterBy.nonEmpty)
              out.df.unpersist(blocking = false)
            BatchOutput(stream, out.df)
        }
      }
    }
  }
}
