package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

import graft.SparkEntry
import graft.api.{App, MStream, Program}
import graft.sources.Tables

/**
 * JVM side of the benchmark: sets the session up, runs one workload for a
 * fixed time and writes its measurements to `<out>/result.json`.
 *
 * Batch workloads follow graft.Bench's per-query protocol: before each query
 * the cache is cleared, persistent RDDs are unpersisted and the JVM is
 * asked to GC; the timed window is the query constructor call plus a
 * `noop` write. An untimed pass in a fixed order warms up first; after the timed passes, a
 * last untimed pass in the same order writes every query's output as
 * parquet under `<out>/outputs` for the output check. The stream workload
 * replays the events table through one MemoryStream into the three
 * streaming queries `App.run` starts, one closed-loop batch at a time.
 *
 * Usage: Harness --workload NAME --kind batch|stream --data DIR
 *          --queries q1,q2,.. --sources t1,t2,.. --seconds S --trace 0|1
 *          --out DIR --cores N
 */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    // exit explicitly: a failure must not leave Spark's threads holding the JVM
    val code = try { new Harness(o).run(); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def ms(ns: Long): Double = ns / 1e6
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The estimator of every timed end-to-end figure: the fastest of a
    * run's samples. On a shared host the speed of the same code swings by
    * a third within seconds, and for tens of seconds at a time; the median
    * over a run follows those swings, the fastest sample much less. */
  def fastest(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.min
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)
}

/** Live heap right after each full GC, from GC notifications. The
  * harness forces one after each query and each stream pass, so the peak
  * is the largest live set any of them left, pinned data included. */
final class HeapWatch extends NotificationListener {
  @volatile var peakBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  beans.foreach(_.addNotificationListener(this, null, null))
  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      if (info.getGcAction.contains("major")) {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
            !pool.contains("Compressed") => u.getUsed
        }.sum
        if (used > peakBytes) peakBytes = used
      }
    }
  def reset(): Unit = peakBytes = 0L
  def close(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(this)))
}

final class Harness(o: Map[String, String]) {
  import Harness._

  private val workload = o("workload")
  private val kind = o("kind")
  private val dataDir = new File(o("data")).getAbsolutePath
  private val queries = o.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
  private val sources = o("sources").split(",").toSeq
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val out = new File(o("out")).getAbsoluteFile
  private val cores = o("cores").toInt
  /** Set-ups after the workload; `setup_s` is their median. */
  private val warmSetups = 5
  /** Timed passes a run makes at least. Passes still get faster from one
    * to the next (the JIT is not done), so a run that fits one more pass
    * into `seconds` reads lower; at four, and 10 s, the count depends on
    * the host's speed only when a pass takes under 2.5 s. */
  private val MinPasses = 4

  private var spark: SparkSession = _
  private val heap = new HeapWatch
  private var attempted = 0L
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  private val t0 = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1f s] $s")

  private def newSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(out, "checkpoints").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadSource(name: String): DataFrame =
    if (name == "events") Tables.events(spark, dataDir).df else Tables.df(spark, dataDir, name)

  /** One set-up: a fresh session, then every source the workload reads
    * loaded and scanned through the public Tables loaders. Returns the
    * per-source scan times. */
  private def setUp(): Map[String, Double] = {
    spark = newSession()
    sources.map { t =>
      val t0 = System.nanoTime()
      loadSource(t).write.format("noop").mode("overwrite").save()
      t -> ms(System.nanoTime() - t0)
    }.toMap
  }

  /** Between queries: drop cached data, waiting until its blocks are
    * gone, and GC. */
  private def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def json(v: JValue): String = compact(render(v))

  /** Seconds of one set-up, after an untimed teardown of the previous session. */
  private def timedSetUp(): (Double, Map[String, Double]) = {
    if (spark != null) spark.stop()
    Tables.clearSchemaCache()
    System.gc()
    val t0 = System.nanoTime()
    val scans = setUp()
    ((System.nanoTime() - t0) / 1e9, scans)
  }

  def run(): Unit = {
    out.mkdirs()
    val (cold, _) = timedSetUp()
    log(f"cold setup $cold%.2f s")
    val result: JObject = kind match {
      case "batch" => new BatchRun().run()
      case "stream" => new StreamRun().run()
    }
    val heapPeakMb = heap.peakBytes / 1048576.0
    // The timed set-ups come after the workload, in a JVM it has warmed:
    // five set-ups made right after the cold one still sped up by about a
    // quarter from the first to the last. (Not between the timed passes: a
    // pass in a session just set up ran ~40% slower than one in a session
    // that had run a pass.)
    val warm = (1 to warmSetups).map(_ => timedSetUp())
    log(f"setup ${warm.map(w => f"${w._1}%.2f").mkString(" ")} s")
    val layers: JObject = if (traced) "layers" -> ("sources.scan_ms" -> warm.last._2.values.sum) else JObject()
    val full = result.merge(layers) ~
      ("workload" -> workload) ~ ("setup_s_samples" -> (cold +: warm.map(_._1)).toList) ~
      ("setup_s" -> median(warm.map(_._1))) ~
      ("heap_live_peak_mb" -> heapPeakMb) ~
      ("attempted" -> attempted) ~ ("failures" -> failures.toList)
    Files.write(new File(out, "result.json").toPath, pretty(render(full)).getBytes(UTF_8))
    heap.close()
    spark.stop()
  }

  /** Per-layer numbers of one traced stretch that ran the jobs `js`. */
  private def execLayers(tr: Trace, js: Seq[Trace.Job], wallMs: Double): Map[String, Double] = {
    val stageIds = js.flatMap(_.stages).toSet
    val sts = tr.stages.asScala.filter(s => stageIds.contains(s.id)).toSeq
    val ts = tr.tasks.asScala.filter(t => stageIds.contains(t.stage)).toSeq
    val busy = ts.map(_.runMs).sum.toDouble
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> sts.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.single_task_stage_ms" -> sts.filter(_.tasks == 1).map(s => (s.end - s.start).toDouble).sum,
      "exec.task_busy_ms" -> busy,
      "exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.core_util" -> (if (wallMs > 0) busy / (wallMs * cores) else 0.0),
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "exec.failed_tasks" -> ts.count(_.failed).toDouble,
      "sources.bytes_read" -> ts.map(_.bytesRead).sum.toDouble)
  }

  /** Milliseconds of `[t0, t1]` during which no job of `js` ran. */
  private def gapMs(js: Seq[Trace.Job], t0: Long, t1: Long): Double = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = t0
    iv.foreach { case (a, b) =>
      if (b > cur) { covered += b - math.max(a, cur); cur = b }
    }
    (t1 - t0 - covered).toDouble
  }

  private def spansJson(tr: Trace): JValue =
    tr.spans.asScala.toList.sortBy(_.id).map { s =>
      ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~
        ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs) ~
        ("attrs" -> JObject(s.attrs.toList.map { case (k, v) => k -> (v match {
          case d: Double => JDouble(d); case l: Long => JLong(l); case i: Int => JInt(i)
          case x => JString(x.toString) }) }))
    }

  private def writeTraceFiles(tr: Trace): Unit = {
    tr.jobs.values.asScala.foreach { j =>
      tr.spans.add(Span(tr.newId(), j.span, s"job ${j.id}", j.start, j.end,
        Map("stages" -> j.stages.size)))
    }
    Files.write(new File(out, "spans.json").toPath, json(spansJson(tr)).getBytes(UTF_8))
  }

  // ----------------------------------------------------------------- batch

  private final class BatchRun {
    private val families = Map(
      "operators.join_ms" -> Set("q_join3", "q_asof_join"),
      "pipeline.lm_ms" -> Set("q_lm3_score"))

    /** Times of one pass: wall seconds and per-query milliseconds. */
    final case class Pass(wallS: Double, queryMs: Seq[(String, Double)], root: Long,
                          startMs: Long, endMs: Long, detail: Map[String, Map[String, Double]])

    private def runPass(tr: Option[Trace], label: String, order: Seq[String] = queries): Pass = {
      val root = tr.map(_.newId()).getOrElse(0L)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var times = Vector.empty[(String, Double)]
      var detail = Map.empty[String, Map[String, Double]]
      for (q <- order) {
        isolate()
        attempted += 1
        val q0 = System.nanoTime()
        val qStart = System.currentTimeMillis()
        try {
          tr match {
            case None =>
              SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
            case Some(t) =>
              t.span(root, q) { qid =>
                val b0 = System.nanoTime()
                val df = t.span(qid, "build")(_ => SparkEntry.queries(q)(spark, dataDir))
                val buildMs = ms(System.nanoTime() - b0)
                t.span(qid, "exec")(_ => df.write.format("noop").mode("overwrite").save())
                val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
                detail += q -> Map("api.build_ms" -> buildMs,
                  "exec.pinned_rdds" -> storage.length.toDouble,
                  "exec.pinned_mb" -> storage.map(s => s.memSize + s.diskSize).sum / 1048576.0)
              }
          }
          times :+= q -> ms(System.nanoTime() - q0)
          System.gc()
        } catch { case e: Throwable =>
          failures += s"$label $q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          log(s"$q failed: $e")
        }
        if (tr.isDefined) detail += q -> (detail.getOrElse(q, Map.empty) +
          ("start_ms" -> qStart.toDouble) + ("end_ms" -> System.currentTimeMillis().toDouble))
      }
      val p = Pass((System.nanoTime() - t0) / 1e9, times, root, startMs, System.currentTimeMillis(), detail)
      tr.foreach(_.spans.add(Span(root, 0, s"pass $label", startMs, p.endMs, Map("wall_s" -> p.wallS))))
      log(f"pass $label ${p.wallS}%.2f s")
      p
    }

    /** Untimed, after the timed passes and in the same query order: every
      * query's output as parquet for the output check. */
    private def writeOutputs(): Double = {
      val t0 = System.nanoTime()
      val dir = new File(out, "outputs")
      Files.write(new File(out, "oracle_sql.json").toPath,
        json(JObject(queries.toList.map(q => q -> JString(SparkEntry.oracleSql(q))))).getBytes(UTF_8))
      for (q <- queries) {
        isolate()
        attempted += 1
        try SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(new File(dir, q).getPath)
        catch { case e: Throwable =>
          failures += s"output $q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** Program-document codec round trip, per document, in microseconds. */
    private def docCodecUs(): Double = {
      val docs = Seq(ProgramDoc.json)
      val config = new App.Config()
      sources.foreach(t => config.setSource(t, App.Source(format = "parquet",
        path = Some(s"$dataDir/$t.parquet"), schema = Some(Tables.df(spark, dataDir, t).schema))))
      def once(): Double = {
        val t0 = System.nanoTime()
        docs.foreach { d =>
          val back = Program.toJson { val doc = Program.fromJson(d); Program.validate(doc, spark, config); doc }
          if (Program.toJson(Program.fromJson(back)) != back) throw new IllegalStateException("codec round trip drifted")
        }
        (System.nanoTime() - t0) / 1e3 / docs.size
      }
      (1 to 3).foreach(_ => once())
      median((1 to 9).map(_ => once()))
    }

    def run(): JObject = {
      // The warm-up runs in one order for every seed: the query that runs
      // first in a cold JVM shapes its JIT state for the rest of the run.
      val warm = runPass(None, "warm-up", queries.sorted).wallS
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      heap.reset()
      val tr = if (traced) Some(new Trace(spark)) else None
      // A traced run alternates untraced and traced passes, at least
      // MinPasses of each, so that trace.overhead_s compares passes made
      // at the same stage of the run. An untraced run measures every pass.
      var measured = Vector.empty[Pass]
      var plain = Vector.empty[Pass]
      while (System.nanoTime() < deadline || measured.size < MinPasses || plain.size > measured.size) {
        val label = (measured.size + plain.size + 1).toString
        tr match {
          case Some(t) if plain.size > measured.size =>
            t.attach()
            measured :+= runPass(tr, label)
            t.detach()
          case Some(_) => plain :+= runPass(None, label)
          case None => measured :+= runPass(None, label)
        }
      }
      val written = writeOutputs()
      log(f"outputs written in $written%.2f s")
      // per query, the fastest of its times over the passes
      def perQueryOf(ps: Seq[Pass]): Seq[(String, Double)] =
        queries.map(q => q -> fastest(ps.flatMap(_.queryMs.filter(_._1 == q).map(_._2))))
      val perQuery = perQueryOf(measured)
      val base: JObject =
        ("passes" -> (measured.size + plain.size)) ~ ("warmup_s" -> warm) ~
          ("wall_s" -> perQuery.map(_._2).sum / 1000) ~
          ("op_geomean_ms" -> geomean(perQuery.map(_._2))) ~
          ("query_ms" -> JObject(perQuery.toList.map { case (q, v) => q -> JDouble(v) })) ~
          ("pass_query_ms" -> measured.toList.map(p => JObject(p.queryMs.toList.map { case (q, v) => q -> JDouble(v) }))) ~
          ("samples" -> measured.map(_.queryMs.size).sum)
      tr match {
        case None => base
        case Some(t) =>
          val perPass = measured.map(p => layersOf(t, p))
          val layers = perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap ++ Map(
            "api.doc_codec_us" -> docCodecUs(),
            "trace.overhead_s" -> (perQuery.map(_._2).sum - perQueryOf(plain).map(_._2).sum) / 1000)
          writeTraceFiles(t)
          val detailDir = new File(out, "detail")
          detailDir.mkdirs()
          val last = measured.last
          for (q <- queries) {
            val d = last.detail.getOrElse(q, Map.empty)
            val qSpan = t.spans.asScala.find(s => s.parent == last.root && s.name == q)
            val per = qSpan.map(s => execLayers(t, t.jobsUnder(t.descendants(s.id)), (s.endMs - s.startMs).toDouble) ++
              planLayers(t, s.startMs, s.endMs) ++
              Map("exec.driver_gap_ms" -> gapMs(t.jobsUnder(t.descendants(s.id)), s.startMs, s.endMs),
                "api.build_jobs" -> buildJobs(t, s.id))).getOrElse(Map.empty)
            Files.write(new File(detailDir, s"$q.json").toPath,
              json(JObject((d ++ per).toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })).getBytes(UTF_8))
          }
          base ~ ("layers" -> JObject(layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
      }
    }

    private def buildJobs(t: Trace, querySpan: Long): Double =
      t.spans.asScala.filter(s => s.parent == querySpan && s.name == "build")
        .map(s => t.jobsUnder(t.descendants(s.id)).size).sum.toDouble

    private def planLayers(t: Trace, t0: Long, t1: Long): Map[String, Double] = {
      val ps = t.planned.asScala.filter(p => p.startMs >= t0 && p.startMs <= t1).toSeq
      Map("plans.plan_ms" -> ps.map(_.planMs).sum.toDouble,
        "plans.broadcast_joins" -> ps.map(_.broadcast).sum.toDouble,
        "plans.shuffled_joins" -> ps.map(_.shuffled).sum.toDouble,
        "plans.non_codegen_ops" -> ps.map(_.nonCodegen).sum.toDouble)
    }

    private def layersOf(t: Trace, p: Pass): Map[String, Double] = {
      val qSpans = t.spans.asScala.filter(_.parent == p.root).toSeq
      val gap = qSpans.map(s => gapMs(t.jobsUnder(t.descendants(s.id)), s.startMs, s.endMs)).sum
      val byQuery = p.queryMs.toMap
      execLayers(t, t.jobsUnder(t.descendants(p.root)), p.wallS * 1000) ++ planLayers(t, p.startMs, p.endMs) ++
        families.map { case (k, qs) => k -> qs.toSeq.flatMap(byQuery.get).sum } ++ Map(
          "exec.driver_gap_ms" -> gap,
          "api.build_ms" -> p.detail.values.flatMap(_.get("api.build_ms")).sum,
          "api.build_jobs" -> qSpans.map(s => buildJobs(t, s.id)).sum,
          "exec.pinned_rdds" -> p.detail.values.flatMap(_.get("exec.pinned_rdds")).sum,
          "exec.pinned_mb" -> p.detail.values.flatMap(_.get("exec.pinned_mb")).sum)
    }
  }

  // ---------------------------------------------------------------- stream

  private final class StreamRun {
    private val batchEvents = 1000
    // Batch latency keeps falling over the first ten or so batches (the
    // JIT), so six batches warm up. Three batches to a pass: with two, one
    // set of ten runs spread 0.25 (quartile distance over median) against
    // 0.16 for a set with three.
    private val passBatches = 3
    private val warmBatches = 6
    private val sinks = Seq("sums" -> "append", "windows" -> "update", "enriched" -> "append")

    /** The three MStream faces, the same code for a batch and a streaming input. */
    private def faces(ev: MStream): Map[String, MStream] = {
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
      Map(
        "sums" -> ev.groupBy("user_id").sumBy(col("value"), "running_sum")
          .map(col("event_id"), col("user_id"), round(col("running_sum"), 4).as("running_sum")),
        "windows" -> ev.withWatermark("ts", "1 hour").groupBy("event_type")
          .tumblingWindow(col("ts"), "1 hour")
          .select("w", count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
          .map(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_value")),
        "enriched" -> clicks.leftJoin(purchases).on((l, r) => l("user_id") === r("user_id"))
          .select((l, r) => Seq(l("event_id").as("event_id"), l("user_id").as("user_id"),
            l("value").as("click_value"), r("value").as("latest_purchase"))))
    }

    private def start(tag: String, stream: MemoryStream[Row]): Seq[StreamingQuery] = {
      val config = new App.Config()
        .setSource("events", App.Source(format = "memory", rows = Some(stream.toDF()),
          order = Seq("ts_ns", "event_id"), keepReading = true))
      sinks.foreach { case (s, mode) =>
        config.addSink(s, App.Sink(format = "memory", outputMode = mode, queryName = Some(s"${s}_$tag"),
          checkpoint = Some(new File(out, s"checkpoints/${s}_$tag").getPath)))
      }
      App.run(spark, config)(in => faces(in("events"))).collect { case App.StreamingOutput(_, q) => q }
    }

    def run(): JObject = {
      val events = Tables.events(spark, dataDir).df.orderBy("ts_ns", "event_id")
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(events.schema)
      val rows = events.collect()
      val batches = rows.grouped(batchEvents).toVector
      def feed(stream: MemoryStream[Row], qs: Seq[StreamingQuery], b: Array[Row]): Double = {
        val t0 = System.nanoTime()
        stream.addData(b.toSeq)
        qs.foreach(_.processAllAvailable())
        ms(System.nanoTime() - t0)
      }
      val tr = if (traced) Some(new Trace(spark)) else None
      val stream = MemoryStream[Row](enc, spark)
      val qs = start("run", stream)
      // warm-up: the first batches through the same queries, untimed
      val w0 = System.nanoTime()
      var next = 0
      while (next < warmBatches) { feed(stream, qs, batches(next)); next += 1 }
      val warm = (System.nanoTime() - w0) / 1e9
      log(f"warm-up $warm%.2f s")
      // as after every pass, so that the first pass does not collect the warm-up's garbage
      System.gc()
      heap.reset()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var passRoots = Vector.empty[(Long, Long, Long)]
      /** One pass: its wall seconds and the latency of each of its batches. */
      def pass(t: Option[Trace], label: String): (Double, Vector[Double]) = {
        val root = t.map(_.newId()).getOrElse(0L)
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var lat = Vector.empty[Double]
        for (_ <- 0 until passBatches if next < batches.size) {
          attempted += 1
          val b = next
          next += 1
          try {
            lat :+= (t match {
              case None => feed(stream, qs, batches(b))
              case Some(tt) => tt.span(root, s"batch $b")(_ => feed(stream, qs, batches(b)))
            })
          } catch { case e: Throwable =>
            failures += s"batch $b: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        t.foreach { tt =>
          tt.spans.add(Span(root, 0, s"pass $label", s0, System.currentTimeMillis(), Map("wall_s" -> wall)))
          passRoots :+= ((root, s0, System.currentTimeMillis()))
        }
        System.gc()
        log(f"pass $label $wall%.2f s")
        (wall, lat)
      }
      // passes alternate as in a batch run: a traced run measures its
      // traced passes and compares them with the untraced ones between
      var measured = Vector.empty[(Double, Vector[Double])]
      var plain = Vector.empty[Double]
      while ((System.nanoTime() < deadline || measured.size < MinPasses || plain.size > measured.size) &&
        next + passBatches <= batches.size) {
        val label = (measured.size + plain.size + 1).toString
        tr match {
          case Some(t) if plain.size > measured.size =>
            t.attach()
            measured :+= pass(tr, label)
            t.detach()
          case Some(_) => plain :+= pass(None, label)._1
          case None => measured :+= pass(None, label)
        }
      }
      qs.foreach(_.stop())
      val replayed = next * 1L * batchEvents min rows.length.toLong
      val checked = check(rows.take(replayed.toInt))
      val passWalls = measured.map(_._1)
      val lat = measured.flatMap(_._2)
      val base: JObject =
        ("passes" -> (measured.size + plain.size)) ~ ("warmup_s" -> warm) ~
          ("wall_s" -> fastest(passWalls)) ~
          ("op_geomean_ms" -> fastest(measured.map(m => geomean(m._2)))) ~
          ("batch_ms" -> lat.toList) ~
          ("samples" -> lat.size) ~ ("replayed_events" -> replayed) ~ ("sink_rows" -> checked)
      tr match {
        case None => base
        case Some(t) =>
          val ps = t.progress.asScala.toSeq
          def dur(keys: String*): Double = median(ps.map(p => keys.map(k =>
            Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum))
          val lastByQuery = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
          val stateOps = lastByQuery.flatMap(_.stateOperators)
          // micro-batch jobs run on the queries' own threads, so they are
          // attributed to a pass by start time
          val layers = passRoots.map { case (_, s0, s1) =>
            val js = t.jobs.values.asScala.filter(j => j.start >= s0 && j.start <= s1).toSeq
            execLayers(t, js, (s1 - s0).toDouble) ++ Map("exec.driver_gap_ms" -> gapMs(js, s0, s1)) }
          val exec = layers.head.keys.map(k => k -> median(layers.map(_(k)))).toMap
          val all = exec ++ Map(
            "streaming.trigger_ms_p50" -> dur("triggerExecution"),
            "streaming.add_batch_ms_p50" -> dur("addBatch"),
            "streaming.planning_ms_p50" -> dur("queryPlanning"),
            "streaming.commit_ms_p50" -> dur("walCommit", "commitOffsets"),
            "streaming.state_commit_ms_p50" -> median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
            "streaming.state_rows" -> stateOps.map(_.numRowsTotal).sum.toDouble,
            "streaming.state_mem_mb" -> stateOps.map(_.memoryUsedBytes).sum / 1048576.0,
            "streaming.late_rows_dropped" -> ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
            "trace.overhead_s" -> (fastest(passWalls) - fastest(plain)))
          // each micro-batch becomes a span under the closed-loop batch it served
          val batchSpans = t.spans.asScala.filter(_.name.startsWith("batch ")).toSeq
          ps.foreach { p =>
            val start = java.time.Instant.parse(p.timestamp).toEpochMilli
            val parent = batchSpans.find(b => b.startMs <= start && start <= b.endMs).map(_.id).getOrElse(0L)
            t.spans.add(Span(t.newId(), parent, s"query ${p.name} batch ${p.batchId}", start,
              start + p.batchDuration, p.durationMs.asScala.map { case (k, v) => k -> (v.toLong: Any) }.toMap))
          }
          writeTraceFiles(t)
          base ~ ("layers" -> JObject(all.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
      }
    }

    /** The final sinks must equal the batch face of the same pipeline over
      * the replayed prefix; every mismatch is a failure. Returns sink rows. */
    private def check(replayed: Array[Row]): Long = {
      val batch = spark.createDataFrame(java.util.Arrays.asList(replayed: _*), replayed.head.schema)
      val expected = faces(new MStream(batch, Seq("ts_ns", "event_id")))
      var rows = 0L
      sinks.foreach { case (s, _) =>
        attempted += 1
        val got0 = spark.table(s"${s}_run")
        // an update-mode sink keeps every emitted version: the final one
        // carries the largest count (values are non-negative)
        val got = if (s == "windows") got0.groupBy("w_start", "event_type")
          .agg(max("cnt").as("cnt"), max("sum_value").as("sum_value")) else got0
        def canon(df: DataFrame): Vector[String] =
          df.select(got.columns.toIndexedSeq.map(col): _*).collect()
            .map(_.toSeq.map(String.valueOf).mkString("|")).toVector.sorted
        val g = canon(got)
        val e = canon(expected(s).df)
        val bad = g.diff(e).size + e.diff(g).size
        rows += g.size
        if (bad != 0) failures += s"sink $s: $bad rows differ from the batch face"
      }
      rows
    }
  }
}

/** A program document over lineitem (q_program_agg's), for the codec
  * round trip (api.doc_codec_us). */
object ProgramDoc {
  val json: String =
    """{"nodes": [
         {"op": "external", "name": "lineitem"},
         {"op": "groupSelect", "name": "out", "input": "lineitem",
          "keys": ["l_returnflag", "l_linestatus"],
          "aggs": [
            {"expr": "sum(l_quantity)", "as": "sum_qty"},
            {"expr": "round(sum(l_extendedprice), 2)", "as": "sum_base"},
            {"expr": "count(1)", "as": "cnt"}]}],
       "outputs": ["out"]}"""
}
