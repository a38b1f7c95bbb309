package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

import graft.api.{App, MStream}
import graft.streaming.LocalCheckpointFileManager

final case class RestartEvent(event_id: Long, user_id: Long, event_type: String, value: Double,
                              ts: Timestamp, ts_ns: Long)

/** Restart harness for stateful streaming faces run through `App.run`:
  * k micro-batches fed straight through must leave the same sink contents
  * as the same batches fed across stops and restarts from the same
  * checkpoints (Structured Streaming's exactly-once contract), whichever
  * checkpoint file manager wrote each segment. The first case is the
  * three faces of the benchmark's stream workload: a running per-user sum
  * (Append), 1 h watermarked tumbling windows (Update) and clicks joined
  * to the user's latest purchase (Append). Late rows behind the watermark
  * follow each restart point, so a restart that lost the watermark would
  * count them. The windows face runs without no-data micro-batches
  * (`App.run` skips them for it), so these checks also hold the late-row
  * and eviction semantics of that rule across restarts. */
class RestartHarnessSpec extends SparkSpec {
  import spark.implicits._

  /** One sink of a case: its output mode and its contents, read off every
    * row the sink received, in a canonical order. */
  private final case class Face(name: String, mode: String, contents: Seq[Row] => Seq[Row])

  private def appended(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)
  /** Update mode re-emits a window on every change: the last emission of
    * a window carries its largest count. */
  private def latestWindows(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(r => (r.get(0), r.get(1))).values.map(_.maxBy(_.getAs[Long]("cnt")))
      .toSeq.sortBy(_.toString)

  private val faces = Seq(
    Face("sums", "append", appended),
    Face("windows", "update", latestWindows),
    Face("enriched", "append", appended))

  private def program(ev: MStream): Map[String, MStream] = {
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

  private val k = 6
  private val perBatch = 24
  private val lateRows = 2
  private val minute = 60000L
  /** k batches, 7 event-minutes apart. Batches 2, 3 and 4 (the first
    * batch after every split below) start with rows three hours behind
    * the previous batch's newest event, well past the 1 h watermark. */
  private val batches: Vector[Seq[RestartEvent]] = (0 until k).toVector.map { b =>
    def ev(id: Long, ms: Long): RestartEvent = {
      val h = (id * 2654435761L) >>> 7
      RestartEvent(id, h % 5, Seq("click", "purchase", "view")((h % 3).toInt),
        ((h % 1000) / 10.0), new Timestamp(ms), ms * 1000000L)
    }
    val fresh = (0 until perBatch).map { i =>
      val n = b * perBatch + i
      ev(n, n * 7 * minute)
    }
    val late =
      if (b >= 2 && b <= 4) (0 until lateRows).map(i =>
        ev(10000L + b * 10 + i, (b * perBatch - 1) * 7 * minute - 180 * minute + i * minute))
      else Nil
    late ++ fresh
  }

  /** Feed the batches through `App.run`, stopping every query after each
    * batch index in `splits` and starting them again on the same
    * checkpoints. `managers(i)` is the checkpoint file manager class set
    * on the session for segment i (None: `App.run` installs graft's).
    * Returns each face's contents and the checkpoint root. */
  private def run(tag: String, splits: Seq[Int], managers: Seq[Option[String]],
                  stateStore: Option[String] = None): (Map[String, Seq[Row]], JPath) = {
    require(managers.size == splits.size + 1)
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val in = MemoryStream[RestartEvent]
    val cp = Files.createTempDirectory(s"graft_restart_$tag")
    val sinkNames = faces.map(f => f.name -> s"restart_${tag}_${f.name}_${System.nanoTime()}").toMap
    val bounds = (0 +: splits).zip(splits :+ k)
    try for (((from, to), manager) <- bounds.zip(managers)) {
      manager match {
        case Some(cls) => spark.conf.set(LocalCheckpointFileManager.ConfKey, cls)
        case None => spark.conf.unset(LocalCheckpointFileManager.ConfKey)
      }
      val config = new App.Config().setSource("events", App.Source("memory",
        rows = Some(in.toDF()), order = Seq("ts_ns", "event_id"), keepReading = true))
      faces.foreach(f => config.addSink(f.name, App.Sink(classOf[RecordingSinkProvider].getName,
        options = Map("name" -> sinkNames(f.name)), outputMode = f.mode,
        checkpoint = Some(cp.resolve(f.name).toString), stateStore = stateStore)))
      val qs = App.run(spark, config)(src => program(src("events")))
        .collect { case App.StreamingOutput(_, q) => q }
      try (from until to).foreach { b =>
        in.addData(batches(b))
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
    } finally spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    (faces.map(f => f.name -> f.contents(RecordingSink.rows(sinkNames(f.name)))).toMap, cp)
  }

  private def files(root: JPath): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Micro-batches a face's query ran over all its segments: the entries
    * of its commit log. */
  private def commits(cp: JPath, face: String): Int = {
    val s = Files.list(cp.resolve(face).resolve("commits"))
    try s.iterator.asScala.count(_.getFileName.toString.forall(_.isDigit)) finally s.close()
  }

  /** The windows face is Update mode over an aggregate only, so `App.run`
    * turns Spark's no-data micro-batches off for it: one micro-batch per
    * data batch, however the run was split. */
  private def assertNoNoDataBatches(cp: JPath): Unit =
    assert(commits(cp, "windows") == k, "the windows face ran a no-data batch")

  private lazy val straight = run("straight", Nil, Seq(None))

  test("the straight run is the reference: every face has output and late rows were dropped") {
    val (out, cp) = straight
    faces.foreach(f => assert(out(f.name).nonEmpty, s"${f.name} produced rows"))
    assertNoNoDataBatches(cp)
    assert(out("sums").size == k * perBatch + 3 * lateRows, "the running sum sees every row")
    val windowed = out("windows").map(_.getAs[Long]("cnt")).sum
    assert(windowed == k * perBatch, "the windows counted every row but the late ones")
  }

  test("stopping after batch 3 and restarting from the same checkpoints changes no sink") {
    val (out, cp) = run("restart", Seq(3), Seq(None, None))
    faces.foreach(f => assert(out(f.name) == straight._1(f.name), f.name))
    assertNoNoDataBatches(cp)
  }

  test("Spark's default manager, then graft's, then the default again, on one checkpoint") {
    val dflt = Some(classOf[FileContextBasedCheckpointFileManager].getName)
    val (out, cp) = run("interop", Seq(2, 4), Seq(dflt, None, dflt))
    faces.foreach(f => assert(out(f.name) == straight._1(f.name), f.name))
    assertNoNoDataBatches(cp)
    assert(files(cp).exists(n => n.startsWith(".") && n.endsWith(".crc")),
      "the default manager's segments left Hadoop sidecars (the interop is exercised)")
  }

  test("a graft run leaves no Hadoop .crc sidecar and no temp file in its checkpoints") {
    val (_, cp) = straight
    val all = files(cp)
    assert(all.exists(_.endsWith(".delta")), "state store deltas were written")
    val stray = all.filter(n => (n.startsWith(".") && n.endsWith(".crc")) || n.endsWith(".tmp"))
    assert(stray.isEmpty, s"forking Hadoop write path left: ${stray.take(5).mkString(", ")}")
  }

  test("RocksDB state: the restarted run equals the straight one, under graft's manager") {
    val (once, cp) = run("rocks_straight", Nil, Seq(None), stateStore = Some("rocksdb"))
    val (twice, twiceCp) = run("rocks_restart", Seq(3), Seq(None, None), stateStore = Some("rocksdb"))
    assertNoNoDataBatches(cp)
    assertNoNoDataBatches(twiceCp)
    faces.foreach { f =>
      assert(once(f.name) == straight._1(f.name), s"${f.name}: RocksDB equals the HDFS store")
      assert(twice(f.name) == once(f.name), f.name)
    }
    // RocksDB uploads its SST files with Hadoop's FileSystem.copyFromLocalFile,
    // not through the checkpoint file manager: those keep their sidecars
    val stray = files(cp).filterNot(_.endsWith(".sst.crc"))
      .filter(n => (n.startsWith(".") && n.endsWith(".crc")) || n.endsWith(".tmp"))
    assert(stray.isEmpty, stray.take(5).mkString(", "))
  }
}

/** A streaming sink that records each micro-batch's rows by batch id
  * under its `name` option, replacing a re-delivered batch — the
  * idempotent-by-batch-id sink contract. Supports every output mode and
  * recovery from a checkpoint, which the memory sink refuses outside
  * Complete mode. */
class RecordingSinkProvider extends StreamSinkProvider {
  override def createSink(ctx: SQLContext, params: Map[String, String],
                          partitionColumns: Seq[String], mode: OutputMode): Sink = {
    val key = params("name")
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val rows = data.collect().toSeq
        RecordingSink.batches.merge(key, TreeMap(batchId -> rows), (a, b) => a ++ b)
      }
    }
  }
}

object RecordingSink {
  val batches = new ConcurrentHashMap[String, TreeMap[Long, Seq[Row]]]()
  def rows(name: String): Seq[Row] =
    Option(batches.get(name)).map(_.values.flatten.toSeq).getOrElse(Nil)
}
