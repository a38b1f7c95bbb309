package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskEndReason
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** Records in memory, through public observers only, what one traced run
  * needs: jobs/stages/tasks (SparkListener), planning phases and executed
  * plans (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Jobs are attributed to the span named by the
  * `perfbench.span` local property the harness sets around each call, or
  * else by start time. */
final class Trace(spark: SparkSession) {
  val SpanKey = "perfbench.span"

  import Trace._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val planned = new ConcurrentLinkedQueue[Planned]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val events = new java.util.concurrent.atomic.AtomicLong()
  private val nextId = new java.util.concurrent.atomic.AtomicLong()

  def newId(): Long = nextId.incrementAndGet()

  /** Run `body` as a span under `parent`; jobs it starts are attributed to it. */
  def span[T](parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    try body(id)
    finally {
      spans.add(Span(id, parent, name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, Job(e.jobId, span, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      val failed = e.reason match { case org.apache.spark.Success => false; case _: TaskEndReason => true }
      if (m == null) tasks.add(Task(e.stageId, 0, 0, 0, 0, 0, 0, 0, failed))
      else tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val ops = Trace.flatten(qe.executedPlan)
      planned.add(Planned(start, planMs,
        ops.count(p => p.isInstanceOf[BroadcastHashJoinExec] || p.isInstanceOf[BroadcastNestedLoopJoinExec]),
        ops.count(p => p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
        Trace.nonCodegen(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    adoptOrphans()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have gone quiet and every
    * started job has ended. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (events.get() != last || jobs.values.asScala.exists(_.end < 0))) {
      last = events.get()
      Thread.sleep(200)
    }
  }

  /** Jobs started on threads that do not inherit the span property (graft
    * pins in Futures, micro-batches on the streaming queries' own threads)
    * go to the innermost span open when they started. */
  private def adoptOrphans(): Unit = {
    val ss = spans.asScala.toSeq
    jobs.values.asScala.filter(_.span == 0).foreach { j =>
      val open = ss.filter(s => s.startMs <= j.start && j.start <= s.endMs)
      if (open.nonEmpty) j.span = open.minBy(s => s.endMs - s.startMs).id
    }
  }

  /** Jobs whose span is `id` or one of its descendants. */
  def jobsUnder(ids: Set[Long]): Seq[Job] = jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq

  def descendants(root: Long): Set[Long] = {
    val byParent = spans.asScala.groupBy(_.parent)
    def go(id: Long): Set[Long] = Set(id) ++ byParent.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }
}

object Trace {
  final case class Job(id: Int, var span: Long, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, start: Long, end: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, bytesRead: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
  final case class Planned(startMs: Long, planMs: Long, broadcast: Int, shuffled: Int, nonCodegen: Int)

  /** Every operator of an executed plan, through AQE wrappers and finished
    * query stages. */
  def flatten(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  /** Operators that run outside whole-stage codegen, not counting the
    * exchange, stage and adapter nodes that sit between codegen stages. */
  def nonCodegen(plan: SparkPlan): Int = {
    def go(p: SparkPlan, inside: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan, inside = false)
      case q: QueryStageExec => go(q.plan, inside = false)
      case w: WholeStageCodegenExec => go(w.child, inside = true)
      case i: InputAdapter => i.children.map(go(_, inside = false)).sum
      case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec =>
        (p.children ++ p.subqueries).map(go(_, inside = false)).sum
      case _ => (if (inside) 0 else 1) +
        p.children.map(go(_, inside)).sum + p.subqueries.map(go(_, inside = false)).sum
    }
    go(plan, inside = false)
  }
}
