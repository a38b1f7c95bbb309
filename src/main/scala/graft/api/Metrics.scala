package graft.api

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Milan metrics (`application/MetricDefinition.scala`, per-operator
 * counters in the runtime co-process functions), Spark-first: named
 * `observe()` metrics evaluated inside the plan (no extra pass over the
 * data), collected via QueryExecutionListener (batch) or
 * StreamingQueryProgress (streaming).
 */
object Metrics {

  /** Attach named observed metrics to a stream (Milan `MetricDefinition`). */
  def observe(s: MStream, name: String, metrics: (String, Column)*): MStream = {
    val cols = metrics.map { case (n, c) => c.as(n) }
    new MStream(
      s.df.observe(name, cols.head, cols.tail: _*),
      s.eventOrder, s.contextKeys, s.name)
  }

  /** Batch metrics collector: registers a listener, returns a handle that
    * exposes every observation seen so far keyed by observation name. */
  final class Collector(spark: SparkSession) extends AutoCloseable {
    private val seen = new ConcurrentHashMap[String, Map[String, Any]]()
    private val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          seen.put(name, row.schema.fieldNames.zip(row.toSeq).toMap)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def get(name: String): Option[Map[String, Any]] = Option(seen.get(name))
    override def close(): Unit = spark.listenerManager.unregister(listener)
  }

  /** What one Spark action cost beyond its wall time: the Spark jobs it
    * ran (every thread's — pins submitted from futures count) and the
    * generated classes it compiled. Codegen compiles count through the
    * JVM-wide `CodegenMetrics` histogram: a compile is a miss in Spark's
    * codegen cache, so a query mix that outgrows the cache shows here. */
  final case class Cost(jobs: Int, compiles: Long)

  /** Run `body` and measure its [[Cost]]. Counts whatever else runs on
    * the same SparkContext meanwhile — measure on an otherwise idle
    * context. */
  def cost[T](spark: SparkSession)(body: => T): (T, Cost) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc) // earlier actions' queued events must not count
    sc.addSparkListener(listener)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val r = body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      ListenerBridge.drain(sc)
      (r, Cost(jobs.get, compiles))
    } finally sc.removeSparkListener(listener)
  }
}
