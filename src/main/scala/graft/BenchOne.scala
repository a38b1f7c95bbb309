package graft
import org.apache.spark.sql.SparkSession

/**
 * Single-query steady-state timing, SAME protocol as [[Bench]]: per-run
 * isolation (cache/persistent-RDD clear + GC), an sf0.001 warm-up pass,
 * then best-of-2 at the measured scale with median-of-3 when the two
 * samples disagree >1.5x. A cold single-shot run (the pre-round-9
 * behavior) read 2-3x the warmed Bench figure for hot queries and made
 * per-query claims irreproducible; this prints the number Bench would
 * report for the query, one command.
 *
 * Each TIMED line also carries the steady sample's job count and codegen
 * compile count ([[graft.api.Metrics.cost]]): compiles above zero in a
 * warmed run mean the query on its own outgrows Spark's codegen cache
 * (each query repeats back to back, so eviction across a mix of queries
 * does not show here).
 *
 * Usage: runMain graft.BenchOne <query> [<query> ...]
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
 */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    /** One sample: (seconds, its cost). */
    def materialize(name: String, dir: String): (Double, graft.api.Metrics.Cost) = {
      isolate()
      graft.api.Metrics.cost(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    for (n <- args) {
      // JVM/codegen warm-up (skipped when the warm corpus is absent or IS
      // the measured corpus — the first timed sample then absorbs warm-up)
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
        materialize(n, warmDir)
      var samples = Seq(materialize(n, sfDir), materialize(n, sfDir))
      val best = samples.map(_._1).min
      if (samples.map(_._1).max > best * 1.5 && best > 0.05)
        samples :+= materialize(n, sfDir)
      // the fastest of two, the median of three
      val (steady, cost) = samples.sortBy(_._1).apply((samples.size - 1) / 2)
      println(f"TIMED $n $steady%.2f s (samples ${samples.map(t => f"${t._1}%.2f").mkString("/")})" +
        s" jobs ${cost.jobs} compiles ${cost.compiles}")
    }
    spark.stop()
  }
}
