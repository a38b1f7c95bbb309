package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.MStream
import graft.operators.Cycles

/**
 * Naive vs semi-naive fixpoint scale probe: reachability over a layered
 * chain graph (`width` nodes per layer, `depth` layers; seeds = layer 0).
 * Naive evaluation re-derives every previously-reached node each round
 * (O(depth² · width) total derivations); delta evaluation touches each
 * node once (O(depth · width)) — the asymmetry the `Program` cycle
 * lowering's strategy choice is built on. Usage:
 *   runMain graft.CycleBench [width] [depth]
 */
object CycleBench {
  def main(args: Array[String]): Unit = {
    val width = if (args.length > 0) args(0).toInt else 20000
    val depth = if (args.length > 1) args(1).toInt else 40
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // node id = layer * width + lane; edge (l, lane) -> (l+1, lane)
    val edges = spark.range(0L, width.toLong * (depth - 1))
      .select(col("id").as("src"), (col("id") + width).as("dst"))
      .repartition(32).localCheckpoint()
    val seeds = spark.range(0L, width.toLong).select(col("id"))
      .repartition(32).localCheckpoint()
    // the loop-invariant side broadcasts (as any production reachability
    // body would) so the measurement isolates the per-round accumulation
    // cost — the part the two strategies actually differ on
    def step(cur: MStream): MStream = MStream(
      cur.df.join(broadcast(edges), col("id") === col("src"))
        .select(col("dst").as("id")))

    def time(label: String)(body: => Long): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = body
      println(f"CYCLE $label ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      // both strategies register their surviving fixpoint frame; release it
      graft.api.Pinned.release(spark)
    }
    for (_ <- 1 to 2) {
      time("delta")(Cycles.iterateDelta(MStream(seeds), depth + 5)(step).df.count())
      // checkpoint-cadence experiment: persist every round vs every 2nd
      // round (fingerprints still compute per round; skipped rounds pay a
      // step re-execution inside the next checkpoint job)
      for (cad <- Seq(1, 2)) {
        spark.conf.set("graft.cycle.checkpointCadence", cad.toString)
        time(s"naive cadence=$cad")(Cycles.iterate(MStream(seeds), depth + 5)(cur =>
          cur.union(step(cur)).distinct()).df.count())
      }
      spark.conf.unset("graft.cycle.checkpointCadence")
    }
    spark.stop()
  }
}
