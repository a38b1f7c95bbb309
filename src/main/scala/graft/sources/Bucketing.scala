package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/**
 * Bucketed tables for co-located joins: writing both sides bucketed and
 * sorted on the join key lets Catalyst plan the join with NO exchange and
 * NO sort — at 100 TB the difference between a network-wide shuffle of
 * the fact table and a local merge per bucket. This is the batch analog
 * of the reference keying both streams before a co-process join.
 */
object Bucketing {

  /** Write `df` as a bucketed, sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String], numBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** True if the physical plan of `df` contains a shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")
}
