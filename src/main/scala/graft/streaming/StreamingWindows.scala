package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/**
 * Streaming windowed aggregation, mirroring the reference's policy
 * (`generator/WindowedStreamsGenerator.scala:61-156`,
 * `runtime/InstantExtractorEventTimeAssigner.scala:10-25`): event-time
 * tumbling/sliding windows with watermark = window size (the reference
 * hardcodes lateness to one window; here it's the default, overridable).
 * Update output mode approximates the reference's every-element trigger at
 * micro-batch granularity (SURVEY §7.4).
 */
object StreamingWindows {

  /** Milan `tumblingWindow` on a streaming DataFrame: watermark + window
    * group. Aggregate in update mode for per-batch emission. */
  def tumbling(df: DataFrame, tsCol: String, size: String,
               offset: String = "0 seconds", keys: Seq[String] = Nil,
               lateness: Option[String] = None): org.apache.spark.sql.RelationalGroupedDataset =
    df.withWatermark(tsCol, lateness.getOrElse(size))
      .groupBy(window(col(tsCol), size, size, offset).as("w") +: keys.map(col): _*)

  /** Milan `slidingWindow` on a streaming DataFrame. */
  def sliding(df: DataFrame, tsCol: String, size: String, slide: String,
              offset: String = "0 seconds", keys: Seq[String] = Nil,
              lateness: Option[String] = None): org.apache.spark.sql.RelationalGroupedDataset =
    df.withWatermark(tsCol, lateness.getOrElse(size))
      .groupBy(window(col(tsCol), size, slide, offset).as("w") +: keys.map(col): _*)

  /**
   * Milan window `apply` in streaming (`lang/WindowedStreams.scala:37`):
   * arbitrary function over the FULL window contents, emitted once when
   * the event-time watermark passes the window end. Keyed by
   * (key, window-start) with an event-time timeout — the input Dataset
   * must carry a watermark on its event-time column.
   */
  def timeWindowApply[T: Encoder, K: Encoder, O: Encoder](
      ds: Dataset[T], key: T => K, eventTime: T => java.sql.Timestamp,
      windowMs: Long)(apply: (java.sql.Timestamp, K, Seq[T]) => O): Dataset[O] = {
    implicit val kEnc: Encoder[(K, Long)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong)
    implicit val stEnc: Encoder[List[T]] = Encoders.kryo[List[T]]
    ds.groupByKey { t =>
      val ts = eventTime(t).getTime
      (key(t), ts - java.lang.Math.floorMod(ts, windowMs))
    }.flatMapGroupsWithState[List[T], O](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (kw: (K, Long), it: Iterator[T], state: GroupState[List[T]]) =>
        if (state.hasTimedOut) {
          val buf = state.get
          state.remove()
          Iterator.single(apply(new java.sql.Timestamp(kw._2), kw._1, buf))
        } else {
          state.update(state.getOption.getOrElse(Nil) ++ it)
          // fire when the watermark passes the window end (never in the past)
          val end = kw._2 + windowMs
          state.setTimeoutTimestamp(math.max(end, state.getCurrentWatermarkMs() + 1))
          Iterator.empty
        }
    }
  }

  /**
   * Milan `recordWindow(n)` in streaming: trailing-n ring buffer per key in
   * `flatMapGroupsWithState`; every arrival emits the aggregate of the last
   * n records — the reference's per-record emission
   * (`runtime/RecordWindowApplyAggregateFunction.scala`).
   */
  def recordWindow[T: Encoder, K: Encoder, O: Encoder](
      ds: Dataset[T], key: T => K, seq: T => Long, n: Int)(
      apply: (T, Seq[T]) => O): Dataset[O] = {
    implicit val stEnc: Encoder[List[T]] = Encoders.kryo[List[T]]
    ds.groupByKey(key).flatMapGroupsWithState[List[T], O](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (_: K, it: Iterator[T], state: GroupState[List[T]]) =>
        var buf = state.getOption.getOrElse(Nil)
        val outs = it.toSeq.sortBy(seq).map { t =>
          buf = (buf :+ t).takeRight(n)
          apply(t, buf)
        }
        state.update(buf)
        outs.iterator
    }
  }
}
