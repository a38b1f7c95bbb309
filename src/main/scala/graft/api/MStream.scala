package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{EnrichmentJoins, JoinedMStream, Scans}

/**
 * The core data abstraction: a named stream of typed records, batch or
 * streaming, lowered directly onto a Spark `DataFrame` so that Catalyst is
 * our IR/analyzer/optimizer (reference semantics: milan-lang
 * `lang/Stream.scala:19`; doc/Milan Operations.md).
 *
 * Order-dependent operators (scans, enrichment joins, `last`) need an
 * explicit arrival order in batch mode; `eventOrder` carries the column
 * names that define it (the reference gets this implicitly from stream
 * arrival order). In streaming mode the micro-batch arrival order is used
 * instead.
 *
 * `contextKeys` implements nested per-group pipelines (Milan's
 * `GroupedStream.map/flatMap` with stream-valued functions,
 * `lang/GroupOperations.scala:33`): operators applied "inside a group"
 * automatically include the outer grouping keys in any grouping/window
 * they perform, keeping the whole plan relational (no per-group lambdas,
 * full codegen + partial aggregation).
 */
final class MStream(
    val df: DataFrame,
    val eventOrder: Seq[String] = Nil,
    val contextKeys: Seq[String] = Nil,
    val name: String = "") {

  /** Rewrap a derived frame on this stream's identity, keeping only the
    * order columns that survived (shared with the document-node path). */
  private[graft] def lift(d: DataFrame): MStream =
    new MStream(d, eventOrder.filter(d.columns.contains), contextKeys, name)

  def withName(n: String): MStream = new MStream(df, eventOrder, contextKeys, n)

  /** Declare the arrival order for batch lowering of stateful operators. */
  def orderedBy(cols: String*): MStream = new MStream(df, cols, contextKeys, name)

  /** Event-time watermark for streaming inputs (Milan's policy is
    * lateness = window size; set explicitly here to override). */
  def withWatermark(tsCol: String, delay: String): MStream =
    new MStream(df.withWatermark(tsCol, delay), eventOrder, contextKeys, name)

  // ---------------------------------------------------------------- 2.2 per-record ops

  /** Milan `map` to named fields (`fields(field("a", f(r)), ...)`) — a projection.
    * Order columns not re-selected are dropped from `eventOrder` (stateful
    * downstream ops then require a fresh `orderedBy`). */
  def map(cols: Column*): MStream = lift(df.select(cols: _*))

  /** Milan `map` to a new object type — typed escape hatch. */
  def mapTyped[T: Encoder](f: Row => T): MStream = lift(df.map(f).toDF())

  /** Milan `where` — predicate filter (`lang/Stream.scala:155`). */
  def where(pred: Column): MStream = lift(df.filter(pred))

  /** Milan `addFields` — append computed fields (`lang/Stream.scala:187`). */
  def addFields(fields: (String, Column)*): MStream =
    lift(df.withColumns(fields.toMap))

  /** Milan `toField(name)` — wrap each record as a single named struct field. */
  def toField(fieldName: String): MStream =
    lift(df.select(struct(df.columns.map(col).toIndexedSeq: _*).as(fieldName)))

  /** Record-level flatMap (UDTF surface). */
  def flatMapTyped[T: Encoder](f: Row => IterableOnce[T]): MStream =
    lift(df.flatMap(f).toDF())

  // ---------------------------------------------------------------- 2.7 set ops

  /** Milan `union` — bag union, same schema, no dedup (`lang/Stream.scala:135`). */
  def union(other: MStream): MStream = lift(df.unionByName(other.df))

  /** Set ops absent in Milan (SURVEY §2.7 "free if wanted") — parity-plus. */
  def distinct(): MStream = lift(df.distinct())

  /** Exact dedup by key columns, first record wins — one operator for
    * batch AND streaming (parity-plus; the streaming face of
    * `pipeline.Dedup.exact`). Streaming keeps per-key state forever by
    * default (Milan's eternal groups); pass `withinWatermark = true`
    * after `withWatermark` to evict each key's dedup state once its event
    * time falls behind the watermark — the bounded-state posture for
    * unbounded streams. A batch run of the same program ignores the
    * horizon (global dedup), like the banded ingest's batch lowering —
    * Spark's own dropDuplicatesWithinWatermark rejects batch frames, so
    * the dispatch lives here and one program document runs in both modes.
    * Dedup on a fingerprint/hash column to keep the state entry 8 bytes
    * instead of the payload. */
  def dedupBy(cols: Seq[String], withinWatermark: Boolean = false): MStream =
    lift(if (withinWatermark && df.isStreaming) df.dropDuplicatesWithinWatermark(cols)
         else df.dropDuplicates(cols))
  def intersect(other: MStream): MStream = lift(df.intersect(other.df))
  def except(other: MStream): MStream = lift(df.except(other.df))

  // ---------------------------------------------------------------- 2.3 grouping

  /** Milan `groupBy` — eternal per-key groups (`lang/Stream.scala:196`). */
  def groupBy(keys: String*): GroupedMStream =
    new GroupedMStream(this, contextKeys ++ keys)

  /**
   * Milan `unique`/UniqueBy (documented in "Streams in Milan", no reference
   * implementation): within each group keep only the latest record per
   * distinct extracted value, before aggregating.
   *
   * Lowered as `max_by(record-struct, order-struct)` under a hash
   * aggregation — one shuffle, map-side partial aggregation, and no
   * per-partition sort (the window/row_number formulation sorts every
   * partition; at 100 TB the sort dominates).
   */
  def uniqueBy(valueCols: Seq[String], keepLatestBy: Seq[String]): MStream = {
    val keys = contextKeys ++ valueCols
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ordKey = struct(keepLatestBy.map(col): _*)
    lift(df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ordKey).as("__latest"))
      .select(col("__latest.*")))
  }

  // ---------------------------------------------------------------- 2.5 windowing

  /** Milan `tumblingWindow` over an event-time column (`lang/Stream.scala:207`). */
  def tumblingWindow(ts: Column, size: String, offset: String = "0 seconds"): TimeWindowedMStream =
    new TimeWindowedMStream(this, window(ts, size, size, offset), contextKeys)

  /** Milan `slidingWindow` (`lang/Stream.scala:219`). */
  def slidingWindow(ts: Column, size: String, slide: String, offset: String = "0 seconds"): TimeWindowedMStream =
    new TimeWindowedMStream(this, window(ts, size, slide, offset), contextKeys)

  /**
   * Exact-arithmetic tumbling window over an integral epoch column (used
   * when the event-time source has sub-microsecond precision that
   * TimestampType cannot hold, e.g. nanosecond parquet columns).
   * Emits the window start in the same integral unit. Pure long arithmetic
   * (`pmod`, not floating division) so ns-scale epochs never mis-bucket at
   * window boundaries.
   */
  def tumblingWindowExact(epochCol: Column, sizeUnits: Long, offsetUnits: Long = 0L): TimeWindowedMStream =
    new TimeWindowedMStream(this, MStream.exactWindowStart(epochCol, sizeUnits, offsetUnits), contextKeys)

  /**
   * Exact-arithmetic sliding window: each record lands in every window
   * `[start, start+size)` containing it, `start ≡ offset (mod slide)`.
   * Lowered as `explode(sequence(...))` — a generate, no extra shuffle
   * before the window aggregation itself.
   */
  def slidingWindowExact(epochCol: Column, sizeUnits: Long, slideUnits: Long,
                         offsetUnits: Long = 0L): TimeWindowedMStream = {
    val exploded = MStream.explodeSlidingWindows(df, epochCol, sizeUnits, slideUnits, offsetUnits)
    new TimeWindowedMStream(new MStream(exploded, eventOrder, contextKeys, name),
      col(MStream.SlidingWindowCol), contextKeys)
  }

  // ---------------------------------------------------------------- 2.4 joins

  /** Milan `leftJoin` — left-enrichment join (`lang/Stream.scala:91`). */
  def leftJoin(right: MStream): JoinBuilder =
    new JoinBuilder(this, right, EnrichmentJoins.LeftEnrichment)

  /** Milan `fullJoin` — full-enrichment join (`lang/Stream.scala:77`). */
  def fullJoin(right: MStream): JoinBuilder =
    new JoinBuilder(this, right, EnrichmentJoins.FullEnrichment)

  /** Milan `leftInnerJoin` — lefts buffer until a right arrives (`lang/Stream.scala:114`). */
  def leftInnerJoin(right: MStream): JoinBuilder =
    new JoinBuilder(this, right, EnrichmentJoins.LeftInner)

  /** Milan stream ⋈ record-window join (`lang/Stream.scala:102` +
    * `recordWindow(n)`): each left sees the last n rights of its key. */
  def leftJoinWindow(right: MStream, n: Int): WindowJoinBuilder =
    new WindowJoinBuilder(this, right, n)

  /** As-of join (parity-plus: Milan's leftJoin generalized to an explicit
    * time axis): each record of THIS stream enriches with the latest
    * `right` record at-or-before its timestamp (`direction = Backward`,
    * the default) or the earliest at-or-after (`Forward`, pandas
    * `merge_asof(direction="forward")`), per key, optionally within
    * `tolerance`. Batch lowers to the one-shuffle union+window
    * (`AsofJoins`); when both inputs stream it lowers to the event-time
    * keyed state machine (`StreamingAsof`, timestamps must be
    * TimestampType and `tolerance` is then milliseconds). Streaming
    * FORWARD requires a tolerance — it is the horizon that lets an
    * unmatched left (and its buffered state) finalize. Column names of
    * the two sides must be disjoint. */
  def asofJoin(right: MStream, leftTs: String, rightTs: String,
               keys: Seq[(String, String)], rightOrder: Seq[String],
               tolerance: Option[Long] = None,
               watermarkDelay: String = "0 seconds",
               inner: Boolean = false,
               direction: graft.operators.AsofJoins.Direction =
                 graft.operators.AsofJoins.Backward): MStream = {
    import graft.operators.AsofJoins
    require(df.isStreaming == right.df.isStreaming,
      "asofJoin needs both sides batch or both streaming (Spark cannot union a " +
        "stream with a batch frame); snapshot or stream the other side first")
    // one program, one meaning: on TimestampType columns `tolerance` is
    // MILLISECONDS in BOTH lowerings (batch compares epoch millis there)
    val out = (df.isStreaming, direction) match {
      case (true, AsofJoins.Backward) =>
        graft.streaming.StreamingAsof.asofBackward(df, leftTs, right.df, rightTs,
          keys, rightOrder, tolerance, watermarkDelay, inner)
      case (true, AsofJoins.Forward) =>
        require(tolerance.nonEmpty,
          "streaming forward as-of needs a tolerance horizon (ms): without one an " +
            "unmatched left would wait, and hold state, forever")
        graft.streaming.StreamingAsof.asofForward(df, leftTs, right.df, rightTs,
          keys, rightOrder, tolerance.get, watermarkDelay, inner)
      case (false, AsofJoins.Backward) =>
        AsofJoins.asofBackward(df, leftTs, right.df, rightTs,
          keys, rightOrder, tolerance, inner)
      case (false, AsofJoins.Forward) =>
        AsofJoins.asofForward(df, leftTs, right.df, rightTs,
          keys, rightOrder, tolerance, inner)
    }
    // opt-in lineage (config bound a lineage sink): output rows are
    // left-cols ++ right-cols, so input ids derive in place — the right
    // side counts as present when any of its columns is non-null (an
    // unmatched left nulls the whole side)
    val withLineage = Lineage.current(df.sparkSession) match {
      case None => out
      case Some(rec) =>
        val lCols = df.columns.toIndexedSeq.map(col)
        val rCols = right.df.columns.toIndexedSeq.map(col)
        val rightPresent = rCols.map(_.isNotNull).reduce(_ || _)
        Lineage.record(rec, s"asofJoin:$name", out,
          idCols = lCols ++ rCols,
          inputIds = Seq(
            xxhash64(struct(lCols: _*)),
            when(rightPresent, xxhash64(struct(rCols: _*)))))
    }
    new MStream(withLineage, eventOrder, contextKeys, name)
  }

  // ---------------------------------------------------------------- 2.6 scans

  /** Milan ungrouped `maxBy`: emit a record only when it beats the running max. */
  def maxBy(arg: Column): MStream = Scans.argCompare(this, contextKeys, arg, isMax = true)
  def minBy(arg: Column): MStream = Scans.argCompare(this, contextKeys, arg, isMax = false)

  /** Milan `sumBy`: running sum of `arg`, output = record + running value. */
  def sumBy(arg: Column, as: String): MStream =
    Scans.runningAgg(this, contextKeys, arg, graft.streaming.StreamingRowScans.RSum, as)

  /** Milan `meanBy`/`productBy`/`countBy` — the ops doc declares the whole
    * "SumBy, ProductBy, MaxBy, MinBy, MeanBy, etc" running family; each is
    * the same keyed running-aggregate pattern, batch or streaming. */
  def meanBy(arg: Column, as: String): MStream =
    Scans.runningAgg(this, contextKeys, arg, graft.streaming.StreamingRowScans.RMean, as)
  def productBy(arg: Column, as: String): MStream =
    Scans.runningAgg(this, contextKeys, arg, graft.streaming.StreamingRowScans.RProduct, as)
  def countBy(as: String): MStream =
    Scans.runningAgg(this, contextKeys, lit(1), graft.streaming.StreamingRowScans.RCount, as)

  /** Milan `last()`: final record (per context key, else global). */
  def last(): MStream = Scans.lastRecord(this, contextKeys)

  /** Generic running computation (Milan `scan`, `lang/Stream.scala:176`). */
  def scanRows[S: scala.reflect.ClassTag, O: Encoder](initial: S)(step: (S, Row) => (S, Option[O])): MStream =
    Scans.genericScan(this, contextKeys, initial, step)

  /** Milan `reduce` ("Milan Operations.md" Scan/Reduce family): fold the
    * whole stream (per context key) into one final value. */
  def reduceRows[S: scala.reflect.ClassTag: Encoder](initial: S)(step: (S, Row) => S): MStream =
    Scans.reduceRows(this, contextKeys, initial, step)
}

object MStream {
  def apply(df: DataFrame): MStream = new MStream(df)
  def apply(df: DataFrame, order: String*): MStream = new MStream(df, order)

  private[api] val SlidingWindowCol = "__w_start"

  /** Largest `k*size + offset <= epoch`, in exact long arithmetic. */
  private[api] def exactWindowStart(epochCol: Column, size: Long, offset: Long): Column = {
    val e = epochCol - lit(offset)
    (e - pmod(e, lit(size)) + lit(offset)).cast("long")
  }

  /** Explode each record into one row per sliding window containing it. */
  private[api] def explodeSlidingWindows(df: DataFrame, epochCol: Column,
                                         size: Long, slide: Long, offset: Long): DataFrame = {
    // size < slide would let a record fall in no window, making
    // minStart > maxStart — sequence() throws at runtime for that
    require(size >= slide,
      s"sliding window size ($size) must be >= slide ($slide); records would fall in gaps")
    val e = epochCol - lit(offset)
    // window [start, start+size) contains t  ⇔  t-size < start <= t
    val maxStart = e - pmod(e, lit(slide)) + lit(offset)
    val minStart = (e - lit(size)) - pmod(e - lit(size), lit(slide)) + lit(slide) + lit(offset)
    df.withColumn(SlidingWindowCol,
      explode(sequence(minStart.cast("long"), maxStart.cast("long"), lit(slide))))
  }
}

/**
 * Milan `GroupedStream[T, K]` (`lang/GroupedStream.scala:19`): logical
 * per-key sub-streams. Aggregations lower to `groupBy(...).agg(...)` so
 * Catalyst performs partial+final aggregation (the reference implements
 * this split by hand in `runtime/MultiAggregateFunction.scala`).
 */
final class GroupedMStream(val stream: MStream, val keys: Seq[String]) {
  private def df = stream.df

  /** Milan grouped `select` with aggregate expressions; group key included.
    * With a lineage recorder active (config bound a lineage sink), the
    * output exposes `record_id` = group-identity hash and one fan-in edge
    * per contributing input record (milan emits lineage from every runtime
    * op, `types/LineageRecord.scala`). */
  def select(aggs: Column*): MStream = {
    val agged = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val out = Lineage.current(df.sparkSession) match {
      case None => agged
      case Some(rec) =>
        Lineage.recordFanIn(rec, s"GroupSelect:${stream.name}", agged,
          groupIdCols = keys.map(col),
          input = df,
          inputGroupIdCols = keys.map(col),
          inputIdCols = df.columns.toIndexedSeq.map(col))
    }
    new MStream(out, Nil, Nil, stream.name)
  }

  /** Count window: the last `n` records per key (Milan `recordWindow(n)`). */
  def recordWindow(n: Int): RecordWindowedMStream =
    new RecordWindowedMStream(stream, keys, n)

  /** Per-group stream pipeline (Milan `GroupedStream.flatMap`): the nested
    * operators automatically scope to this group's keys. */
  def flatMap(f: MStream => MStream): MStream = {
    val scoped = new MStream(df, stream.eventOrder, keys, stream.name)
    val out = f(scoped)
    new MStream(out.df, out.eventOrder, stream.contextKeys, stream.name)
  }

  /** Per-group map preserving the key context (Milan `GroupedStream.map`). */
  def mapStreams(f: MStream => MStream): GroupedMStream = {
    val scoped = new MStream(df, stream.eventOrder, keys, stream.name)
    new GroupedMStream(f(scoped), keys)
  }

  /** Time window within each group (key + window aggregation). */
  def tumblingWindow(ts: Column, size: String, offset: String = "0 seconds"): TimeWindowedMStream =
    new TimeWindowedMStream(stream, window(ts, size, size, offset), keys)

  def tumblingWindowExact(epochCol: Column, sizeUnits: Long, offsetUnits: Long = 0L): TimeWindowedMStream =
    new TimeWindowedMStream(stream, MStream.exactWindowStart(epochCol, sizeUnits, offsetUnits), keys)

  /** Session windows (parity-plus — absent in Milan, native on Spark):
    * events within `gap` of the previous event extend the session. */
  def sessionWindow(ts: Column, gap: String): SessionWindowedMStream =
    new SessionWindowedMStream(stream, ts, gap, keys)

  def slidingWindowExact(epochCol: Column, sizeUnits: Long, slideUnits: Long,
                         offsetUnits: Long = 0L): TimeWindowedMStream = {
    val exploded = MStream.explodeSlidingWindows(stream.df, epochCol, sizeUnits, slideUnits, offsetUnits)
    new TimeWindowedMStream(new MStream(exploded, stream.eventOrder, keys, stream.name),
      col(MStream.SlidingWindowCol), keys)
  }

  def maxBy(arg: Column): MStream = Scans.argCompare(stream, keys, arg, isMax = true)
  def minBy(arg: Column): MStream = Scans.argCompare(stream, keys, arg, isMax = false)
  def sumBy(arg: Column, as: String): MStream =
    Scans.runningAgg(stream, keys, arg, graft.streaming.StreamingRowScans.RSum, as)
  def meanBy(arg: Column, as: String): MStream =
    Scans.runningAgg(stream, keys, arg, graft.streaming.StreamingRowScans.RMean, as)
  def productBy(arg: Column, as: String): MStream =
    Scans.runningAgg(stream, keys, arg, graft.streaming.StreamingRowScans.RProduct, as)
  def countBy(as: String): MStream =
    Scans.runningAgg(stream, keys, lit(1), graft.streaming.StreamingRowScans.RCount, as)
  def last(): MStream = Scans.lastRecord(stream, keys)

  def scanRows[S: scala.reflect.ClassTag, O: Encoder](initial: S)(step: (S, Row) => (S, Option[O])): MStream =
    Scans.genericScan(stream, keys, initial, step)

  def reduceRows[S: scala.reflect.ClassTag: Encoder](initial: S)(step: (S, Row) => S): MStream =
    Scans.reduceRows(stream, keys, initial, step)
}

/**
 * Milan `TimeWindowedStream` (`lang/WindowedStreams.scala:47`): aggregation
 * is grouped by (context keys, window). `windowExpr` is either Spark's
 * `window()` struct or an exact integral window-start expression.
 */
final class TimeWindowedMStream(val stream: MStream, windowExpr: Column, keys: Seq[String]) {
  /** Aggregate each window; output includes window + keys. With a lineage
    * recorder active, output exposes `record_id` = (window, keys) identity
    * hash and one fan-in edge per contributing input record; the window
    * assignment is re-projected on the input side (tumbling `window()` and
    * the exact/pre-exploded forms are all per-row projections), so edge
    * emission stays join-free and streaming-safe. */
  def select(windowAs: String, aggs: Column*): MStream = {
    val grouped = stream.df.groupBy((windowExpr.as(windowAs) +: keys.map(col)): _*)
    val agged = grouped.agg(aggs.head, aggs.tail: _*)
    val out = Lineage.current(stream.df.sparkSession) match {
      case None => agged
      case Some(rec) =>
        val withW = stream.df.withColumn(windowAs, windowExpr)
        Lineage.recordFanIn(rec, s"WindowSelect:${stream.name}", agged,
          groupIdCols = col(windowAs) +: keys.map(col),
          input = withW,
          inputGroupIdCols = col(windowAs) +: keys.map(col),
          inputIdCols = stream.df.columns.toIndexedSeq.map(col))
    }
    new MStream(out, Nil, Nil, stream.name)
  }

  /** Milan window `apply`: arbitrary function over full window contents
    * (`lang/WindowedStreams.scala:37`), via sort-free grouped iteration.
    * Grouping happens on the NATIVE window/key columns
    * (`groupBy(...).as[Row, Row]`), so the exchange partitions on real
    * attributes — codegen'd hashing, reusable partitioning — rather than
    * an opaque kryo-encoded key; only the user function itself leaves the
    * relational world. */
  def applyRows[O: Encoder](windowAs: String)(f: (Row, Iterator[Row]) => IterableOnce[O]): MStream = {
    val withW = stream.df.withColumn(windowAs, windowExpr)
    val keyCols = windowAs +: keys
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.StructType
    val rowEnc: Encoder[Row] = RowEncoder.encoderFor(withW.schema)
    val keyEnc: Encoder[Row] =
      RowEncoder.encoderFor(StructType(keyCols.map(c => withW.schema(c))))
    val kv = withW.groupBy(keyCols.map(col): _*).as[Row, Row](keyEnc, rowEnc)
    new MStream(kv.flatMapGroups { (_, it) =>
      val buf = it.buffered
      f(buf.head, buf).iterator
    }.toDF(), Nil, Nil, stream.name)
  }
}

/** Session windows over an event-time column: `select` aggregates per
  * (keys, session), emitting the session start in epoch micros. */
final class SessionWindowedMStream(val stream: MStream, ts: Column, gap: String, keys: Seq[String]) {
  def select(startAs: String, aggs: Column*): MStream = {
    val grouped = stream.df.groupBy(
      session_window(ts, gap).as("__sw") +: keys.map(col): _*)
    val agged = grouped.agg(aggs.head, aggs.tail: _*)
    new MStream(
      agged.select(unix_micros(col("__sw.start")).as(startAs) +:
        agged.columns.filterNot(_ == "__sw").toIndexedSeq.map(col): _*),
      Nil, Nil, stream.name)
  }
}

/** Milan `recordWindow(n)` (`lang/GroupedStream.scala:46`): sliding window
  * of the last n records per key; aggregates emit per record. */
final class RecordWindowedMStream(val stream: MStream, keys: Seq[String], n: Int) {
  /** Per-record aggregate over the trailing n records of this key
    * (batch: window frame; for streaming inputs use `selectRunning`). */
  def select(aggs: (Column => Column, String, String)*): MStream = {
    require(stream.eventOrder.nonEmpty, "recordWindow needs orderedBy(...) in batch mode")
    require(!stream.df.isStreaming, "streaming recordWindow: use selectRunning(kind, in, as)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(stream.eventOrder.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    val out = aggs.foldLeft(stream.df) { case (d, (fn, in, as)) =>
      d.withColumn(as, fn(col(in)).over(w))
    }
    new MStream(out, stream.eventOrder, stream.contextKeys, stream.name)
  }

  /** Kind-tagged trailing-n aggregates working in BOTH modes: batch lowers
    * to the window frame, streaming to a per-key ring buffer. */
  def selectRunning(aggs: (graft.streaming.StreamingRowScans.RunKind, String, String)*): MStream = {
    import graft.streaming.StreamingRowScans._
    if (stream.df.isStreaming)
      return new MStream(
        graft.streaming.StreamingRowScans.recordWindow(
          stream.df, keys, stream.eventOrder, n, aggs),
        stream.eventOrder, stream.contextKeys, stream.name)
    val fns: Seq[(Column => Column, String, String)] = aggs.map { case (kind, in, as) =>
      val fn: Column => Column = kind match {
        case RSum => sum(_)
        case RMean => avg(_)
        case RProduct => product(_)
        case RCount => (_: Column) => count(lit(1))
      }
      (fn, in, as)
    }
    select(fns: _*)
  }
}

/** Builder for enrichment joins: `.on((l, r) => cond)` then `.select`.
  *
  * Full joins whose condition carries a cross-side residual (non-equi)
  * part are reference-strict by default: an arrival whose
  * (lastLeft, lastRight) pair fails the residual emits NOTHING, matching
  * the reference's post-condition gate
  * (`FullJoinKeyedCoProcessFunction.scala:57-79`), identically on the
  * batch and streaming faces. `.lenient()` opts into the
  * SQL-outer-join-style alternative — the failing pair keeps the arriving
  * side and nulls the other. Joins without a residual are unaffected. */
final class JoinBuilder(left: MStream, right: MStream, kind: EnrichmentJoins.Kind,
                        lenientResidual: Boolean = false) {
  /** Failing-residual pairs emit the arriving side with the other nulled
    * instead of being suppressed (full joins only; no-op otherwise). */
  def lenient(flag: Boolean = true): JoinBuilder =
    new JoinBuilder(left, right, kind, flag)
  def on(cond: (String => Column, String => Column) => Column): JoinedMStream =
    EnrichmentJoins.build(left, right, kind, cond, lenientResidual)
}

/** Builder for stream ⋈ record-window joins. */
final class WindowJoinBuilder(left: MStream, right: MStream, n: Int) {
  def on(cond: (String => Column, String => Column) => Column): graft.operators.WindowJoinedMStream =
    EnrichmentJoins.buildWindowed(left, right, n, cond)
}
