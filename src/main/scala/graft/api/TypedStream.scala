package graft.api

import org.apache.spark.sql.{Column, Dataset, Encoder}
import graft.streaming.{StreamingJoins, StreamingScans}

/**
 * Typed facade with the reference's lambda-based surface
 * (`lang/Stream.scala`: where/map/flatMap/groupBy + scans/joins on
 * `T => _` functions), for programs ported verbatim from Milan.
 *
 * The trade-off is explicit: Milan's macros convert lambdas into an
 * inspectable IR (`program/internal/ConvertExpressionHost.scala:76-175`
 * captures exactly field access, comparisons, arithmetic, boolean ops and
 * if/else); JVM closures are opaque to Catalyst, so this facade costs
 * deserialization at every lambda boundary and loses pushdown/pruning
 * across it (PlanShapeSpec pins the difference: a lambda `where` leaves
 * the parquet scan unfiltered, the Column twin reaches `PushedFilters`).
 * The `MStream` Column API is the optimizer-friendly path — use it
 * wherever the logic is expressible; `TypedStream` is the drop-in for
 * existing typed Milan programs and works identically over batch and
 * streaming Datasets.
 *
 * THE BRIDGE for Milan's captured expression subset: every form Milan's
 * macro accepts is Column-expressible — `r.x > 3 && r.y == "a"` becomes
 * `col("x") > 3 && col("y") === "a"` — and the Column overloads below
 * keep the Dataset TYPED while handing the expression to Catalyst, so a
 * ported program can reclaim pushdown one predicate at a time without
 * leaving the typed surface.
 */
final case class TypedStream[T](ds: Dataset[T], seqFn: T => Long) {

  /** Milan `where` (`lang/Stream.scala:155`). */
  def where(p: T => Boolean): TypedStream[T] = copy(ds = ds.filter(p))

  /** `where` with the predicate as a Column — same typed stream, but the
    * predicate is IR Catalyst can push into the scan (the §2.8 scalar
    * subset Milan's macro captures translates 1:1 to Columns). */
  def where(pred: Column): TypedStream[T] = copy(ds = ds.filter(pred))

  /** Milan `map` (`lang/Stream.scala:164`). */
  def map[O: Encoder](f: T => O, seq: O => Long): TypedStream[O] =
    TypedStream(ds.map(f), seq)

  /** `map` to a new case-class type through Columns — Milan's §2.8
    * `CreateInstance` form as Catalyst IR: `new O(r.x + 1, r.y)` becomes
    * `mapTo[O](_.seq)((col("x") + 1).as("a"), col("y").as("b"))`. The
    * projection stays inside codegen and column pruning reaches the scan
    * (no closure boundary); column aliases must name O's fields (`as[O]`
    * resolves by name). The lambda `map` is the fallback for logic
    * outside the macro-capturable subset. */
  def mapTo[O: Encoder](seq: O => Long)(cols: Column*): TypedStream[O] =
    TypedStream(ds.select(cols: _*).as[O], seq)

  /** Milan record-level flatMap. */
  def flatMap[O: Encoder](f: T => IterableOnce[O], seq: O => Long): TypedStream[O] =
    TypedStream(ds.flatMap(f), seq)

  /** Milan `union` (`lang/Stream.scala:135`). */
  def union(other: TypedStream[T]): TypedStream[T] = copy(ds = ds.union(other.ds))

  /** Milan `groupBy` (`lang/Stream.scala:196`). */
  def groupBy[K: Encoder](key: T => K): TypedGroupedStream[T, K] =
    TypedGroupedStream(this, key)

  /** Milan `leftJoin`/`fullJoin`/`leftInnerJoin` (typed enrichment). */
  def leftJoin[R, K: Encoder, O: Encoder](right: TypedStream[R])(
      lKey: T => K, rKey: R => K,
      residual: (T, R) => Boolean = StreamingJoins.noResidual[T, R])(
      out: (Option[T], Option[R]) => O): Dataset[O] =
    StreamingJoins.enrichmentJoin[T, R, K, O](ds, right.ds, lKey, rKey,
      seqFn, right.seqFn, StreamingJoins.LeftEnrichment, residual)(out)

  /** Full enrichment. A `residual` post-condition gates emission
    * reference-strictly by default (a failing pair emits nothing,
    * `FullJoinKeyedCoProcessFunction.scala:57-79`; like the reference,
    * the residual is invoked with a null side when that side has no
    * state yet — null-check it as Milan programs do). A primitive-typed
    * side cannot represent that null (it would unbox to a phantom zero),
    * so strict mode rejects it with a named error — box the type or go
    * lenient. `lenientResidual = true` keeps the arriving side with None
    * instead. */
  def fullJoin[R, K: Encoder, O: Encoder](right: TypedStream[R])(
      lKey: T => K, rKey: R => K,
      residual: (T, R) => Boolean = StreamingJoins.noResidual[T, R],
      lenientResidual: Boolean = false)(
      out: (Option[T], Option[R]) => O): Dataset[O] =
    StreamingJoins.enrichmentJoin[T, R, K, O](ds, right.ds, lKey, rKey,
      seqFn, right.seqFn, StreamingJoins.FullEnrichment, residual,
      lenientResidual = lenientResidual)(out)

  def leftInnerJoin[R, K: Encoder, O: Encoder](right: TypedStream[R])(
      lKey: T => K, rKey: R => K,
      residual: (T, R) => Boolean = StreamingJoins.noResidual[T, R])(
      out: (Option[T], Option[R]) => O): Dataset[O] =
    StreamingJoins.enrichmentJoin[T, R, K, O](ds, right.ds, lKey, rKey,
      seqFn, right.seqFn, StreamingJoins.LeftInner, residual)(out)
}

/** Milan `GroupedStream[T, K]` on the typed facade: the stateful engine is
  * the same one the streaming module uses, so batch Datasets get identical
  * semantics (per-key, seq-ordered). */
final case class TypedGroupedStream[T, K](stream: TypedStream[T], key: T => K)(
    implicit kEnc: Encoder[K]) {
  private implicit def tEnc: Encoder[T] = stream.ds.encoder

  /** Milan `scan` (`lang/Stream.scala:176`). */
  def scan[S: Encoder, O: Encoder](initial: S)(step: (K, S, T) => (S, Option[O])): Dataset[O] =
    StreamingScans.scanWithState(stream.ds, key, stream.seqFn, initial, step)

  /** Milan `maxBy`/`minBy` — emit on strict improvement. */
  def maxBy[A: Ordering](arg: T => A): Dataset[T] =
    StreamingScans.argCompare(stream.ds, key, stream.seqFn, arg, isMax = true)
  def minBy[A: Ordering](arg: T => A): Dataset[T] =
    StreamingScans.argCompare(stream.ds, key, stream.seqFn, arg, isMax = false)

  /** Milan `sumBy`. */
  def sumBy[O: Encoder](arg: T => Double)(out: (T, Double) => O): Dataset[O] =
    StreamingScans.sumBy(stream.ds, key, stream.seqFn, arg, out)

  /** Milan `reduce` (doc-declared in the reference's stream guide; no IR
    * node there either): running pairwise fold per key, emitting the
    * reduction after every record — sugar over the shared scan engine, so
    * batch and streaming behave identically. */
  def reduce(f: (T, T) => T): Dataset[T] = {
    implicit val sEnc: org.apache.spark.sql.Encoder[(Boolean, T)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaBoolean, tEnc)
    StreamingScans.scanWithState[T, K, (Boolean, T), T](
      stream.ds, key, stream.seqFn, (false, null.asInstanceOf[T]),
      (_, s, t) => {
        val r = if (s._1) f(s._2, t) else t
        ((true, r), Some(r))
      })
  }

  /** Milan `last()`: streaming re-emits the latest per key (update
    * semantics); batch reduces to the final record per key. */
  def last(): Dataset[T] =
    if (stream.ds.isStreaming) StreamingScans.lastByKey(stream.ds, key, stream.seqFn)
    else stream.ds.groupByKey(key).mapGroups((_, it) => it.maxBy(stream.seqFn))
}
