package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Registry of deliberately pinned (locally checkpointed) frames whose
 * blocks must outlive their building operator because the RETURNED plan
 * references them — the residual left-inner join's consolidated matches
 * (`EnrichmentJoins`), the driver-sized vocabulary (`TextOps.buildVocab`),
 * cycle fixpoints (`Cycles`), the span-dedup candidate frame
 * (`Dedup.repeatedSpans`). Operators unpersist every superseded
 * intermediate themselves; what lands here is only the frame the caller
 * is still using.
 *
 * Lifecycle faces, narrowest first:
 *  - [[scoped]]: a per-run scope (thread-local, like `Lineage.scoped`) —
 *    registrations inside the body land in the scope, and
 *    `scope.release()` frees exactly that run's frames. Two concurrent
 *    runs sharing one session each release their own pins without
 *    touching the other's still-referenced checkpoints. `App.run` opens
 *    one per run; [[App.Config.releasePinnedAfterRun]] drains it
 *    automatically once the run's batch sinks have consumed their plans.
 *  - [[release]]`(spark)`: unscoped fallback — drains the session-global
 *    registry. Safe for the single-run-at-a-time driver; a concurrent
 *    service should use scopes.
 * Short-lived drivers can ignore both (blocks die with the context).
 */
object Pinned {

  /** One run's pinned-frame registrations; see [[scoped]]. */
  final class Scope private[Pinned] (private[Pinned] val spark: SparkSession) {
    private var ids = Set.empty[Int]
    private[Pinned] def add(more: Set[Int]): Unit = {
      val added = synchronized { val a = more -- ids; ids ++= more; a }
      retain(spark.sparkContext, added)
    }
    /** RDD ids this run has pinned so far. */
    def registered: Set[Int] = synchronized(ids)
    private[Pinned] def drain(): Set[Int] =
      synchronized { val r = ids; ids = Set.empty; r }
    /** Unpersist only THIS run's frames — except ids another live
      * registration still holds (census elision can hand two scopes the
      * SAME checkpoint; see [[checkpointTracked]]): those stay persisted
      * until their last holder releases, so releasing run A can never
      * truncate run B's still-referenced lineage. The plans built from
      * frames this call DOES free cannot be re-executed afterwards
      * (local checkpoints truncate lineage), so call this only after the
      * run's consuming actions complete. */
    def release(): Unit = unpersist(spark, drainRefs(spark.sparkContext, drain()))
  }

  // CROSS-SCOPE REFCOUNTS (round 16): census elision means two
  // registrations — two scopes, or a scope and the session-global
  // registry — can hold ONE rdd id; a plain release would free the other
  // holder's blocks mid-use (the round-15 documented caveat, now
  // mechanically safe). Every registration retains its NEWLY-added ids
  // once; release paths drain their ids and unpersist only those whose
  // count reaches zero. Weak context keys, like the registry itself.
  private val refs = new java.util.WeakHashMap[org.apache.spark.SparkContext,
    scala.collection.mutable.Map[Int, Int]]()

  private def retain(sc: org.apache.spark.SparkContext, ids: Set[Int]): Unit =
    if (ids.nonEmpty) refs.synchronized {
      val m = Option(refs.get(sc)).getOrElse {
        val n = scala.collection.mutable.Map.empty[Int, Int]
        refs.put(sc, n); n
      }
      ids.foreach(id => m.update(id, m.getOrElse(id, 0) + 1))
    }

  /** Decrement each id's count; return the ids that drained to zero (an
    * id with no recorded count — nothing else retains it — drains). */
  private def drainRefs(sc: org.apache.spark.SparkContext,
                        ids: Set[Int]): Set[Int] =
    if (ids.isEmpty) ids else refs.synchronized {
      Option(refs.get(sc)) match {
        case None => ids
        case Some(m) => ids.filter { id =>
          val c = m.getOrElse(id, 1) - 1
          if (c <= 0) { m.remove(id); true } else { m.update(id, c); false }
        }
      }
    }

  private val active = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Run `body` with a fresh per-run scope: frames graft operators pin on
    * this thread against `spark` register into the scope instead of the
    * session-global registry. Scopes nest (innermost wins); the scope
    * stays valid after `body` returns, so a caller can hold it and
    * release once its consuming action completes. */
  def scoped[T](spark: SparkSession)(body: Scope => T): T = {
    val s = new Scope(spark)
    val prev = active.get()
    active.set(s :: prev)
    try body(s) finally active.set(prev)
  }

  // Unscoped fallback, one entry per session. Weak keys: an abandoned
  // session's ENTRY vanishes with the session object instead of
  // accumulating forever in a long-lived service (`App.withConfs`
  // recommends a fresh newSession() per differently-tuned run). The
  // BLOCKS belong to the shared SparkContext and still need release() or
  // a scope — the weak map only stops the registry itself leaking.
  private val reg = new java.util.WeakHashMap[SparkSession, Set[Int]]()

  private def scopeFor(spark: SparkSession): Option[Scope] =
    active.get().find(_.spark eq spark)

  private[graft] def register(spark: SparkSession, ids: Set[Int]): Unit =
    if (ids.nonEmpty) scopeFor(spark) match {
      case Some(s) => s.add(ids)
      case None =>
        val added = reg.synchronized {
          val cur = Option(reg.get(spark)).getOrElse(Set.empty)
          reg.put(spark, cur ++ ids)
          ids -- cur
        }
        retain(spark.sparkContext, added)
    }

  /** RDD ids registered by the calling run: the innermost active scope's
    * for `spark` on this thread, else the session-global registry's. */
  def registered(spark: SparkSession): Set[Int] =
    scopeFor(spark).map(_.registered).getOrElse(
      reg.synchronized(Option(reg.get(spark)).getOrElse(Set.empty)))

  /** Unpersist the calling run's registered frames — the active scope's
    * if one is live on this thread, else the session-global registry's.
    * The plans built from them cannot be re-executed afterwards (local
    * checkpoints truncate lineage), so call this only after their
    * consuming actions complete. */
  def release(spark: SparkSession): Unit = scopeFor(spark) match {
    case Some(s) => s.release()
    case None =>
      val ids = reg.synchronized(Option(reg.remove(spark)).getOrElse(Set.empty))
      unpersist(spark, drainRefs(spark.sparkContext, ids))
  }

  /** Merge a scope's unreleased ids into the session-global registry —
    * `App.run`'s exit path when auto-release is off (or deferred by a
    * memory sink / streaming output), so the documented unscoped
    * `Pinned.release(spark)` fallback still frees a completed run's
    * frames afterwards. */
  private[graft] def adopt(scope: Scope): Unit = {
    val ids = scope.drain()
    if (ids.nonEmpty) {
      val dup = reg.synchronized {
        val cur = Option(reg.get(scope.spark)).getOrElse(Set.empty)
        reg.put(scope.spark, cur ++ ids)
        ids.intersect(cur)
      }
      // ids the registry already held collapse in the Set union — drop
      // the scope's extra retain so counts keep tracking registrations
      // exactly (the registry's own retain keeps them >= 1, so nothing
      // can drain here)
      drainRefs(scope.spark.sparkContext, dup)
    }
  }

  /** Release tracked RDD ids (non-blocking, ignores already-gone ids) —
    * THE unpersist-by-id idiom; reuse this instead of re-implementing the
    * getPersistentRDDs lookup at call sites. */
  private[graft] def unpersist(spark: SparkSession, ids: Set[Int]): Unit =
    unpersist(spark.sparkContext, ids)

  private[graft] def unpersist(sc: org.apache.spark.SparkContext, ids: Set[Int]): Unit = {
    val live = sc.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** The block-backed RDD ids a `localCheckpoint()`ed frame pins, read
    * off its `LogicalRDD` plan node — EXACT attribution, unlike the
    * getPersistentRDDs before/after diff this replaced, which captured
    * whatever any concurrent build on the same session persisted inside
    * the window (mis-registering a neighbor's still-referenced blocks,
    * which a later release would then free under its plan). */
  private[graft] def idsOf(cp: DataFrame): Set[Int] =
    cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  /** `localCheckpoint()` plus exact id capture: the standard tracker for
    * iterative operators (supersede-and-release discipline).
    *
    * CENSUS ELISION (round 15): a frame whose plan is a BARE, still-
    * persisted LogicalRDD already IS the materialized fact a checkpoint
    * would create — reuse it instead of copying the blocks (a pipeline
    * chaining two covered/pinning stages over one pinned frame pays one
    * checkpoint, not two). Safe because the reuse conditions are exact:
    * the plan must be the LogicalRDD itself (any projection/filter on
    * top re-checkpoints — detecting "semantically equal to the pinned
    * frame" through a derived plan is not decidable safely, so derived
    * plans always materialize), and its RDD must still be persisted
    * (an unpersisted LogicalRDD — e.g. createDataFrame over a raw RDD —
    * would recompute arbitrary lineage per consumer). Re-registration of
    * the returned id is a Set no-op; a later double-unpersist is
    * harmless. Elision can make two Pinned scopes share one id (operator
    * B reusing a frame scope A pinned); since round 16 that hazard is
    * mechanically safe — registrations REFCOUNT per rdd id, so releasing
    * A only decrements and B's blocks survive until B releases too
    * (CheckpointHygieneSpec pins it). The supersede-and-release
    * operators are unaffected: they unpersist their own derived-round
    * checkpoints directly (never registered, never bare reuses — audited
    * round 15), bypassing the refcounts by design. */
  private[graft] def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        (df, Set(lr.rdd.id))
      case _ =>
        val cp = df.localCheckpoint()
        (cp, idsOf(cp))
    }
}
