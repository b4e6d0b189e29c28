package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for every lazy persist the engine takes.
  *
  * `Dataset.persist` registers the plan in the session's CacheManager,
  * which holds a STRONG reference: ContextCleaner never releases the
  * blocks when the frame handle becomes unreachable, so a persist with
  * no owner stays MEMORY_AND_DISK for the session's lifetime, one
  * frame per distinct input. [[scoped]] persists a frame and gives it
  * an owner:
  *
  *   - inside a staged write ([[Staging.registerComputeCleanup]]) the
  *     frame is consumed by that write and unpersisted the moment the
  *     write completes;
  *   - everywhere else it is QUERY-SCOPED: a [[QueryExecutionListener]]
  *     (one per session) unpersists it as soon as a query execution
  *     that references it completes. The frames are derived
  *     intermediates referenced ≥2 times inside ONE consuming plan (the
  *     LSH band stream, q54's vocab freq, q65's stage minima, …); after
  *     that plan's action the cache is dead weight that squeezes
  *     execution memory for every later query. A caller that runs a
  *     SECOND action over the same returned plan recomputes the
  *     subtree — lazily correct, and the recompute is paid by the
  *     caller who re-executes, not (as memory pressure) by every other
  *     query on the session.
  *
  * A consumer that truncates lineage (`GraphOps`' checkpointed rounds)
  * runs its actions over checkpoints the listener cannot trace back to
  * the frames; it calls [[consumed]] on its input instead.
  *
  * Query-scoped frames also sit in one per-session LRU of
  * [[maxEntries]] frames, the backstop for plans that are built and
  * never run: registering one more evicts (and unpersists) the eldest.
  * Eviction is always safe — a plan that still references an evicted
  * frame recomputes the subtree.
  *
  * Frames whose consumers all run inside the function that persists
  * them keep a `try/finally` at the site instead (`Sinks.withDeadLetter`,
  * `GraphOps.connectedComponents`, `DedupOps.prefixJaccardPairsOf`,
  * `EmbeddingOps.kmeansCentroids`): registered here, their first
  * internal action would release them and every later round would
  * recompute.
  *
  * Same-plan dedupe: CacheManager keys entries by canonicalized plan,
  * so repeated calls over the SAME input share one cache entry across
  * distinct DataFrame handles. Registering such a repeat takes no new
  * slot (it would evict an unrelated frame) and never unpersists the
  * shared entry twice — it only refreshes the entry's LRU position and
  * registration time.
  */
private[graft] object CacheRegistry {

  /** LRU backstop per session. The most query-scoped frames one plan
    * registers is 3 (the library `DedupOps.lshCandidatesOf`:
    * signatures, band stream, suspect census); a staged dedup query
    * registers none, because it reads parquet and a cold read-through
    * build hands its persists to the staged write. 8 lets a second such
    * plan be built before the first one runs without evicting the
    * first one's frames. */
  private[graft] val maxEntries = 8

  /** One tracked persist: the frame plus the wall-clock millisecond it
    * was (re-)registered — the release guard of [[releaseReferenced]].
    * `Long.MaxValue` while its caller is still persisting or filling
    * it: no release takes it then. */
  private final class Entry(val df: DataFrame) {
    @volatile var registeredAtMs: Long = Long.MaxValue
  }

  /** The registration time, returned only once the clock has moved past
    * it: every execution analyzed after the caller gets its handle
    * back therefore starts at a strictly later millisecond, which makes
    * the millisecond compare in [[releaseReferenced]] exact both ways. */
  private def stamp(): Long = {
    val t = System.currentTimeMillis()
    while (System.currentTimeMillis() <= t) Thread.onSpinWait()
    t
  }

  /** Per-session LRU deques and completion listener handles. Weak
    * keys: a session the caller dropped without ever calling
    * [[release]] must stay collectable (the listener holds no session
    * reference, and a drained deque holds no frame). */
  private val caches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.ArrayDeque[Entry]]())
  private val listening = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, QueryExecutionListener]())

  /** Persist `df` MEMORY_AND_DISK and give it its lifecycle (see the
    * object doc). Lazy: runs no job. */
  def scoped(df: DataFrame): DataFrame = {
    val e = track(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    e.foreach(_.registeredAtMs = stamp())
    df
  }

  /** [[scoped]] for a frame a caller reads EAGERLY before its query
    * runs: persist it and fill it with one `count()`, which cannot
    * release it because the frame is registered only once the count is
    * done; the first query over the returned handle does. Returns the
    * frame and its row count. */
  def filled(df: DataFrame): (DataFrame, Long) = {
    val e = track(df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try (df, df.count())
    catch { case t: Throwable => df.unpersist(false); throw t }
    finally e.foreach(_.registeredAtMs = stamp())
  }

  /** Give `df` its owner BEFORE it is persisted: the staged write's
    * cleanup, or a pending entry (LRU position refreshed when the same
    * plan is already tracked). A release running concurrently either
    * finishes its unpersist first or finds the entry pending and leaves
    * it, so it never undoes the persist that follows. */
  private def track(df: DataFrame): Option[Entry] =
    if (Staging.registerComputeCleanup(() => df.unpersist(false))) None
    else {
      ensureListener(df.sparkSession)
      val q = caches.computeIfAbsent(df.sparkSession,
        _ => new java.util.ArrayDeque[Entry]())
      q.synchronized {
        val it = q.iterator()
        var existing: Entry = null
        while (it.hasNext && existing == null) {
          val e = it.next()
          if (e.df.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
            existing = e
        }
        // a repeat registration takes no new slot and is a NEW consumer:
        // pending again, so a previous consumer's execution still on
        // the bus cannot release the frame out from under it
        val e = if (existing != null) { q.remove(existing); existing } else new Entry(df)
        e.registeredAtMs = Long.MaxValue
        q.addLast(e)
        while (q.size > maxEntries) q.removeFirst().df.unpersist(false): Unit
        Some(e)
      }
    }

  private def ensureListener(spark: SparkSession): Unit =
    listening.synchronized {
      if (!listening.containsKey(spark)) {
        val l = new QueryExecutionListener {
          override def onSuccess(
              funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            releaseConsumed(funcName, qe)
          override def onFailure(
              funcName: String, qe: QueryExecution, exception: Exception): Unit =
            releaseConsumed(funcName, qe)
        }
        spark.listenerManager.register(l)
        listening.put(spark, l): Unit
      }
    }

  /** Actions that are NOT a query's terminal consumption: a (lazy or
    * eager) checkpoint also flows through `Dataset.withAction`, so it
    * fires this listener with an analyzed plan that can CONTAIN a
    * tracked frame the caller is still composing over — releasing
    * there would defeat the persist before its real consumer runs
    * (`GraphOps`' seed `localCheckpoint` over a pair frame built on a
    * registered band stream, such as `lshCandidatesOf`'s). */
  private val nonTerminalActions = Set("checkpoint", "localCheckpoint")

  /** Release on a completed execution: every tracked frame its plan
    * references (see [[releaseReferenced]]). Runs on the listener bus
    * thread after the action returns: release never overlaps the timed
    * action, and unpersist(false) is non-blocking + lazy-safe either
    * way.
    *
    * Stale-event guard: a frame is released only by an execution that
    * started after the frame was registered — the execution's start is
    * its own analysis start (`qe.tracker`), and [[stamp]] keeps the two
    * clocks' millisecond ties out. So an eager fill (`filled`) or a
    * previous consumer's action still on the bus never releases a
    * frame registered after it began, and every later execution that
    * references the frame always does. */
  private def releaseConsumed(funcName: String, qe: QueryExecution): Unit = try {
    val started = qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
    if (!nonTerminalActions.contains(funcName) && started.isDefined)
      releaseReferenced(qe.sparkSession, qe.analyzed, started.get.startTimeMs)
  } catch {
    // onFailure hands us executions whose ANALYSIS threw — touching
    // qe.analyzed rethrows. Nothing to release for those (a plan that
    // never analyzed never consumed a cache); keep the listener silent.
    case scala.util.control.NonFatal(_) => ()
  }

  /** For a consumer that truncates lineage (`GraphOps`' checkpointed
    * rounds): its own actions run over checkpoints, never over `df`'s
    * plan, so the listener cannot see it consume the frames under
    * `df`. Call once those actions are done; releases what a terminal
    * action over `df` would have. */
  def consumed(df: DataFrame): Unit =
    releaseReferenced(df.sparkSession, df.queryExecution.analyzed, Long.MaxValue)

  /** Unpersist and forget every tracked frame of `spark` registered
    * before `startMs` whose plan `plan` references as a subtree (matched
    * on the ANALYZED plan — the physical plan substitutes
    * InMemoryRelation, the analyzed one keeps the original subtree, so
    * `sameResult` containment is exact and independent of AQE). */
  private def releaseReferenced(
      spark: SparkSession, plan: LogicalPlan, startMs: Long): Unit = {
    val q = caches.get(spark)
    // unpersist under the deque's lock, so it cannot interleave with a
    // track() of the same plan (see there)
    if (q != null) q.synchronized {
      val it = q.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.registeredAtMs < startMs &&
            plan.exists(_.sameResult(e.df.queryExecution.analyzed))) {
          it.remove()
          // per-frame try: one unpersist failing (e.g. a concurrently
          // stopping context) must not leave the REST dequeued-but-
          // persisted — the untracked-leak class this registry prevents
          try e.df.unpersist(false): Unit
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }

  /** Unpersist and forget every query-scoped frame of `spark` (and drop
    * the session's completion listener); returns how many frames were
    * released. */
  def release(spark: SparkSession): Int = {
    listening.synchronized {
      val l = listening.remove(spark)
      if (l != null)
        try spark.listenerManager.unregister(l)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    val q = caches.remove(spark)
    if (q == null) 0
    else q.synchronized {
      val n = q.size
      q.forEach(e => e.df.unpersist(false): Unit)
      q.clear()
      n
    }
  }

  /** Query-scoped frames currently tracked for `spark`. */
  def size(spark: SparkSession): Int = {
    val q = caches.get(spark)
    if (q == null) 0 else q.synchronized(q.size)
  }
}
