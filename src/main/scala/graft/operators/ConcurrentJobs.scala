package graft.operators

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The engine's one launcher for independent work run side by side:
  * `DedupOps.stageAll`'s staging chains, the admission loop's three
  * per-table writes (stage, absorb, compaction) and Bench's page-cache
  * warm all go through [[runAll]].
  *
  * One pool per call, sized to the tasks, so no task queues behind
  * another. Its threads are created at submit, from the calling thread,
  * so each inherits the caller's Spark local properties — in
  * particular a `foreachBatch` body's job group, which
  * `StreamingQuery.stop()` cancels by. The runner never replaces that
  * group: it cancels its own tasks by a per-call Spark job tag.
  *
  * With a session, each task also runs in its own FAIR scheduler pool,
  * `<pools>-<name>` (a thread-scoped local property): under
  * `spark.scheduler.mode=FAIR` the root pool round-robins slot offers
  * across pools, so one task's next stage gets slots while another's
  * wide stage still drains — a single default pool would run the
  * tasks' jobs FIFO (PERF §36). Pools spring into existence on first
  * use with default weight and minShare, so names stay fixed per task
  * kind, never per call; under FIFO mode the property is inert.
  *
  * FAILURE: the first task to fail (in completion order) decides. The
  * siblings are still running then, and the caller's cleanup (a conf
  * restore, a staging marker, a ledger decision) must not run under
  * them. So the runner cancels every job carrying its tag, WAITS for
  * the pool to drain, and only then rethrows the original failure,
  * with every other task failure (typically the siblings'
  * cancellations) attached as suppressed. The wait is bounded: a task
  * that starts a new job after the cancel sweep is swept again and
  * interrupted after [[DrainMinutes]]; an interrupt or timeout during
  * the drain is itself recorded as suppressed, never surfaced in place
  * of the original. */
private[graft] object ConcurrentJobs {

  /** Minutes the failure path waits for the pool to drain before a
    * second cancel sweep and thread interrupts. */
  private val DrainMinutes: Long = 10

  /** Run `tasks` (name → body) concurrently on `spark`, each in FAIR
    * pool `<pools>-<name>` and under one job tag for this call; returns
    * the results in task order. Failure semantics as on the object. */
  def runAll[A](spark: SparkSession, pools: String,
                tasks: Seq[(String, () => A)]): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-run-${java.util.UUID.randomUUID()}"
    val tagged = tasks.map { case (name, body) => name -> (() => {
      sc.addJobTag(tag)
      sc.setLocalProperty("spark.scheduler.pool", s"$pools-$name")
      try body() finally {
        sc.setLocalProperty("spark.scheduler.pool", null)
        sc.removeJobTag(tag)
      }
    }) }
    launch(tagged, () => sc.cancelJobsWithTag(tag))
  }

  /** [[runAll]] for work that starts no Spark job (no tag, no pools). */
  def runAll[A](tasks: Seq[(String, () => A)]): Seq[A] = launch(tasks, () => ())

  private def launch[A](tasks: Seq[(String, () => A)], cancel: () => Unit): Seq[A] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map { case (_, body) => done.submit(() => body()) }
      try {
        tasks.foreach(_ => done.take().get(): Unit)
        futures.map(_.get())
      } catch {
        case t: Throwable =>
          val first = t match {
            case e: ExecutionException if e.getCause != null => e.getCause
            case other => other
          }
          try {
            cancel()
            pool.shutdown()
            if (!pool.awaitTermination(DrainMinutes, TimeUnit.MINUTES)) {
              cancel()
              pool.shutdownNow(): Unit
              pool.awaitTermination(1, TimeUnit.MINUTES): Unit
            }
          } catch { case drain: Throwable => first.addSuppressed(drain) }
          futures.filter(f => f.isDone && !f.isCancelled).foreach { f =>
            try f.get(): Unit
            catch {
              case e: ExecutionException =>
                val cause = e.getCause
                if (cause != null && (cause ne first)) first.addSuppressed(cause)
            }
          }
          throw first
      }
    } finally pool.shutdown()
  }
}
