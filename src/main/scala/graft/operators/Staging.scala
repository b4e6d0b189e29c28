package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Read-through parquet staging shared by the dedup and ANN stacks:
  * the first caller computes and writes a staging table, everyone
  * after scans it (one materialization, column-pruned reads — the
  * multi-job topology a 100 TB pipeline uses between stages).
  *
  * There is one mode: every testdata-keyed dedup/ANN table is read
  * through a staging root. Root resolution: a thread-local override
  * ([[Staging.withRoot]] — lets concurrent consumers use different
  * roots without racing on globals), else the `graft.stage.dir`
  * sys-prop (a directory; `off` or empty is rejected), else
  * `$tmpdir/graft-stage`.
  *
  * Staleness: the staging key is
  * `md5(canonical sfDir path + content fingerprint)`, where the
  * fingerprint hashes the sorted (name, size, mtime) of the dir's
  * parquet entries. Regenerating a dataset in place therefore CHANGES
  * the key — stale staged tables can never be read back against new
  * source data (round-2 ADVICE).
  */
private[graft] object Staging {

  /** Bump when any staged-table semantics change. */
  // v6: sig_h* tables are (doc_id, __sig array<bigint>), no longer
  // (doc_id, mh0..mhN) — a v5 root must never be read as the new form
  private val stageVersion = "v6"

  private val overrideRoot = new scala.util.DynamicVariable[Option[String]](None)

  /** Run `body` with an explicit staging root, scoped to the current
    * thread. */
  def withRoot[T](root: String)(body: => T): T =
    overrideRoot.withValue(Some(root))(body)

  /** True exactly on the worker threads of a `stageAll` chain (set by
    * stageAll around each chain body). Distinguishes "this call IS
    * part of the staging DAG" from "a stageAll happens to be in
    * flight on this session" — the latter must not change the plan
    * shape of concurrent library callers on other threads.
    *
    * Backed by a PLAIN ThreadLocal, deliberately not an inheritable
    * one (ADVICE r14): a DynamicVariable is
    * InheritableThreadLocal-backed, so any Spark-internal thread
    * spawned from a chain thread (AQE stage materialization,
    * broadcast exchanges, commit pools) would inherit `true` for its
    * cached lifetime — a latent trap if a gating check ever moves
    * into execution-time code. stageAll re-pins the flag explicitly
    * per worker thread, so nothing needs inheritance. */
  private val inChain = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  def withinStagingChain[T](body: => T): T = {
    val prev = inChain.get()
    inChain.set(true)
    try body finally inChain.set(prev)
  }
  def inStagingChain: Boolean = inChain.get()

  def root: String =
    overrideRoot.value.getOrElse(
      sys.props.get("graft.stage.dir") match {
        case Some(dir) =>
          require(dir.nonEmpty && dir != "off",
            s"graft.stage.dir='$dir': staging cannot be turned off; " +
              "set it to a directory or leave it unset")
          dir
        case None => System.getProperty("java.io.tmpdir") + "/graft-stage"
      })

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Sorted (name, size, mtime) of the source dir's parquet entries
    * (files, or one level of spark-written directories). A manifest
    * stat — O(#tables), not O(data). */
  private[operators] def fingerprint(sfDir: String): String = {
    def entry(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .map(c => s"${c.getName}:${c.length}:${c.lastModified}")
          .mkString(f.getName + "[", ",", "]")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val entries = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.contains(".parquet"))
      .sortBy(_.getName)
      .map(entry)
    md5Hex(entries.mkString("|"))
  }

  def tableDir(root: String, sfDir: String, table: String): String = {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val key = md5Hex(canonical + "#" + fingerprint(sfDir)).take(12)
    s"$root/$stageVersion/$key/$table"
  }

  /** Read-through materialization: first caller computes + writes the
    * parquet staging table, everyone after scans it.
    *
    * Cross-process safe: the table is written to a unique `.tmp-*`
    * sibling and promoted to its final name with one atomic rename, so
    * a reader can never observe a half-written table under the final
    * name — any directory that exists IS complete. Two drivers sharing
    * a staging root race only on the rename; the loser discards its
    * temp copy and reads the winner's (identical) table. The JVM-local
    * lock remains purely a duplicate-work saver within one driver. */
  /** Per-destination write locks: concurrent builds of DIFFERENT
    * staged tables proceed in parallel (the staging DAG's independent
    * chains run as concurrent Spark jobs); only same-table callers
    * serialize, so the compute runs once per table.
    *
    * ReentrantLock acquired via lockInterruptibly, NOT an intrinsic
    * monitor (ADVICE r14): stageAll's failure drain interrupts chain
    * threads, and monitor acquisition is uninterruptible — a chain
    * blocked on a dead builder's dir lock would ride out the drain
    * and proceed into an uncancelled rebuild AFTER the finally
    * restored uncapped broadcast thresholds (the exact OOM class the
    * cap guards). An interruptible acquire makes the drain's second
    * interrupt sweep reliably unblock such dependents. */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]()

  private def withDirLock[T](dir: String)(body: => T): T = {
    val lock = dirLocks.computeIfAbsent(
      dir, _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lockInterruptibly()
    try body finally lock.unlock()
  }

  /** Cleanup actions registered DURING a staged write's `compute`
    * (plan construction + execution happen inside the write call on
    * this thread) — run once the write finishes, success or failure.
    * The consumers are the persists a staged build takes for its own
    * write: the LSH band stream and the banding suspect census
    * (DedupOps), and stage_flags' q51/q48 flag frames (CorpusOps). A
    * cold query-time read-through build takes the persist, the
    * parquet write consumes it exactly once, and without this hook the
    * blocks stayed pinned for the session with zero future readers
    * (ADVICE r14). A stack, not a single slot: staged computes nest (a
    * verified-table build reads sig/cand tables through), and an
    * inner write must not fire an outer registration. */
  private val computeCleanups =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Unit]]()

  /** Register `f` to run when the staged write currently in progress
    * on this thread completes; false (not registered) when no staged
    * write is in progress — the caller keeps ownership. */
  def registerComputeCleanup(f: () => Unit): Boolean = {
    val buf = computeCleanups.get()
    if (buf == null) false else { buf += f; true }
  }

  private def withComputeCleanups[T](body: => T): T = {
    val prev = computeCleanups.get()
    val buf = new scala.collection.mutable.ArrayBuffer[() => Unit]()
    computeCleanups.set(buf)
    try body
    finally {
      computeCleanups.set(prev)
      buf.foreach(f => try f() catch { case _: Throwable => () })
    }
  }

  def readThrough(spark: SparkSession, sfDir: String, table: String)
                 (compute: => DataFrame): DataFrame = {
    val dir = tableDir(root, sfDir, table)
    val dst = java.nio.file.Paths.get(dir)
    withDirLock(dir) {
      if (!java.nio.file.Files.exists(dst.resolve("_SUCCESS"))) {
        val tmp = java.nio.file.Paths.get(
          dir + ".tmp-" + ProcessHandle.current().pid() + "-" +
            java.util.UUID.randomUUID().toString.take(8))
        withComputeCleanups {
          compute.write.mode("overwrite").parquet(tmp.toString)
        }
        promote(tmp, dst)
      }
    }
    Tables.parquet(spark, dir)
  }

  /** Read-through staging with a PHYSICAL CO-LOCATION contract: the
    * table is written as parquet BUCKETED (and intra-bucket sorted) on
    * `bucketCol` and registered in the session catalog, so every
    * downstream equi-join on that column plans a sort-merge join whose
    * staged side reads bucket-aligned straight off its files — only
    * the (small) probe side shuffles, per consumer, forever. This is
    * the layout PERF.md §13 names for the dedup verify-attach joins:
    * at 100× the doc_sets arrays are ~GBs of shuffle per verify
    * consumer without it, zero with it. Same pattern as the admission
    * posting tables (`streaming.PostingCompaction.write`).
    *
    * Bucket metadata lives in the catalog, not the files, so a NEW
    * session that finds the files already staged re-registers them
    * with a `CREATE TABLE … CLUSTERED BY … LOCATION` DDL (schema read
    * from one parquet footer on the driver, [[graft.Tables.parquet]] —
    * no recompute and no Spark job). The catalog name is
    * derived from the staging dir (root + version + corpus
    * fingerprint), so distinct corpora/roots never collide. */
  def bucketedReadThrough(spark: SparkSession, sfDir: String,
                          table: String, buckets: Int, bucketCol: String)
                         (compute: => DataFrame): DataFrame = {
    val dir = tableDir(root, sfDir, table)
    val name = "graft_" + table + "_" + md5Hex(dir).take(12)
    withDirLock(dir) {
      if (!spark.catalog.tableExists(name)) {
        val dst = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(dst.resolve("_SUCCESS"))) {
          val ddl = Tables.parquet(spark, dir).schema.toDDL
          spark.sql(s"CREATE TABLE $name ($ddl) USING PARQUET " +
            s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
            s"INTO $buckets BUCKETS LOCATION '$dir'"): Unit
        } else withComputeCleanups {
          compute.write.mode("overwrite")
            .bucketBy(buckets, bucketCol).sortBy(bucketCol)
            .option("path", dir).format("parquet").saveAsTable(name)
        }
      }
    }
    spark.table(name)
  }

  /** Atomically promote a fully-written temp table to its final name.
    * If a concurrent writer (same or another process) promoted a
    * complete table first, ours is discarded; a leftover partial at the
    * final name (pre-atomic-rename crash debris) is replaced. */
  private[graft] def promote(tmp: java.nio.file.Path,
                             dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    if (Files.exists(dst) && !Files.exists(dst.resolve("_SUCCESS")))
      deleteRecursively(dst)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        if (Files.exists(dst.resolve("_SUCCESS"))) deleteRecursively(tmp)
        else throw e
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    val f = p.toFile
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(c => deleteRecursively(c.toPath))
    f.delete(): Unit
  }
}
