package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Multi-writer guard for the lake path's rename-based mutations.
  *
  * [[SnapshotLake]]'s commits, [[Upsert.compactParquetDir]] and the
  * [[graft.dedup.IncrementalDedup]] index appends are all SINGLE-WRITER
  * protocols: their crash contracts reason about one interrupted writer
  * replaying, not two live writers
  * interleaving — two concurrent jobs targeting one table can each park
  * the other's freshly installed directory (or reuse its generation
  * number) and silently resurrect stale data. The reference
  * never faces this because Postgres serializes its writers with row locks
  * on a single connection (`/root/reference/src/storage/postgres_writer.py:105-112`
  * commit/rollback). A plain filesystem has no lock manager, so the engine
  * carries its own: a lease FILE beside the table.
  *
  * Protocol (no new jars, works on any Hadoop `FileSystem`):
  *
  *  - acquire = atomically create `<table>__lease` (`create(overwrite =
  *    false)` — atomic on HDFS, check-then-create on the local FS, which is
  *    exactly the fail-loudly-on-contention bar this guard promises, not a
  *    distributed-consensus one). The file body records owner id + epoch
  *    millis for diagnostics.
  *  - heartbeat = a daemon thread rewrites the lease body every
  *    `ttlMs / 3`, advancing its timestamp while the writer works.
  *  - contention = the file already exists with a heartbeat younger than
  *    `ttlMs` → throw [[LakeLease.LeaseHeldException]] IMMEDIATELY (callers
  *    are batch jobs; blocking would hide the operational error the guard
  *    exists to surface).
  *  - takeover = the file exists but its heartbeat is older than `ttlMs`
  *    → the holder crashed without releasing; break the stale lease and
  *    acquire. The next writer's normal crash-recovery pass (the lake's
  *    orphan-gen GC, the parked-dir rollback) then heals whatever the dead
  *    writer left.
  *  - release = delete the file in a `finally` — including on failure (the
  *    mutation's own crash contract handles replay; holding the lease after
  *    the JVM is gone would only force every successor through the TTL
  *    wait).
  */
object LakeLease {

  final class LeaseHeldException(msg: String) extends IllegalStateException(msg)

  /** Opt-in bounded retry under contention (Hadoop conf key, settable as
    * `spark.hadoop.graft.lake.lease.retry.max.wait.ms`): when > 0, an
    * acquire that finds the lease held RETRIES with exponential backoff
    * until the budget elapses, so a standing multi-job pipeline's
    * serializable writers QUEUE instead of failing. 0 (the default) keeps
    * the immediate-fail contract — for one-shot batch jobs the loud error
    * IS the operational signal this guard exists to surface.
    */
  val RetryMaxWaitKey: String = "graft.lake.lease.retry.max.wait.ms"

  /** Default lease TTL. Generous: a heartbeat misses only if the holder JVM
    * is dead or wedged for minutes, and a premature takeover is the one
    * failure mode this guard must never introduce.
    */
  val DefaultTtlMs: Long = 5 * 60 * 1000L

  private def leasePath(table: String) = new Path(table + "__lease")

  /** Run `body` holding the exclusive writer lease for `tablePath`.
    * Reentrant per (JVM, path): nested `withLease` calls on the SAME path
    * (e.g. an admission loop whose sink merges into its own index's table)
    * share the outer hold instead of self-deadlocking.
    */
  def withLease[T](conf: Configuration, tablePath: String,
      ttlMs: Long = DefaultTtlMs)(body: => T): T = {
    val holders = held.get()
    if (holders.contains(tablePath)) return body // reentrant hold
    val fs = leasePath(tablePath).getFileSystem(conf)
    val lp = leasePath(tablePath)
    val owner = java.util.UUID.randomUUID().toString
    acquireWithRetry(fs, lp, owner, ttlMs, conf.getLong(RetryMaxWaitKey, 0L))
    val beat = new java.util.concurrent.atomic.AtomicBoolean(true)
    val t = new Thread(() => {
      while (beat.get()) {
        try Thread.sleep(math.max(50L, ttlMs / 3))
        catch { case _: InterruptedException => () }
        if (beat.get()) {
          try writeLease(fs, lp, owner)
          catch { case _: Throwable => () } // next beat retries; TTL is generous
        }
      }
    }, s"graft-lease-heartbeat-$tablePath")
    t.setDaemon(true)
    t.start()
    holders.add(tablePath)
    try body
    finally {
      holders.remove(tablePath)
      beat.set(false)
      t.interrupt()
      try fs.delete(lp, false) catch { case _: Throwable => () }
    }
  }

  // Same-JVM reentrancy bookkeeping, per thread: two THREADS of one JVM are
  // still two writers and must contend; only nested calls on one thread share.
  private val held = ThreadLocal.withInitial[java.util.HashSet[String]](
    () => new java.util.HashSet[String]())

  /** [[acquire]], retried with exponential backoff while `maxWaitMs`
    * budget remains (see [[RetryMaxWaitKey]]) — contention resolves by
    * WAITING for the holder's release/TTL, so two serializable writers
    * both land, one after the other. The final attempt's
    * [[LeaseHeldException]] propagates when the budget runs out.
    */
  private def acquireWithRetry(fs: org.apache.hadoop.fs.FileSystem, lp: Path,
      owner: String, ttlMs: Long, maxWaitMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + math.max(0L, maxWaitMs)
    var backoffMs = 100L
    while (true) {
      try { acquire(fs, lp, owner, ttlMs); return }
      catch {
        case e: LeaseHeldException =>
          val remaining = deadline - System.currentTimeMillis()
          if (remaining <= 0) throw e
          Thread.sleep(math.min(backoffMs, remaining))
          backoffMs = math.min(backoffMs * 2, 2000L)
      }
    }
  }

  private def acquire(fs: org.apache.hadoop.fs.FileSystem, lp: Path,
      owner: String, ttlMs: Long): Unit = {
    if (fs.exists(lp)) {
      val age = System.currentTimeMillis() - fs.getFileStatus(lp).getModificationTime
      if (age <= ttlMs)
        throw new LeaseHeldException(
          s"lease $lp is held (heartbeat ${age}ms ago, ttl ${ttlMs}ms): " +
            "another writer is mutating this table — the lake mutations are " +
            "single-writer; serialize the jobs or wait for the holder")
      // stale: holder died without releasing — break and take over
      fs.delete(lp, false)
    }
    val out =
      try fs.create(lp, false)
      catch {
        case e: java.io.IOException =>
          throw new LeaseHeldException(
            s"lost the race creating lease $lp (${e.getMessage}): " +
              "another writer acquired it concurrently")
      }
    try out.write(s"$owner ${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem, lp: Path,
      owner: String): Unit = {
    val out = fs.create(lp, true) // heartbeat: rewrite advances mtime
    try out.write(s"$owner ${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
  }
}
