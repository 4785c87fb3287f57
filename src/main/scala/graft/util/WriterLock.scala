package graft.util

import graft.repl.{LockBusyException, Locks}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-commit writer lock for the versioned-view storage core
  * ([[DeltaView]]).
  *
  * Single-writer was previously only IMPLIED by the streaming checkpoint
  * contract (one query owns one checkpoint owns one view dir); a
  * misconfigured second maintainer pointed at the same dir would race
  * [[AtomicPointer]] silently — two writers can both read version v,
  * both write v+1 data, and the loser's commit is overwritten without any
  * error. This makes the invariant enforced: each `applyBatch` holds an
  * advisory marker lock ([[graft.repl.Locks]] — the same atomic-create +
  * stale-steal primitive the replication plane uses for its dump lock,
  * which is the reference's own precedent,
  * `/root/reference/beeline_functions.sh:92-101`) for the duration of the
  * commit, and a contending writer fails FAST with a diagnosable
  * [[graft.repl.LockBusyException]] instead of corrupting the view.
  *
  * Staleness: a marker older than `staleMs` is a crashed maintainer
  * (kill-9 between acquire and release) and is stolen — the view's own
  * crash-window overwrite-replay makes the steal safe, because the dead
  * writer's partial version directory is overwritten by the next commit.
  */
object WriterLock {
  val MarkerName = "_writer.lock"

  /** Acquire the view's writer lock or throw a [[LockBusyException]]
    * naming the dir — "another maintainer owns this view".
    */
  def acquire(spark: SparkSession, dir: String, ownerId: String,
              staleMs: Long): Locks.Lock = {
    val p = new Path(dir, MarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Locks.tryAcquire(fs, p, ownerId, staleMs).getOrElse(
      throw new LockBusyException(
        s"another maintainer owns this view: $p"))
  }
}
