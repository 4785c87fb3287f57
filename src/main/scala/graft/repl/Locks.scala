package graft.repl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** Advisory locks as atomic-create marker files on Hadoop FileSystem.
  *
  * Replaces the reference's two locking layers — the local pidfile per-db
  * instance lock with stale-pid detection
  * (`/root/reference/misc_functions.sh:151-183`) and the global dump lock
  * (`/root/reference/beeline_functions.sh:92-101`) — with a cluster-visible
  * primitive: `FileSystem.create(path, overwrite = false)` is atomic on
  * HDFS, so exactly one runner wins. The local filesystem's form of it is
  * an exists() check and then a create, which two racers can both pass,
  * so there the marker is created with one `O_CREAT|O_EXCL` open. The
  * marker reads
  * `<ownerId>@<host>:<pid>`. A marker that names this host and a pid with
  * no live process is a crashed holder's and is taken at once (the
  * reference's stale-pid check); any other marker is judged by its
  * modification time (a heartbeat), since a pid means nothing on another
  * node.
  */
object Locks {

  /** This JVM's host, looked up once; "" when it cannot be resolved,
    * which leaves every marker to the mtime rule.
    */
  private lazy val host: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.io.IOException => "" }

  private lazy val self = s"$host:${ProcessHandle.current().pid()}"

  private def marker(ownerId: String): String = s"$ownerId@$self"

  /** True iff marker `m` names this host and a pid with no live process. */
  private def deadHere(m: String): Boolean = m.lastIndexOf('@') match {
    case -1 => false
    case at => m.drop(at + 1).split(':') match {
      case Array(h, pid) if h.nonEmpty && h == host =>
        pid.toLongOption.exists(p => !ProcessHandle.of(p).filter(_.isAlive).isPresent)
      case _ => false
    }
  }

  final case class Lock(fs: FileSystem, path: Path, ownerId: String) {
    private def mine: Boolean = fs.exists(path) && readOwner(fs, path) == marker(ownerId)

    /** Delete only a marker we still own; a marker stolen after staleness
      * is left alone. The read-then-delete pair is still a (tiny) race —
      * acceptable for an ADVISORY lock: the worst case is deleting a marker
      * stolen in the last few ms, which the thief's own release tolerates.
      */
    def release(): Unit = if (mine) fs.delete(path, false)

    /** Heartbeat: touch the marker's mtime so a long-running holder is not
      * judged stale and stolen mid-run. Callers refresh between phases
      * (`staleMs` then only needs to exceed the longest single phase, not
      * the whole run).
      */
    def refresh(): Unit = if (mine) fs.setTimes(path, System.currentTimeMillis(), -1)
  }

  private def readOwner(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim finally in.close()
  }

  /** Try to acquire; steals the lock if its holder crashed — the
    * reference's stale-pid case (`misc_functions.sh:163-176`): the marker
    * names a dead pid on this host, or is older than `staleMs`.
    */
  def tryAcquire(fs: FileSystem, path: Path, ownerId: String, staleMs: Long): Option[Lock] = {
    def create(): Boolean =
      try {
        fs.mkdirs(path.getParent)
        val bytes = marker(ownerId).getBytes(StandardCharsets.UTF_8)
        val local = fs match {
          case l: LocalFileSystem => Some(l.pathToFile(path))
          case r: RawLocalFileSystem => Some(r.pathToFile(path))
          case _ => None
        }
        local match {
          case Some(f) => Files.write(f.toPath, bytes, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE)
          case None =>
            val out = fs.create(path, false) // atomic create-if-absent
            try out.write(bytes) finally out.close()
        }
        true
      } catch { case _: java.io.IOException => false }

    if (create()) Some(Lock(fs, path, ownerId))
    else {
      val st = try Some(fs.getFileStatus(path)) catch { case _: java.io.IOException => None }
      val stale = st.exists(s => System.currentTimeMillis() - s.getModificationTime > staleMs ||
        (try deadHere(readOwner(fs, path)) catch { case _: java.io.IOException => false }))
      if (stale) {
        // Atomic takeover: rename the stale marker ASIDE (to a per-contender
        // name) rather than delete-then-create — rename succeeds for at most
        // one contender, so two racers can never both clear the way and both
        // create. After the rename, verify the captured marker is the SAME
        // one judged stale (mtime is preserved by rename); if the holder
        // replaced it in between, put it back and lose.
        val aside = new Path(path.getParent, s"_stale_${path.getName}_$ownerId")
        val renamed = try fs.rename(path, aside)
          catch { case _: java.io.IOException => false }
        if (!renamed) None
        else {
          val mt = try Some(fs.getFileStatus(aside).getModificationTime)
            catch { case _: java.io.IOException => None }
          if (!mt.contains(st.get.getModificationTime)) {
            try { fs.rename(aside, path); () }
            catch { case _: java.io.IOException => () }
            None
          } else {
            fs.delete(aside, false)
            if (create()) Some(Lock(fs, path, ownerId)) else None
          }
        }
      } else None
    }
  }

  /** Acquire-or-throw, mirroring the reference's "another instance running →
    * exit" behavior (`misc_functions.sh:158-162`).
    */
  def acquire(fs: FileSystem, path: Path, ownerId: String, staleMs: Long): Lock =
    tryAcquire(fs, path, ownerId, staleMs).getOrElse(
      throw new LockBusyException(s"lock busy: $path (held by ${readOwner(fs, path)})"))
}

/** A lock held elsewhere — a BENIGN condition callers branch on (a sweep
  * skips the db, like the reference's "another instance running" exit path).
  * A typed class, not a message prefix: string matching would silently turn
  * benign skips into errors the moment the message changes.
  */
final class LockBusyException(msg: String) extends IllegalStateException(msg)
