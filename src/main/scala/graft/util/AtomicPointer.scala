package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import java.nio.charset.StandardCharsets

/** One-line pointer files with an ATOMIC commit — the primitive under
  * every manifest commit ([[Manifests]]), a file replica's watermark
  * included (its db epoch, [[graft.repl.DbEpochs]]).
  *
  * Commit writes `<name>.tmp` then renames over the target with
  * `Options.Rename.OVERWRITE` (atomic on HDFS and the local fs) — there is
  * NO delete-then-rename window in which the pointer does not exist, so a
  * crash at any instant leaves either the old or the new value, never
  * nothing. Reads loop until EOF (a single `InputStream.read` may return a
  * short count on chunked filesystems).
  *
  * On object stores without atomic rename the engine would swap this for a
  * conditional put; the call-site contract (commit LAST, after all data is
  * durable) is what matters.
  */
object AtomicPointer {

  /** Pointers on the local filesystem go through its raw form: a commit is
    * then one rename(2), which replaces the target atomically, where the
    * checksummed form's OVERWRITE rename forks a `readlink` per path (about
    * 50 ms a commit without Hadoop's native library) and keeps a `.crc`
    * sidecar that a reader could catch out of step with the pointer.
    */
  private def fsOf(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf) match {
    case local: LocalFileSystem => local.getRawFileSystem
    case fs => fs
  }

  /** The pointer's payload, or None if the file does not exist. */
  def read(conf: Configuration, p: Path): Option[String] = {
    val fs = fsOf(conf, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim) finally in.close()
    }
  }

  /** Atomically replace the pointer's payload (write temp + overwrite
    * rename).
    */
  def commit(conf: Configuration, p: Path, payload: String): Unit = {
    val fs = fsOf(conf, p)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes(StandardCharsets.UTF_8)) finally out.close()
    fs match {
      case raw: RawLocalFileSystem =>
        if (!raw.rename(tmp, p)) throw new java.io.IOException(s"pointer commit failed: $tmp -> $p")
      case _ =>
        val fc = FileContext.getFileContext(fs.getUri, conf)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
    }
  }
}
