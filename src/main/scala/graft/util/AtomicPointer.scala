package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import java.nio.charset.StandardCharsets

/** One-line pointer files with an ATOMIC commit — the primitive under both
  * the replication watermark ([[graft.repl.MetadataStore]]) and the
  * streamed-view pointer ([[DeltaView]]).
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
      try {
        val buf = new java.io.ByteArrayOutputStream(64)
        val chunk = new Array[Byte](256)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(buf.toString(StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Atomically replace the pointer's payload (write temp + overwrite
    * rename).
    */
  def commit(conf: Configuration, p: Path, payload: String): Unit = {
    val fs = fsOf(conf, p)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
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

  /** CREATE-EXCLUSIVE commit: atomically install the payload only if no
    * pointer exists yet — write a writer-unique temp, then rename WITHOUT
    * overwrite, which fails iff the destination already exists. Returns
    * true iff this writer won. Two concurrent first-committers thus
    * cannot both believe they stamped ([[graft.operators.EmbeddingIndex
    * .ensureIndexStamp]]'s first-commit race): exactly one rename
    * succeeds, and the loser re-reads the winner's value and fails its
    * own validation loudly instead of running a batch under a stamp that
    * no longer matches.
    */
  def commitExclusive(conf: Configuration, p: Path, payload: String): Boolean = {
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent,
      s"${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, conf)
    try {
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: java.io.IOException =>
        // rename refused: someone else won. Clean our temp and report.
        fs.delete(tmp, false)
        if (!fs.exists(p)) throw new java.io.IOException(
          s"commitExclusive: rename to $p failed but no pointer exists")
        false
    }
  }
}
