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

  /** Write `payload` to `tmp`, a temp file beside the pointer. */
  private def writeTemp(fs: FileSystem, tmp: Path, payload: String): Unit = {
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomically replace the pointer's payload (write temp + overwrite
    * rename).
    */
  def commit(conf: Configuration, p: Path, payload: String): Unit = {
    val fs = fsOf(conf, p)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    writeTemp(fs, tmp, payload)
    fs match {
      case raw: RawLocalFileSystem =>
        if (!raw.rename(tmp, p)) throw new java.io.IOException(s"pointer commit failed: $tmp -> $p")
      case _ =>
        val fc = FileContext.getFileContext(fs.getUri, conf)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
    }
  }

  /** CREATE-EXCLUSIVE commit: atomically install the payload only if no
    * pointer exists yet. Returns true iff this writer won. Two concurrent
    * first-committers thus cannot both believe they stamped
    * ([[graft.operators.EmbeddingIndex.ensureIndexStamp]]'s first-commit
    * race): exactly one install succeeds, and the loser re-reads the
    * winner's value and fails its own validation loudly instead of running
    * a batch under a stamp that no longer matches.
    *
    * The payload goes to a writer-unique temp first. On the local
    * filesystem the install is a hard link (link(2)), which fails iff the
    * name is taken and forks nothing; elsewhere it is a rename WITHOUT
    * overwrite. Either way the temp is gone afterwards.
    */
  def commitExclusive(conf: Configuration, p: Path, payload: String): Boolean = {
    val fs = fsOf(conf, p)
    val tmp = new Path(p.getParent, s"${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    writeTemp(fs, tmp, payload)
    try {
      fs match {
        case raw: RawLocalFileSystem =>
          java.nio.file.Files.createLink(raw.pathToFile(p).toPath, raw.pathToFile(tmp).toPath)
        case _ => FileContext.getFileContext(fs.getUri, conf)
          .rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.NONE)
      }
      true
    } catch {
      case _: java.io.IOException if fs.exists(p) => false // someone else won
    } finally fs.delete(tmp, false)
  }
}
