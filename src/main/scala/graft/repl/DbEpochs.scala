package graft.repl

import graft.util.AtomicPointer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Db-LEVEL read consistency across incremental loads.
  *
  * [[Load.replay]] merges table by table, so a reader between two table
  * swaps sees a TORN database — table A already at the new watermark,
  * table B still at the old one. The reference has the same flaw (its
  * `REPL LOAD` applies per-table too); this module exceeds it with the
  * versioned-pointer recipe the engine already trusts
  * ([[graft.util.DeltaView]]'s pointer-per-commit), lifted to database
  * granularity:
  *
  *  - a per-db pointer `<db>/_epochs/CURRENT` = `"<epoch>,<watermark>"`,
  *    swapped ONCE per VERIFIED replication cycle
  *    ([[ReplicationJob.run]] commits it after the five-way verify);
  *  - a per-epoch MANIFEST (the db's table list at commit time), so
  *    pinned readers see exactly the tables that existed at their epoch —
  *    tables created by later cycles are invisible, dropped ones remain
  *    readable;
  *  - PRE-IMAGE STASHES: when the owning [[DbCatalog]] runs in
  *    `epochMode`, every destructive table operation (merge swap, rewrite,
  *    drop, rename) moves the data it would have deleted into
  *    `<db>/_epochstash/<epoch>/...` by RENAME (no copy — the same
  *    metadata-only economy as the merge swap itself):
  *      `full/<table>`     whole-table pre-image (unpartitioned merge,
  *                         rewrite, drop)
  *      `parts/<table>/`   the AFFECTED `col=value` partition dirs of a
  *                         partition-scoped merge
  *      `absent/<table>/`  one marker file per partition the merge
  *                         CREATED (pinned reads must mask it out of the
  *                         live scan; kept OUTSIDE the parquet tree)
  *      `renamed/<table>`  marker file carrying the new name of a renamed
  *                         table (data travels with the new name; the
  *                         marker redirects pinned resolution)
  *
  * A pinned reader resolves table `t` at epoch `N` by walking epochs
  * upward from `N`: a rename marker rebinds the name; the FIRST full
  * stash ends the walk (it is the data as of its epoch, and nothing
  * touched `t` between `N` and it — otherwise an earlier stash would
  * exist); partial stashes contribute their partitions (first epoch to
  * mention a partition wins); whatever is still unresolved reads from the
  * LIVE table. Mid-load, a swapped table's pre-image is already in the
  * current epoch's stash and an unswapped table is still live — both
  * resolve to the pre-load state, which is the whole point
  * (spec: DbEpochSpec "mid-load pinned reads").
  *
  * Retention matches [[graft.util.DeltaView]]: `keepEpochs` states
  * stay readable; `commit` prunes stash/manifest dirs below the floor, so
  * a pinned frame survives `keepEpochs - 1` further commits. Reading a
  * pruned epoch fails with a diagnosable error, never silently serves
  * newer data.
  *
  * Crash notes (same class as the merge swap's own contract): the stash
  * move happens where the old delete happened, and a RETRY that finds a
  * stale `_bak_` from a crashed cycle stashes it instead of deleting, so
  * pre-images survive retried merges. The residual window is a reader
  * hitting the instant between the two swap renames — transient, retried
  * by the caller exactly as live readers already do.
  */
final case class DbEpochs(spark: SparkSession, catalog: DbCatalog, db: String,
                          keepEpochs: Int = 2) {
  require(keepEpochs >= 1, "keepEpochs must be >= 1")

  private def conf = spark.sparkContext.hadoopConfiguration
  private def dbPath = catalog.dbPath(db)
  private def fs = dbPath.getFileSystem(conf)
  private def pointer = new Path(dbPath, "_epochs/CURRENT")
  private def manifestPath(e: Long) = new Path(dbPath, s"_epochs/manifest_v$e")
  private def stashRoot = new Path(dbPath, "_epochstash")
  private[repl] def stashPath(e: Long, kind: String, table: String): Path =
    new Path(stashRoot, s"$e/$kind/$table")

  /** (epoch, watermark), None before the first commit. */
  def current: Option[(Long, Long)] =
    AtomicPointer.read(conf, pointer).map { s =>
      s.split(",") match {
        case Array(e, w) if Seq(e, w).forall(_.matches("\\d{1,18}")) =>
          (e.toLong, w.toLong)
        case _ => throw new IllegalStateException(
          s"$pointer is not a db-epoch pointer (got '$s')")
      }
    }

  /** Publish the CURRENT live state as the next epoch: write the table
    * manifest, swap the pointer, prune epochs below the retention floor.
    * Called once per verified replication cycle. Returns the new epoch.
    */
  def commit(watermark: Long): Long = {
    val e = current.map(_._1 + 1).getOrElse(0L)
    val m = manifestPath(e)
    fs.mkdirs(m.getParent)
    val out = fs.create(m, true)
    try out.write(catalog.listTables(db).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    AtomicPointer.commit(conf, pointer, s"$e,$watermark")
    prune(e)
    e
  }

  private def prune(newEpoch: Long): Unit = {
    val floor = newEpoch - keepEpochs + 1
    def sweep(dir: Path, prefix: String): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val v = st.getPath.getName.stripPrefix(prefix)
        if (v.nonEmpty && v.matches("\\d{1,18}") && v.toLong < floor)
          fs.delete(st.getPath, true)
      }
    sweep(stashRoot, "")
    sweep(new Path(dbPath, "_epochs"), "manifest_v")
  }

  /** Pin the current epoch: the returned handle reads every table AS OF
    * that epoch, immune to concurrent loads for `keepEpochs - 1` further
    * commits.
    */
  def pin(): PinnedDb = current match {
    case None => throw new IllegalStateException(
      s"no epoch committed for $db yet — run a verified cycle first")
    case Some((e, w)) =>
      val tables = AtomicPointer.read(conf, manifestPath(e)).toSeq
        .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
      PinnedDb(this, e, w, tables)
  }

  /** Max epoch with any stash present (stashes for the in-flight cycle sit
    * ABOVE the pointer the moment the next commit lands first elsewhere).
    */
  private def maxStashEpoch: Long = {
    val listed =
      if (!fs.exists(stashRoot)) Seq.empty
      else fs.listStatus(stashRoot).toSeq.map(_.getPath.getName)
        .filter(_.matches("\\d{1,18}")).map(_.toLong)
    (listed :+ current.map(_._1).getOrElse(-1L)).max
  }

  private def renameMarker(e: Long, table: String): Option[String] = {
    val p = stashPath(e, "renamed", table)
    AtomicPointer.read(conf, p).map(_.trim).filter(_.nonEmpty)
  }

  /** `col=value` data dirs of a partial stash plus the absent-partition
    * markers of the same epoch (kept in a SIBLING `absent/` stash — inside
    * the parquet tree even `_`-prefixed root-level files trip the reader).
    */
  private def partsOf(e: Long, table: String, p: Path): (Seq[Path], Set[String]) = {
    val dirs = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath)
    val ab = stashPath(e, "absent", table)
    val absent =
      if (!fs.exists(ab)) Set.empty[String]
      else fs.listStatus(ab).map(_.getPath.getName).toSet
    (dirs, absent)
  }

  private def valueOf(dirName: String): String =
    PartitionPaths.unescape(dirName.substring(dirName.indexOf('=') + 1))

  /** Table `t` as of epoch `from` — see the class doc for the walk. */
  private[repl] def resolve(table: String, from: Long): DataFrame = {
    // retention guard FIRST: below the floor the epoch's stashes may be
    // pruned, and the walk would silently serve a NEWER epoch's pre-image
    current.map(_._1 - keepEpochs + 1).filter(_ > from).foreach { floor =>
      throw new IllegalStateException(
        s"pinned epoch $from of $db is below the retention floor $floor " +
        s"(keepEpochs=$keepEpochs) — re-pin")
    }
    val top = maxStashEpoch
    var name = table
    var k = from
    // chosen partition layers: (parts dir, dir names chosen from it)
    val layers = scala.collection.mutable.Buffer[(Path, Seq[String])]()
    val resolved = scala.collection.mutable.Set[String]() // dir names decided
    var full: Option[Path] = None
    // per-epoch rename-cycle guard (a→b→a markers in one cycle)
    var seenAtK = Set(name)
    while (k <= top && full.isEmpty) {
      // stash under the CURRENT binding first: a merge/drop that preceded
      // a same-cycle rename stashed under the OLD name
      val f = stashPath(k, "full", name)
      if (fs.exists(f)) full = Some(f)
      else {
        val pp = stashPath(k, "parts", name)
        if (fs.exists(pp)) {
          val (dirs, absent) = partsOf(k, name, pp)
          val fresh = dirs.map(_.getName).filterNot(resolved)
          if (fresh.nonEmpty) layers += ((pp, fresh))
          resolved ++= fresh
          resolved ++= absent
        }
        renameMarker(k, name) match {
          case Some(nn) if !seenAtK(nn) =>
            name = nn; seenAtK += nn // re-check the SAME epoch as the new name
          case _ =>
            k += 1; seenAtK = Set(name)
        }
      }
    }
    def readExcluding(path: Path): DataFrame = {
      val df = spark.read.parquet(path.toString)
      if (resolved.isEmpty) df
      else {
        val partCol = partColOf(path).getOrElse(throw new IllegalStateException(
          s"pinned read of $db.$table: partition stashes exist but $path " +
          "has no col=value layout"))
        // the merge's own value convention: Spark's cast-to-string is the
        // rendering the partition dir names used
        df.filter(!col(partCol).cast("string")
          .isin(resolved.toSeq.map(valueOf): _*))
      }
    }
    val tail: DataFrame = full match {
      case Some(f) => readExcluding(f)
      case None =>
        val live = new Path(dbPath, name)
        if (fs.exists(live)) readExcluding(live)
        else if (layers.nonEmpty)
          null // fully stash-resolved (table dropped later); union below
        else throw new IllegalStateException(
          s"pinned epoch $from of $db.$table is gone — pruned past " +
          s"keepEpochs=$keepEpochs, or the table never existed")
    }
    val layerFrames = layers.map { case (pp, dirs) =>
      val partCol = partColOf(pp).get
      spark.read.parquet(pp.toString)
        .filter(col(partCol).cast("string").isin(dirs.map(valueOf): _*))
    }
    (Option(tail).toSeq ++ layerFrames).reduce(_ unionByName _)
  }

  private def partColOf(p: Path): Option[String] =
    fs.listStatus(p).find(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName.split("=")(0))
}

/** A database pinned to one committed epoch: `readTable` serves every
  * table AS OF that epoch regardless of concurrent loads (within the
  * retention grace). `tables` is the epoch's manifest — tables created by
  * later cycles are not visible, dropped ones still read.
  */
final case class PinnedDb(epochs: DbEpochs, epoch: Long, watermark: Long,
                          tables: Seq[String]) {
  def readTable(table: String): DataFrame = {
    require(tables.contains(table),
      s"table $table is not in epoch $epoch's manifest (tables: $tables)")
    epochs.resolve(table, epoch)
  }
}
