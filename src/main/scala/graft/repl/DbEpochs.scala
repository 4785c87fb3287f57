package graft.repl

import graft.util.{AtomicPointer, GroupManifest, Manifests, TableManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Db-LEVEL read consistency across incremental loads.
  *
  * [[Load.replay]] merges table by table, so a reader between two table
  * commits sees a TORN database — table A already at the new watermark,
  * table B still at the old one. The reference has the same flaw (its
  * `REPL LOAD` applies per-table too); this module exceeds it with the
  * group commit of the manifest core ([[graft.util.Manifests]]) that
  * every [[DbCatalog]] table write and every [[graft.util.DeltaView]]
  * commit goes through: an epoch is ONE [[GroupManifest]] — version =
  * epoch, batchId = watermark, and each table's committed
  * [[TableManifest]] (None for a table with no manifest, an `ext_` file
  * tree, which reads live) — committed to `<db>/_epochs/CURRENT` once per
  * VERIFIED replication cycle ([[ReplicationJob.run]] commits it after the
  * five-way verify). The commit first keeps the outgoing epoch as
  * `_epochs/manifest_v<epoch>`, for readers still pinned to it.
  *
  * A pinned read is a manifest lookup: the files the epoch's table
  * manifest names, under whichever dir holds the table's id now, so a
  * table renamed or dropped after the epoch still reads as it was. Tables
  * created by later cycles are invisible. Mid-load, a table the load
  * already merged has new files and a new manifest, but an `epochMode`
  * catalog keeps the files it superseded, so the pinned epoch still reads
  * the pre-load state (spec: DbEpochSpec "mid-load pinned reads").
  *
  * Retention matches [[graft.util.DeltaView]]: [[DbEpochs.KeepEpochs]]
  * states stay readable. A table write deletes the superseded files no
  * kept epoch names; `commit` then releases each kept epoch manifest that
  * falls below the floor — the files it names that no kept epoch and no
  * live manifest names ([[DbCatalog.release]]), found from manifests with
  * no listing — so a pinned frame survives `KeepEpochs - 1` further
  * commits. Reading a pruned epoch fails with a diagnosable error, never
  * silently serves newer data.
  */
final case class DbEpochs(spark: SparkSession, catalog: DbCatalog, db: String) {
  import DbEpochs.KeepEpochs

  private def conf = spark.sparkContext.hadoopConfiguration
  private def epochsDir = new Path(catalog.dbPath(db), "_epochs")
  private def pointer = new Path(epochsDir, "CURRENT")
  private def keptPath(e: Long) = new Path(epochsDir, s"manifest_v$e")

  /** The current epoch, None before the first commit. An older engine's
    * `<epoch>,<watermark>` pointer still reads: its epoch's tables are in
    * `manifest_v<epoch>`, and the next commit replaces it.
    */
  private def group: Option[GroupManifest] =
    AtomicPointer.read(conf, pointer).map { s =>
      if (s.startsWith("{")) GroupManifest.parse(s)
      else s.split(",") match {
        case Array(e, w) if Seq(e, w).forall(_.matches("\\d{1,18}")) =>
          GroupManifest(w.toLong, e.toLong, tablesAt(e.toLong).getOrElse(Nil))
        case _ => throw new IllegalStateException(s"$pointer is not a db-epoch pointer (got '$s')")
      }
    }

  /** (epoch, watermark), None before the first commit. */
  def current: Option[(Long, Long)] = group.map(g => (g.version, g.batchId))

  /** Publish the CURRENT live state as the next epoch: keep the outgoing
    * epoch's manifest, commit the new one, then apply retention. Called
    * once per verified replication cycle. Returns the new epoch.
    */
  def commit(watermark: Long): Long = {
    val cur = group
    val e = cur.map(_.version + 1).getOrElse(0L)
    cur.foreach(c => AtomicPointer.commit(conf, keptPath(c.version), c.json))
    Manifests.commitGroup(conf, pointer, GroupManifest(watermark, e,
      catalog.listTables(db).map(t => t -> catalog.manifest(db, t))))
    val fs = epochsDir.getFileSystem(conf)
    val kept = keptFiles
    fs.listStatus(epochsDir).map(_.getPath.getName.stripPrefix("manifest_v"))
      .filter(v => v.matches("\\d{1,18}") && v.toLong < e - KeepEpochs + 1)
      .foreach { v =>
        tablesAt(v.toLong).foreach(ts => catalog.release(db, ts.collect { case (t, Some(m)) => t -> m }, kept))
        fs.delete(keptPath(v.toLong), false)
      }
    e
  }

  /** Pin the current epoch: the returned handle reads every table AS OF
    * that epoch, immune to concurrent loads for `KeepEpochs - 1` further
    * commits.
    */
  def pin(): PinnedDb = group match {
    case None => throw new IllegalStateException(
      s"no epoch committed for $db yet — run a verified cycle first")
    case Some(g) if AtomicPointer.read(conf, keptPath(g.version)).exists(!_.startsWith("{")) =>
      throw new IllegalStateException(
        s"epoch ${g.version} of $db was written by an older engine — re-pin after the next verified cycle")
    case Some(g) => PinnedDb(this, g.version, g.batchId, g.tables)
  }

  /** Kept epoch `e`'s tables with their manifests (None = read live): a
    * group manifest, or an older engine's `{"tables":[...]}`; None for a
    * manifest from before table manifests, which names no table version.
    */
  private def tablesAt(e: Long): Option[Seq[(String, Option[TableManifest])]] =
    Some(AtomicPointer.read(conf, keptPath(e)).getOrElse(
      throw new IllegalStateException(s"epoch $e of $db has no manifest")))
      .filter(_.startsWith("{")).map(s => GroupManifest.tables(Json.parse(s)))

  /** Data file paths each kept epoch names, by table id: what retention
    * must not delete.
    */
  private[repl] def keptFiles: Map[String, Set[String]] =
    group.toSeq.flatMap(g => g.tables ++
        (math.max(0L, g.version - KeepEpochs + 1) until g.version).flatMap(tablesAt(_).getOrElse(Nil)))
      .flatMap(_._2).groupMapReduce(_.id)(_.files.map(_.path).toSet)(_ ++ _)

  /** Table `table` as epoch `epoch` recorded it. */
  private[repl] def read(epoch: Long, table: String, m: Option[TableManifest]): DataFrame = {
    // retention guard: below the floor the epoch's files may be gone
    current.map(_._1 - KeepEpochs + 1).filter(_ > epoch).foreach { floor =>
      throw new IllegalStateException(
        s"pinned epoch $epoch of $db is below the retention floor $floor " +
        s"(KeepEpochs=$KeepEpochs) — re-pin")
    }
    m.fold(catalog.readTable(db, table))(catalog.readVersion(db, table, _))
  }
}

object DbEpochs {

  /** States whose files survive a commit: the new one and its predecessor. */
  val KeepEpochs = 2
}

/** A database pinned to one committed epoch: `readTable` serves every
  * table AS OF that epoch regardless of concurrent loads (within the
  * retention grace). `manifests` is the epoch's db manifest — tables
  * created by later cycles are not visible, dropped ones still read.
  */
final case class PinnedDb(epochs: DbEpochs, epoch: Long, watermark: Long,
                          manifests: Seq[(String, Option[TableManifest])]) {
  def tables: Seq[String] = manifests.map(_._1)

  def readTable(table: String): DataFrame = {
    val m = manifests.find(_._1 == table)
    require(m.nonEmpty, s"table $table is not in epoch $epoch's manifest (tables: $tables)")
    epochs.read(epoch, table, m.get._2)
  }
}
