package graft.repl

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dump generation — the engine's `REPL DUMP`.
  *
  * Bootstrap (`/root/reference/HQL/replbootstrap.hql:1-3`, orchestrated at
  * `beeline_functions.sh:51-129`): a full, self-describing snapshot of every
  * table in the db, plus a manifest recording the txn id the snapshot is
  * current to. Incremental (`HQL/repldump.hql:1-3`, `beeline_functions.sh:
  * 131-177`): only the events strictly after the given watermark — the
  * central delta-processing optimization of the whole reference
  * (`hive3repl.sh:85,140`).
  *
  * Scale notes: the bootstrap copy is a per-table distributed
  * read→write (parquet to parquet, no driver materialization); the
  * incremental dump is a single filtered scan of the event log with the
  * `event_id > fromId` predicate pushed to parquet row-group stats, so a
  * 100 TB event log with time-ordered files prunes to the tail. Snapshot
  * consistency: the txn watermark is read BEFORE copying tables (any
  * concurrent writes after it are captured by the next incremental), same
  * contract as Hive's dump.
  */
final case class Dump(spark: SparkSession, source: ReplSource, dumpRoot: String, cfg: ReplConfig) {

  private def fs = new Path(dumpRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newDumpDir(db: String): Path = {
    val p = new Path(dumpRoot, s"$db/${java.util.UUID.randomUUID()}")
    fs.mkdirs(p)
    p
  }

  /** Tables included in a dump: external tables only when the include flag
    * is on (reference default excludes them, `/root/reference/env.sh:8`).
    */
  private def dumpTables(db: String): Seq[String] =
    source.listTables(db).filter(t => cfg.includeExternalTables || !source.isExternal(t))

  /** Full snapshot; returns the dump path + the txn id it is current to
    * (the 2-column row of `REPL DUMP`, `beeline_functions.sh:117-118`).
    * Guarded by the global dump lock like the reference
    * (`beeline_functions.sh:92-101`).
    */
  def bootstrap(db: String): DumpResult = withDumpLock(db) {
    val toId = source.currentTxnId(db)
    val dir = newDumpDir(db)
    val tables = dumpTables(db)
    // Managed tables snapshot into the dump; external tables are synced
    // from the source db directly at load time (manifest carries the path).
    // Tables copy as CONCURRENT Spark jobs (small tables leave the
    // cluster idle otherwise — the reference's `hive.exec.parallel`,
    // `/root/reference/HQL/replextload.hql:5-8`).
    Parallel.foreach(tables.filterNot(source.isExternal)) { t =>
      val out = new Path(dir, s"tables/$t").toString
      // A partitioned source snapshots partitioned — the dump's directory
      // layout carries the spec to the replica (no manifest field needed).
      source.partitionSpec(db, t) match {
        case Some(p) => graft.PartitionedWrites.cluster(source.readTable(db, t), p)
          .write.partitionBy(p).parquet(out)
        case None => source.readTable(db, t).write.parquet(out)
      }
    }
    // View definitions snapshot alongside the tables (control-plane files:
    // one SQL text per view — `/root/reference/README.md:4` replicates
    // "managed, external tables and views").
    // A view whose definition the source cannot expose (non-Derby JDBC
    // endpoints) is skipped — tables-only degradation, not a crash.
    source.listViews(db).foreach { v =>
      source.viewSql(db, v).foreach { sql =>
        val out = fs.create(new Path(dir, s"views/$v.sql"), true)
        try out.write(sql.getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    writeManifest(dir, DumpManifest(db, DumpKind.Bootstrap, -1L, toId, tables,
      source.sourceDbPath(db), tables.filter(source.isExternal)))
    DumpResult(dir.toString, toId)
  }

  /** Delta export: events in (fromId, currentTxnId]. */
  def incremental(db: String, fromId: Long): DumpResult = withDumpLock(db) {
    val toId = source.currentTxnId(db)
    val dir = newDumpDir(db)
    if (toId > fromId) {
      source.readEventsAfter(db, fromId)
        .filter(col("event_id") <= toId)
        .write.parquet(new Path(dir, "events").toString)
    }
    val tables = dumpTables(db)
    writeManifest(dir, DumpManifest(db, DumpKind.Incremental, fromId, toId,
      tables, source.sourceDbPath(db), tables.filter(source.isExternal)))
    DumpResult(dir.toString, toId)
  }

  private def withDumpLock[A](db: String)(body: => A): A = {
    val lock = Locks.acquire(fs, new Path(dumpRoot, s"$db/dump.lock"),
      java.util.UUID.randomUUID().toString, cfg.lockStaleMs)
    try body finally lock.release()
  }

  private def writeManifest(dir: Path, m: DumpManifest): Unit = {
    val json =
      s"""{"db":${Json.str(m.db)},"kind":"${m.kind.name}","fromId":${m.fromId},""" +
      s""""toId":${m.toId},"src":${Json.str(m.sourceDbPath)},""" +
      s""""tables":${m.tables.map(Json.str).mkString("[", ",", "]")},""" +
      s""""ext":${m.externalTables.map(Json.str).mkString("[", ",", "]")}}"""
    val out = fs.create(new Path(dir, Dump.ManifestFile), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}

object Dump {
  val ManifestFile = "_dumpmetadata.json"

  /** Parse a manifest written by [[Dump]] (tiny control-plane JSON). */
  def readManifest(spark: SparkSession, dumpPath: String): DumpManifest = {
    import scala.jdk.CollectionConverters._
    val p = new Path(dumpPath, ManifestFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = Json.parse(
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    def str(k: String) = json.get(k).asText
    def arr(k: String): Seq[String] = json.get(k).asScala.toSeq.map(_.asText)
    val tables = arr("tables")
    // Pre-upgrade manifests (written before the "ext" key existed) came
    // only from file-catalog sources, where the `ext_` naming convention IS
    // the external flag ([[DbCatalog.isExternal]]) — falling back to it
    // keeps their external tables re-syncing instead of silently stopping.
    // An EMPTY "ext" list from a current writer is authoritative (a JDBC
    // source has no file plane even if a table name matches the convention).
    val ext = if (json.has("ext")) arr("ext") else tables.filter(_.startsWith("ext_"))
    DumpManifest(str("db"), DumpKind.parse(str("kind")), json.get("fromId").asLong,
      json.get("toId").asLong, tables, str("src"), ext)
  }
}
