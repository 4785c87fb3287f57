package graft.repl

import graft.util.{AtomicPointer, DataFile, Manifests, TableManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Directory-backed database catalog + engine-owned change log.
  *
  * A "database" is a directory `<root>/<db>/` holding one parquet directory
  * per table plus the engine's append-only event log `graft_events`. This is the
  * Spark-native stand-in for the Hive metastore + ACID write-ids the
  * reference leans on (`/root/reference/README.md:36-44`): plain Spark
  * tables are not transactional, so the engine owns the change log and the
  * monotonically increasing `event_id` plays the role of Hive's
  * `last_repl_id` transaction watermark (`/root/reference/HQL/replstatus.hql:2-4`).
  *
  * Every table the catalog writes, the event log included, is a sequence
  * of versioned MANIFESTS ([[graft.util.TableManifest]]): a write appends
  * new, uniquely named parquet files to the table's own layout (`col=value`
  * dirs when partitioned), then commits one manifest naming the live files,
  * the schema and the partition column ([[graft.util.Manifests]], the core
  * [[graft.util.DeltaView]] shares). Readers read the files the current
  * manifest names, so a crash before the commit leaves the old version and
  * a crash after it the new one; files no manifest names are invisible and
  * the next write in the same scope deletes them. A directory with no
  * manifest (a table some other writer laid down, an `ext_` tree) still
  * reads by listing. Without `epochMode` a write deletes the files it
  * superseded right after its commit; with it, files a kept [[DbEpochs]]
  * epoch names stay until that epoch falls below the retention floor.
  *
  * Scale notes: all reads/writes go through `spark.read.parquet` /
  * `df.write.parquet` on Hadoop `FileSystem` paths, so the same code runs on
  * HDFS/S3 with a real cluster; nothing ever collects table data to the
  * driver. The event log is itself a parquet table, so "events since
  * watermark" is a pushed-down filter scan, not a log replay on the driver.
  * CONCURRENCY: one writer per table — [[ReplicationJob]]'s locks on the
  * replication path, the caller's on the source.
  */
final case class DbCatalog(spark: SparkSession, root: String,
                           epochMode: Boolean = false)
    extends ReplSource with ReplTarget {
  import DbCatalog._

  def dbPath(db: String): Path = new Path(root, db)
  private def tablePath(db: String, table: String) = new Path(dbPath(db), table)
  private def eventsPath(db: String) = new Path(dbPath(db), EventsTable)

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(root).getFileSystem(conf)

  override def sourceDbPath(db: String): String = dbPath(db).toString

  def createDb(db: String): Unit = fs.mkdirs(dbPath(db))
  def dbExists(db: String): Boolean = fs.exists(dbPath(db))

  /** User tables only (the change log and metadata dirs are engine-internal). */
  def listTables(db: String): Seq[String] =
    if (!dbExists(db)) Seq.empty
    else fs.listStatus(dbPath(db)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n == EventsTable)
      .sorted

  def tableExists(db: String, table: String): Boolean = fs.exists(tablePath(db, table))

  /** Engine convention: `ext_`-prefixed tables are EXTERNAL — replicated by
    * file-level copy (see [[ExtCopy]]), not parquet re-encode/event replay,
    * mirroring the reference's managed/external split
    * (`/root/reference/env.sh:8`, `README.md:4`).
    */
  def isExternal(table: String): Boolean = table.startsWith("ext_")

  // ------------------------------------------------------- table manifests

  /** The table's committed manifest; None for a dir no catalog write made. */
  private def manifestAt(dir: Path): Option[TableManifest] = Manifests.readTable(conf, dir)

  private[repl] def manifest(db: String, table: String): Option[TableManifest] =
    manifestAt(tablePath(db, table))

  /** The table's current version: its committed manifest or, for a dir no
    * catalog write made (a raw-written table, an `ext_` tree, a table an
    * older engine wrote), version -1 built from a listing — the partition
    * column from the `col=value` layout, `schema` as given (by default as
    * Spark infers it; a caller that needs no schema passes its own). Every
    * reader and writer starts here, so the no-manifest case is decided once.
    */
  private def current(dir: Path): TableManifest =
    current(dir, spark.read.parquet(dir.toString).schema)

  private def current(dir: Path, schema: => StructType): TableManifest =
    manifestAt(dir).getOrElse {
      val files = Manifests.listFiles(fs, dir)
      val partCol = files.map(_.path).filter(_.contains('/')).map(_.takeWhile(_ != '/'))
        .find(_.contains('=')).map(_.takeWhile(_ != '='))
      TableManifest(-1L, java.util.UUID.randomUUID().toString, partCol, schema, files)
    }

  /** A table as a DataFrame, with no Spark job: the current manifest's
    * files under its schema, so no footer is opened and no directory is
    * listed. The reader appends the partition columns it discovers from the
    * files' `col=value` dirs, as Spark's own inference does. A directory
    * with no manifest reads by listing.
    */
  def readTable(db: String, table: String): DataFrame = {
    val dir = tablePath(db, table)
    Manifests.readFiles(spark, dir, current(dir))
  }

  /** The one write path of every table: append `df` to the table's layout
    * as new files, then commit one manifest naming the files of `cur`
    * that `keep` accepts plus the new ones. `scope` names the top-level
    * dirs the write can land in; both listings that find the new files
    * stay inside it. `check` sees the new files before the commit.
    *
    * Spark's output committer moves every committed task dir it finds under
    * `_temporary` into the table, so a crashed job's leftovers there are
    * deleted first (one writer per table: nothing else is staging). After
    * the commit, files in scope that neither the new manifest nor a kept
    * [[DbEpochs]] epoch names (the superseded ones, and any a crashed write
    * left) are deleted. Returns the new files.
    */
  private def commitWrite(db: String, dir: Path, cur: TableManifest, df: DataFrame,
                          partCol: Option[String], keep: DataFile => Boolean,
                          scope: String => Boolean = _ => true,
                          check: Seq[DataFile] => Unit = _ => ()): Seq[DataFile] = {
    fs.delete(new Path(dir, "_temporary"), true)
    val before = Manifests.listFiles(fs, dir, scope).map(_.path).toSet
    (partCol match {
      case Some(p) => graft.PartitionedWrites.cluster(df, p).write.partitionBy(p)
      case None => df.write
    }).mode("append").parquet(dir.toString)
    val after = Manifests.listFiles(fs, dir, scope)
    val added = after.filterNot(f => before(f.path))
    check(added)
    val next = TableManifest(cur.version + 1, cur.id, partCol, df.schema,
      cur.files.filter(keep) ++ added)
    Manifests.commitTable(conf, dir, next)
    deleteUnnamed(dir, after, next.files.map(_.path).toSet ++ keptFiles(db).getOrElse(next.id, Set.empty))
    added
  }

  /** Data file paths, by table id, that a kept [[DbEpochs]] epoch of `db`
    * names — what pinned readers may still read. Empty without `epochMode`.
    */
  private def keptFiles(db: String): Map[String, Set[String]] =
    if (epochMode) DbEpochs(spark, this, db).keptFiles else Map.empty

  /** Delete the `listed` files `named` lacks, and each partition dir left
    * with no named file.
    */
  private def deleteUnnamed(dir: Path, listed: Seq[DataFile], named: Set[String]): Unit = {
    def partDir(path: String) = Some(path.indexOf('/')).filter(_ > 0).map(path.take)
    val dead = listed.filterNot(f => named(f.path))
    dead.foreach(f => fs.delete(new Path(dir, f.path), false))
    val namedDirs = named.flatMap(partDir)
    dead.flatMap(f => partDir(f.path)).distinct.filterNot(namedDirs)
      .foreach(d => fs.delete(new Path(dir, d), true))
  }

  /** The dir that holds table id `id` now: the table's recorded name, a
    * later name, or `_dropped/<id>`.
    */
  private def dirOf(db: String, table: String, id: String): Option[Path] =
    (Iterator(tablePath(db, table), new Path(dbPath(db), s"$DroppedDir/$id")) ++
      listTables(db).iterator.map(tablePath(db, _)))
      .find(d => manifestAt(d).exists(_.id == id))

  /** A table version a pinned epoch recorded, read from whichever dir
    * holds the table's id now.
    */
  private[repl] def readVersion(db: String, table: String, m: TableManifest): DataFrame =
    Manifests.readFiles(spark, dirOf(db, table, m.id).getOrElse(
      throw new IllegalStateException(s"pinned version of $db.$table is gone")), m)

  /** Retention of one db epoch that fell below the floor, from manifests
    * alone: delete the files its table versions name that no kept epoch
    * (`kept`, paths by table id) and no live manifest names, and a dropped
    * table no kept epoch names. Idempotent, so a crash mid-way is finished
    * by the next epoch commit.
    */
  private[repl] def release(db: String, tables: Seq[(String, TableManifest)],
                            kept: Map[String, Set[String]]): Unit =
    tables.foreach { case (t, m) =>
      dirOf(db, t, m.id).foreach { dir =>
        if (dir.getParent.getName == DroppedDir && !kept.contains(m.id)) fs.delete(dir, true)
        else deleteUnnamed(dir, m.files, kept.getOrElse(m.id, Set.empty) ++
          manifestAt(dir).toSeq.flatMap(_.files.map(_.path)))
      }
    }

  /** Replace a table's content with `df`: the new manifest names only the
    * new files.
    */
  private def overwrite(db: String, table: String, df: DataFrame,
                        partCol: Option[String]): Unit = {
    val dir = tablePath(db, table)
    commitWrite(db, dir, current(dir, df.schema), df, partCol, keep = _ => false): Unit
  }

  /** Overwrite-write a table (bootstrap load / CREATE_TABLE replay). */
  def writeTable(db: String, table: String, df: DataFrame): Unit =
    overwrite(db, table, df, None)

  // ------------------------------------------------------- partitioned tables

  /** Partition column of a table, if it is partitioned: the manifest's,
    * or for a dir with no manifest its layout (`col=value/` subdirs — one
    * level, the warehouse-standard date/bucket column). Dumps carry the
    * spec the same way, in their directory layout.
    */
  def partitionSpec(db: String, table: String): Option[String] =
    current(tablePath(db, table), new StructType()).partCol

  /** Overwrite-write a table partitioned by `partCol` (`col=value/`
    * subdirs). Incremental merges on such a table rewrite ONLY partitions
    * the delta touches ([[Load]]) — the difference between a per-batch
    * full-table rewrite and a bounded one at 100 TB. The partition column
    * must be carried in upsert payloads; the table key stays the first
    * DATA column.
    */
  def writeTablePartitioned(db: String, table: String, df: DataFrame,
                            partCol: String): Unit =
    overwrite(db, table, df, Some(partCol))

  /** Rewrite a table whose current files are an INPUT of `df` (ALTER,
    * TRUNCATE, compaction, event-log compaction and purge) in its own
    * layout: the new files land beside the ones `df` reads, and the
    * manifest commit replaces them.
    */
  def rewriteTable(db: String, table: String, df: DataFrame): Unit =
    overwrite(db, table, df, partitionSpec(db, table))

  /** Widen `df` to `newSchema`: missing columns appear as typed nulls,
    * column order follows the new schema. Existing columns must keep their
    * type (this models Hive's metadata-only ADD COLUMNS, the ALTER the
    * reference's REPL stream replicates; type changes are a rewrite job,
    * not an ALTER).
    */
  private def widenTo(df: DataFrame, newSchema: StructType): DataFrame = {
    val have = df.columns.toSet
    newSchema.fields.filter(f => have(f.name)).foreach { f =>
      val cur = df.schema(f.name).dataType
      require(cur == f.dataType,
        s"ALTER cannot change ${f.name}: $cur -> ${f.dataType}")
    }
    val widened = newSchema.fields.foldLeft(df) { (d, f) =>
      if (have(f.name)) d else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    widened.select(newSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Source-side ALTER TABLE (add columns): migrate the stored table to the
    * new schema and log an ALTER_TABLE event carrying the full new schema
    * DDL, so replicas replay the same migration from the event stream.
    */
  def alterTable(db: String, table: String, newSchema: StructType): Long = {
    rewriteTable(db, table, widenTo(readTable(db, table), newSchema))
    appendEvents(db, Seq(Event(table, OpAlterTable, null, newSchema.toDDL)))
  }

  /** Replay-side schema migration (no event append — the event already
    * exists in the stream being applied).
    */
  def migrateTable(db: String, table: String, newSchema: StructType): Unit =
    rewriteTable(db, table, widenTo(readTable(db, table), newSchema))

  /** Replay-side table rename: a pure metadata move (one fs rename; the
    * manifest travels with the files, and pinned epochs find it by id).
    * Idempotent for replayed deltas — if the old name is already gone and
    * the new one exists, the rename has been applied and this is a no-op.
    */
  def renameTableFs(db: String, from: String, to: String): Unit = {
    val (src, dst) = (tablePath(db, from), tablePath(db, to))
    if (!fs.exists(src) && fs.exists(dst)) return
    require(fs.exists(src), s"rename source missing: $db.$from")
    require(!fs.exists(dst), s"rename target exists: $db.$to")
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename failed: $db.$from -> $to")
  }

  /** Source-side RENAME TABLE: apply locally and log the event so replicas
    * replay the same move (row_json carries the new name).
    */
  def renameTable(db: String, from: String, to: String): Long = {
    renameTableFs(db, from, to)
    appendEvents(db, Seq(Event(from, OpRenameTable, null, to)))
  }

  /** Replay-side TRUNCATE: rewrite the table to zero rows, keeping its
    * CURRENT schema (Hive's TRUNCATE contract — data gone, metadata kept).
    */
  def truncateTableFs(db: String, table: String): Unit = {
    val schema = readTable(db, table).schema
    rewriteTable(db, table, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** Source-side TRUNCATE TABLE: apply locally and log the event. */
  def truncateTable(db: String, table: String): Long = {
    truncateTableFs(db, table)
    appendEvents(db, Seq(Event(table, OpTruncateTable, null, null)))
  }

  /** Small-file compaction for tables written by something other than the
    * merge (which already sizes its output by [[filesFor]]): a bootstrap
    * restore or an ALTER rewrite writes one file per input partition, so a
    * table can still hold more files than its bytes need. Rewrites an
    * unpartitioned table like ALTER does, to [[filesFor]] files; row
    * content is untouched. Counts the files the manifest names. Returns
    * (filesBefore, filesAfter).
    */
  def compactTable(db: String, table: String): (Int, Int) = {
    def files = current(tablePath(db, table), new StructType()).files
    val before = files
    val nOut = filesFor(before.map(_.bytes).sum)
    // never split files to reach a target — only merge
    if (nOut < before.size && partitionSpec(db, table).isEmpty)
      rewriteTable(db, table, readTable(db, table).repartition(nOut))
    (before.size, files.size)
  }

  /** Output files for `bytes` of table data, by the rule Spark's file
    * scan splits its input with (`FilePartition.maxSplitBytes`): a split
    * is `bytes / parallelism`, at least the file open cost (4 MB) and at
    * most `maxPartitionBytes` (128 MB). A small table is one file, a
    * mid-size one keeps one file per core so its rewrite keeps every core
    * busy, and past `parallelism × 128 MB` it is one file per 128 MB — the
    * split count a scan of the table already has. The merge and
    * [[compactTable]] both size their writes by it.
    */
  private def filesFor(bytes: Long): Int = {
    val sql = spark.sessionState.conf
    val split = math.min(sql.filesMaxPartitionBytes, math.max(sql.filesOpenCostInBytes,
      bytes / math.max(1, spark.sparkContext.defaultParallelism)))
    math.min(Int.MaxValue.toDouble, math.max(1.0, math.ceil(bytes.toDouble / split))).toInt
  }

  /** Drop a table. If a kept [[DbEpochs]] epoch names it, its files move
    * aside to `_dropped/<id>` (one fs rename), where pinned epochs still
    * read them until that epoch falls below the floor ([[release]]).
    */
  def dropTable(db: String, table: String): Unit = {
    val dir = tablePath(db, table)
    manifestAt(dir).filter(m => keptFiles(db).contains(m.id)) match {
      case Some(m) =>
        val to = new Path(dbPath(db), s"$DroppedDir/${m.id}")
        fs.mkdirs(to.getParent)
        if (!fs.rename(dir, to))
          throw new IllegalStateException(s"drop failed: $db.$table -> $to")
      case None => fs.delete(dir, true)
    }
  }

  // ------------------------------------------------- replication target plane
  // ([[ReplTarget]] — the file-native loader: one manifest commit per table
  // write, the watermark in the db epoch, run logs in `_repl_metadata/`
  // under the warehouse root)

  override def applyRename(db: String, from: String, to: String): Unit =
    renameTableFs(db, from, to)

  override def applyTruncate(db: String, table: String): Unit =
    truncateTableFs(db, table)

  /** The replica watermark (`REPL STATUS`) is the current db epoch's
    * ([[DbEpochs]]); None = never replicated. A db with no epoch reads the
    * `_repl_metadata/<db>/watermark` file an older engine kept, so its next
    * cycle continues incrementally; nothing writes that file any more.
    */
  override def watermark(db: String): Option[Long] =
    DbEpochs(spark, this, db).current.map(_._2).orElse(
      AtomicPointer.read(conf, new Path(root, s"$MetaDir/$db/watermark")).map(_.toLong))

  /** The watermark commit IS the db epoch commit: one pointer write
    * publishes the loaded tables and the watermark together.
    */
  override def commitWatermark(db: String, id: Long): Unit =
    DbEpochs(spark, this, db).commit(id): Unit

  /** One JSON file per run under `_repl_metadata/<db>/runs/`. */
  override def logRun(r: RunReport): Unit = {
    val out = fs.create(new Path(root, s"$MetaDir/${r.db}/runs/${System.nanoTime()}.json"), true)
    try out.write(r.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  override def extTablePath(db: String, table: String): Option[String] =
    Some(new Path(dbPath(db), table).toString)

  /** Bootstrap-scope repair, the catalog's one listing sweep: in every
    * table of `db` that has a manifest, delete `_temporary` and every data
    * file neither the manifest nor a kept epoch names; delete each
    * `_dropped` table no kept epoch names.
    */
  override def cleanStaging(db: String): Unit = {
    val kept = keptFiles(db)
    listTables(db).map(tablePath(db, _)).foreach { dir =>
      manifestAt(dir).foreach { m =>
        fs.delete(new Path(dir, "_temporary"), true)
        deleteUnnamed(dir, Manifests.listFiles(fs, dir), m.files.map(_.path).toSet ++ kept.getOrElse(m.id, Set.empty))
      }
    }
    val dropped = new Path(dbPath(db), DroppedDir)
    if (fs.exists(dropped)) fs.listStatus(dropped).map(_.getPath)
      .filterNot(d => kept.contains(d.getName)).foreach(fs.delete(_, true))
  }

  /** Nothing to repair: a crash never hides a table (its last committed
    * manifest still reads), and the next write in the same scope deletes
    * the files a crashed one left ([[commitWrite]]).
    */
  override def repairTable(db: String, table: String): Unit = ()

  /** One distributed merge: anti-join the dead keys away, union the
    * upserts in, write the result as new files and commit the manifest
    * that replaces the old ones. A PARTITIONED table takes the
    * partition-scoped path instead: only the partitions the delta touches
    * are rewritten.
    */
  override def mergeDml(db: String, table: String, upserts: DataFrame,
                        deadKeys: DataFrame): TableMergeStats = {
    val dir = tablePath(db, table)
    val cur = current(dir)
    val live = Manifests.readFiles(spark, dir, cur)
    val keyCol = live.schema.fields.head.name

    cur.partCol match {
      case Some(p) =>
        return mergePartitions(db, table, p, cur, live, keyCol, upserts, deadKeys)
      case None => ()
    }

    // Output files follow bytes ([[filesFor]]), not the input's file
    // count, which would otherwise grow by the upserts' partitions every
    // cycle. Bytes are the live files' sizes from the manifest plus the
    // planner's size of the upserts (exact for the cached delta [[Load]]
    // hands in; an unknown size only makes the coalesce a no-op).
    val liveBytes = cur.files.map(_.bytes).sum
    val upsertBytes = upserts.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue / 2)).toLong
    // Row count rides the rewrite's own job as a CollectMetrics node
    // (`observe`) — observability never adds a scan to the merge.
    val obs = new org.apache.spark.sql.Observation()
    val merged = live
      .join(deadKeys, live(keyCol).cast("string") === deadKeys("key"), "left_anti")
      .unionByName(upserts)
      .observe(obs, count(lit(1)).as("rows"))
      .coalesce(filesFor(liveBytes + upsertBytes))
    val added = commitWrite(db, dir, cur, merged, None, keep = _ => false)
    TableMergeStats(table, rowsMerged = obs.get("rows").asInstanceOf[Long],
      bytesRewritten = added.map(_.bytes).sum, partitionsTouched = 1)
  }

  /** Partition-scoped merge for a table laid out `partCol=value/`: rewrite
    * ONLY the partitions the delta touches. At 100 TB this is the load-path
    * optimization that matters most — a date-partitioned fact with a
    * recent-date delta rewrites a bounded slice per batch instead of the
    * whole table.
    *
    * Affected set = partitions where upserts land (payload value) ∪
    * partitions currently holding a dead key (a column-pruned key+partition
    * scan — parquet reads two columns). The affected VALUES come to the
    * driver, but that list is bounded by the delta's partition spread
    * (control-plane sized, like the touched-table list); row data never
    * leaves executors. The merged slice lands as new files in the affected
    * `col=value` dirs, and the manifest commit swaps those partitions'
    * files while every other partition keeps its files untouched.
    */
  private def mergePartitions(db: String, table: String, partCol: String,
                              cur: TableManifest, live: DataFrame,
                              keyCol: String, upserts: DataFrame,
                              deadKeys: DataFrame): TableMergeStats = {
    // Partition values are collected AS SPARK RENDERS THEM (cast to
    // string), not via JVM toString: partition type inference can read a
    // date-like dir back as TimestampType, whose java.sql.Timestamp
    // toString ("… 00:00:00.0") differs from the dir's value string —
    // Spark's own cast is the same rendering the writer used for the dir.
    def strVals(df: DataFrame): Array[String] =
      df.distinct().collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    val upVals = strVals(upserts.select(col(partCol).cast("string")))
    // An upsert without the partition column has no home partition — that is
    // a malformed payload, not a skippable row (silently dropping it would
    // commit the watermark past lost data, like the missing-table case).
    if (upVals.contains(null))
      throw new NonRetryableException(
        s"upsert payload for partitioned table $db.$table lacks $partCol")
    val deadVals = locateEventedPartitions(live, keyCol, partCol, deadKeys)
    val affected = (upVals ++ deadVals).distinct.filter(_ != null).toIndexedSeq
    if (affected.isEmpty) return TableMergeStats(table, 0L, 0L, 0L)

    val obs = new org.apache.spark.sql.Observation()
    val slice = live.filter(col(partCol).cast("string").isin(affected: _*))
    val merged = slice
      .join(deadKeys, slice(keyCol).cast("string") === deadKeys("key"), "left_anti")
      .unionByName(upserts.filter(col(partCol).cast("string").isin(affected: _*)))
      .observe(obs, count(lit(1)).as("rows"))

    // Files are matched to values by their dir's UNESCAPED name — Spark
    // percent-escapes special characters (space, colon, %, …) in partition
    // dirs, so a `s"$partCol=$v"` rebuild would miss those dirs and keep a
    // stale partition alive.
    val dir = tablePath(db, table)
    def valueOf(path: String): Option[String] =
      Some(path.takeWhile(_ != '/')).filter(_.startsWith(partCol + "="))
        .map(d => PartitionPaths.unescape(d.drop(partCol.length + 1)))
    val inScope = affected.toSet
    val added = commitWrite(db, dir, cur, merged, Some(partCol),
      keep = f => !valueOf(f.path).exists(inScope),
      scope = valueOf(_).exists(inScope),
      // an affected value with no live or new dir is a dir-name/value
      // mismatch: refused before the commit, never a silently kept partition
      check = added => {
        val seen = (cur.files ++ added).flatMap(f => valueOf(f.path)).toSet
        affected.find(v => !seen(v)).foreach { v =>
          throw new NonRetryableException(s"partition $partCol=$v of $db.$table " +
            "resolves to no live or written dir — refusing silent skip (dir-name/value mismatch)")
        }
      })
    TableMergeStats(table, rowsMerged = obs.get("rows").asInstanceOf[Long],
      bytesRewritten = added.map(_.bytes).sum, partitionsTouched = affected.length.toLong)
  }

  /** Partition values holding any EVENTED key — the merge must rewrite those
    * partitions even when no upsert lands there (deletes, and upserts that
    * MOVE a row out of its old partition). Locating them is the one step of
    * the partition-scoped merge that must look at the whole table, so it is
    * the term that decides whether incremental cost tracks the delta or the
    * table:
    *
    *   - Inline path: the delta's distinct keys are control-plane sized, so
    *     for integral/string key columns they inline into a NATIVE-typed
    *     `isin` filter. Catalyst compiles it to an InSet and pushes it to
    *     the parquet scan, where file/row-group min-max statistics prune
    *     everything outside the delta's key range — measured at the scale
    *     study's 30× point (18 M rows, 480 partitions): 3.25 s full
    *     two-column scan → 0.82 s. The previous semi join compared
    *     `cast(keyCol as string)`, and a cast on the scan column defeats
    *     every form of pushdown.
    *   - Fallback (non-inlinable dtype, > [[DbCatalog.LocateInlineMaxKeys]]
    *     keys, or a key that does not parse as the column's type): the
    *     distributed semi join, with the cast moved to the SMALL side so
    *     the scan column stays native and runtime filters still apply.
    *
    * Null keys match nothing on either path (SQL equality and `isin` are
    * both null-rejecting), preserving the original join's semantics.
    */
  private def locateEventedPartitions(live: DataFrame, keyCol: String,
                                      partCol: String,
                                      deadKeys: DataFrame): Array[String] = {
    val dt = live.schema(keyCol).dataType
    def parse(s: String): Any = dt match {
      case LongType    => s.toLong
      case IntegerType => s.toInt
      case ShortType   => s.toShort
      case ByteType    => s.toByte
      case StringType  => s
      case other       => throw new IllegalStateException(s"non-inlinable $other")
    }
    val inlined: Option[Seq[Any]] = dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType =>
        val rows = deadKeys.select(col("key")).limit(LocateInlineMaxKeys + 1).collect()
        if (rows.length > LocateInlineMaxKeys) None
        else try Some(rows.toSeq.filterNot(_.isNullAt(0)).map(r => parse(r.getString(0))))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    val located = inlined match {
      case Some(ks) =>
        live.filter(col(keyCol).isin(ks: _*)).select(col(partCol).cast("string"))
      case None =>
        live.select(col(keyCol).as("_k"), col(partCol))
          .join(deadKeys.select(col("key").cast(dt).as("_dk")),
            col("_k") === col("_dk"), "left_semi")
          .select(col(partCol).cast("string"))
    }
    located.distinct().collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
  }

  // ------------------------------------------------------------------ views

  /** Views (`/root/reference/README.md:4` — "managed, external tables and
    * views" all replicate) are control-plane objects: a name + SQL text over
    * the db's tables, stored one file per view under `_views/` (the `_`
    * prefix hides the dir from table listings and Spark file indexes).
    * Replication therefore moves definitions, never materialized rows —
    * the same contract as Hive's view replication.
    */
  private def viewsPath(db: String) = new Path(dbPath(db), ViewsDir)
  private def viewPath(db: String, name: String) = new Path(viewsPath(db), s"$name.sql")

  def createView(db: String, name: String, sql: String): Unit = {
    val out = fs.create(viewPath(db, name), true)
    try out.write(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def dropView(db: String, name: String): Unit = fs.delete(viewPath(db, name), false)

  def viewExists(db: String, name: String): Boolean = fs.exists(viewPath(db, name))

  def listViews(db: String): Seq[String] =
    if (!fs.exists(viewsPath(db))) Seq.empty
    else fs.listStatus(viewsPath(db)).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".sql")).map(_.stripSuffix(".sql")).sorted

  def viewSql(db: String, name: String): Option[String] =
    if (!viewExists(db, name)) None
    else {
      val in = fs.open(viewPath(db, name))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** Evaluate a view: its SQL runs over the db's MANAGED tables, which are
    * registered as session temp views for resolution (single-level views —
    * a view referencing another view is out of scope, as in the dump
    * format). External (`ext_`) tables are raw file trees synced by
    * [[ExtCopy]], not parquet relations, so they are not registered.
    */
  def readView(db: String, name: String): DataFrame = {
    val sql = viewSql(db, name).getOrElse(
      throw new NoSuchElementException(s"view $db.$name"))
    listTables(db).filterNot(isExternal)
      .foreach(t => readTable(db, t).createOrReplaceTempView(t))
    spark.sql(sql)
  }

  // ------------------------------------------------------------ change log

  /** Ordered change log for a db; empty DataFrame with the right schema if
    * nothing was ever logged.
    */
  def readEvents(db: String): DataFrame = {
    val p = eventsPath(db)
    Manifests.readFiles(spark, p, current(p, EventSchema))
  }

  /** Events strictly after `fromId` (pushed down to the parquet scan). */
  def readEventsAfter(db: String, fromId: Long): DataFrame =
    readEvents(db).filter(col("event_id") > fromId)

  /** Current transaction watermark of a db = max logged event id, 0 if none.
    * This is the source-side analogue of `REPL STATUS`
    * (`/root/reference/beeline_functions.sh:3-25`).
    */
  def currentTxnId(db: String): Long = {
    val r = readEvents(db).agg(max("event_id")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Event-log COMPACTION — the engine's analogue of the Hive ACID
    * compactor the reference's source leans on implicitly (its change
    * stream is Hive's transaction log, which Hive compacts in the
    * background; the engine owns its log, so it owns the compactor too).
    * Without it a long-lived source's log grows without bound, and every
    * incremental dump's `event_id > watermark` scan pays list/footer costs
    * for dead history.
    *
    * Keeps, per table and per BARRIER EPOCH, only the LATEST DML event per
    * key, plus every non-DML event. A barrier is any DDL that changes what
    * a (table, key) means downstream (CREATE/DROP/TRUNCATE/RENAME — after
    * `RENAME t→u`, later events named `t` describe a NEW table, so same-key
    * DML must not compact across it; ALTER is deliberately NOT a barrier:
    * replay merges pre- and post-ALTER DML identically either way). Replay
    * of the compacted log from any watermark is byte-identical to the full
    * log — the net-effect merge ([[Load]]) already ignores superseded
    * events; compaction just stops storing them. The global max event_id
    * survives by construction (it is the latest of its key), so source
    * watermarks and id assignment are unaffected.
    *
    * Scale shape: barriers are control-plane rare, so they come to the
    * driver and broadcast back as per-table sorted arrays; the epoch of an
    * event is then a codegen'd array scan instead of a per-table running
    * window (which would put one hot table's whole history in one task).
    * The latest-per-key pick is a (table, epoch, key) window — fine-grained
    * keys, shuffles evenly. The rewrite is one manifest commit, like every
    * table rewrite. Returns (eventsBefore, eventsAfter).
    *
    * CONCURRENCY: compaction is a WRITER of the event log — the caller
    * must hold the db's single-writer lock, exactly like [[appendEvents]]
    * (an append committed between the rewrite's read and its manifest
    * commit would drop out of the log). The natural slot is a
    * maintenance window under the same per-db lock the sweep/cron holds.
    */
  def compactEvents(db: String): (Long, Long) = {
    val ev = readEvents(db)
    val before = ev.count()
    if (before == 0) return (0L, 0L)
    val isDml = col("op").isin(OpUpsert, OpDelete)
    val barriers: Map[String, Seq[Long]] = ev.filter(!isDml &&
        col("op").isin(OpCreateTable, OpDropTable, OpTruncateTable, OpRenameTable))
      .select(col("table"), col("event_id")).collect()
      .groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(_.getLong(1)).toSeq.sorted
      }
    val barrierLit = typedLit(barriers.map { case (t, ids) => t -> ids })
    // tables with no barriers: try_element_at → null → epoch 0 for all rows
    val withEpoch = ev.withColumn("_epoch",
      coalesce(size(filter(try_element_at(barrierLit, col("table")),
        x => x <= col("event_id"))), lit(0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table"), col("_epoch"), col("key"))
      .orderBy(col("event_id").desc)
    val keep = withEpoch
      .withColumn("_rn", when(isDml, row_number().over(w)).otherwise(lit(1)))
      .filter(col("_rn") === 1)
      .select(EventSchema.fieldNames.map(col).toIndexedSeq: _*)
    rewriteTable(db, EventsTable, keep)
    (before, readEvents(db).count())
  }

  /** Event-log RETENTION: drop events at or below `belowId` outright —
    * safe once every replica's watermark is ≥ `belowId` (nothing will ever
    * replay them; a NEW replica bootstraps from a snapshot at the current
    * txn, not from log genesis). Refuses to purge the log head past the
    * newest event: the max event_id IS the source's transaction counter,
    * and losing it would restart id assignment ([[appendEvents]]) into
    * already-consumed ranges. Returns events dropped.
    */
  def purgeEvents(db: String, belowId: Long): Long = {
    val r = readEvents(db)
      .agg(max("event_id"), count(when(col("event_id") <= belowId, 1))).head()
    val cur = if (r.isNullAt(0)) 0L else r.getLong(0)
    require(belowId < cur,
      s"purge up to $belowId would drop the newest event (txn counter $cur)")
    val dropped = r.getLong(1)
    if (dropped > 0) dropEventsThrough(db, belowId)
    dropped
  }

  /** The purge's rewrite alone, for a caller that already knows `belowId`
    * is below the txn counter and how many events it drops (event ids are
    * unique, so that count is exact without a second scan).
    */
  private[repl] def dropEventsThrough(db: String, belowId: Long): Unit =
    rewriteTable(db, EventsTable, readEvents(db).filter(col("event_id") > belowId))

  /** Append DML/DDL events. Ids are assigned here, contiguously after the
    * current watermark; callers hold the per-db writer lock (single writer,
    * mirroring the reference's dump lock `beeline_functions.sh:92-101`).
    */
  def appendEvents(db: String, events: Seq[Event]): Long = {
    val from = currentTxnId(db)
    val rows = events.zipWithIndex.map { case (e, i) =>
      Row(from + i + 1, e.table, e.op, e.key, e.rowJson)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), EventSchema)
    val dir = eventsPath(db)
    commitWrite(db, dir, current(dir, EventSchema), df, None, keep = _ => true)
    from + events.size
  }
}

object DbCatalog {
  /** Reserved change-log table name. Deliberately NOT underscore-prefixed:
    * Spark's file index treats leading `_`/`.` path components as hidden
    * metadata and can silently skip them in globbed listings.
    */
  val EventsTable = "graft_events"

  /** Largest delta-key set inlined into the locate scan's native `isin`
    * filter (see [[DbCatalog.locateEventedPartitions]]). 100 k keys is a
    * few MB of literals in the broadcast InSet — driver-safe — while deltas
    * beyond it are big enough that the distributed semi join's full scan
    * amortizes anyway.
    */
  val LocateInlineMaxKeys = 100000

  /** Warehouse-root directory of the replication run logs. */
  val MetaDir = "_repl_metadata"

  /** Per-db directory of view definition files (`<name>.sql`). */
  val ViewsDir = "_views"

  /** Per-db directory where an epoch-mode drop moves a table, by id. */
  val DroppedDir = "_dropped"

  /** One change event. Engine DML semantics (documented divergence from
    * Hive ACID row-ids, which are not reproducible outside Hive): every DML
    * event carries a primary-key string; UPSERT inserts-or-replaces the row
    * with that key, DELETE removes it. DDL events (`create_table` /
    * `drop_table`) carry the schema/table in `row_json`. Replay of the same
    * range is therefore idempotent — the property the reference's
    * retry-until-converged loop depends on
    * (`/root/reference/beeline_functions.sh:212-236`).
    */
  final case class Event(table: String, op: String, key: String, rowJson: String)

  val OpUpsert = "UPSERT"
  val OpDelete = "DELETE"
  val OpCreateTable = "CREATE_TABLE"
  val OpDropTable = "DROP_TABLE"
  val OpAlterTable = "ALTER_TABLE" // row_json carries the full NEW schema DDL
  val OpRenameTable = "RENAME_TABLE" // row_json carries the new table name
  val OpTruncateTable = "TRUNCATE_TABLE" // no payload; schema survives
  val OpCreateView = "CREATE_VIEW" // row_json carries the view's SQL text
  val OpDropView = "DROP_VIEW"

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("row_json", StringType, nullable = true)))
}
