package graft.repl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Directory-backed database catalog + engine-owned change log.
  *
  * A "database" is a directory `<root>/<db>/` holding one parquet directory
  * per table plus the engine's append-only event log `_events`. This is the
  * Spark-native stand-in for the Hive metastore + ACID write-ids the
  * reference leans on (`/root/reference/README.md:36-44`): plain Spark
  * tables are not transactional, so the engine owns the change log and the
  * monotonically increasing `event_id` plays the role of Hive's
  * `last_repl_id` transaction watermark (`/root/reference/HQL/replstatus.hql:2-4`).
  *
  * Scale notes: all reads/writes go through `spark.read.parquet` /
  * `df.write.parquet` on Hadoop `FileSystem` paths, so the same code runs on
  * HDFS/S3 with a real cluster; nothing ever collects table data to the
  * driver. The event log is itself a parquet table, so "events since
  * watermark" is a pushed-down filter scan, not a log replay on the driver.
  */
final case class DbCatalog(spark: SparkSession, root: String,
                           epochMode: Boolean = false)
    extends ReplSource with ReplTarget {
  import DbCatalog._

  // ------------------------- db-epoch pre-image stashes (see [[DbEpochs]])
  // With `epochMode` on and an epoch committed, every destructive table op
  // MOVES the data it would have deleted into the current epoch's stash
  // (rename, no copy), so pinned readers keep a consistent pre-load view.

  private def epochStash(db: String, kind: String, table: String): Option[Path] =
    if (!epochMode) None
    else {
      val e = DbEpochs(spark, this, db)
      e.current.map { case (n, _) => e.stashPath(n, kind, table) }
    }

  /** Stash `src` (a pre-image the non-epoch path would DELETE) under the
    * current epoch, or delete it when epochs are off, no epoch is
    * committed yet, or the stash already holds this table's pre-image (a
    * RETRY's backup holds post-merge data once the stash exists).
    */
  private def stashOrDelete(db: String, table: String, src: Path): Unit =
    epochStash(db, "full", table) match {
      case Some(dst) if fs.exists(src) && !fs.exists(dst) =>
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(s"epoch stash rename failed: $src -> $dst")
      case _ => fs.delete(src, true)
    }

  /** Partition-dir variant: move each `col=value` dir of `bakPath` into
    * the epoch's partial stash (first pre-image per partition wins) and
    * record `_absent_` markers for partitions the merge CREATED; then
    * drop the remainder. Crash-retry caveat: a cycle that crashes inside
    * the swap loop and retries can stash a created partition's merged
    * data as its pre-image — pre-images are exact for crash-free cycles
    * (the spec'd contract), best-effort across a crashed retry.
    */
  private def stashPartsOrDelete(db: String, table: String, bakPath: Path,
                                 absentDirNames: Seq[String]): Unit =
    epochStash(db, "parts", table) match {
      case Some(dst) =>
        fs.mkdirs(dst)
        if (fs.exists(bakPath))
          fs.listStatus(bakPath).filter(_.isDirectory).foreach { st =>
            val d = new Path(dst, st.getPath.getName)
            val marker = new Path(dst, "_absent_" + st.getPath.getName)
            if (!fs.exists(d) && !fs.exists(marker)) {
              if (!fs.rename(st.getPath, d))
                throw new IllegalStateException(
                  s"epoch stash rename failed: ${st.getPath} -> $d")
            }
          }
        // absent markers live in a SIBLING stash ("absent/<table>/<dir>"),
        // never inside the parquet tree (root-level non-parquet files trip
        // the reader even with a `_` prefix)
        epochStash(db, "absent", table).foreach { ab =>
          fs.mkdirs(ab)
          absentDirNames.foreach { n =>
            val marker = new Path(ab, n)
            if (!fs.exists(new Path(dst, n)) && !fs.exists(marker))
              fs.create(marker, true).close()
          }
        }
        fs.delete(bakPath, true)
      case None => fs.delete(bakPath, true)
    }

  def dbPath(db: String): Path = new Path(root, db)
  private def tablePath(db: String, table: String) = new Path(dbPath(db), table)
  private def eventsPath(db: String) = new Path(dbPath(db), EventsTable)

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

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

  /** A table as a DataFrame, with no Spark job. Spark's own inference
    * (`mergeSchema=false`) opens one data file's footer inside a job; this
    * reads that footer directly, outside any job, and hands the schema to
    * the reader, which still appends the partition columns it discovers. A
    * table with no data file falls through to plain inference, so a
    * missing or empty table keeps Spark's own error.
    */
  def readTable(db: String, table: String): DataFrame = {
    val path = tablePath(db, table)
    firstDataFile(path) match {
      case Some(f) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path.toString)
      case None => spark.read.parquet(path.toString)
    }
  }

  /** The first leaf file under `path` that Spark's file index would list:
    * names starting with `.` or `_` are hidden, except `col=value` dirs.
    */
  private def firstDataFile(path: Path): Option[FileStatus] = {
    def visible(s: FileStatus) = {
      val n = s.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }
    def first(dir: Path): Option[FileStatus] = {
      val (files, dirs) = fs.listStatus(dir).filter(visible).partition(_.isFile)
      files.headOption.orElse(dirs.iterator.flatMap(d => first(d.getPath)).nextOption())
    }
    if (fs.isDirectory(path)) first(path) else None
  }

  /** Overwrite-write a table (bootstrap load / merge rewrite). */
  def writeTable(db: String, table: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(tablePath(db, table).toString)

  // ------------------------------------------------------- partitioned tables

  /** Physical partition column of a parquet dir laid out `col=value/`, if
    * any. The LAYOUT is the metadata: dumps and replicas recover the spec
    * from directory names, so nothing extra has to travel in the manifest.
    * One partition level (the warehouse-standard date/bucket column).
    * Values with filesystem-special characters are fine: Spark
    * percent-escapes them in dir names, and the merge path swaps dirs by
    * their REAL names ([[Load]]), never by reconstructed ones.
    */
  def partitionColOf(path: Path): Option[String] =
    if (!fs.exists(path)) None
    else fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .find(n => n.contains("=") && !n.startsWith("_"))
      .map(_.split("=")(0))

  /** Partition column of a table, if it is partitioned. */
  def partitionSpec(db: String, table: String): Option[String] =
    partitionColOf(tablePath(db, table))

  /** Overwrite-write a table partitioned by `partCol` (`col=value/`
    * subdirs). Incremental merges on such a table rewrite ONLY partitions
    * the delta touches ([[Load]]) — the difference between a per-batch
    * full-table rewrite and a bounded one at 100 TB. The partition column
    * must be carried in upsert payloads; the table key stays the first
    * DATA column.
    */
  def writeTablePartitioned(db: String, table: String, df: DataFrame,
                            partCol: String): Unit =
    graft.PartitionedWrites.cluster(df, partCol)
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(tablePath(db, table).toString)

  /** Rewrite a table whose current files are an INPUT of `df` — parquet
    * cannot overwrite its own read path, so stage to a temp dir and swap
    * by rename (the same crash-ordered sequence as the merge swap in
    * [[Load]]: live is never gone without a backup existing).
    */
  def rewriteTable(db: String, table: String, df: DataFrame): Unit = {
    val live = tablePath(db, table)
    val tmp = new Path(dbPath(db), s"_tmp_$table")
    val bak = new Path(dbPath(db), s"_bak_$table")
    df.write.mode("overwrite").parquet(tmp.toString)
    stashOrDelete(db, table, bak) // stale bak = a crashed cycle's pre-image
    if (!fs.rename(live, bak))
      throw new IllegalStateException(s"backup rename failed for $db.$table")
    if (!fs.rename(tmp, live)) {
      fs.rename(bak, live)
      throw new IllegalStateException(s"rewrite swap failed for $db.$table")
    }
    stashOrDelete(db, table, bak)
  }

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

  /** Replay-side table rename: a pure metadata move (one fs rename).
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
    // epoch mode: a marker redirects pinned reads of the OLD name to the
    // new name's resolution chain (data travels with the rename)
    epochStash(db, "renamed", from).foreach { marker =>
      if (!fs.exists(marker)) {
        fs.mkdirs(marker.getParent)
        val out = fs.create(marker, false)
        try out.write(to.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
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
    * table can still hold more files than its bytes need. Rewrites through
    * the same staged swap as ALTER, to [[filesFor]] files; row content is
    * untouched. Returns (filesBefore, filesAfter).
    */
  def compactTable(db: String, table: String): (Int, Int) = {
    val path = tablePath(db, table)
    def dataFiles: Seq[Path] = fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val before = dataFiles.size
    val nOut = filesFor(fs.getContentSummary(path).getLength)
    if (nOut < before) // never split files to reach a target — only merge
      rewriteTable(db, table, readTable(db, table).repartition(nOut))
    (before, dataFiles.size)
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
    val conf = spark.sessionState.conf
    val split = math.min(conf.filesMaxPartitionBytes, math.max(conf.filesOpenCostInBytes,
      bytes / math.max(1, spark.sparkContext.defaultParallelism)))
    math.min(Int.MaxValue.toDouble, math.max(1.0, math.ceil(bytes.toDouble / split))).toInt
  }

  def dropTable(db: String, table: String): Unit =
    stashOrDelete(db, table, tablePath(db, table))

  // ------------------------------------------------- replication target plane
  // ([[ReplTarget]] — the file-native loader: staged rename swaps for
  // atomicity, metadata in `_repl_metadata/` under the warehouse root)

  override def applyRename(db: String, from: String, to: String): Unit =
    renameTableFs(db, from, to)

  override def applyTruncate(db: String, table: String): Unit =
    truncateTableFs(db, table)

  private lazy val metaStore = MetadataStore(spark, root)
  override def watermark(db: String): Option[Long] = metaStore.watermark(db)
  override def commitWatermark(db: String, id: Long): Unit =
    metaStore.commitWatermark(db, id)
  override def logRun(r: RunReport): Unit = metaStore.logRun(r)

  override def extTablePath(db: String, table: String): Option[String] =
    Some(new Path(dbPath(db), table).toString)

  /** Bootstrap-scope staging debris from a crashed earlier load: `_tmp_`/
    * `_bak_` dirs a crashed swap left behind (repairTable handles the
    * incremental path; bootstrap replaces wholesale, so both dirs go).
    */
  override def cleanStaging(db: String): Unit =
    fs.listStatus(dbPath(db)).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("_tmp_") || p.getName.startsWith("_bak_"))
      .foreach(fs.delete(_, true))

  /** Repair a merge swap interrupted between its two renames: if the live
    * dir was renamed to `_bak_<table>` but the staged dir never became live,
    * restore the backup; if the crash hit after the new live landed, the
    * leftover backup is cleared. A PARTITIONED backup (a bak dir holding
    * `col=value` subdirs) repairs per partition the same way — each
    * partition dir is its own swap unit. Idempotent — safe on every retry
    * entry.
    */
  override def repairTable(db: String, table: String): Unit = {
    val live = tablePath(db, table)
    val bak = new Path(dbPath(db), s"_bak_$table")
    if (!fs.exists(bak)) return
    partitionColOf(bak) match {
      case Some(_) =>
        fs.listStatus(bak).filter(_.isDirectory).foreach { st =>
          val lp = new Path(live, st.getPath.getName)
          if (!fs.exists(lp)) {
            if (!fs.rename(st.getPath, lp))
              throw new IllegalStateException(
                s"partition backup restore failed for $db.$table/${st.getPath.getName}")
          } // else: completed swap — leave for the stash sweep below
        }
        // remaining bak dirs are a COMPLETED swap's pre-images (crash hit
        // between the swap loop and the stash/cleanup) — epoch mode must
        // stash them, not drop them
        stashPartsOrDelete(db, table, bak, Nil)
      case None =>
        if (!fs.exists(live)) {
          if (!fs.rename(bak, live))
            throw new IllegalStateException(s"backup restore failed for $db.$table")
        } else stashOrDelete(db, table, bak) // completed swap's pre-image
    }
  }

  /** One distributed merge: anti-join the dead keys away, union the
    * upserts in. A PARTITIONED table takes the partition-scoped path
    * instead: only the partitions the delta touches are rewritten and
    * swapped.
    *
    * Parquet overwrite of the read path requires a materialization barrier:
    * stage to a temp dir, then swap. The swap is crash-recoverable: live is
    * renamed aside to `_bak_<table>` (atomic), the staged dir renamed in,
    * then the backup dropped — at no point is the table unrecoverable, and
    * [[repairTable]] repairs any window a crash can hit. On HDFS all steps
    * are metadata renames.
    */
  override def mergeDml(db: String, table: String, upserts: DataFrame,
                        deadKeys: DataFrame): TableMergeStats = {
    val current = readTable(db, table)
    val keyCol = current.schema.fields.head.name

    partitionSpec(db, table) match {
      case Some(p) =>
        return mergePartitions(db, table, p, current, keyCol, upserts, deadKeys)
      case None => ()
    }

    val livePath = tablePath(db, table)
    val tmpPath = new Path(dbPath(db), s"_tmp_$table")
    val bakPath = new Path(dbPath(db), s"_bak_$table")
    // Output files follow bytes ([[filesFor]]), not the input's file
    // count, which would otherwise grow by the upserts' partitions every
    // cycle. Bytes are the live table's size from the namenode plus the
    // planner's size of the upserts (exact for the cached delta [[Load]]
    // hands in; an unknown size only makes the coalesce a no-op).
    val upsertBytes = upserts.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue / 2)).toLong
    // Row count rides the rewrite's own job as a CollectMetrics node
    // (`observe`) — observability never adds a scan to the merge.
    val obs = new org.apache.spark.sql.Observation()
    val merged = current
      .join(deadKeys, current(keyCol).cast("string") === deadKeys("key"), "left_anti")
      .unionByName(upserts)
      .observe(obs, count(lit(1)).as("rows"))
      .coalesce(filesFor(fs.getContentSummary(livePath).getLength + upsertBytes))

    merged.write.mode("overwrite").parquet(tmpPath.toString)
    // Bytes from the staged dir's metadata (a namenode summary, not a data
    // read) BEFORE the swap renames it live.
    val bytes = fs.getContentSummary(tmpPath).getLength
    // stale leftover from an earlier completed swap — in epoch mode a
    // crashed cycle's bak is that cycle's PRE-IMAGE: stash it, don't drop
    stashOrDelete(db, table, bakPath)
    if (!fs.rename(livePath, bakPath))
      throw new IllegalStateException(s"backup rename failed for $db.$table")
    CrashHooks.betweenSwapRenames() // fault injection: the swap's worst window
    if (!fs.rename(tmpPath, livePath)) {
      fs.rename(bakPath, livePath) // restore before failing
      throw new IllegalStateException(s"merge swap failed for $db.$table")
    }
    stashOrDelete(db, table, bakPath)
    TableMergeStats(table, rowsMerged = obs.get("rows").asInstanceOf[Long],
      bytesRewritten = bytes, partitionsTouched = 1)
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
    * leaves executors. The staged slice swaps in per partition dir — each
    * `col=value` dir is its own crash-recoverable swap unit
    * ([[repairTable]] repairs partition-level backups).
    */
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
  private def locateEventedPartitions(current: DataFrame, keyCol: String,
                                      partCol: String,
                                      deadKeys: DataFrame): Array[String] = {
    val dt = current.schema(keyCol).dataType
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
        current.filter(col(keyCol).isin(ks: _*)).select(col(partCol).cast("string"))
      case None =>
        current.select(col(keyCol).as("_k"), col(partCol))
          .join(deadKeys.select(col("key").cast(dt).as("_dk")),
            col("_k") === col("_dk"), "left_semi")
          .select(col(partCol).cast("string"))
    }
    located.distinct().collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
  }

  private def mergePartitions(db: String, table: String, partCol: String,
                              current: DataFrame, keyCol: String,
                              upserts: DataFrame,
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
    val deadVals = locateEventedPartitions(current, keyCol, partCol, deadKeys)
    val affected = (upVals ++ deadVals).distinct.filter(_ != null).toIndexedSeq
    if (affected.isEmpty) return TableMergeStats(table, 0L, 0L, 0L)

    val obs = new org.apache.spark.sql.Observation()
    val slice = current.filter(col(partCol).cast("string").isin(affected: _*))
    val merged = slice
      .join(deadKeys, slice(keyCol).cast("string") === deadKeys("key"), "left_anti")
      .unionByName(upserts.filter(col(partCol).cast("string").isin(affected: _*)))
      .observe(obs, count(lit(1)).as("rows"))

    val livePath = tablePath(db, table)
    val tmpPath = new Path(dbPath(db), s"_tmp_$table")
    val bakPath = new Path(dbPath(db), s"_bak_$table")
    graft.PartitionedWrites.cluster(merged, partCol)
      .write.mode("overwrite").partitionBy(partCol).parquet(tmpPath.toString)
    val bytes = fs.getContentSummary(tmpPath).getLength
    // stale bak from a crashed cycle = that cycle's per-partition
    // pre-images: stash before clearing (no-op outside epoch mode)
    stashPartsOrDelete(db, table, bakPath, Nil)
    fs.mkdirs(bakPath)
    // Swap each affected partition dir: live aside to bak (if present), then
    // staged in (if present — a fully-deleted partition has no staged dir
    // and simply disappears). Dir NAMES are taken from the dirs Spark
    // actually wrote (and the live layout), never reconstructed from raw
    // values — Spark percent-escapes special characters in partition dirs
    // (space, colon, %, …), so a `s"$partCol=$v"` rebuild would miss those
    // dirs and silently skip the partition. Values are matched by their
    // unescaped dir string; an affected value resolving to NO staged or
    // live dir is a refused invariant violation, not a skip.
    def dirsByValue(base: Path): Map[String, Path] =
      if (!fs.exists(base)) Map.empty
      else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(partCol + "="))
        .map(p => PartitionPaths.unescape(p.getName.drop(partCol.length + 1)) -> p)
        .toMap
    val tmpDirs = dirsByValue(tmpPath)
    val liveDirs = dirsByValue(livePath)
    val createdDirs = scala.collection.mutable.Buffer[String]()
    affected.foreach { vStr =>
      val tmpDir = tmpDirs.get(vStr)
      val liveDir = liveDirs.get(vStr)
      if (tmpDir.isEmpty && liveDir.isEmpty)
        throw new NonRetryableException(
          s"partition $partCol=$vStr of $db.$table resolves to no staged or " +
          "live dir — refusing silent skip (dir-name/value mismatch)")
      val dirName = tmpDir.orElse(liveDir).get.getName
      if (liveDir.isEmpty) createdDirs += dirName // absent pre-merge
      liveDir.foreach { ld =>
        if (!fs.rename(ld, new Path(bakPath, dirName)))
          throw new IllegalStateException(
            s"partition backup rename failed for $db.$table/$dirName")
      }
      tmpDir.foreach { td =>
        if (!fs.rename(td, new Path(livePath, dirName)))
          throw new IllegalStateException(
            s"partition swap failed for $db.$table/$dirName")
      }
    }
    stashPartsOrDelete(db, table, bakPath, createdDirs.toSeq)
    fs.delete(tmpPath, true)
    TableMergeStats(table, rowsMerged = obs.get("rows").asInstanceOf[Long],
      bytesRewritten = bytes, partitionsTouched = affected.length.toLong)
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
    if (fs.exists(p)) spark.read.schema(EventSchema).parquet(p.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], EventSchema)
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
    * keys, shuffles evenly. Rewrite goes through the same staged swap as
    * table rewrites. Returns (eventsBefore, eventsAfter).
    *
    * CONCURRENCY: compaction is a WRITER of the event log — the caller
    * must hold the db's single-writer lock, exactly like [[appendEvents]]
    * (an append racing the rewrite's dir swap could land a part-file in
    * the dir being renamed aside and lose it). The natural slot is a
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
    df.write.mode("append").parquet(eventsPath(db).toString)
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

  /** Per-db directory of view definition files (`<name>.sql`). */
  val ViewsDir = "_views"

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
