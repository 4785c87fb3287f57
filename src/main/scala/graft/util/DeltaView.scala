package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A materialized, versioned dataset with idempotent O(batch) micro-batch
  * commits — the storage of the streamed maintainers
  * ([[graft.streaming.ViewMaintenance]], [[graft.streaming.Scd2Maintenance]],
  * [[graft.streaming.AnomalyMonitor]], the dedup/curation/postings
  * streams), built on the manifest core ([[Manifests]]) the catalog
  * tables use.
  *
  * A commit writes only the batch's CHANGES — inserted rows plus key
  * tombstones — and the read side folds them, so steady-state commit cost
  * tracks the batch while a periodic compaction (every [[compactEvery]]
  * commits) folds the log back into one base and pays the snapshot cost
  * 1/K as often; `compactEvery = 1` writes a fresh base on every commit
  * (snapshot-per-commit behaviour). The same recipe as an LSM tree /
  * log-structured table format, expressed as plain parquet + one group
  * manifest — no new storage engine, and every property below is
  * spec-gated (`DeltaViewSpec`).
  *
  * Layout: `dir/base_v<B>` (a compacted snapshot; the first commit is one
  * by construction) and `dir/delta_v<V>` for V in (B, current] (the
  * view's rows with an `_op` column: `I` rows carry payload, `D` rows
  * carry only the key). `dir/CURRENT` holds one [[GroupManifest]]: the
  * committed batchId, the version, and one [[TableManifest]] per live
  * version dir, naming its files. A view is a [[DeltaView.Group]] of one;
  * coupled views of one maintainer are a group of several, committed by
  * ONE pointer swap, so a crash leaves every view old or every view new.
  * A replayed batch (`batchId <= committed`) no-ops; a crash between a
  * data write and the pointer swap replays by overwriting the same
  * version directory.
  *
  * Fold rule (the read side): an `I` row at version v is live unless some
  * tombstone for its key exists at version v' > v. Deletes apply BEFORE
  * inserts within a batch, so delete-then-reinsert in one batch works
  * (same version ⇒ not killed by the strict `>`), and re-inserting a key
  * deleted in an EARLIER version revives it. The tombstone set is bounded
  * by the compaction cadence, so the fold is a scan of base+deltas plus a
  * BROADCAST anti-join — no shuffle, no window; column pruning and filter
  * pushdown reach the parquet scans exactly as on a plain table. Each
  * version dir reads through [[Manifests.readFiles]], so building a read
  * runs no Spark job.
  *
  * Single-writer is ENFORCED, not implied: every commit holds the group
  * dir's advisory `_writer.lock` marker ([[graft.repl.Locks]]: atomic
  * create + stale steal, the replication plane's dump lock), so a second
  * maintainer misconfigured onto the same dir fails fast with "another
  * maintainer owns this view" instead of silently racing the pointer
  * (spec: DeltaViewSpec "writer lock"). A marker that names a dead pid on
  * this host, or is older than `writerLockStaleMs`, is a crashed
  * maintainer's and is stolen; that is safe, because the dead writer never
  * swapped the pointer and the next commit overwrites its partial version
  * dirs.
  *
  * Caller contract (what the streamed maintainers already enforce): the
  * live view's keys are UNIQUE — a batch only inserts keys that are not
  * currently live and only deletes keys that are (a delete of a dead key
  * is a harmless no-op tombstone). A key's rows all land in one insert
  * version; "modify" is delete+reinsert.
  *
  * Reader grace: a `read()` frame stays valid for one further commit;
  * every commit keeps the files of the new state and its predecessor.
  * Each group manifest lists, as `retired`, the version dirs an earlier
  * state held that may still be on disk; the next commit deletes
  * the ones still there, and one a crash left behind stays listed until a
  * later commit finds it gone — no directory listing. An external server
  * holding a frame across more triggers retries on FileNotFoundException.
  *
  * @param keyCols   the live-unique key (tombstones carry exactly these)
  * @param compactEvery fold the log into a new base when it reaches this
  *                     many deltas — the knob trading read amplification
  *                     (≤ `compactEvery` files + tombstone anti-join per
  *                     read) against amortized write cost (snapshot price
  *                     every K commits)
  * @param basePartitionCols optional `partitionBy` for compacted bases, so
  *                          a serving layout (e.g. band buckets) keeps
  *                          partition pruning on the base scan
  * @param writerLockStaleMs a writer-lock marker older than this is judged
  *                          a crashed maintainer and stolen (see
  *                          [[graft.repl.Locks]]) — size it above the
  *                          longest single commit
  */
final case class DeltaView(spark: SparkSession, dir: String,
                           keyCols: Seq[String], compactEvery: Int = 8,
                           basePartitionCols: Seq[String] = Nil,
                           writerLockStaleMs: Long = DeltaView.StaleMs) {
  require(keyCols.nonEmpty, "keyCols must be non-empty")
  require(compactEvery >= 1, "compactEvery must be >= 1")

  private def solo = DeltaView.Group(spark, dir, Seq(this))

  /** (committedBatchId, version, baseVersion), None before any commit.
    * Fails with a diagnosable error on a foreign pointer format — opening
    * a directory an older storage core wrote must say so, not bootstrap
    * over it.
    */
  def committed: Option[(Long, Long, Long)] = solo.committed

  /** The current view, or None before the first commit. */
  def read(): Option[DataFrame] = solo.read().head

  /** Apply one micro-batch: `fn` maps the current view (None on the first
    * batch) to `(inserts, deleteKeys)` — the rows to add and the keys to
    * retract (deletes apply first). Skips replayed batches; commits a
    * delta (or a compacted base every [[compactEvery]] commits)
    * atomically; prunes files no recent state needs. Returns true iff the
    * batch was applied.
    */
  def applyBatch(batchId: Long)
                (fn: Option[DataFrame] => (DataFrame, DataFrame)): Boolean =
    solo.applyBatch(batchId)(views => Seq(fn(views.head)))

  /** Rewrite the ENTIRE view as one fresh compacted base: `fn` maps the
    * current view to its replacement (same schema). This is the lifecycle
    * commit a delta log cannot express as a batch — re-quantizing an
    * embedding index, a layout migration — where every row changes at
    * once: routing it through [[applyBatch]] as delete-all + reinsert-all
    * would put the whole corpus in the tombstone set and break the fold's
    * broadcast bound. A rebase ignores the compaction cadence (it IS a
    * compaction), keeps the replay contract (`batchId` ≤ committed
    * no-ops), holds the writer lock, and prunes like any commit. Requires
    * committed state — an empty view has nothing to rewrite; bootstrap
    * through [[applyBatch]].
    */
  def rebase(batchId: Long)(fn: DataFrame => DataFrame): Boolean =
    solo.rebase(batchId)(views => Seq(fn(views.head)))

  /** Live rows of a (base ∪ deltas) frame carrying `_v`/`_op`. Key
    * equality is null-safe (`<=>`): a maintainer whose key can be null
    * (SCD2 dimensions route null keys through the affected path) must be
    * able to tombstone it.
    *
    * Tombstone-volume bound: the broadcast side is the RETAINED tombstone
    * set — at most the deletes of the last `compactEvery` uncompacted
    * commits (compaction folds them away). Callers size `compactEvery`
    * so (delete rate × compactEvery) stays broadcast-sized (≲ 10⁷ keys);
    * a delete-heavy stream with a large compactEvery (BenchScale passes
    * 1000 for WRITE-cost isolation on insert-only batches) should compact
    * more often rather than push the fold to a shuffle anti-join.
    */
  private def fold(all: DataFrame): DataFrame = {
    val tomb = all.filter(col("_op") === "D")
      .select(keyCols.map(k => col(k).as(s"_dk_$k")) :+ col("_v").as("_dv"): _*)
    val ins = all.filter(col("_op") === "I")
    val cond: Column = keyCols.map(k => ins(k) <=> tomb(s"_dk_$k"))
      .reduce(_ && _) && tomb("_dv") > ins("_v")
    ins.join(broadcast(tomb), cond, "left_anti").drop("_v", "_op")
  }

  /** The view folded from its live version dirs (`name -> manifest`, the
    * base first), each read as its own relation tagged with its version.
    */
  private def readVersions(groupDir: String, tables: Seq[(String, TableManifest)]): DataFrame = {
    val parts = tables.map { case (name, m) =>
      val df = Manifests.readFiles(spark, new Path(groupDir, name), m).withColumn("_v", lit(m.version))
      if (name.endsWith(s"base_v${m.version}")) df.withColumn("_op", lit("I")) else df
    }
    fold(parts.reduce(_ unionByName _))
  }

  /** This view's version dirs after a commit at `newV`: the live ones of
    * `cur` plus a new delta, or one new base when the log has reached
    * [[compactEvery]] (always on the first commit). `write(dir, df,
    * partitionCols)` writes one version dir and returns it named.
    */
  private def commitChanges(cur: Seq[(String, TableManifest)], view: Option[DataFrame],
                            inserts: DataFrame, deleteKeys: DataFrame, newV: Long,
                            write: DeltaView.Writer): Seq[(String, TableManifest)] = {
    val dels = deleteKeys.select(keyCols.map(col): _*).distinct()
    if (cur.headOption.forall(b => newV - b._2.version >= compactEvery)) {
      // fold the log + this batch into one snapshot: (cur − deletes) ∪ ins
      val next = view match {
        case None => inserts
        case Some(v) =>
          val keyed = dels.columns.foldLeft(dels)((d, c) =>
            d.withColumnRenamed(c, s"_dk_$c"))
          v.join(broadcast(keyed),
              keyCols.map(k => v(k) <=> keyed(s"_dk_$k")).reduce(_ && _),
              "left_anti")
            .unionByName(inserts)
      }
      Seq(base(newV, next, write))
    } else {
      // O(batch) delta: I rows with payload, D rows key-only (null payload)
      val schema = inserts.schema
      val padded = schema.fields.foldLeft(dels) { (d, f) =>
        if (keyCols.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col): _*)
      cur :+ write(s"delta_v$newV", inserts.withColumn("_op", lit("I"))
        .unionByName(padded.withColumn("_op", lit("D"))), Nil)
    }
  }

  /** One compacted base at version `v`. Clustered on the partition columns
    * BEFORE a partitioned write: without it every write task touches every
    * partition directory (measured pathological on the IVF layout — 32
    * tasks × 1600 cells ≈ 51 k small files at the 100× point); with it the
    * base lands as ~one file per partition value, which is also the
    * serving shape partition pruning wants to list.
    */
  private def base(v: Long, next: DataFrame, write: DeltaView.Writer): (String, TableManifest) = {
    val clustered =
      if (basePartitionCols.nonEmpty) next.repartition(basePartitionCols.map(col): _*)
      else next
    write(s"base_v$v", clustered, basePartitionCols)
  }
}

object DeltaView {

  /** Default writer-lock staleness: 15 minutes. */
  val StaleMs: Long = 15 * 60 * 1000L

  /** The writer-lock marker in a group's dir. */
  val WriterLockFile = "_writer.lock"

  /** Writes a view's version dir with partition columns; names it in the group. */
  private type Writer = (String, DataFrame, Seq[String]) => (String, TableManifest)

  /** Views committed together under one pointer, `dir/CURRENT`: a batch
    * lands in every view or in none, under one writer lock and one replay
    * guard. Each view keeps its version dirs under its own `dir`, which is
    * the group's dir (a view of its own) or a subdirectory of it; the
    * group manifest names a version dir by its path under the group's
    * dir. Every view commits a version per batch, so the version and the
    * batchId are the group's; each view has its own base and cadence.
    * The lock goes stale at the smallest of the views' `writerLockStaleMs`.
    * A grouped view is addressed only through its group: a view's own
    * pointer under a group, or a group naming a view opened on its own,
    * is refused by name, never bootstrapped over.
    */
  final case class Group(spark: SparkSession, dir: String, views: Seq[DeltaView]) {
    require(views.map(_.dir) == Seq(dir) ||
      views.forall(v => new Path(v.dir).getParent == new Path(dir)), s"views must be $dir or its subdirs")
    private val prefixes = views.map(v => if (v.dir == dir) "" else new Path(v.dir).getName + "/")

    private def conf = spark.sparkContext.hadoopConfiguration
    private def pointer = new Path(dir, "CURRENT")

    private def manifest: Option[GroupManifest] =
      AtomicPointer.read(conf, pointer).map(parse(pointer, _)).orElse {
        val up = new Path(new Path(dir).getParent, "CURRENT")
        if (prefixes == Seq("") && AtomicPointer.read(conf, up).filter(_.startsWith("{"))
            .exists(GroupManifest.parse(_).tables.exists(_._1.startsWith(new Path(dir).getName + "/"))))
          throw new IllegalStateException(s"$dir is a view of the group at ${up.getParent} — use the group")
        for (v <- views if v.dir != dir; p = new Path(v.dir, "CURRENT"); s <- AtomicPointer.read(conf, p)) {
          parse(p, s) // a foreign format is refused by its own name
          throw new IllegalStateException(s"$p is a view's own pointer, but ${p.getParent} " +
            s"is a view of the group at $dir — rebuild or migrate")
        }
        None
      }

    private def parse(p: Path, s: String): GroupManifest =
      if (s.startsWith("{")) GroupManifest.parse(s)
      else throw new IllegalStateException(s"$p is not a DeltaView pointer (got '$s'; " +
        (s.count(_ == ',') match {
          case 1 => "a 2-field pointer is a VersionedView directory"
          case 2 => "a 3-field pointer is a DeltaView directory from before group manifests"
          case _ => "an unknown format"
        }) + " — rebuild or migrate)")

    /** View `i`'s live version dirs (base first), names relative to `dir`. */
    private def tablesOf(g: GroupManifest, i: Int): Seq[(String, TableManifest)] =
      g.tables.collect { case (n, Some(m)) if n.startsWith(prefixes(i)) => n -> m }

    /** (committedBatchId, version, the first view's base version), None
      * before any commit.
      */
    def committed: Option[(Long, Long, Long)] =
      manifest.map(g => (g.batchId, g.version, tablesOf(g, 0).head._2.version))

    /** Each view, or None before the first commit. */
    def read(): Seq[Option[DataFrame]] = readAt(manifest)

    private def readAt(g: Option[GroupManifest]): Seq[Option[DataFrame]] =
      views.indices.map(i => g.map(m => views(i).readVersions(dir, tablesOf(m, i))))

    /** Apply one micro-batch to every view: `fn` maps the current views
      * (None before the first batch) to one `(inserts, deleteKeys)` per
      * view, as [[DeltaView.applyBatch]] does for one. Returns true iff
      * the batch was applied.
      */
    def applyBatch(batchId: Long)
                  (fn: Seq[Option[DataFrame]] => Seq[(DataFrame, DataFrame)]): Boolean =
      commit(batchId) { (cur, newV, write) =>
        val current = readAt(cur)
        val changes = fn(current)
        require(changes.size == views.size, s"${changes.size} changes for ${views.size} views")
        views.indices.flatMap { i =>
          views(i).commitChanges(cur.toSeq.flatMap(tablesOf(_, i)), current(i),
            changes(i)._1, changes(i)._2, newV, write(i))
        }
      }

    /** Rewrite every view as one fresh base, as [[DeltaView.rebase]] does
      * for one.
      */
    def rebase(batchId: Long)(fn: Seq[DataFrame] => Seq[DataFrame]): Boolean =
      commit(batchId) { (cur, newV, write) =>
        require(cur.nonEmpty,
          s"rebase requires committed state at $dir — bootstrap via applyBatch")
        views.indices.zip(fn(readAt(cur).map(_.get))).map { case (i, next) =>
          views(i).base(newV, next, write(i))
        }
      }

    /** The one commit path: under the writer lock, skip a replayed batch,
      * let `body` write the next version's dirs (through the writer of
      * each view, `write(i)`), commit them as one group manifest, then
      * delete what no kept state needs.
      */
    private def commit(batchId: Long)
                      (body: (Option[GroupManifest], Long, Int => Writer)
                        => Seq[(String, TableManifest)]): Boolean = {
      val lockFile = new Path(dir, WriterLockFile)
      val lock = graft.repl.Locks.tryAcquire(lockFile.getFileSystem(conf), lockFile,
        java.util.UUID.randomUUID.toString, views.map(_.writerLockStaleMs).min).getOrElse(
        throw new graft.repl.LockBusyException(s"another maintainer owns this view: $lockFile"))
      try {
        val cur = manifest // read ONCE per batch (guards pointer + view read)
        if (cur.exists(_.batchId >= batchId)) return false
        val newV = cur.fold(0L)(_.version + 1)
        val fs = new Path(dir).getFileSystem(conf)
        val tables = body(cur, newV, i => (versionDir, df, partitionCols) => {
          val name = prefixes(i) + versionDir
          val out = new Path(dir, name)
          val w = df.write.mode("overwrite")
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(out.toString)
          name -> TableManifest(newV, name, None, df.schema, Manifests.listFiles(fs, out))
        })
        // retention: the dirs an older state held are deleted once no kept
        // state names them; one still on disk (a skipped delete) stays listed
        val live = tables.map(_._1).toSet
        val due = cur.toSeq.flatMap(_.retired).filter(t => fs.exists(new Path(dir, t)))
        val retired = due ++ cur.toSeq.flatMap(_.tables.map(_._1)).filterNot(live)
        Manifests.commitGroup(conf, pointer,
          GroupManifest(batchId, newV, tables.map { case (n, m) => n -> Some(m) }, retired))
        due.foreach(t => fs.delete(new Path(dir, t), true))
        true
      } finally lock.release()
    }
  }
}
