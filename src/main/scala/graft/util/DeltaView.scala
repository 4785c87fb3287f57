package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A materialized, versioned dataset with idempotent O(batch) micro-batch
  * commits — the one storage core of the streamed maintainers
  * ([[graft.streaming.ViewMaintenance]], [[graft.streaming.Scd2Maintenance]],
  * [[graft.streaming.AnomalyMonitor]], the dedup/curation/postings
  * streams).
  *
  * A commit writes only the batch's CHANGES — inserted rows plus key
  * tombstones — and the read side folds them, so steady-state commit cost
  * tracks the batch while a periodic compaction (every [[compactEvery]]
  * commits) folds the log back into one base and pays the snapshot cost
  * 1/K as often; `compactEvery = 1` writes a fresh base on every commit
  * (snapshot-per-commit behaviour). The same recipe as an LSM tree /
  * log-structured table format, expressed as plain parquet + one atomic
  * pointer — no new storage engine, and every property below is
  * spec-gated (`DeltaViewSpec`).
  *
  * Layout: `dir/base_v<B>` (a compacted snapshot; the first commit is one
  * by construction), `dir/delta_v<V>` for V in (B, current] (the view's
  * rows with an `_op` column: `I` rows carry payload, `D` rows carry only
  * the key), `dir/CURRENT` one-line pointer `"<batchId>,<version>,<base>"`
  * swapped via [[AtomicPointer]] (OVERWRITE rename — no crash instant
  * without a pointer). A replayed batch (`batchId <= committed`) no-ops; a
  * crash between a data write and the pointer swap replays by overwriting
  * the same version directory.
  *
  * Fold rule (the read side): an `I` row at version v is live unless some
  * tombstone for its key exists at version v' > v. Deletes apply BEFORE
  * inserts within a batch, so delete-then-reinsert in one batch works
  * (same version ⇒ not killed by the strict `>`), and re-inserting a key
  * deleted in an EARLIER version revives it. The tombstone set is bounded
  * by the compaction cadence, so the fold is a scan of base+deltas plus a
  * BROADCAST anti-join — no shuffle, no window; column pruning and filter
  * pushdown reach the parquet scans exactly as on a plain table.
  *
  * Single-writer is ENFORCED, not implied: every commit holds the dir's
  * advisory [[WriterLock]] (atomic-create marker + stale-steal), so a
  * second maintainer misconfigured onto the same dir fails fast with
  * "another maintainer owns this view" instead of silently racing the
  * pointer (spec: DeltaViewSpec "writer lock").
  *
  * Caller contract (what the streamed maintainers already enforce): the
  * live view's keys are UNIQUE — a batch only inserts keys that are not
  * currently live and only deletes keys that are (a delete of a dead key
  * is a harmless no-op tombstone). A key's rows all land in one insert
  * version; "modify" is delete+reinsert.
  *
  * Reader grace: a `read()` frame stays valid for one further commit;
  * pruning keeps every file either of the last [[DeltaView.KeepVersions]]
  * states needs (each state u needs the largest base ≤ u plus the deltas
  * after it). That covers the maintainers' own read-merge-commit cycle
  * plus one commit of external grace; an external server holding a frame
  * across more triggers retries on FileNotFoundException.
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
                           writerLockStaleMs: Long = 15 * 60 * 1000L) {
  require(keyCols.nonEmpty, "keyCols must be non-empty")
  require(compactEvery >= 1, "compactEvery must be >= 1")

  private def conf = spark.sparkContext.hadoopConfiguration
  private def pointer = new Path(dir, "CURRENT")
  private val ownerId = java.util.UUID.randomUUID.toString

  /** (committedBatchId, version, baseVersion), None before any commit.
    * Fails with a diagnosable error on a foreign pointer format — opening
    * a directory written by the retired snapshot-commit core (2-field
    * pointer) must say so, not throw a MatchError or bootstrap over it.
    */
  def committed: Option[(Long, Long, Long)] =
    AtomicPointer.read(conf, pointer).map { s =>
      s.split(",") match {
        case Array(b, v, base) if Seq(b, v, base).forall(
            // ASCII digits only, length-bounded: Character.isDigit accepts
            // non-ASCII Unicode digits and an unbounded run overflows
            // toLong — both must land in the diagnostic below, not a
            // NumberFormatException
            _.matches("\\d{1,18}")) =>
          (b.toLong, v.toLong, base.toLong)
        case _ => throw new IllegalStateException(
          s"$pointer is not a DeltaView pointer (got '$s'; a 2-field " +
          "pointer is a VersionedView directory — rebuild or migrate)")
      }
    }

  /** The view at a known commit state (None = not yet materialized). */
  def readAt(cur: Option[(Long, Long, Long)]): Option[DataFrame] =
    cur.map { case (_, v, base) =>
      val b = spark.read.parquet(s"$dir/base_v$base")
        .withColumn("_v", lit(base)).withColumn("_op", lit("I"))
      val all = (base + 1 to v).foldLeft(b) { (acc, i) =>
        acc.unionByName(
          spark.read.parquet(s"$dir/delta_v$i").withColumn("_v", lit(i)))
      }
      fold(all)
    }

  /** The current view, or None before the first commit. */
  def read(): Option[DataFrame] = readAt(committed)

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

  /** Apply one micro-batch: `fn` maps the current view (None on the first
    * batch) to `(inserts, deleteKeys)` — the rows to add and the keys to
    * retract (deletes apply first). Skips replayed batches; commits a
    * delta (or a compacted base every [[compactEvery]] commits)
    * atomically; prunes files no recent state needs. Returns true iff the
    * batch was applied.
    */
  def applyBatch(batchId: Long)
                (fn: Option[DataFrame] => (DataFrame, DataFrame)): Boolean = {
    val lock = WriterLock.acquire(spark, dir, ownerId, writerLockStaleMs)
    try applyLocked(batchId)(fn) finally lock.release()
  }

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
  def rebase(batchId: Long)(fn: DataFrame => DataFrame): Boolean = {
    val lock = WriterLock.acquire(spark, dir, ownerId, writerLockStaleMs)
    try {
      val cur = committed
      require(cur.nonEmpty,
        s"rebase requires committed state at $dir — bootstrap via applyBatch")
      if (cur.exists(_._1 >= batchId)) return false
      val next = fn(readAt(cur).get)
      val newV = cur.get._2 + 1
      val clustered =
        if (basePartitionCols.nonEmpty)
          next.repartition(basePartitionCols.map(col): _*)
        else next
      val w = clustered.write.mode("overwrite")
      (if (basePartitionCols.nonEmpty) w.partitionBy(basePartitionCols: _*)
       else w).parquet(s"$dir/base_v$newV")
      AtomicPointer.commit(conf, pointer, s"$batchId,$newV,$newV")
      prune(newV)
      true
    } finally lock.release()
  }

  private def applyLocked(batchId: Long)
                         (fn: Option[DataFrame] => (DataFrame, DataFrame)): Boolean = {
    val cur = committed // read ONCE per batch (guards pointer + view read)
    if (cur.exists(_._1 >= batchId)) return false
    val view = readAt(cur)
    val (inserts, deleteKeys) = fn(view)
    val dels = deleteKeys.select(keyCols.map(col): _*).distinct()
    val newV = cur.map(_._2 + 1).getOrElse(0L)
    // first commit: compacting (the base exists from version 0 on)
    val compacting = cur.forall { case (_, v, base) =>
      v + 1 - base >= compactEvery
    }
    val newBase = if (compacting) newV else cur.get._3
    if (compacting) {
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
      // cluster on the partition columns BEFORE a partitioned write:
      // without it every write task touches every partition directory
      // (measured pathological on the IVF layout — 32 tasks × 1600 cells
      // ≈ 51 k small files at the 100× point); with it the base lands as
      // ~one file per partition value, which is also the serving shape
      // partition pruning wants to list
      val clustered =
        if (basePartitionCols.nonEmpty)
          next.repartition(basePartitionCols.map(col): _*)
        else next
      val w = clustered.write.mode("overwrite")
      (if (basePartitionCols.nonEmpty) w.partitionBy(basePartitionCols: _*)
       else w).parquet(s"$dir/base_v$newV")
    } else {
      // O(batch) delta: I rows with payload, D rows key-only (null payload)
      val schema = inserts.schema
      val padded = schema.fields.foldLeft(dels) { (d, f) =>
        if (keyCols.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col): _*)
      inserts.withColumn("_op", lit("I"))
        .unionByName(padded.withColumn("_op", lit("D")))
        .write.mode("overwrite").parquet(s"$dir/delta_v$newV")
    }
    AtomicPointer.commit(conf, pointer, s"$batchId,$newV,$newBase")
    prune(newV)
    true
  }

  /** Delete every base/delta no state in the last [[DeltaView.KeepVersions]]
    * needs: state u needs the largest base ≤ u plus deltas (base, u], so
    * the keep-floor is the largest base ≤ (newV − KeepVersions + 1). Listing
    * makes the cleanup self-healing if a past prune was crash-skipped.
    */
  private def prune(newV: Long): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    def versionsOf(prefix: String): Seq[(Long, Path)] =
      fs.globStatus(new Path(dir, prefix + "*")).toSeq.flatMap { st =>
        val v = st.getPath.getName.stripPrefix(prefix)
        if (v.nonEmpty && v.forall(_.isDigit)) Some((v.toLong, st.getPath))
        else None
      }
    val bases = versionsOf("base_v")
    val oldest = math.max(0L, newV - DeltaView.KeepVersions + 1)
    val floor = bases.map(_._1).filter(_ <= oldest)
      .reduceOption(_ max _).getOrElse(0L)
    (bases ++ versionsOf("delta_v"))
      .filter(_._1 < floor).foreach { case (_, p) => fs.delete(p, true) }
  }
}

object DeltaView {

  /** States whose files survive a commit: the new one and its predecessor. */
  val KeepVersions = 2
}
