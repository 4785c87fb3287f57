package graft.streaming

import graft.operators.Warehouse
import graft.util.DeltaView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SCD Type-2 dimension maintenance: a change stream of
  * (key, ts, tb, attr) observations maintains the versioned dimension of
  * [[graft.operators.Warehouse.scd2]] through [[MicroBatch]] — the
  * dimension-side companion of [[ViewMaintenance]] (together they are the
  * replica-warehouse consumers of the change stream the replication plane
  * ships).
  *
  * Incremental step: only keys OBSERVED in the micro-batch are reworked.
  * A key's existing versions ARE its compacted observation sequence, so
  * re-running the batch `scd2` over (existing versions as observations ∪
  * the key's new observations) extends the history exactly — compaction,
  * version closing and the version ordinal all come out of the same
  * deterministic operator the batch path uses. Untouched keys' rows are
  * carried over verbatim (anti-join).
  *
  * Ordering contract: per-key EVENT-TIME-ORDERED delivery across batches
  * (the watermarked-CDC norm). Equal-(ts, tb) collisions with history are
  * exact — versions replay with their ORIGINAL retained tie-break, so ties
  * resolve as the batch recompute would. The one divergence from a
  * full-history recompute is a late observation landing between two
  * already-COMPACTED historical observations (the compacted duplicates are
  * gone by design — the dimension is the retained state, not the raw log).
  * Within a batch, order is free: `scd2` sorts.
  *
  * Exactly-once effect and 100 TB shape: [[graft.util.DeltaView]]
  * commits (atomic pointer swap, replay no-ops, keep-two pruning); per
  * trigger the cost is ∝ batch + the affected keys' version history (a
  * semi join on the key against the current dimension), and the commit
  * ships only the affected keys' rows plus tombstones — never the full
  * dimension rework.
  */
object Scd2Maintenance {

  private def deltaView(spark: SparkSession, dimDir: String,
                        compactEvery: Int = 8): DeltaView =
    // (k, valid_from, tb) is unique per dimension row — valid_from alone
    // is not (two changes at one timestamp make a zero-width version), but
    // each retained version keeps its OPENING observation's tie-break.
    // An affected key retires ALL its current rows and re-inserts its
    // recomputed history in one commit. Key equality in the fold is
    // null-safe, so the null dimension key routes through the affected
    // path like any other key.
    DeltaView(spark, dimDir, keyCols = Seq("k", "valid_from", "tb"),
      compactEvery = compactEvery)

  /** Apply one micro-batch of (key, ts, tb, attr) rows: affected keys
    * replay their retained versions ∪ the new observations through the
    * batch `scd2`, and the commit ships only their recomputed rows plus
    * tombstones for their retired rows — O(batch + affected history), not
    * O(dimension), per trigger. Empty batches (an idle trigger) are a
    * no-op — no version rewrite, no commit.
    */
  def applyBatchDelta(spark: SparkSession, dimDir: String, batch: DataFrame,
                      batchId: Long, compactEvery: Int = 8): Unit = {
    if (batch.isEmpty) return
    deltaView(spark, dimDir, compactEvery).applyBatch(batchId) { cur =>
      val obs = batch.select(col("key").as("k"), col("ts"), col("tb"),
        col("attr").as("segment"))
      cur match {
        case None =>
          val dim = Warehouse.scd2(obs, col("k"), col("ts"), col("tb"),
            col("segment"))
          (dim, dim.limit(0).select("k", "valid_from", "tb"))
        case Some(dim) =>
          // Null-SAFE key join: a null dimension key must route through
          // the affected path like any other (plain equality would leave
          // its rows live AND rebuild it fresh — duplicating its history).
          val affectedKeys = obs.select(col("k").as("_ak")).distinct()
          val affected = dim.join(affectedKeys,
            dim("k") <=> affectedKeys("_ak"), "left_semi")
            // both the replay input and the tombstone set read `affected`;
            // localCheckpoint runs the fold once and self-releases
            .localCheckpoint()
          // Existing versions re-enter as observations with their ORIGINAL
          // retained tie-break (scd2 keeps the opening observation's tb),
          // so an equal-ts arrival lands exactly where the batch recompute
          // would put it.
          val replay = affected.select(col("k"), col("valid_from").as("ts"),
              col("tb"), col("segment"))
            .unionByName(obs)
          (Warehouse.scd2(replay, col("k"), col("ts"), col("tb"),
            col("segment")), affected.select("k", "valid_from", "tb"))
      }
    }: Unit
  }

  /** The current dimension (None before the first commit). */
  def readDimDelta(spark: SparkSession, dimDir: String): Option[DataFrame] =
    deltaView(spark, dimDir).read()
}
