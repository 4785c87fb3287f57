package graft.streaming

import graft.operators.Warehouse
import graft.util.DeltaView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

/** Streaming incremental view maintenance: a CDC stream of
  * (op ∈ I/D, key, measure) rows maintains a materialized per-key aggregate
  * (count + additive sum) through [[MicroBatch]] — the always-on form of
  * [[graft.operators.Warehouse.maintainAgg]], exactly as
  * [[StreamingReplication]] is the always-on form of the batch replication
  * cycle (reference context: the cron loop in
  * `/root/reference/README.md:64-90`).
  *
  * Exactly-once effect = Spark's checkpointed offsets (at-least-once
  * micro-batch delivery) × the idempotent versioned commit of
  * [[graft.util.DeltaView]] (atomic pointer swap; replayed batches
  * no-op; crash windows recover by overwrite-replay).
  *
  * 100 TB shape: per trigger, cost ∝ micro-batch delta (map-side-combined
  * signed aggregate) + a full-outer merge against the TOUCHED keys' view
  * rows, and the commit ships only those keys' rows plus tombstones; the
  * log compacts every `compactEvery` commits and keep-two pruning bounds
  * storage.
  */
object ViewMaintenance {

  val ViewSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("cnt", LongType),
    StructField("sum_m", DecimalType(38, 2))))

  private def deltaView(spark: SparkSession, viewDir: String,
                        compactEvery: Int = 8): DeltaView =
    DeltaView(spark, viewDir, keyCols = Seq("key"),
      compactEvery = compactEvery)

  /** Apply one micro-batch: skip if already committed (replay), else merge
    * with `maintainAgg` (full-outer + cnt>0 drop) and commit. Public so
    * tests can drive replays directly. The commit ships only the TOUCHED
    * keys' recomputed rows plus their tombstones — O(batch), not O(view),
    * per trigger. A touched key whose count drops to zero is
    * tombstoned without a re-insert (maintainAgg's cnt>0 filter), and a
    * delete tombstone for a not-yet-live key is a no-op by the
    * [[DeltaView]] fold contract, so the blanket per-touched-key
    * tombstone is safe.
    */
  def applyBatchDelta(spark: SparkSession, viewDir: String, batch: DataFrame,
                      batchId: Long, compactEvery: Int = 8): Unit = {
    if (batch.isEmpty) return // idle trigger: no commit
    deltaView(spark, viewDir, compactEvery).applyBatch(batchId) { cur =>
      val base = cur.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ViewSchema))
      val touched = batch.select(col("key")).distinct()
      // restrict the merge to the touched keys: view rows of untouched
      // keys stay in place (that is the whole point of the delta core)
      val curTouched = base.join(touched.select(col("key").as("_tk")),
        base("key") <=> col("_tk"), "left_semi")
      val merged = Warehouse.maintainAgg(curTouched, batch)
        .select(col("key"), col("cnt"), col("sum_m").cast(DecimalType(38, 2)))
      (merged, touched)
    }: Unit
  }

  /** The current materialized view (empty frame before the first commit). */
  def readViewDelta(spark: SparkSession, viewDir: String): DataFrame =
    deltaView(spark, viewDir).read().getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ViewSchema))
}
