package graft.streaming

import graft.operators.TimeSeries
import graft.util.DeltaView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Always-on operational anomaly monitoring: an event stream maintains a
  * versioned (key, hr, cnt) hourly-count view through [[MicroBatch]], and
  * the CURRENT view is scored on demand with the batch
  * [[graft.operators.TimeSeries.rollingZScore]] — the streaming form of
  * q127, exactly as [[ViewMaintenance]] is of the batch aggregate
  * maintainer. Because serving scores the SAME operator over the maintained
  * counts, stream-fed monitoring is provably equivalent to a batch
  * recompute over all events so far (AnomalyMonitorSpec), and every
  * determinism property of the batch op (closed-form integer-sum variance,
  * once-rounded z) carries over unchanged.
  *
  * Exactly-once effect = Spark's checkpointed offsets × the idempotent
  * versioned commit ([[DeltaView]]: atomic pointer swap, replayed
  * batches no-op, crash windows recover by overwrite-replay).
  *
  * 100 TB shape: per trigger, the micro-batch aggregates map-side to its
  * touched (key, hour) grain before one merge groupBy against the view —
  * the view itself is keys × active hours, orders of magnitude smaller
  * than the event volume, and a commit ships only the touched cells'
  * rows plus tombstones, so cold hours are never rewritten. A warehouse deployment additionally
  * range-partitions the view by hour so the merge rewrites only recent
  * partitions (the [[graft.repl.Catalog]] partition-scoped merge pattern);
  * retention (dropping hours older than the longest lookback + reporting
  * horizon) bounds the view, since the z-score never reads past its
  * 24-hour frame.
  */
object AnomalyMonitor {

  val ViewSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("hr", LongType),
    StructField("cnt", LongType)))

  private def emptyView(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ViewSchema)

  /** Micro-batch (key, us) events at the hourly grain. Integral floor
    * division (q127's construction): double `/` would truncate toward
    * zero on pre-epoch hours.
    */
  private def hourlyDelta(batch: DataFrame): DataFrame = batch
    .select(col("key"), expr("us DIV 3600000000").as("hr"))
    .groupBy(col("key"), col("hr")).agg(count(lit(1)).as("cnt"))

  private def deltaView(spark: SparkSession, viewDir: String,
                        compactEvery: Int = 8): DeltaView =
    DeltaView(spark, viewDir, keyCols = Seq("key", "hr"),
      compactEvery = compactEvery)

  /** Apply one micro-batch of (key, us) events: aggregate to the hourly
    * grain, re-sum the TOUCHED (key, hour) cells and commit only their rows
    * plus tombstones — O(batch grain), not O(view), per trigger, which is
    * what lets retention-scale views commit at the batch's grain. Replayed
    * batch ids no-op. Public so tests can drive replays directly.
    */
  def applyBatchDelta(spark: SparkSession, viewDir: String, batch: DataFrame,
                      batchId: Long, compactEvery: Int = 8): Unit = {
    if (batch.isEmpty) return // idle trigger: no commit
    val delta = hourlyDelta(batch)
    deltaView(spark, viewDir, compactEvery).applyBatch(batchId) { cur =>
      val base = cur.getOrElse(emptyView(spark))
      val touched = delta.select(col("key"), col("hr")).distinct()
      val curTouched = base.join(touched.select(col("key").as("_tk"),
          col("hr").as("_th")),
        base("key") <=> col("_tk") && base("hr") <=> col("_th"), "left_semi")
      val merged = curTouched.unionByName(delta)
        .groupBy(col("key"), col("hr")).agg(sum(col("cnt")).as("cnt"))
      (merged, touched)
    }: Unit
  }

  /** The current hourly-count view (empty before the first commit). */
  def readCountsDelta(spark: SparkSession, viewDir: String): DataFrame =
    deltaView(spark, viewDir).read().getOrElse(emptyView(spark))

  /** Score the CURRENT view: every (key, hour) with its trailing-24h
    * z-score and anomaly flag — identical to running q127's operator over
    * a batch recompute of the same events.
    */
  def anomaliesDelta(spark: SparkSession, viewDir: String,
                     minPrev: Int = 12, threshold: Double = 2.0): DataFrame =
    TimeSeries.rollingZScore(readCountsDelta(spark, viewDir),
      lookbackHours = 24, minPrev = minPrev, threshold = threshold)
}
