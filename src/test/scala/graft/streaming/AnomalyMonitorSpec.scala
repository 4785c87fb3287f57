package graft.streaming

import graft.SparkSpec
import graft.operators.TimeSeries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class AnomalyMonitorSpec extends SparkSpec {

  private val H = 3600000000L

  test("streamed monitoring equals the batch z-score over all events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-am2").toString

    // alternating 9/11 history then a spike, split ACROSS micro-batches —
    // including one hour (hr 5) whose count is split between batches, so
    // the merge (not just the union) is exercised
    val all = (0L until 13L).flatMap { h =>
      val n = if (h == 12) 20 else if (h % 2 == 0) 9 else 11
      (0 until n).map(i => ("m", h * H + i))
    }
    val (b1, b2) = all.partition { case (_, us) => us < 5 * H + 5 }

    val mem = MemoryStream[(String, Long)]
    val q = MicroBatch.start(mem.toDS().toDF("key", "us"), s"$dir/ckpt")(
      AnomalyMonitor.applyBatchDelta(spark, s"$dir/view", _, _))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = AnomalyMonitor.anomaliesDelta(spark, s"$dir/view")
      .orderBy("key", "hr").collect().toSeq
    val batch = TimeSeries.rollingZScore(
        all.toDF("key", "us")
          .select(col("key"), expr("us DIV 3600000000").as("hr"))
          .groupBy("key", "hr").agg(count(lit(1)).as("cnt")))
      .orderBy("key", "hr").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // and the spike is flagged
    val spike = streamed.find(_.getAs[Long]("hr") == 12L).get
    assert(spike.getAs[Boolean]("is_anomaly"))
  }

  test("replayed micro-batches are no-ops (exactly-once effect)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-am3").toString
    val vd = s"$dir/view"
    def batch(rows: (String, Long)*) = rows.toDF("key", "us")

    AnomalyMonitor.applyBatchDelta(spark, vd, batch(("m", 0L), ("m", 1L)), 0L)
    AnomalyMonitor.applyBatchDelta(spark, vd, batch(("m", H + 1L)), 1L)
    // replay of batch 1 with bogus content must not double-count
    AnomalyMonitor.applyBatchDelta(spark, vd,
      batch(("m", H + 1L), ("x", 0L)), 1L)

    val got = AnomalyMonitor.readCountsDelta(spark, vd)
      .orderBy("key", "hr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("m", 0L, 2L), ("m", 1L, 1L)))
  }

  test("delta core equals the batch reference (compaction, replay)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-amd").toString
    def batch(rows: (String, Long)*) = rows.toDF("key", "us")
    // hour 1 of key m is split across batches (the merge path); key n is
    // touched once and must be carried untouched by later delta commits
    val batches = Seq(
      batch(("m", 0L), ("m", H + 1), ("n", 0L)),
      batch(("m", H + 2), ("m", H + 3)),
      batch(("m", 2 * H), ("m", 2 * H + 1)))
    for ((b, i) <- batches.zipWithIndex)
      AnomalyMonitor.applyBatchDelta(spark, s"$dir/delta", b, i.toLong,
        compactEvery = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch reference: hourly counts over every event at once
    val hourly = batches.reduce(_ unionByName _)
      .select(col("key"), expr("us DIV 3600000000").as("hr"))
      .groupBy("key", "hr").agg(count(lit(1)).as("cnt"))
    val reference = rows(hourly)
    val delta = rows(AnomalyMonitor.readCountsDelta(spark, s"$dir/delta"))
    assert(reference == delta, s"reference=$reference delta=$delta")
    assert(delta == Set(("m", 0L, 1L), ("m", 1L, 3L), ("m", 2L, 2L),
      ("n", 0L, 1L)))
    assert(graft.util.DeltaView(spark, s"$dir/delta", Seq("key", "hr"), 2)
      .committed.exists(_._3 > 0))
    // scoring the delta-maintained view goes through the same operator
    assert(AnomalyMonitor.anomaliesDelta(spark, s"$dir/delta").count() ==
      TimeSeries.rollingZScore(hourly).count())
    // replayed batch id with bogus content no-ops
    AnomalyMonitor.applyBatchDelta(spark, s"$dir/delta",
      batch(("x", 9 * H)), 2L, compactEvery = 2)
    assert(rows(AnomalyMonitor.readCountsDelta(spark, s"$dir/delta")) == delta)
  }
}
