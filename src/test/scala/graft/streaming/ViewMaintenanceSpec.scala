package graft.streaming

import graft.SparkSpec
import graft.operators.Warehouse
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ViewMaintenanceSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("key"), col("cnt"), col("sum_m").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("streamed CDC maintenance equals a recompute over all changes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vm").toString

    val mem = MemoryStream[(String, String, Double)]
    val q = MicroBatch.start(mem.toDS().toDF("op", "key", "measure"),
      s"$dir/ckpt")(ViewMaintenance.applyBatchDelta(spark, s"$dir/view", _, _))

    mem.addData(("I", "A", 10.0), ("I", "A", 20.0), ("I", "B", 5.0))
    q.processAllAvailable()
    // update A (delete old + insert new), delete B entirely, birth C.
    mem.addData(("D", "A", 20.0), ("I", "A", 21.0), ("D", "B", 5.0))
    q.processAllAvailable()
    mem.addData(("I", "C", 7.0))
    q.processAllAvailable()
    q.stop()

    assert(rows(ViewMaintenance.readViewDelta(spark, s"$dir/view")) ==
      Set(("A", 2L, 31.0), ("C", 1L, 7.0)))
  }

  test("replayed micro-batches are skipped; old versions are pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vm2").toString
    val vd = s"$dir/view"
    def batch(rows: (String, String, Double)*) =
      rows.toDF("op", "key", "measure")

    // compactEvery = 1: every commit writes a fresh base (snapshot per
    // commit), so pruning is visible after three commits
    def commit(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ViewMaintenance.applyBatchDelta(spark, vd, b, id, compactEvery = 1)
    commit(batch(("I", "A", 1.0)), 0L)
    commit(batch(("I", "A", 2.0)), 1L)
    commit(batch(("I", "B", 3.0)), 2L)
    // replay of batch 1 with DIFFERENT (bogus) content must be a no-op
    commit(batch(("I", "X", 99.0)), 1L)

    assert(rows(ViewMaintenance.readViewDelta(spark, vd)) ==
      Set(("A", 2L, 3.0), ("B", 1L, 3.0)))
    assert(graft.util.DeltaView(spark, vd, Seq("key")).committed
      .contains((2L, 2L, 2L)))
    // keep-two pruning: v0 gone, v1 + v2 remain.
    val files = new java.io.File(vd).list().toSet
    assert(!files("base_v0") && files("base_v1") && files("base_v2"),
      files.toString)
  }

  test("delta core equals the batch reference (compaction, replay)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vmd").toString
    def batch(rows: (String, String, Double)*) =
      rows.toDF("op", "key", "measure")
    val batches = Seq(
      batch(("I", "A", 10.0), ("I", "A", 20.0), ("I", "B", 5.0)),
      batch(("D", "A", 20.0), ("I", "A", 21.0), ("D", "B", 5.0)),
      batch(("I", "C", 7.0)),
      batch(("I", "B", 4.0), ("D", "C", 7.0)))
    for ((b, i) <- batches.zipWithIndex)
      ViewMaintenance.applyBatchDelta(spark, s"$dir/delta", b, i.toLong,
        compactEvery = 2)
    // batch reference: one maintainAgg over every change at once
    val reference = rows(Warehouse.maintainAgg(
      graft.util.Frames.empty(spark, ViewMaintenance.ViewSchema),
      batches.reduce(_ unionByName _)))
    val delta = rows(ViewMaintenance.readViewDelta(spark, s"$dir/delta"))
    assert(reference == delta, s"reference=$reference delta=$delta")
    assert(delta == Set(("A", 2L, 31.0), ("B", 1L, 4.0)))
    // a compaction actually happened (base advanced past version 0)
    assert(graft.util.DeltaView(spark, s"$dir/delta", Seq("key"), 2)
      .committed.exists(_._3 > 0))
    // a replayed batch id with bogus content no-ops on the delta core
    ViewMaintenance.applyBatchDelta(spark, s"$dir/delta",
      batch(("I", "X", 99.0)), 1L, compactEvery = 2)
    assert(rows(ViewMaintenance.readViewDelta(spark, s"$dir/delta")) == delta)
  }

  test("a crash between data write and pointer swap recovers by replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vm3").toString
    val vd = s"$dir/view"
    def batch(rows: (String, String, Double)*) =
      rows.toDF("op", "key", "measure")
    ViewMaintenance.applyBatchDelta(spark, vd, batch(("I", "A", 1.0)), 0L)
    // simulate the crash window: v1 data written (garbage), pointer NOT
    // swapped — the replayed batch must overwrite it and commit correctly.
    Seq(("Z", 1L, BigDecimal(123), "I")).toDF("key", "cnt", "sum_m", "_op")
      .write.mode("overwrite").parquet(s"$vd/delta_v1")
    ViewMaintenance.applyBatchDelta(spark, vd, batch(("I", "A", 2.0)), 1L)
    assert(rows(ViewMaintenance.readViewDelta(spark, vd)) ==
      Set(("A", 2L, 3.0)))
  }
}
