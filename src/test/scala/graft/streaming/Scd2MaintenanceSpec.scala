package graft.streaming

import graft.SparkSpec
import graft.operators.Warehouse
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class Scd2MaintenanceSpec extends SparkSpec {

  private def dimTuples(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("segment"), col("valid_from"),
        col("valid_to"), col("version").cast("long"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.toString), r.getLong(4), r.getBoolean(5)))
      .toSet

  test("streamed SCD2 maintenance equals the batch recompute over all observations") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2m").toString

    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = MicroBatch.start(mem.toDS().toDF("key", "ts", "tb", "attr"),
      s"$dir/ckpt")(Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", _, _))

    // event-time ordered per key across batches
    mem.addData((1L, 10L, 1L, "A"), (2L, 15L, 2L, "Z"))
    q.processAllAvailable()
    mem.addData((1L, 20L, 3L, "A"), (1L, 30L, 4L, "B"), (3L, 25L, 5L, "Q"))
    q.processAllAvailable()
    mem.addData((1L, 40L, 6L, "A"), (2L, 45L, 7L, "Y"))
    q.processAllAvailable()
    q.stop()

    val all = Seq((1L, 10L, 1L, "A"), (2L, 15L, 2L, "Z"), (1L, 20L, 3L, "A"),
      (1L, 30L, 4L, "B"), (3L, 25L, 5L, "Q"), (1L, 40L, 6L, "A"),
      (2L, 45L, 7L, "Y")).toDF("key", "ts", "tb", "attr")
    val expected = dimTuples(Warehouse.scd2(all, col("key"), col("ts"),
      col("tb"), col("attr")))
    val got = dimTuples(Scd2Maintenance.readDimDelta(spark, s"$dir/dim").get)
    // key 1: A@10 (20 compacted), B@30, A@40 -> 3 versions; key 2: Z,Y.
    assert(got.count(_._1 == 1L) == 3)
    assert(got == expected)
  }

  test("equal-ts arrival across batches resolves by the ORIGINAL tie-break") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2m3").toString
    def b(rows: (Long, Long, Long, String)*) =
      rows.toDF("key", "ts", "tb", "attr")
    // batch recompute over the raw log: A@10(tb1), B@20(tb5), C@20(tb3):
    // at ts=20, tb orders C before B -> A, C (zero-width), B current.
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 10L, 1L, "A"), (1L, 20L, 5L, "B")), 0L)
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 20L, 3L, "C")), 1L)
    val got = dimTuples(Scd2Maintenance.readDimDelta(spark, s"$dir/dim").get)
    val expected = dimTuples(Warehouse.scd2(
      b((1L, 10L, 1L, "A"), (1L, 20L, 5L, "B"), (1L, 20L, 3L, "C")),
      col("key"), col("ts"), col("tb"), col("attr")))
    assert(got == expected)
    assert(got.exists(t => t._2 == "B" && t._6)) // B stays current
  }

  test("null keys extend their history instead of duplicating it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2m4").toString
    def b(rows: (Option[Long], Long, Long, String)*) =
      rows.toDF("key", "ts", "tb", "attr")
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((None, 10L, 1L, "A")), 0L)
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((None, 20L, 2L, "B")), 1L)
    val dim = Scd2Maintenance.readDimDelta(spark, s"$dir/dim").get.collect()
    assert(dim.length == 2) // one closed A + one current B, no duplicates
    assert(dim.count(_.getAs[Boolean]("is_current")) == 1)
  }

  test("an empty micro-batch commits nothing and rewrites nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2m5").toString
    def b(rows: (Long, Long, Long, String)*) =
      rows.toDF("key", "ts", "tb", "attr")
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 10L, 1L, "A")), 0L)
    val dv = graft.util.DeltaView(spark, s"$dir/dim", Seq("k"))
    val before = dv.committed
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b(), 1L)
    assert(dv.committed == before)
  }

  test("same-segment observations keep compacting away incrementally") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2m2").toString
    def b(rows: (Long, Long, Long, String)*) =
      rows.toDF("key", "ts", "tb", "attr")
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 10L, 1L, "A")), 0L)
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 20L, 2L, "A")), 1L)
    val got = dimTuples(Scd2Maintenance.readDimDelta(spark, s"$dir/dim").get)
    assert(got == Set((1L, "A", 10L, None, 1L, true)))
    // replay of batch 1 with different content: no-op
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/dim", b((1L, 99L, 9L, "X")), 1L)
    assert(dimTuples(Scd2Maintenance.readDimDelta(spark, s"$dir/dim").get) == got)
  }

  test("delta core equals the batch reference (compaction, replay)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2d").toString
    def b(rows: (Option[Long], Long, Long, String)*) =
      rows.toDF("key", "ts", "tb", "attr")
    // key 1 changes across batches (affected-key rewrite), incl. a
    // zero-width version (two changes at ts=20); key 2 is touched once and
    // must survive later delta commits untouched; the NULL key exercises
    // the null-safe tombstone join of the delta fold
    val batches = Seq(
      b((Some(1L), 10L, 1L, "A"), (Some(2L), 15L, 2L, "Z"),
        (None, 10L, 8L, "N1")),
      b((Some(1L), 20L, 5L, "B"), (Some(1L), 20L, 3L, "C")),
      b((Some(1L), 40L, 6L, "A"), (None, 30L, 9L, "N2")))
    for ((batch, i) <- batches.zipWithIndex)
      Scd2Maintenance.applyBatchDelta(spark, s"$dir/delta", batch, i.toLong,
        compactEvery = 2)
    def tuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("segment"), col("valid_from"), col("valid_to"),
        col("version").cast("long"), col("is_current"))
      .collect()
      .map(r => (Option(r.get(0)).map(_.toString), r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.toString), r.getLong(4),
        r.getBoolean(5)))
      .toSet
    // batch reference: one scd2 over every observation at once
    val reference = tuples(Warehouse.scd2(batches.reduce(_ unionByName _),
      col("key"), col("ts"), col("tb"), col("attr")))
    val delta = tuples(Scd2Maintenance.readDimDelta(spark, s"$dir/delta").get)
    assert(reference == delta, s"reference=$reference delta=$delta")
    // zero-width version retained, exactly one current row per live key
    assert(delta.count { case (k, _, _, _, _, _) => k.contains("1") } == 4)
    assert(delta.count { case (k, _, _, _, _, cur) => k.isEmpty && cur } == 1)
    assert(graft.util.DeltaView(spark, s"$dir/delta",
      Seq("k", "valid_from", "tb"), 2).committed.exists(_._3 > 0))
    // replayed batch id with bogus content no-ops on the delta core
    Scd2Maintenance.applyBatchDelta(spark, s"$dir/delta",
      b((Some(9L), 99L, 99L, "X")), 2L, compactEvery = 2)
    assert(tuples(Scd2Maintenance.readDimDelta(spark, s"$dir/delta").get)
      == delta)
  }
}
