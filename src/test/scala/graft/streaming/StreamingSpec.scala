package graft.streaming

import graft.{SparkSpec, Tables}
import graft.repl.DbCatalog
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("streaming replication converges to the batch-replicated state") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    source.createDb("sdb")
    source.writeTable("sdb", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    // Target starts from a bootstrap copy (streaming handles the delta).
    target.createDb("sdb")
    target.writeTable("sdb", "region", source.readTable("sdb", "region"))

    import DbCatalog._
    source.appendEvents("sdb", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"STREAMED"}"""),
      Event("region", OpDelete, "4", null)))

    val q = StreamingReplication.replicateStream(
      spark, source, target, "sdb", s"$root/ckpt", oneShot = true)
    q.awaitTermination(60000)

    val names = target.readTable("sdb", "region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(names(0L) == "STREAMED")
    assert(!names.contains(4L))

    // Second batch of events (incl. a view DDL), new one-shot run resumes
    // from the checkpoint.
    source.appendEvents("sdb", Seq(
      Event("region", OpUpsert, "2", """{"r_regionkey":2,"r_name":"ASIA-2"}"""),
      Event("v_names", OpCreateView, null,
        "SELECT r_name FROM region ORDER BY r_name")))
    val q2 = StreamingReplication.replicateStream(
      spark, source, target, "sdb", s"$root/ckpt", oneShot = true)
    q2.awaitTermination(60000)
    val names2 = target.readTable("sdb", "region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(names2(2L) == "ASIA-2")
    assert(names2(0L) == "STREAMED") // earlier delta not reapplied/undone
    // view DDL replicated through the same micro-batch path
    assert(target.listViews("sdb") == Seq("v_names"))
    assert(target.readView("sdb", "v_names").collect().map(_.getString(0))
      .contains("STREAMED"))
  }

  test("crash-window idempotency: re-applying a delivered micro-batch changes nothing") {
    // The exactly-once EFFECT claim is at-least-once delivery × idempotent
    // merge: a crash between applyBatch and the checkpoint/offset commit
    // makes Spark re-deliver the SAME batch on restart. Prove the re-apply
    // leg directly: same batch twice ≡ once (rows AND watermark).
    val root = java.nio.file.Files.createTempDirectory("graft-stream-idem").toString
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    source.createDb("idb"); target.createDb("idb")
    val region = spark.read.parquet(s"${sf()}/region.parquet")
    source.writeTable("idb", "region", region)
    target.writeTable("idb", "region", region)

    import DbCatalog._
    source.appendEvents("idb", Seq(
      Event("region", OpUpsert, "1", """{"r_regionkey":1,"r_name":"REDELIVERED"}"""),
      Event("region", OpDelete, "3", null)))
    val batch = source.readEventsAfter("idb", 0L)

    StreamingReplication.applyBatch(spark, target, "idb", batch)
    val afterOnce = target.readTable("idb", "region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    val wmOnce = target.watermark("idb")
    assert(afterOnce(1L) == "REDELIVERED" && !afterOnce.contains(3L))

    StreamingReplication.applyBatch(spark, target, "idb", batch) // re-delivery
    val afterTwice = target.readTable("idb", "region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(afterTwice == afterOnce, "re-applied batch must be a no-op on rows")
    assert(target.watermark("idb") == wmOnce, "watermark must not regress or advance")
  }

  test("microsecond-vintage events replicate end-to-end through replicatePolled") {
    // Round 7 proved a generator vintage change can break every events
    // consumer at once. This case drives the CURRENT (microsecond
    // TIMESTAMP_NTZ) events table through the polled streaming-replication
    // path — bootstrap copy, then a delta whose row_json carries a
    // sub-second timestamp — so the schema-adaptive read AND the
    // from_json merge are covered on this vintage, not just batch oracles.
    val root = java.nio.file.Files.createTempDirectory("graft-stream-us").toString
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    source.createDb("edb"); target.createDb("edb")
    val events = Tables(spark, sf()).events
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    source.writeTable("edb", "events", events)
    target.writeTable("edb", "events", source.readTable("edb", "events"))

    import DbCatalog._
    val delId = events.orderBy("event_id").select("event_id").head.getLong(0)
    source.appendEvents("edb", Seq(
      Event("events", OpUpsert, "999999999",
        """{"event_id":999999999,"ts":"2026-01-02T03:04:05.123456",""" +
        """"user_id":7,"event_type":"polled","value":1.5,"props":"{}"}"""),
      Event("events", OpDelete, delId.toString, null)))

    val q = StreamingReplication.replicatePolled(
      spark, source, target, "edb", s"$root/ckpt", oneShot = true)
    q.awaitTermination(120000)

    val got = target.readTable("edb", "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType,
      "replication must preserve TIMESTAMP_NTZ through merge round-trips")
    val ins = got.filter(col("event_id") === 999999999L).collect()
    assert(ins.length == 1)
    // Full microsecond precision must survive from_json → parquet.
    assert(ins(0).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5, 123456000))
    assert(got.filter(col("event_id") === delId).isEmpty)
    assert(got.count() == events.count()) // one delete, one insert
  }
}
