package graft.repl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Event-log compaction + retention — replay equivalence is the theorem:
  * two replicas bootstrapped at the same watermark must converge to
  * byte-identical state whether they replay the FULL log or the COMPACTED
  * one, across every barrier kind (rename epochs, truncate resets,
  * multi-upsert chains, delete-then-upsert).
  */
class CompactionSpec extends SparkSpec {

  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("compacted-log replay is byte-identical to full-log replay") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb("dbc")
    Seq("region", "nation").foreach { t =>
      source.writeTable("dbc", t, spark.read.parquet(s"${sf()}/$t.parquet"))
    }
    val cfgA = ReplConfig(dumpRoot = s"$root/dumpsA", rerunSleepMs = 10)
    val cfgB = ReplConfig(dumpRoot = s"$root/dumpsB", rerunSleepMs = 10)
    val (targetA, targetB) = (DbCatalog(spark, s"$root/tgtA"), DbCatalog(spark, s"$root/tgtB"))
    val jobA = ReplicationJob(spark, source, targetA, s"$root/dumpsA", cfgA)
    val jobB = ReplicationJob(spark, source, targetB, s"$root/dumpsB", cfgB)
    jobA.run("dbc"); jobB.run("dbc") // both bootstrapped at the same watermark

    // A history with every compaction hazard: superseded upsert chains,
    // delete-then-upsert, a TRUNCATE reset, and DML on both sides of a
    // RENAME (where the post-rename name is a NEW table).
    import DbCatalog._
    source.appendEvents("dbc", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"v1"}"""),
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"v2"}"""),
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"v3"}"""),
      Event("region", OpDelete, "1", null),
      Event("region", OpUpsert, "1", """{"r_regionkey":1,"r_name":"back"}"""),
      Event("nation", OpUpsert, "5", """{"n_nationkey":5,"n_name":"DEAD","n_regionkey":0}"""),
      Event("nation", OpTruncateTable, null, null),
      Event("nation", OpUpsert, "7", """{"n_nationkey":7,"n_name":"LIVE","n_regionkey":1}"""),
      Event("region", OpUpsert, "3", """{"r_regionkey":3,"r_name":"pre-rename"}"""),
      Event("region", OpRenameTable, null, "territory"),
      Event("region", OpCreateTable, null, "r_regionkey BIGINT, r_name STRING"),
      Event("region", OpUpsert, "3", """{"r_regionkey":3,"r_name":"NEW-TABLE"}""")))

    jobA.run("dbc") // replica A replays the FULL log
    val txnBefore = source.currentTxnId("dbc")
    val evBefore = source.readEvents("dbc").count()

    val (before, after) = source.compactEvents("dbc")
    assert(before == evBefore && after < before,
      s"compaction did not shrink the log: $before -> $after")
    // the txn counter (max event id) must survive compaction
    assert(source.currentTxnId("dbc") == txnBefore)
    // superseded events are gone: key 0 keeps ONLY its latest upsert
    val key0 = source.readEvents("dbc")
      .filter(col("table") === "region" && col("key") === "0").collect()
    assert(key0.length == 1 && key0.head.getString(4).contains("v3"))

    jobB.run("dbc") // replica B replays the COMPACTED log
    assert(targetA.listTables("dbc").sorted == targetB.listTables("dbc").sorted)
    targetA.listTables("dbc").foreach { t =>
      assert(rowSet(targetA.readTable("dbc", t)) == rowSet(targetB.readTable("dbc", t)),
        s"replica divergence on table $t")
    }
    // and the semantics themselves: pre-rename DML lives in `territory`,
    // the recreated `region` holds only post-recreate DML
    assert(rowSet(targetB.readTable("dbc", "territory")).exists(_.contains("pre-rename")))
    val regionB = rowSet(targetB.readTable("dbc", "region"))
    assert(regionB.exists(_.contains("NEW-TABLE")) && regionB.size == 1)
    assert(!rowSet(targetB.readTable("dbc", "nation")).exists(_.contains("DEAD")))
    assert(rowSet(targetB.readTable("dbc", "nation")).exists(_.contains("LIVE")))

    // compaction is idempotent: a second pass removes nothing
    val (b2, a2) = source.compactEvents("dbc")
    assert(b2 == a2)
  }

  test("auto-compaction policy runs through the job and preserves replay equivalence") {
    import DbCatalog._
    val root = java.nio.file.Files.createTempDirectory("graft-autoc").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb("dba")
    source.writeTable("dba", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10,
      autoCompactFactor = 2.0)
    val target = DbCatalog(spark, s"$root/tgt")
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    job.run("dba") // bootstrap — empty log, no compaction work
    // a second replica bootstrapped at the SAME watermark: it will replay
    // the auto-compacted log later — the equivalence witness
    val targetB = DbCatalog(spark, s"$root/tgtB")
    val jobB = ReplicationJob(spark, source, targetB, s"$root/dumpsB",
      ReplConfig(dumpRoot = s"$root/dumpsB", rerunSleepMs = 10))
    jobB.run("dba")

    // 120 events over 3 live keys: far past factor 2 × estimated net size
    source.appendEvents("dba", (1 to 120).map { i =>
      Event("region", OpUpsert, (i % 3).toString,
        s"""{"r_regionkey":${i % 3},"r_name":"V$i"}""")
    })
    val txn = source.currentTxnId("dba")
    assert(job.run("dba").verify == "SUCCESS")
    // the cycle compacted the source log to its net effect automatically
    val after = source.readEvents("dba").count()
    assert(after <= 3, s"auto-compaction left $after events")
    assert(source.currentTxnId("dba") == txn) // txn counter intact

    // steady state: a below-threshold log is scanned, not rewritten
    source.appendEvents("dba", Seq(
      Event("region", OpUpsert, "4", """{"r_regionkey":4,"r_name":"W"}""")))
    assert(job.run("dba").verify == "SUCCESS")
    assert(source.readEvents("dba").count() == after + 1)

    // replay equivalence: the second replica catches up by replaying the
    // AUTO-COMPACTED log and lands byte-identical to the replica that saw
    // the full history
    assert(jobB.run("dba").verify == "SUCCESS")
    assert(rowSet(targetB.readTable("dba", "region")) ==
      rowSet(target.readTable("dba", "region")))
  }

  test("auto-purge drops history below the replica watermark after each cycle") {
    import DbCatalog._
    val root = java.nio.file.Files.createTempDirectory("graft-autop").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb("dbq")
    source.writeTable("dbq", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10,
      autoPurge = true)
    val target = DbCatalog(spark, s"$root/tgt")
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    job.run("dbq")
    source.appendEvents("dbq", (1 to 20).map { i =>
      Event("region", OpUpsert, (i % 5).toString,
        s"""{"r_regionkey":${i % 5},"r_name":"P$i"}""")
    })
    assert(job.run("dbq").verify == "SUCCESS")
    // everything below the committed watermark is gone; the newest event
    // (the txn counter) survives by contract
    assert(source.readEvents("dbq").count() == 1)
    assert(source.currentTxnId("dbq") == 20L)
    // later cycles are unaffected: new events replicate, counter advances
    source.appendEvents("dbq", Seq(
      Event("region", OpUpsert, "9", """{"r_regionkey":9,"r_name":"TAIL"}""")))
    assert(job.run("dbq").verify == "SUCCESS")
    assert(rowSet(target.readTable("dbq", "region")).exists(_.contains("TAIL")))
  }

  test("retention purges replayed history but refuses to behead the txn counter") {
    val root = java.nio.file.Files.createTempDirectory("graft-purge").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb("dbp")
    source.writeTable("dbp", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val target = DbCatalog(spark, s"$root/tgt")
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    job.run("dbp")
    import DbCatalog._
    source.appendEvents("dbp", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"w1"}""")))
    job.run("dbp") // replica watermark now covers event 1
    val wm = target.watermark("dbp").get
    source.appendEvents("dbp", Seq(
      Event("region", OpUpsert, "1", """{"r_regionkey":1,"r_name":"w2"}""")))

    // purging everything at/below the replica watermark is safe
    val dropped = source.purgeEvents("dbp", wm)
    assert(dropped >= 1)
    assert(source.currentTxnId("dbp") == wm + 1) // counter intact
    val r = job.run("dbp") // the un-purged tail still replays
    assert(r.verify == "SUCCESS")
    assert(rowSet(target.readTable("dbp", "region")).exists(_.contains("w2")))

    // beheading the newest event (the txn counter) is refused
    intercept[IllegalArgumentException] {
      source.purgeEvents("dbp", source.currentTxnId("dbp"))
    }
  }

  test("maintenance reports exactly the events its purge removed") {
    import DbCatalog._
    val root = java.nio.file.Files.createTempDirectory("graft-purgecount").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb("dbm")
    def logSize = source.readEvents("dbm").count()
    def upserts(keys: Seq[Int]): Long = source.appendEvents("dbm", keys.map { k =>
      Event("region", OpUpsert, k.toString, s"""{"r_regionkey":$k,"r_name":"v"}""")
    })

    // floor below the txn counter: events 1..4 of 1..10 go
    upserts(0 until 10)
    val r1 = Maintenance.run(source, "dbm", 0.0, Some(4L))
    assert(!r1.compacted && r1.purged == 4L && logSize == 6L)

    // floor at or above the counter: all but the newest event (id 10) go
    val r2 = Maintenance.run(source, "dbm", 0.0, Some(99L))
    assert(r2.purged == 5L && logSize == 1L && source.currentTxnId("dbm") == 10L)

    // compaction fires first: 36 events over 7 keys compact to 7 (event 10
    // for key 9, the latest of key 0's thirty at id 40, keys 1..5 at
    // 41..45); the purge then counts against the COMPACTED log
    upserts(Seq.fill(30)(0) ++ (1 to 5))
    val r3 = Maintenance.run(source, "dbm", 2.0, Some(40L))
    assert(r3.compacted && r3.eventsBefore == 36L && r3.eventsAfter == 7L)
    assert(r3.purged == 2L && r3.purged == r3.eventsAfter - logSize)
    assert(source.currentTxnId("dbm") == 45L)
  }
}
