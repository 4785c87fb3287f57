package graft.repl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replication with a LIVE JDBC endpoint (embedded Derby) as the SOURCE —
  * the reference's real topology (`/root/reference/env.sh:4-5`: every dump
  * goes through a HiveServer2 JDBC connection): bootstrap enumerates the
  * endpoint's tables, incremental ships only `event_id > watermark`, pushed
  * into the remote WHERE clause.
  */
class JdbcReplicationSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:replsrc;create=true"
  private def qt(db: String, t: String) = s""""$db"."$t""""

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
    finally c.close()
  }

  private def eventsDf(rows: Seq[(Long, String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "table", "op", "key", "row_json")
  }

  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("bootstrap + incremental from a Derby JDBC source, with pushdown") {
    val db = "dbj"
    exec(s"""CREATE SCHEMA "$db"""")
    val supplier = Tables(spark, sf()).supplier
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val region = Tables(spark, sf()).region
      .select(col("r_regionkey"), col("r_name"))
    graft.sources.Jdbc.write(supplier, url, qt(db, "supplier"))
    graft.sources.Jdbc.write(region, url, qt(db, "region"))
    graft.sources.Jdbc.write(eventsDf(Seq(
      (1L, "region", DbCatalog.OpUpsert, "0",
        """{"r_regionkey":0,"r_name":"AFRICA-J"}"""))),
      url, qt(db, DbCatalog.EventsTable))
    exec(s"""CREATE VIEW "$db"."big_suppliers" AS """ +
      s"""SELECT "s_suppkey", "s_acctbal" FROM "$db"."supplier" WHERE "s_acctbal" > 5000""")

    val source = JdbcSource(spark, url, numPartitions = 4)
    assert(source.dbExists(db))
    assert(source.listTables(db) == Seq("region", "supplier"))
    assert(source.currentTxnId(db) == 1L)

    // snapshot read is a PARTITIONED parallel scan split on the integral key
    assert(source.readTable(db, "supplier").rdd.getNumPartitions == 4)

    val root = java.nio.file.Files.createTempDirectory("graft-jdbc-repl").toString
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)

    val r1 = job.run(db)
    assert(r1.kind == "bootstrap" && r1.verify == "SUCCESS")
    assert(rowSet(target.readTable(db, "supplier")) == rowSet(supplier))
    assert(rowSet(target.readTable(db, "region")) == rowSet(region))
    // the Derby view replicated as a definition and evaluates at the target
    assert(target.listViews(db) == Seq("big_suppliers"))
    assert(rowSet(target.readView(db, "big_suppliers")) ==
      rowSet(supplier.filter(col("s_acctbal") > 5000).select("s_suppkey", "s_acctbal")))

    // incremental: two more events land in the endpoint's change log
    graft.sources.Jdbc.write(eventsDf(Seq(
      (2L, "region", DbCatalog.OpUpsert, "1",
        """{"r_regionkey":1,"r_name":"AMERICA-J"}"""),
      (3L, "region", DbCatalog.OpDelete, "3", null))),
      url, qt(db, DbCatalog.EventsTable), mode = "append")
    assert(source.currentTxnId(db) == 3L)

    // the watermark predicate reaches the remote endpoint's WHERE clause
    val delta = source.readEventsAfter(db, 1L)
    val scan = delta.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("GreaterThan(event_id,1)"), scan)

    val r2 = job.run(db)
    assert(r2.kind == "incremental" && r2.verify == "SUCCESS")
    val reg = target.readTable(db, "region")
    assert(reg.where(col("r_regionkey") === 1 && col("r_name") === "AMERICA-J").count() == 1)
    assert(reg.where(col("r_regionkey") === 3).isEmpty)
    assert(reg.count() == region.count() - 1)
    // supplier untouched by the delta
    assert(rowSet(target.readTable(db, "supplier")) == rowSet(supplier))

    // nothing new → verified no-op, watermark stable
    assert(job.run(db).verify == "NOOP")
  }

  test("identifiers with embedded quotes are escaped in every executed statement") {
    // db name with an embedded '"' — the SQL-standard doubling must be
    // applied wherever the name is interpolated into executed SQL (qt/q),
    // or the statement is malformed (or worse, injected)
    val db = """qu"db"""
    def qd(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
    exec(s"CREATE SCHEMA ${qd(db)}")
    import graft.{Tables => T}
    val nation = T(spark, sf()).nation.select(col("n_nationkey"), col("n_name"))
    graft.sources.Jdbc.write(nation, url, s"${qd(db)}.${qd("nation")}")
    graft.sources.Jdbc.write(eventsDf(Seq(
      (1L, "nation", DbCatalog.OpUpsert, "0", """{"n_nationkey":0,"n_name":"QX"}"""),
      (2L, "nation", DbCatalog.OpDelete, "1", null))),
      url, s"${qd(db)}.${qd(DbCatalog.EventsTable)}")

    val src = JdbcSource(spark, url, numPartitions = 2)
    assert(src.dbExists(db))
    assert(src.listTables(db) == Seq("nation"))
    assert(src.currentTxnId(db) == 2L)            // qt() in executeQuery
    val t = src.readTable(db, "nation")           // MIN/MAX bounds probe + scan
    assert(t.count() == 25)
    assert(t.rdd.getNumPartitions == 2)           // partitioned read went through
    assert(src.readEventsAfter(db, 1L).count() == 1)
    // the view-translation qualifier matches the ESCAPED catalog form too
    assert(src.translateIdentifiers(
      s"""SELECT "a" FROM ${qd(db)}."t"""", db) == "SELECT `a` FROM `t`")
  }

  test("view translation converts identifiers but never string literals") {
    val src = JdbcSource(spark, url)
    assert(src.translateIdentifiers(
      """SELECT "a", "b" FROM "dbx"."t" WHERE "note" = 'say "hi"'""", "dbx") ==
      """SELECT `a`, `b` FROM `t` WHERE `note` = 'say "hi"'""")
    assert(src.translateIdentifiers("""SELECT 'it''s "x"' FROM "dbx"."t"""", "dbx") ==
      """SELECT 'it''s "x"' FROM `t`""")
  }

  test("multi-db sweep over a JDBC source replicates both schemas concurrently") {
    val dbs = Seq("dbsw1", "dbsw2")
    dbs.foreach { db =>
      exec(s"""CREATE SCHEMA "$db"""")
      graft.sources.Jdbc.write(
        Tables(spark, sf()).nation.select(col("n_nationkey"), col("n_name")),
        url, qt(db, "nation"))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-jdbc-sweep").toString
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val out = Sweep(spark, JdbcSource(spark, url, 2), target, s"$root/dumps", cfg)
      .run(dbs)
    assert(out.forall(_.report.exists(_.verify == "SUCCESS")))
    dbs.foreach(db => assert(target.readTable(db, "nation").count() == 25, db))
  }

  test("always-on polling replication drains a JDBC change log") {
    val db = "dbjs"
    exec(s"""CREATE SCHEMA "$db"""")
    val region = Tables(spark, sf()).region.select(col("r_regionkey"), col("r_name"))
    graft.sources.Jdbc.write(region, url, qt(db, "region"))
    graft.sources.Jdbc.write(eventsDf(Seq(
      (1L, "region", DbCatalog.OpUpsert, "0", """{"r_regionkey":0,"r_name":"S0"}"""))),
      url, qt(db, DbCatalog.EventsTable))

    val root = java.nio.file.Files.createTempDirectory("graft-jdbc-stream").toString
    val source = JdbcSource(spark, url, numPartitions = 2)
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    ReplicationJob(spark, source, target, s"$root/dumps", cfg).run(db) // bootstrap
    val wm1 = target.watermark(db).get

    // new remote events; one polled AvailableNow pass must drain past them
    graft.sources.Jdbc.write(eventsDf(Seq(
      (2L, "region", DbCatalog.OpUpsert, "1", """{"r_regionkey":1,"r_name":"S1"}"""),
      (3L, "region", DbCatalog.OpDelete, "2", null))),
      url, qt(db, DbCatalog.EventsTable), mode = "append")
    val q = graft.streaming.StreamingReplication.replicatePolled(
      spark, source, target, db, s"$root/ckpt1")
    q.awaitTermination(60000); q.stop()
    val reg = target.readTable(db, "region")
    assert(reg.where(col("r_regionkey") === 1 && col("r_name") === "S1").count() == 1)
    assert(reg.where(col("r_regionkey") === 2).isEmpty)
    assert(target.watermark(db).contains(3L))
    assert(target.watermark(db).get > wm1)

    // a second pass with nothing new leaves rows and watermark untouched
    val q2 = graft.streaming.StreamingReplication.replicatePolled(
      spark, source, target, db, s"$root/ckpt2")
    q2.awaitTermination(60000); q2.stop()
    assert(target.watermark(db).contains(3L))
    assert(target.readTable(db, "region").count() == reg.count())
  }
}
