package graft.repl

import graft.{SparkSpec, Tables}
import graft.util.FaultPoints
import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.functions._

/** Endpoint chaos + credentials. The Derby databases here are ON-DISK (not
  * in-memory) so that shutting the engine down mid-load models a real
  * endpoint crash: data survives, the next connection reboots the db, and
  * the retry must converge from whatever state the crash left.
  */
class JdbcChaosSpec extends SparkSpec {

  private def diskUrl(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    s"jdbc:derby:$dir/$name;create=true"
  }

  /** Shut down one Derby database (08006 on success — expected). In-flight
    * and subsequent statements fail until a new connection reboots it.
    */
  private def killDb(url: String): Unit = {
    val base = url.replace(";create=true", "")
    try { DriverManager.getConnection(s"$base;shutdown=true"); () }
    catch { case _: SQLException => () } // 08006 = shutdown succeeded
  }

  test("endpoint dies mid-bootstrap: clean failure, no watermark, rerun converges") {
    val url = diskUrl("chaosboot")
    val db = "cb1"
    val root = java.nio.file.Files.createTempDirectory("graft-chaos1").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb(db)
    val region = Tables(spark, sf()).region.select(col("r_regionkey"), col("r_name"))
    val nation = Tables(spark, sf()).nation
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    source.writeTable(db, "region", region)
    source.writeTable(db, "nation", nation)
    val target = JdbcTarget(spark, url)
    val job = ReplicationJob(spark, source, target, s"$root/dumps",
      ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10))

    // the endpoint connection drops after the FIRST table lands: every
    // write of this bootstrap reports failure (the parallel restore's
    // fail-fast aborts the load), leaving PARTIAL state at the endpoint.
    // (A deterministic connection-loss simulation — the real engine
    // kill-and-reboot path is exercised by the mid-incremental test below,
    // where the merge path's timing is single-windowed.)
    val killed = new java.util.concurrent.atomic.AtomicInteger
    FaultPoints.during { (point, _) =>
      if (point == FaultPoints.JdbcAfterWriteTable) {
        killed.incrementAndGet()
        throw new SQLException("connection lost: endpoint unreachable", "08006")
      }
    }(intercept[Exception] { job.run(db) })
    assert(killed.get >= 1)
    // clean failure: nothing committed a watermark over the partial state
    assert(target.watermark(db).isEmpty)

    // endpoint "restarts" (next connection reboots the db); the rerun
    // bootstraps from scratch — cleanFailedBootstrap replaces the partial
    // table set — and converges
    val r = job.run(db)
    assert(r.kind == "bootstrap" && r.verify == "SUCCESS")
    assert(target.listTables(db) == Seq("nation", "region"))
    assert(target.readTable(db, "region").count() == region.count())
    assert(target.readTable(db, "nation").count() == nation.count())
  }

  test("endpoint dies mid-incremental between table merges: retry reboots and converges") {
    val url = diskUrl("chaosincr")
    val db = "ci1"
    val root = java.nio.file.Files.createTempDirectory("graft-chaos2").toString
    val source = DbCatalog(spark, s"$root/src")
    source.createDb(db)
    val region = Tables(spark, sf()).region.select(col("r_regionkey"), col("r_name"))
    val nation = Tables(spark, sf()).nation
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    source.writeTable(db, "region", region)
    source.writeTable(db, "nation", nation)
    val target = JdbcTarget(spark, url)
    val job = ReplicationJob(spark, source, target, s"$root/dumps",
      ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10, incrRerun = 3))
    assert(job.run(db).verify == "SUCCESS")
    val wm1 = target.watermark(db).get

    // a delta touching BOTH tables; the endpoint dies in the worst window
    // of the SECOND table's merge (staging landed, transaction not open)
    import DbCatalog._
    source.appendEvents(db, Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"CHAOS-R"}"""),
      Event("nation", OpUpsert, "0", """{"n_nationkey":0,"n_name":"CHAOS-N","n_regionkey":0}""")))
    val kills = new java.util.concurrent.atomic.AtomicInteger
    // the retry loop reconnects (rebooting the endpoint), re-stages both
    // tables idempotently, and the SAME RUN converges on attempt 2
    val r = FaultPoints.during { (point, table) =>
      if (point == FaultPoints.JdbcBeforeMergeTxn && kills.incrementAndGet() == 2) {
        killDb(url)
        throw new SQLException(s"connection lost merging $table", "08006")
      }
    }(job.run(db))
    assert(r.kind == "incremental" && r.verify == "SUCCESS")
    assert(kills.get >= 2) // the crash really fired
    assert(target.readTable(db, "region")
      .where(col("r_name") === "CHAOS-R").count() == 1)
    assert(target.readTable(db, "nation")
      .where(col("n_name") === "CHAOS-N").count() == 1)
    assert(target.watermark(db).get > wm1)
    // no staging debris survived the crash-and-retry cycle
    assert(target.listTables(db) == Seq("nation", "region"))
  }

  test("authenticated endpoint: credentials pass through; bare connections are refused") {
    val url = diskUrl("authsrc")
    val db = "au1"
    // create the db + data first, then turn on BUILTIN authentication
    // (takes effect at next boot)
    val c0 = DriverManager.getConnection(url)
    try {
      val st = c0.createStatement()
      try {
        st.execute(s"""CREATE SCHEMA "$db"""")
        Seq(
          "derby.connection.requireAuthentication" -> "true",
          "derby.authentication.provider" -> "BUILTIN",
          "derby.user.repl_user" -> "repl_secret").foreach { case (k, v) =>
          st.execute(
            s"CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('$k', '$v')")
        }
      } finally st.close()
    } finally c0.close()
    val creds = Map("user" -> "repl_user", "password" -> "repl_secret")
    graft.sources.Jdbc.write(
      Tables(spark, sf()).region.select(col("r_regionkey"), col("r_name")),
      url, s""""$db"."region"""")
    killDb(url) // reboot so requireAuthentication activates

    // without credentials every path is refused at the endpoint
    intercept[SQLException] { DriverManager.getConnection(url) }
    intercept[Exception] { JdbcSource(spark, url).dbExists(db) }

    // with credentials the full cycle replicates (control-plane
    // connections AND Spark's distributed scans carry them)
    val source = JdbcSource(spark, url, numPartitions = 2, connProps = creds)
    assert(source.dbExists(db))
    val root = java.nio.file.Files.createTempDirectory("graft-auth").toString
    val target = DbCatalog(spark, s"$root/tgt")
    val job = ReplicationJob(spark, source, target, s"$root/dumps",
      ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10))
    assert(job.run(db).verify == "SUCCESS")
    assert(target.readTable(db, "region").count() == 5)
  }
}
