package graft.repl

import graft.util.FaultPoints
import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A live JDBC endpoint as the replication TARGET — the engine's
  * re-expression of the reference's load side: `REPL LOAD` runs over the
  * TARGET HiveServer2 JDBC connection (`/root/reference/env.sh:4`
  * `TARGET_JDBC_URL`; `replay_dump_at_target`,
  * `beeline_functions.sh:220-226`). Together with [[JdbcSource]] this
  * completes the reference's two-endpoint topology: warehouse→warehouse
  * replication with BOTH ends behind JDBC.
  *
  * Scale shape — the classic staging-table upsert of JDBC warehouses:
  *
  *   - bulk rows always move through Spark's PARALLEL batched JDBC writer
  *     (N executors, `batchsize`d inserts), never a driver-side cursor —
  *     bootstrap restores write the table directly, incremental merges
  *     write the net-effect delta into per-table STAGING tables;
  *   - the merge itself is then two control-plane statements in ONE
  *     endpoint transaction (`DELETE … WHERE key IN (SELECT … staging)`,
  *     `INSERT … SELECT … staging`), so a crash at any point rolls back and
  *     the idempotent retry converges — the transactionality Hive ACID gave
  *     the reference, recreated with plain JDBC transactions;
  *   - replication metadata (watermark, run log) lives in a `graft_meta`
  *     schema AT the endpoint — the reference reads `REPL STATUS` from the
  *     target itself (`beeline_functions.sh:3-25`), and a watermark stored
  *     beside the data survives anything that preserves the database.
  *
  * Key typing: the engine's event key is a STRING (first column cast);
  * before staging, dead keys are cast BACK to the key column's native type
  * on the Spark side (rich cast semantics), so the endpoint's DELETE…IN
  * compares native types — no reliance on the endpoint's string-cast matrix
  * (Derby, notably, cannot cast INTEGER→VARCHAR in SQL).
  *
  * Views: definitions (engine dialect — Spark SQL with backtick
  * identifiers) are replicated VERBATIM into `graft_meta.repl_views` and
  * evaluated by Spark over the endpoint's tables ([[readView]]), the same
  * contract as [[DbCatalog]]'s file-resident view definitions. Translating
  * arbitrary Spark SQL into each endpoint's dialect would silently change
  * semantics; storing the definition does not.
  *
  * External tables have no JDBC plane: pass `extRoot` (a filesystem
  * replicas root) to host their file sync, or loads carrying external
  * tables are refused loudly.
  */
final case class JdbcTarget(spark: SparkSession, url: String,
                            extRoot: Option[String] = None,
                            batchSize: Int = 1000,
                            connProps: Map[String, String] = Map.empty,
                            urlProvider: Option[() => String] = None)
    extends ReplTarget {

  /** Endpoint URL, re-resolved on every connection and distributed write —
    * see [[JdbcSource.endpoint]]: the analogue of the reference's ZooKeeper
    * service discovery (`env.sh:4-5`), letting an endpoint failover between
    * retry attempts land on the newly-resolved live endpoint.
    */
  private def endpoint: String = urlProvider.map(_()).getOrElse(url)

  // SQL-standard identifier escaping — same rules as [[JdbcSource]].
  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
  private def qt(db: String, table: String): String = s"${q(db)}.${q(table)}"

  private def props: Properties = {
    val p = new Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def withConn[A](body: Connection => A): A = {
    val c = DriverManager.getConnection(endpoint, props)
    try body(c) finally c.close()
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Execute DDL, treating "object already exists / does not exist" as a
    * no-op (Derby has no IF [NOT] EXISTS clause).
    */
  private def execIdempotent(sql: String): Unit = withConn { c =>
    try exec(c, sql) catch { case _: SQLException => () }
  }

  // -------------------------------------------------------- database plane

  def dbExists(db: String): Boolean = withConn { c =>
    val rs = c.getMetaData.getSchemas(null, db)
    try rs.next() finally rs.close()
  }

  override def createDb(db: String): Unit = {
    if (!dbExists(db)) execIdempotent(s"CREATE SCHEMA ${q(db)}")
    ensureMeta()
  }

  private def listObjects(db: String, kind: String): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, db, "%", Array(kind))
    val names = scala.collection.mutable.ListBuffer[String]()
    try { while (rs.next()) names += rs.getString("TABLE_NAME") } finally rs.close()
    names.toSeq
      .filterNot(n => n == DbCatalog.EventsTable || n.startsWith(JdbcTarget.StagingPrefix))
      .sorted
  }

  override def listTables(db: String): Seq[String] = listObjects(db, "TABLE")

  override def tableExists(db: String, table: String): Boolean = withConn { c =>
    val rs = c.getMetaData.getTables(null, db, table, Array("TABLE"))
    try rs.next() finally rs.close()
  }

  override def dropTable(db: String, table: String): Unit =
    execIdempotent(s"DROP TABLE ${qt(db, table)}")

  override def readTable(db: String, table: String): DataFrame =
    graft.sources.Jdbc.read(spark, endpoint, qt(db, table), props)

  /** String columns are created as comparable VARCHAR(32672) instead of
    * the Derby dialect's CLOB default — CLOBs reject equality/IN
    * comparisons, which would break both pushed-down string filters and
    * the staged merge's key subquery for string-keyed tables. (32672 is
    * Derby's VARCHAR ceiling; endpoints whose rows exceed it belong on a
    * file-plane target.)
    */
  private def stringColTypes(df: DataFrame): Option[String] = {
    val overrides = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(32672)")
    if (overrides.isEmpty) None else Some(overrides.mkString(", "))
  }

  override def writeTable(db: String, table: String, df: DataFrame): Unit = {
    graft.sources.Jdbc.write(df, endpoint, qt(db, table), mode = "overwrite",
      batchSize = batchSize, props = props, colTypes = stringColTypes(df))
    FaultPoints.hit(FaultPoints.JdbcAfterWriteTable, table)
  }

  /** No physical partition plane: the partition column stores as an
    * ordinary column (the endpoint's own partitioning/clustering is its
    * concern, not the replication stream's).
    */
  override def writeTablePartitioned(db: String, table: String, df: DataFrame,
                                     partCol: String): Unit =
    writeTable(db, table, df)

  override def partitionSpec(db: String, table: String): Option[String] = None

  /** ALTER … ADD COLUMN per missing field, types mapped through Spark's
    * own JDBC dialect for this url (the same mapping the writer uses), so
    * existing rows read the new columns as NULL.
    */
  override def migrateTable(db: String, table: String, newSchema: StructType): Unit = {
    val have = readTable(db, table).schema.fieldNames.toSet
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(endpoint)
    newSchema.fields.filterNot(f => have(f.name)).foreach { f =>
      val tpe = f.dataType match {
        // same comparable-VARCHAR rule as [[writeTable]]
        case org.apache.spark.sql.types.StringType => "VARCHAR(32672)"
        case dt => dialect.getJDBCType(dt)
          .orElse(org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
            .getCommonJDBCType(dt))
          .getOrElse(throw new IllegalArgumentException(
            s"no JDBC type for ${f.name}: $dt"))
          .databaseTypeDefinition
      }
      withConn(exec(_, s"ALTER TABLE ${qt(db, table)} ADD COLUMN ${q(f.name)} $tpe"))
    }
  }

  /** Idempotent replay rename (old gone + new present = already applied). */
  override def applyRename(db: String, from: String, to: String): Unit = {
    if (!tableExists(db, from) && tableExists(db, to)) return
    require(tableExists(db, from), s"rename source missing: $db.$from")
    require(!tableExists(db, to), s"rename target exists: $db.$to")
    withConn(exec(_, s"RENAME TABLE ${qt(db, from)} TO ${q(to)}"))
  }

  override def applyTruncate(db: String, table: String): Unit =
    withConn(exec(_, s"TRUNCATE TABLE ${qt(db, table)}"))

  // ------------------------------------------------------------ view plane
  // (definitions in graft_meta.repl_views, evaluated by Spark — see class doc)

  override def listViews(db: String): Seq[String] = {
    ensureMeta()
    withConn { c =>
      val ps = c.prepareStatement(
        s"""SELECT "name" FROM ${JdbcTarget.ViewsTable} WHERE "db" = ?""")
      try {
        ps.setString(1, db)
        val rs = ps.executeQuery()
        val names = scala.collection.mutable.ListBuffer[String]()
        try { while (rs.next()) names += rs.getString(1) } finally rs.close()
        names.toSeq.sorted
      } finally ps.close()
    }
  }

  override def createView(db: String, name: String, sql: String): Unit = {
    ensureMeta()
    withConn { c =>
      c.setAutoCommit(false)
      try {
        val del = c.prepareStatement(
          s"""DELETE FROM ${JdbcTarget.ViewsTable} WHERE "db" = ? AND "name" = ?""")
        try { del.setString(1, db); del.setString(2, name); del.executeUpdate() }
        finally del.close()
        val ins = c.prepareStatement(
          s"""INSERT INTO ${JdbcTarget.ViewsTable} ("db", "name", "sql") VALUES (?, ?, ?)""")
        try { ins.setString(1, db); ins.setString(2, name); ins.setString(3, sql)
              ins.executeUpdate() }
        finally ins.close()
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }
  }

  override def dropView(db: String, name: String): Unit = {
    ensureMeta()
    withConn { c =>
      val ps = c.prepareStatement(
        s"""DELETE FROM ${JdbcTarget.ViewsTable} WHERE "db" = ? AND "name" = ?""")
      try { ps.setString(1, db); ps.setString(2, name); ps.executeUpdate() }
      finally ps.close()
    }
  }

  def viewSql(db: String, name: String): Option[String] = {
    ensureMeta()
    withConn { c =>
      val ps = c.prepareStatement(
        s"""SELECT "sql" FROM ${JdbcTarget.ViewsTable} WHERE "db" = ? AND "name" = ?""")
      try {
        ps.setString(1, db); ps.setString(2, name)
        val rs = ps.executeQuery()
        try { if (rs.next()) Some(rs.getString(1)) else None } finally rs.close()
      } finally ps.close()
    }
  }

  /** Evaluate a replicated view: its engine-dialect SQL runs in Spark over
    * the endpoint's tables, registered as session temp views — the same
    * resolution contract as [[DbCatalog.readView]].
    */
  def readView(db: String, name: String): DataFrame = {
    val sql = viewSql(db, name).getOrElse(
      throw new NoSuchElementException(s"view $db.$name"))
    listTables(db).foreach(t => readTable(db, t).createOrReplaceTempView(t))
    spark.sql(sql)
  }

  // ----------------------------------------------------------- merge plane

  override def repairTable(db: String, table: String): Unit = {
    // A crashed merge leaves only staging tables (the live table's DELETE+
    // INSERT rolled back with its transaction) — drop them; the retry
    // restages from scratch.
    dropStaging(db, table)
  }

  override def cleanStaging(db: String): Unit = withConn { c =>
    val rs = c.getMetaData.getTables(null, db, s"${JdbcTarget.StagingPrefix}%", Array("TABLE"))
    val names = scala.collection.mutable.ListBuffer[String]()
    try { while (rs.next()) names += rs.getString("TABLE_NAME") } finally rs.close()
    names.foreach(n => try exec(c, s"DROP TABLE ${qt(db, n)}")
      catch { case _: SQLException => () })
  }

  private def stagingNames(table: String): (String, String) =
    (s"${JdbcTarget.StagingPrefix}rows_$table", s"${JdbcTarget.StagingPrefix}keys_$table")

  private def dropStaging(db: String, table: String): Unit = {
    val (rowsT, keysT) = stagingNames(table)
    execIdempotent(s"DROP TABLE ${qt(db, rowsT)}")
    execIdempotent(s"DROP TABLE ${qt(db, keysT)}")
  }

  /** Staging-table merge, committed as ONE endpoint transaction:
    *
    *   1. net-effect upsert rows and dead keys land in staging tables via
    *      Spark's parallel batched writer (the only data-plane movement —
    *      distributed, never through the driver);
    *   2. `DELETE FROM live WHERE key IN (SELECT key FROM staged_keys)` then
    *      `INSERT INTO live SELECT … FROM staged_rows` run on one
    *      connection with autocommit off and commit together — a crash
    *      anywhere rolls the live table back to its pre-merge state, the
    *      watermark (committed after, [[Load.replay]]) stays put, and the
    *      retry restages idempotently.
    */
  override def mergeDml(db: String, table: String, upserts: DataFrame,
                        deadKeys: DataFrame): TableMergeStats = {
    val keyField = readTable(db, table).schema.fields.head
    val (rowsT, keysT) = stagingNames(table)
    // cast the string event keys back to the key column's native type in
    // Spark, so the endpoint's IN-subquery compares native types
    val keys = deadKeys.select(col("key").cast(keyField.dataType).as(keyField.name))
    graft.sources.Jdbc.write(keys, endpoint, qt(db, keysT), mode = "overwrite",
      batchSize = batchSize, props = props, colTypes = stringColTypes(keys))
    graft.sources.Jdbc.write(upserts, endpoint, qt(db, rowsT),
      mode = "overwrite", batchSize = batchSize, props = props,
      colTypes = stringColTypes(upserts))
    val colList = upserts.schema.fieldNames.map(q).mkString(", ")
    // the worst endpoint-crash window: staged data landed, merge
    // transaction not yet opened
    FaultPoints.hit(FaultPoints.JdbcBeforeMergeTxn, table)
    // Merge cost comes free from the endpoint's own update counts — no
    // extra query. Bytes/partitions are the endpoint's plane, not ours.
    val inserted = withConn { c =>
      c.setAutoCommit(false)
      try {
        val st = c.createStatement()
        val n = try {
          st.executeUpdate(
            s"DELETE FROM ${qt(db, table)} WHERE ${q(keyField.name)} IN " +
            s"(SELECT ${q(keyField.name)} FROM ${qt(db, keysT)})")
          st.executeUpdate(
            s"INSERT INTO ${qt(db, table)} ($colList) " +
            s"SELECT $colList FROM ${qt(db, rowsT)}")
        } finally st.close()
        c.commit()
        n
      } catch { case e: Throwable => c.rollback(); throw e }
    }
    dropStaging(db, table)
    TableMergeStats(table, rowsMerged = inserted.toLong,
      bytesRewritten = 0L, partitionsTouched = 0L)
  }

  // ----------------------------------------------- replication metadata
  // (watermark + run log in a graft_meta schema AT the endpoint)

  @volatile private var metaReady = false
  private def ensureMeta(): Unit = {
    if (metaReady) return
    execIdempotent(s"CREATE SCHEMA ${q(JdbcTarget.MetaSchema)}")
    execIdempotent(
      s"""CREATE TABLE ${JdbcTarget.WatermarkTable}
         |("db" VARCHAR(256) NOT NULL PRIMARY KEY, "last_repl_id" BIGINT NOT NULL)"""
        .stripMargin)
    execIdempotent(
      s"""CREATE TABLE ${JdbcTarget.RunsTable}
         |("db" VARCHAR(256), "kind" VARCHAR(16), "from_id" BIGINT,
         | "to_id" BIGINT, "attempts" INT, "verify" VARCHAR(16),
         | "duration_ms" BIGINT, "at_nanos" BIGINT,
         | "table_stats" LONG VARCHAR)""".stripMargin)
    // Upgrade path: a runs table created before table_stats existed gains
    // the column in place (swallowed as a no-op where it already exists).
    execIdempotent(
      s"""ALTER TABLE ${JdbcTarget.RunsTable} ADD COLUMN "table_stats" LONG VARCHAR""")
    execIdempotent(
      s"""CREATE TABLE ${JdbcTarget.ViewsTable}
         |("db" VARCHAR(256) NOT NULL, "name" VARCHAR(256) NOT NULL,
         | "sql" LONG VARCHAR, PRIMARY KEY ("db", "name"))""".stripMargin)
    metaReady = true
  }

  override def watermark(db: String): Option[Long] = {
    ensureMeta()
    withConn { c =>
      val ps = c.prepareStatement(
        s"""SELECT "last_repl_id" FROM ${JdbcTarget.WatermarkTable} WHERE "db" = ?""")
      try {
        ps.setString(1, db)
        val rs = ps.executeQuery()
        try { if (rs.next()) Some(rs.getLong(1)) else None } finally rs.close()
      } finally ps.close()
    }
  }

  /** Atomic by the endpoint's transaction: delete-then-insert committed as
    * one unit (simpler than dialect-specific MERGE/UPSERT and just as
    * atomic for a single-row metadata write).
    */
  override def commitWatermark(db: String, id: Long): Unit = {
    ensureMeta()
    withConn { c =>
      c.setAutoCommit(false)
      try {
        val del = c.prepareStatement(
          s"""DELETE FROM ${JdbcTarget.WatermarkTable} WHERE "db" = ?""")
        try { del.setString(1, db); del.executeUpdate() } finally del.close()
        val ins = c.prepareStatement(
          s"""INSERT INTO ${JdbcTarget.WatermarkTable} ("db", "last_repl_id")
             |VALUES (?, ?)""".stripMargin)
        try { ins.setString(1, db); ins.setLong(2, id); ins.executeUpdate() }
        finally ins.close()
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }
  }

  override def logRun(r: RunReport): Unit = {
    ensureMeta()
    withConn { c =>
      val ps = c.prepareStatement(
        s"""INSERT INTO ${JdbcTarget.RunsTable}
           |("db", "kind", "from_id", "to_id", "attempts", "verify",
           | "duration_ms", "at_nanos", "table_stats")
           |VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin)
      try {
        ps.setString(1, r.db); ps.setString(2, r.kind)
        ps.setLong(3, r.fromId); ps.setLong(4, r.toId)
        ps.setInt(5, r.attempts); ps.setString(6, r.verify)
        ps.setLong(7, r.durationMs); ps.setLong(8, System.nanoTime())
        ps.setString(9, r.tablesJson)
        ps.executeUpdate()
      } finally ps.close()
    }
  }

  // ------------------------------------------------------ external plane

  override def extTablePath(db: String, table: String): Option[String] =
    extRoot.map(r => new Path(new Path(r, db), table).toString)
}

object JdbcTarget {
  /** Prefix of per-merge staging tables (hidden from table listings). */
  val StagingPrefix = "_stg_"

  val MetaSchema = "graft_meta"
  private def mq(t: String) = s""""$MetaSchema"."$t""""
  val WatermarkTable: String = mq("repl_watermark")
  val RunsTable: String = mq("repl_runs")
  val ViewsTable: String = mq("repl_views")
}
