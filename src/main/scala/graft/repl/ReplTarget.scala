package graft.repl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The write-side surface a replication TARGET must expose — everything
  * [[Load]] and [[ReplicationJob]] drive when replaying a dump. The
  * reference's target is a second HiveServer2 JDBC endpoint
  * (`/root/reference/env.sh:4` `TARGET_JDBC_URL`; `REPL LOAD` runs over the
  * target connection, `beeline_functions.sh:220-226`), so the engine
  * supports the full two-endpoint topology behind this one trait:
  *
  *   - [[DbCatalog]]: a directory-backed warehouse (parquet tables, one
  *     manifest commit per table write, file-resident metadata) — the
  *     file-native path;
  *   - [[JdbcTarget]]: a live JDBC endpoint loaded transactionally, with
  *     the bulk rows moved by Spark's parallel batched JDBC writer and the
  *     merge committed as one endpoint transaction.
  *
  * Replication METADATA (watermark, run log) belongs to the target — the
  * reference reads `REPL STATUS` from the target endpoint itself
  * (`beeline_functions.sh:3-25`), so a replica carries its own high-water
  * mark wherever it lives. The contract every impl must keep: the
  * watermark commit is the LAST effect of a load (all data applied first),
  * and [[mergeDml]] is idempotent for a given delta (same net-effect batch
  * twice ≡ once) — together they give exactly-once effect under
  * at-least-once execution.
  */
trait ReplTarget {

  // -------------------------------------------------------- database plane
  def createDb(db: String): Unit

  /** User tables only (never replication metadata or staging objects). */
  def listTables(db: String): Seq[String]
  def tableExists(db: String, table: String): Boolean
  def dropTable(db: String, table: String): Unit
  def readTable(db: String, table: String): DataFrame

  /** Overwrite-write a table (bootstrap restore / CREATE_TABLE replay). */
  def writeTable(db: String, table: String, df: DataFrame): Unit

  /** Overwrite-write preserving the dump's partition layout. Targets
    * without a physical partition plane (JDBC) store `partCol` as an
    * ordinary column.
    */
  def writeTablePartitioned(db: String, table: String, df: DataFrame,
                            partCol: String): Unit

  /** Physical partition column of a stored table, if the target keeps one
    * (drives partition-scoped merges; non-layout targets return None).
    */
  def partitionSpec(db: String, table: String): Option[String]

  /** Replay-side ALTER (add columns): migrate the stored table so existing
    * rows read the new columns as typed nulls.
    */
  def migrateTable(db: String, table: String, newSchema: StructType): Unit

  /** Replay-side RENAME: idempotent (old gone + new present = already
    * applied, no-op).
    */
  def applyRename(db: String, from: String, to: String): Unit

  /** Replay-side TRUNCATE: rows gone, schema kept. */
  def applyTruncate(db: String, table: String): Unit

  // ------------------------------------------------------------ view plane
  def listViews(db: String): Seq[String]

  /** Create/replace a view from its definition text (engine dialect:
    * backtick identifiers, bare table names resolved in `db`).
    */
  def createView(db: String, name: String, sql: String): Unit
  def dropView(db: String, name: String): Unit

  // ----------------------------------------------------------- merge plane

  /** Apply one table's net-effect DML batch: rows whose key is in
    * `deadKeys` disappear, then `upserts` land — as ONE atomic unit for
    * the impl's storage (a manifest commit for files, a transaction for
    * JDBC). `upserts` carries the table's full schema; `deadKeys` is a
    * single string column `key` (the engine key convention: first column
    * cast to string). Returns what the merge cost ([[TableMergeStats]]),
    * measured on the merge's own jobs — never with an extra scan.
    */
  def mergeDml(db: String, table: String, upserts: DataFrame,
               deadKeys: DataFrame): TableMergeStats

  /** Clean up after any interrupted write to this table (files a crashed
    * write left that nothing references). Idempotent; called before
    * existence checks and merges. A no-op for targets whose writes clean
    * up after themselves: transactional ones, and [[DbCatalog]], whose next
    * write in the same scope deletes what a crashed one left.
    */
  def repairTable(db: String, table: String): Unit

  /** Remove bootstrap-scope debris left by a crashed prior load. */
  def cleanStaging(db: String): Unit

  // ----------------------------------------------- replication metadata
  /** Replica watermark (`REPL STATUS` at the target); None = never
    * replicated.
    */
  def watermark(db: String): Option[Long]

  /** Commit the watermark — the LAST effect of a successful load, and its
    * one commit point: [[DbCatalog]] commits it as the db's next epoch
    * ([[DbEpochs.commit]]), which publishes the loaded tables with it;
    * [[JdbcTarget]] writes its watermark row.
    */
  def commitWatermark(db: String, id: Long): Unit

  /** Append one run report to the target-resident run log. */
  def logRun(r: RunReport): Unit

  // ------------------------------------------------------ external plane
  /** Filesystem path where an external table's files replicate to, or None
    * when this target has no file plane (loading a dump that carries
    * external tables into such a target is refused loudly).
    */
  def extTablePath(db: String, table: String): Option[String]
}
