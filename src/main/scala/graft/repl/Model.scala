package graft.repl

/** Core model of the replication engine (SURVEY.md §7.1 step 1).
  *
  * Mirrors the semantics of the reference orchestrator
  * (`/root/reference/hive3repl.sh:37-187`): a database is replicated either
  * by a full bootstrap snapshot or by an incremental delta from a
  * transaction-id watermark, then the load is verified by comparing the
  * post-load watermark against the dump's transaction id.
  */

/** Bootstrap = full snapshot (reference `HQL/replbootstrap.hql:1-3`);
  * Incremental = ordered events after a watermark (`HQL/repldump.hql:1-3`).
  */
sealed trait DumpKind { def name: String }
object DumpKind {
  case object Bootstrap extends DumpKind { val name = "bootstrap" }
  case object Incremental extends DumpKind { val name = "incremental" }
  def parse(s: String): DumpKind = s match {
    case "bootstrap"   => Bootstrap
    case "incremental" => Incremental
    case other         => throw new IllegalArgumentException(s"bad dump kind: $other")
  }
}

/** Result of a dump: the on-disk export plus the txn id it is current to —
  * the 2-column row the reference awk-parses from `REPL DUMP`
  * (`/root/reference/beeline_functions.sh:117-118,166-167`).
  */
final case class DumpResult(path: String, txnId: Long)

/** Self-describing dump metadata, persisted inside the dump directory
  * (the Spark-native form of Hive's `_dumpmetadata`).
  */
final case class DumpManifest(
    db: String,
    kind: DumpKind,
    fromId: Long, // -1 for bootstrap
    toId: Long,
    tables: Seq[String],
    /** Source db directory — external tables are synced straight from here
      * at load time (the reference's cross-cluster read via
      * `SOURCE_HDFS_PREFIX`, `/root/reference/beeline_functions.sh:195-196`).
      */
    sourceDbPath: String = "",
    /** The subset of `tables` that are EXTERNAL at the SOURCE — the load
      * side must not re-derive this with its own naming convention: a
      * JDBC source has no file plane (never external) even if a table's
      * name happens to match the file-catalog's `ext_` convention.
      */
    externalTables: Seq[String] = Seq.empty)

/** The five-way post-load watermark comparison of the reference
  * (`/root/reference/hive3repl.sh:106-120` bootstrap,
  * `:155-169` incremental).
  */
sealed trait VerifyResult { def name: String }
object VerifyResult {
  /** post-load watermark == dump txn id → replication verified. */
  case object Success extends VerifyResult { val name = "SUCCESS" }
  /** incremental only: watermark unchanged → no transactions to apply. */
  case object NoOp extends VerifyResult { val name = "NOOP" }
  /** post-load watermark < dump txn id → partial/failed load. */
  case object Behind extends VerifyResult { val name = "BEHIND" }
  /** post-load watermark > dump txn id → concurrent load detected. */
  case object Ahead extends VerifyResult { val name = "AHEAD" }
  /** watermark unreadable → unverifiable. */
  case object Unknown extends VerifyResult { val name = "UNKNOWN" }

  def of(postLoadId: Option[Long], dumpTxnId: Long, priorId: Option[Long]): VerifyResult =
    postLoadId match {
      case None => Unknown
      // The no-op check comes FIRST, as in the reference's incremental flow
      // (`hive3repl.sh:157-158`): watermark unchanged from before the run
      // AND equal to the dump txn id ⇒ nothing to apply.
      case Some(p) if priorId.contains(p) && p == dumpTxnId => NoOp
      case Some(p) if p == dumpTxnId                        => Success
      case Some(p) if p < dumpTxnId                         => Behind
      case Some(_)                                          => Ahead
    }
}

/** Engine configuration — the Spark-native form of the reference's
  * `env.sh` knobs (`/root/reference/env.sh:1-42`).
  */
final case class ReplConfig(
    dumpRoot: String,
    includeExternalTables: Boolean = false, // env.sh:8
    incrRerun: Int = 3,                     // env.sh:24
    rerunSleepMs: Long = 1000,              // env.sh:26 (60 s in prod)
    dbAllowlist: Set[String] = Set.empty,   // env.sh:14 (empty = allow all)
    lockStaleMs: Long = 60 * 60 * 1000L,
    extCopyParallelism: Int = 32,           // HQL/replextload.hql:5-8 (128/500)
    /** End-to-end content verify of external-table syncs (the check the
      * reference's `-skipcrccheck` disables, `HQL/replextload.hql:10`):
      * when on, a digest mismatch fails the sync BEFORE the watermark can
      * commit over a corrupt replica. Off by default, like distcp's.
      */
    extVerify: Boolean = false,
    /** URI prefix of the SOURCE cluster's filesystem as seen FROM the
      * target — the reference's `SOURCE_HDFS_PREFIX` (`env.sh:18`,
      * prepended to dump paths so the target cluster's `REPL LOAD` reads
      * the source cluster's HDFS, `beeline_functions.sh:195-196`). Applied
      * at LOAD time to the dump path and the manifest's source db path
      * (external-table syncs). Empty = both ends share one namespace. A
      * path that already carries a different filesystem qualifier is
      * refused loudly ([[Load.sourceQualified]]) — blind concatenation
      * would silently read the wrong cluster.
      */
    sourcePathPrefix: String = "",
    /** Max databases replicating at once within one [[Sweep]] — the bound
      * a cron fleet gets implicitly from its scheduler slots. A 500-db
      * allowlist must not open 500 concurrent dump/load chains against the
      * endpoints.
      */
    sweepMaxConcurrent: Int = 4,
    /** Auto-compaction of a file-catalog SOURCE's event log after a
      * verified cycle ([[Maintenance]]): compact when the log holds more
      * than this factor × its estimated compacted size. 0 (default) = off.
      */
    autoCompactFactor: Double = 0.0,
    /** Auto-retention after a verified cycle: purge source events at or
      * below THIS replica's committed watermark. Correct for SINGLE-replica
      * deployments only — a fleet must compute the min watermark across
      * replicas and call [[Maintenance.run]] itself (purging past a lagging
      * replica's watermark would strand it).
      */
    autoPurge: Boolean = false,
    /** Directory (any Hadoop filesystem) receiving one JSON log-file
      * artifact per run, regardless of target kind — the reference's
      * operational habit of uploading each run's log to an HDFS logs dir
      * (`misc_functions.sh:115-149`). The run-log TABLES (file target:
      * `_repl_metadata/<db>/runs/`; JDBC target: `graft_meta.repl_runs`)
      * remain the queryable record; this is the ops-facing file copy.
      * None (default) = off.
      */
    runLogDir: Option[String] = None)

/** Per-table data-plane cost of one load — read from `observe()` metrics
  * riding the merge's own write job (a `CollectMetrics` node: no extra
  * scan, no `.count()` side trips) plus file-listing metadata. The depth
  * the reference's log tail never had: WHAT a cycle rewrote, not just that
  * it verified.
  *
  *   - `rowsMerged`: rows the merge wrote (file targets: the rewritten
  *     table/slice; JDBC targets: upsert rows the endpoint inserted);
  *   - `bytesRewritten`: bytes of files the merge wrote (0 for targets
  *     without a file plane — the endpoint owns physical storage);
  *   - `partitionsTouched`: partition dirs rewritten (1 = whole
  *     unpartitioned table; 0 for targets without a partition plane).
  */
final case class TableMergeStats(
    table: String,
    rowsMerged: Long,
    bytesRewritten: Long,
    partitionsTouched: Long) {
  def +(o: TableMergeStats): TableMergeStats =
    TableMergeStats(table, rowsMerged + o.rowsMerged,
      bytesRewritten + o.bytesRewritten, partitionsTouched + o.partitionsTouched)
  def json: String =
    s"""{"table":${Json.str(table)},"rowsMerged":$rowsMerged,""" +
    s""""bytesRewritten":$bytesRewritten,"partitionsTouched":$partitionsTouched}"""
}

/** JSON string escaping shared by every hand-rendered JSON emitter (run
  * logs, file artifacts, the CLI line, dump and table manifests), and the
  * one parser that reads them back. Db/table names with quotes are
  * legal throughout the engine (the JDBC planes escape them in SQL), so
  * the log plane must escape them too or emit malformed records; error
  * text additionally carries newlines and backslashes from Spark plans.
  */
private[graft] object Json {
  def str(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse what the renderers wrote (Jackson is on Spark's classpath). */
  def parse(json: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(json)
}

/** Outcome of one [[Load.replay]]: the dump's manifest, the attempt that
  * succeeded, and the per-table merge cost of the successful attempt.
  */
final case class LoadResult(
    manifest: DumpManifest,
    attempts: Int,
    tableStats: Seq[TableMergeStats])

/** One replication run's outcome, appended to the engine run log.
  * `tableStats` covers the incremental merge plane (bootstrap restores and
  * external file syncs report through their own verify/digest machinery).
  */
final case class RunReport(
    db: String,
    kind: String,
    fromId: Long,
    toId: Long,
    attempts: Int,
    verify: String,
    durationMs: Long,
    tableStats: Seq[TableMergeStats] = Seq.empty) {
  /** The `"tables":[…]` JSON fragment shared by every run-log writer and
    * the CLI line — one renderer, so the formats can never drift.
    */
  def tablesJson: String =
    tableStats.sortBy(_.table).map(_.json).mkString("[", ",", "]")

  /** The full run record as one JSON line — the single renderer behind the
    * engine run log ([[MetadataStore.logRun]]) and the per-run log-file
    * artifact ([[ReplicationJob]] `runLogDir`), so the formats can't drift.
    */
  def json: String =
    s"""{"db":${Json.str(db)},"kind":"$kind","fromId":$fromId,"toId":$toId,""" +
    s""""attempts":$attempts,"verify":"$verify","durationMs":$durationMs,""" +
    s""""tables":$tablesJson}"""
}
