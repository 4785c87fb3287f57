package graft.repl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The replication state machine — the Spark-native form of the reference
  * driver `/root/reference/hive3repl.sh:37-187`:
  *
  *   validate db → read target watermark (REPL STATUS) →
  *   branch: None ⇒ bootstrap dump, Some(id) ⇒ incremental dump FROM id →
  *   replay at target (with retries for incremental) →
  *   re-read watermark → five-way verify → run report.
  *
  * The load's watermark commit is the cycle's one commit point: for a file
  * replica the watermark commit is the epoch commit
  * ([[ReplTarget.commitWatermark]]), so the replica's state becomes
  * visible to pinned readers in the same pointer write that moves its
  * watermark, whatever happens after it (the run log, source maintenance).
  *
  * All beeline stdout parsing, pid locks and traps of the reference collapse
  * into typed calls, FileSystem lock markers and try/finally.
  */
final case class ReplicationJob(
    spark: SparkSession,
    source: ReplSource,
    target: ReplTarget,
    dumpRoot: String,
    cfg: ReplConfig) {

  private val dumper = Dump(spark, source, dumpRoot, cfg)
  private val loader = Load(spark, target, cfg)

  /** Count of source transactions not yet applied at the target — the
    * reference's "There are N transactions to be synced", computed correctly
    * as a real aggregation (fixing `/root/reference/TODO.md:3`, which notes
    * the bash arithmetic version is wrong vs real numEvents).
    */
  def pendingEvents(db: String): Long = {
    val wm = target.watermark(db).getOrElse(0L)
    source.readEventsAfter(db, wm).count()
  }

  /** Run one replication cycle; returns the run report. */
  def run(db: String): RunReport = {
    val t0 = System.nanoTime()
    require(cfg.dbAllowlist.isEmpty || cfg.dbAllowlist.contains(db),
      s"database $db not in allowlist") // reference misc_functions.sh:185-207
    require(source.dbExists(db), s"source database $db does not exist")

    // Per-db instance lock (reference hive3repl.sh:66-70).
    val fs = new Path(dumpRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = Locks.acquire(fs, new Path(dumpRoot, s"$db/run.lock"),
      java.util.UUID.randomUUID().toString, cfg.lockStaleMs)
    try {
      val priorId = target.watermark(db) // REPL STATUS (None = never replicated)
      val dump = priorId match {
        case None     => dumper.bootstrap(db)
        case Some(id) => dumper.incremental(db, id)
      }
      lock.refresh() // heartbeat between the dump and load phases
      val loaded = loader.replay(dump.path)
      val manifest = loaded.manifest
      val postId = target.watermark(db)
      val verify = VerifyResult.of(postId, dump.txnId, priorId)
      val report = RunReport(db, manifest.kind.name, manifest.fromId, manifest.toId,
        loaded.attempts, verify.name, (System.nanoTime() - t0) / 1000000L,
        loaded.tableStats)
      target.logRun(report)
      uploadRunLog(report)
      maintain(db, verify, postId)
      report
    } finally lock.release()
  }

  /** Per-run log-file artifact (`cfg.runLogDir`) — the reference uploads
    * each run's log file to an HDFS logs directory
    * (`misc_functions.sh:115-149` `copyFromLocalFile` of the session log);
    * the engine's equivalent writes the [[RunReport]] JSON line to the
    * configured directory on ANY Hadoop filesystem, named
    * `<db>_<kind>_<toId>_<nanos>.json` so concurrent sweeps never collide.
    * Best-effort like the reference's upload: a logging failure must not
    * fail a verified replication cycle, so it warns and moves on.
    */
  private def uploadRunLog(r: RunReport): Unit = cfg.runLogDir.foreach { dir =>
    try {
      val p = new Path(dir, s"${r.db}_${r.kind}_${r.toId}_${System.nanoTime()}.json")
      val lfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      lfs.mkdirs(p.getParent)
      val out = lfs.create(p, true)
      try out.write(r.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case e: Exception =>
      System.err.println(s"[repl] run-log upload to ${cfg.runLogDir.get} failed: $e")
    }
  }

  /** Post-success source-log maintenance ([[Maintenance]]): runs only for a
    * file-catalog source (a remote JDBC source owns its log), only after a
    * verified cycle, and under the db's dump lock so no concurrent dump
    * reads the log mid-rewrite (the run lock, already held, covers this
    * engine instance; the dump lock covers others on a shared dump root).
    */
  private def maintain(db: String, verify: VerifyResult, postId: Option[Long]): Unit = {
    if (cfg.autoCompactFactor <= 0 && !cfg.autoPurge) return
    if (verify != VerifyResult.Success && verify != VerifyResult.NoOp) return
    Maintenance.logOf(source).foreach { log =>
      val fs = new Path(dumpRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = Locks.acquire(fs, new Path(dumpRoot, s"$db/dump.lock"),
        java.util.UUID.randomUUID().toString, cfg.lockStaleMs)
      try Maintenance.run(log, db, cfg.autoCompactFactor,
        if (cfg.autoPurge) postId else None)
      finally lock.release()
    }
  }
}
