package graft.repl

import org.apache.spark.sql.SparkSession

/** Multi-database replication sweep — the engine's form of the reference's
  * cron orchestration (`/root/reference/README.md:58-62`: one cron entry
  * per database invoking the driver, the per-db pidfile lock
  * (`misc_functions.sh:151-183`) keeping overlapping schedules from
  * double-running a db).
  *
  * One sweep replicates every database in `dbs` through ONE engine/Spark
  * session, concurrently ([[Parallel]] — each db's dump+load is its own
  * chain of Spark jobs, so N small dbs keep the cluster busy where a serial
  * sweep would leave it idle). Isolation remains per db:
  *
  *   - each db takes its own instance lock inside [[ReplicationJob.run]] —
  *     a db already being replicated (by this sweep racing a cron overlap,
  *     or another engine instance on a shared dump root) is reported
  *     `skipped`, not failed, and the rest of the sweep proceeds: the
  *     reference's "another instance running → exit 1" per-process behavior
  *     becomes per-db skip semantics in a multi-db driver;
  *   - one db's failure (source missing, merge refusal) is caught and
  *     reported; the other dbs replicate regardless — a cron fleet's
  *     independence, kept inside one process;
  *   - every attempt still lands one row in the per-db run log
  *     ([[ReplTarget.logRun]]), so "which db last synced when" is one
  *     scan of `_repl_metadata/<db>/runs/` for a file target.
  */
final case class Sweep(spark: SparkSession, source: ReplSource,
                       target: ReplTarget, dumpRoot: String, cfg: ReplConfig) {

  /** Outcome of one db within a sweep: exactly one of `report` (ran),
    * `skipped` (lock busy elsewhere), or `error` is populated.
    */
  final case class Outcome(db: String, report: Option[RunReport],
                           skipped: Boolean, error: Option[String])

  private val job = ReplicationJob(spark, source, target, dumpRoot, cfg)

  /** Replicate `dbs` (deduplicated, allowlist-filtered like the reference's
    * `REPL_DB_LIST`, `env.sh:14`) concurrently; returns one [[Outcome]] per
    * db in input order.
    */
  def run(dbs: Seq[String]): Seq[Outcome] = {
    val uniq = dbs.distinct
    val (allowed, blocked) = uniq.partition(db =>
      cfg.dbAllowlist.isEmpty || cfg.dbAllowlist.contains(db))
    val out = new java.util.concurrent.ConcurrentHashMap[String, Outcome]()
    // allowlist filtering is a BENIGN skip, exactly like a held lock:
    // skipped=true, no error — callers branch on error presence alone
    blocked.foreach(db => out.put(db, Outcome(db, None, skipped = true, None)))
    // Bounded concurrency (cfg.sweepMaxConcurrent): each in-flight db is a
    // full dump+load chain holding endpoint connections and driver-side
    // job slots — a large allowlist queues behind the bound instead of
    // opening hundreds of concurrent chains (the implicit bound a cron
    // fleet gets from its scheduler slots).
    Parallel.foreach(allowed, cfg.sweepMaxConcurrent) { db =>
      val o =
        try Outcome(db, Some(job.run(db)), skipped = false, None)
        catch {
          case _: LockBusyException =>
            Outcome(db, None, skipped = true, None)
          case e: Throwable =>
            Outcome(db, None, skipped = false, Some(e.toString))
        }
      out.put(db, o)
    }
    uniq.map(out.get) // one Outcome per distinct db, in input order
  }

  /** CONTINUOUS multi-db replication from one session: every allowlisted
    * db gets an always-on polled stream ([[graft.streaming
    * .StreamingReplication.replicatePolled]]) pulling `event_id >
    * watermark` from the source each trigger — the engine's replacement
    * for the reference's per-db cron fleet (`README.md:58-62`) when "every
    * N minutes" should be "continuously". Databases must be bootstrapped
    * first (one [[run]] sweep does it); the polled stream then keeps each
    * watermark converged. Each applied batch commits its watermark like a
    * cycle does, so a file replica publishes one db epoch per batch
    * ([[DbEpochs]]). Returns the started queries in db order —
    * callers own their lifecycle (awaitTermination/stop). One-shot mode
    * drains every db once and terminates (cron catch-up / tests).
    */
  def runPolled(dbs: Seq[String], checkpointRoot: String,
                oneShot: Boolean = true,
                pollInterval: String = "10 seconds")
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val allowed = dbs.distinct.filter(db =>
      cfg.dbAllowlist.isEmpty || cfg.dbAllowlist.contains(db))
    allowed.map { db =>
      graft.streaming.StreamingReplication.replicatePolled(
        spark, source, target, db, s"$checkpointRoot/$db",
        oneShot = oneShot, pollInterval = pollInterval)
    }
  }
}
