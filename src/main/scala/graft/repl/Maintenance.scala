package graft.repl

import org.apache.spark.sql.functions._

/** Post-success event-log maintenance policy — the engine's analogue of the
  * background compactor Hive ACID ran for the reference's change stream
  * (the engine owns its log, so it owns the compactor, [[DbCatalog
  * .compactEvents]]) plus retention ([[DbCatalog.purgeEvents]]). Wired into
  * [[ReplicationJob]] after a verified cycle so a long-lived source's log
  * stays bounded without a separate cron.
  *
  * Trigger economics: a steady cycle costs ONE aggregate scan of the log,
  * plus the purge's rewrite when the replica floor has passed any event.
  * The scan answers both decisions:
  *   - compaction: `count` vs an estimate of the compacted size
  *     (`approx_count_distinct` of the DML (table, key) pairs + exact
  *     non-DML count). The O(log)-shuffle compaction only runs when the
  *     log holds more than `factor ×` that estimate. (The estimate ignores
  *     barrier epochs — a table recreated N times keeps N copies of a key,
  *     making the estimate LOW and compaction slightly eager — the safe
  *     direction.)
  *   - purge: the max event_id (the txn counter, which must survive) and
  *     the count at or below the floor. Event ids are unique, so the count
  *     the rewrite drops is known before it runs; no before/after counts.
  * A cycle that compacts decides its purge from one more scan of the
  * compacted log.
  *
  * CONCURRENCY: like [[DbCatalog.compactEvents]], callers must hold the
  * db's writer lock; [[ReplicationJob]] additionally holds the dump lock so
  * no concurrent dump reads the log mid-rewrite.
  */
object Maintenance {

  final case class Report(eventsBefore: Long, eventsAfter: Long, purged: Long) {
    def compacted: Boolean = eventsAfter < eventsBefore
  }

  /** The log maintenance can rewrite: a file-catalog source's (a remote
    * JDBC source owns its log).
    */
  def logOf(source: ReplSource): Option[DbCatalog] =
    Some(source).collect { case dc: DbCatalog => dc }

  /** Run the policy: compact when `events > factor × estimatedNetSize`
    * (factor ≤ 0 disables), then purge events at or below `replicaFloor`
    * (None disables; the floor must be the MIN watermark across ALL
    * replicas — a single-replica deployment passes its own, a fleet
    * computes the min). The newest event always survives (it is the txn
    * counter, [[DbCatalog.purgeEvents]]).
    */
  def run(source: DbCatalog, db: String, factor: Double,
          replicaFloor: Option[Long]): Report = {
    val floor = replicaFloor.getOrElse(Long.MinValue)
    val seen = scan(source, db, floor)
    val (before, after, log) =
      if (factor > 0 && seen.n > factor * seen.estimate) {
        val (b, a) = source.compactEvents(db)
        (b, a, if (replicaFloor.isDefined) scan(source, db, floor) else seen)
      } else (seen.n, seen.n, seen)

    val purged = replicaFloor match {
      case Some(f) =>
        // never behead the txn counter: a floor at or above it keeps
        // exactly the newest event
        val (belowId, dropped) =
          if (f < log.top) (f, log.atOrBelowFloor) else (log.top - 1, log.n - 1)
        if (dropped <= 0) 0L
        else { source.dropEventsThrough(db, belowId); dropped }
      case None => 0L
    }
    Report(before, after, purged)
  }

  /** What one aggregate scan of the log says: its size, the estimate of
    * its compacted size, the txn counter (`top`, 0 for an empty log) and
    * the events at or below the replica floor.
    */
  private final case class LogState(n: Long, estimate: Long, top: Long,
                                    atOrBelowFloor: Long)

  private def scan(source: DbCatalog, db: String, floor: Long): LogState = {
    val isDml = col("op").isin(DbCatalog.OpUpsert, DbCatalog.OpDelete)
    val r = source.readEvents(db).agg(
      count(lit(1)),
      approx_count_distinct(
        when(isDml, concat_ws("\u0000", col("table"), col("key")))),
      count(when(!isDml, 1)),
      max("event_id"),
      count(when(col("event_id") <= floor, 1))).head()
    LogState(n = r.getLong(0), estimate = math.max(1L, r.getLong(1) + r.getLong(2)),
      top = if (r.isNullAt(3)) 0L else r.getLong(3), atOrBelowFloor = r.getLong(4))
  }
}
