package graft.perfbench

import scala.collection.mutable
import graft.repl._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}

/** One change the benchmark makes at the source: `row` None = DELETE. */
final case class Change(table: String, key: Long, row: Option[Row])

/** What one replication cycle did. `payloadBytes` is the UTF-8 size of the
  * cycle's event payloads (the denominator of write amplification).
  */
final case class Cycle(seconds: Double, verify: String, payloadBytes: Long,
                       stats: Seq[TableMergeStats])

/** A source database holding the generated `tables`, an epoch-mode replica
  * and the replication job between them, all under `dir`.
  *
  * The replica's expected content is tracked here from the benchmark's own
  * change list (latest change per key over the generated base rows) — it
  * never reads what `Load` wrote to derive it.
  */
final class Replica(spark: SparkSession, dir: String, gen: Gen, tables: Seq[String]) {
  val db = "bench"
  val source = DbCatalog(spark, s"$dir/src")
  val target = DbCatalog(spark, s"$dir/tgt", epochMode = true)
  val dumpRoot = s"$dir/dumps"
  // single-replica production settings: auto-compaction and auto-purge on
  val cfg = ReplConfig(dumpRoot = dumpRoot, rerunSleepMs = 100,
    autoCompactFactor = 1.2, autoPurge = true)
  val job = ReplicationJob(spark, source, target, dumpRoot, cfg)
  private val latest = mutable.LinkedHashMap[(String, Long), Option[Row]]()

  def seed(): Unit = {
    source.createDb(db)
    tables.foreach(t => source.writeTable(db, t, gen.frame(spark, t)))
  }

  /** Append `changes` to the source log; returns their payload bytes. */
  def append(changes: Seq[Change]): Long = {
    val events = changes.map { c =>
      latest((c.table, c.key)) = c.row
      c.row match {
        case Some(r) => DbCatalog.Event(c.table, DbCatalog.OpUpsert, c.key.toString,
          Gen.json(r, Gen.schema(c.table)))
        case None => DbCatalog.Event(c.table, DbCatalog.OpDelete, c.key.toString, null)
      }
    }
    source.appendEvents(db, events)
    events.map(e => Option(e.rowJson).map(_.getBytes("UTF-8").length.toLong).getOrElse(0L)).sum
  }

  /** One cycle through the public entry point. */
  def run(payload: Long): Cycle = {
    val t0 = System.nanoTime()
    val r = job.run(db)
    Cycle((System.nanoTime() - t0) / 1e9, r.verify, payload, r.tableStats)
  }

  /** The same cycle as [[ReplicationJob.run]], made of the same public
    * calls, with a span around each phase. Spans of the bootstrap cycle's
    * shared phases carry a `bootstrap_` prefix so they stay out of the
    * per-cycle means.
    */
  def tracedRun(tr: Trace, payload: Long): Cycle = {
    val t0 = System.nanoTime()
    val dumper = Dump(spark, source, dumpRoot, cfg)
    val loader = Load(spark, target, cfg)
    val fs = new Path(dumpRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isBoot = target.watermark(db).isEmpty
    def name(phase: String) = if (isBoot) s"bootstrap_$phase" else phase
    val (verify, loaded) = tr.span(name("cycle")) {
      val lock = Locks.acquire(fs, new Path(dumpRoot, s"$db/run.lock"),
        java.util.UUID.randomUUID().toString, cfg.lockStaleMs)
      try {
        val prior = tr.span(name("status"))(target.watermark(db))
        val dump = prior match {
          case None => tr.span("bootstrap_dump")(dumper.bootstrap(db))
          case Some(id) => tr.span("dump")(dumper.incremental(db, id))
        }
        lock.refresh()
        val loaded = tr.span(name("load"))(loader.replay(dump.path))
        val (postId, verify) = tr.span(name("verify")) {
          val p = target.watermark(db)
          (p, VerifyResult.of(p, dump.txnId, prior))
        }
        val m = loaded.manifest
        target.logRun(RunReport(db, m.kind.name, m.fromId, m.toId, loaded.attempts,
          verify.name, (System.nanoTime() - t0) / 1000000L, loaded.tableStats))
        val ok = verify == VerifyResult.Success || verify == VerifyResult.NoOp
        tr.span(name("maintenance")) {
          if (ok) {
            val dl = Locks.acquire(fs, new Path(dumpRoot, s"$db/dump.lock"),
              java.util.UUID.randomUUID().toString, cfg.lockStaleMs)
            try Maintenance.run(source, db, cfg.autoCompactFactor,
              if (cfg.autoPurge) postId else None)
            finally dl.release()
          }
        }
        tr.span(name("epoch")) {
          val epochs = DbEpochs(spark, target, db)
          if (verify == VerifyResult.Success ||
              (verify == VerifyResult.NoOp && epochs.current.isEmpty))
            epochs.commit(postId.getOrElse(0L))
        }
        (verify.name, loaded)
      } finally lock.release()
    }
    Cycle((System.nanoTime() - t0) / 1e9, verify, payload, loaded.tableStats)
  }

  /** Gate: the replica's watermark is the source's transaction counter. */
  def watermarkOk(): Boolean = target.watermark(db).contains(source.currentTxnId(db))

  /** Gate: every replica table's digest equals the digest of the expected
    * state — the generated base rows with each changed key replaced by its
    * latest change. Returns the tables that differ.
    */
  def divergentTables(): Seq[String] = tables.filter { t =>
    val got = target.readTable(db, t)
    val cols = got.columns.toSeq
    val key = cols.head
    val touched = latest.toSeq.filter(_._1._1 == t)
    val base = gen.frame(spark, t)
    val keys = spark.createDataFrame(spark.sparkContext.parallelize(
      touched.map(c => Row(c._1._2)), 1), new StructType().add("_k", "long"))
    val live = spark.createDataFrame(spark.sparkContext.parallelize(
      touched.flatMap(_._2), 1), Gen.schema(t))
    val expected = base.join(broadcast(keys), base(key).cast("long") === keys("_k"), "left_anti")
      .unionByName(live).select(cols.map(col): _*)
    def digest(df: DataFrame) = Digest.tableDigest(df, col(key), cols.map(c => col(c).cast("string")))
    !Digest.divergentBuckets(digest(expected), digest(got)).isEmpty
  }
}

object Replica {
  /** The same row with one value changed: the first double column gets a
    * fresh amount, or else the last string column gets a version tag.
    */
  def mutate(r: Row, s: StructType, d: Draws, tag: String): Row = {
    val v = r.toSeq.toArray
    val dbl = s.fields.indexWhere(_.dataType == DoubleType)
    if (dbl >= 0) v(dbl) = math.round(d.unit() * 1000000) / 100.0
    else {
      val str = s.fields.lastIndexWhere(_.dataType == StringType)
      v(str) = v(str).toString + "~" + tag
    }
    Row.fromSeq(v.toIndexedSeq)
  }
}
