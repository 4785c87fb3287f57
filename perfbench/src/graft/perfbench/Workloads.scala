package graft.perfbench

import scala.collection.mutable
import graft.SparkEntry
import graft.util.Consume
import org.apache.spark.sql.SparkSession

/** What a workload run measured. `ops` are the timed operations (one
  * replication cycle, or one pass over the query set); `named` holds the
  * workload's own figures for the detail line; `layers` the per-layer
  * metrics of a traced run.
  */
final case class Outcome(setups: Seq[Double], ops: Seq[Double], attempted: Int, failed: Int,
                         gatesOk: Boolean, named: Map[String, Double],
                         layers: Map[String, Double], notes: Seq[String])

/** Counts attempted and failed operations, keeps the first few reasons. */
final class Ledger {
  var attempted = 0
  var failed = 0
  val notes = mutable.ArrayBuffer[String]()
  def fail(what: String): Unit = {
    failed += 1
    if (notes.size < 20) notes += what
    System.err.println(s"[perfbench] FAILED $what")
  }
  /** Runs `body` as one attempted operation; a throw counts as a failure. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$what: $e"); None }
  }
  /** One correctness gate. */
  def gate(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch { case e: Throwable => System.err.println(s"[perfbench] $what: $e"); false }
    if (!r) fail(s"gate $what")
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** The highest percentile (whole percent) with at least `beyond` samples
    * above it, as (percent, value); None when there are too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    if (n <= beyond) None
    else {
      val p = math.floor(100.0 * (n - beyond) / n).toInt
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      Some((p, s(idx)))
    }
  }
}

final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
                     trace: Option[Trace], pinsPath: String)

object Workloads {
  def run(name: String, c: Ctx): Outcome = name match {
    case "repl_trickle" => trickle(c)
    case "llm_corpus" => llm(c)
  }

  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = body; ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Repl spans reported per layer, and their counters. */
  val ReplSpans = Seq("status", "dump", "bootstrap_dump", "load", "bootstrap_load", "verify",
    "maintenance", "epoch")
  val ReplCounters = Seq("s", "jobs", "exec_cpu_s", "shuffle_write_mb", "driver_gap_s")
  val LoadStats = Seq("load.rows_merged", "load.bytes_rewritten_mb", "load.partitions_touched",
    "load.write_amp")
  val Queries = Seq("q155" -> "q155_curation_stream_retract", "q160" -> "q160_bm25_stream_commit",
    "q164" -> "q164_ivf_requantize", "q113" -> "q113_ann_pq", "q145" -> "q145_ppr",
    "q78" -> "q78_ingest_pipeline", "q84" -> "q84_leakage_split",
    "q137" -> "q137_dedup_survivor")
  val QueryCounters = Seq("s", "build_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb",
    "spill_mb", "driver_gap_s")
  val LayerMetrics: Seq[String] =
    (for (s <- ReplSpans; k <- ReplCounters) yield s"$s.$k") ++ LoadStats ++
    (for ((q, _) <- Queries; k <- QueryCounters) yield s"$q.$k") ++
    Seq("cycle.uncovered_s", "trace_overhead_ratio")

  // ---------------------------------------------------------------- repl

  /** Small, frequent deltas over the dimension tables: the fixed cost of a
    * cycle dominates (status, dump, manifest, locks, merge jobs,
    * maintenance, epoch publish). Two fresh replicas are set up (seed +
    * bootstrap + one warm-up cycle each, the last one kept), then cycles
    * run in a closed loop for `seconds`, then the correctness gates.
    */
  def trickle(c: Ctx): Outcome = {
    val gen = Gen(42L, 0.1)
    // every cycle touches every table, so cycles differ only in keys and ops
    val mix = Seq("customer" -> 13, "part" -> 12, "supplier" -> 3, "nation" -> 1, "region" -> 1)
    val led = new Ledger
    val draws = new Draws(c.seed)
    var cycleNo = 0
    def cycle(rep: Replica, traced: Boolean): Option[Cycle] = {
      cycleNo += 1
      val changes = for ((t, n) <- mix; i <- 0 until n) yield {
        // skewed keys: a cube of a uniform puts most changes on hot low keys
        val key = (gen.rows(t) * math.pow(draws.unit(), 3)).toLong
        if (draws.unit() < 0.1) Change(t, key, None)
        else Change(t, key, Some(Replica.mutate(gen.row(t, key), Gen.schema(t), draws,
          s"c$cycleNo.$i")))
      }
      val payload = rep.append(changes)
      led.attempt(s"cycle $cycleNo") {
        val cy = (c.trace, traced) match {
          case (Some(tr), true) => rep.tracedRun(tr, payload)
          case _ => rep.run(payload)
        }
        if (cy.verify != "SUCCESS") led.fail(s"cycle $cycleNo verify ${cy.verify}")
        cy
      }
    }
    val boots = mutable.ArrayBuffer[Double]()
    var rep: Replica = null
    val setupTimes = (0 until 2).map { i =>
      time {
        rep = new Replica(c.spark, s"${c.work}/repl-$i", gen, mix.map(_._1))
        rep.seed()
        val (t, cy) = time(c.trace match {
          case Some(tr) => rep.tracedRun(tr, 0L)
          case None => rep.run(0L)
        })
        boots += t
        if (cy.verify != "SUCCESS") led.fail(s"bootstrap verify ${cy.verify}")
        cycle(rep, traced = false)
      }._1
    }
    val cycles = mutable.ArrayBuffer[Cycle]()
    val untracedWall = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (cycles.size < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      // a traced run alternates traced and untraced cycles; the untraced
      // ones are the baseline of the trace overhead ratio
      val traced = c.trace.isEmpty || cycleNo % 2 == 0
      cycle(rep, traced).foreach(cy => if (traced) cycles += cy else untracedWall += cy.seconds)
    }
    val wmOk = led.gate("watermark equals source txn id")(rep.watermarkOk())
    var bad = Seq("?")
    val contentOk = led.gate("content digests")({ bad = rep.divergentTables(); bad.isEmpty })
    if (!contentOk) System.err.println(s"[perfbench] divergent tables: ${bad.mkString(",")}")

    val secs = cycles.map(_.seconds).toSeq
    val tail = Stats.tail(secs)
    val named = mutable.LinkedHashMap[String, Double](
      "cycle_p50_s" -> Stats.median(secs),
      "cycle_tail_s" -> tail.map(_._2).getOrElse(secs.maxOption.getOrElse(0.0)),
      "cycle_tail_percentile" -> tail.map(_._1.toDouble).getOrElse(100.0),
      "cycle_max_s" -> secs.maxOption.getOrElse(0.0),
      "bootstrap_s" -> Stats.median(boots.toSeq),
      "cycles" -> cycles.size)
    val layers = mutable.LinkedHashMap[String, Double]()
    c.trace.foreach { tr =>
      val sum = tr.summary()
      for (s <- ReplSpans; k <- ReplCounters)
        layers(s"$s.$k") = sum.get(s).map(_(k)).getOrElse(0.0)
      val st = cycles.flatMap(_.stats)
      val n = math.max(1, cycles.size).toDouble
      val rewritten = st.map(_.bytesRewritten).sum
      layers("load.rows_merged") = st.map(_.rowsMerged).sum / n
      layers("load.bytes_rewritten_mb") = rewritten / 1048576.0 / n
      layers("load.partitions_touched") = st.map(_.partitionsTouched).sum / n
      layers("load.write_amp") = rewritten.toDouble / math.max(1L, cycles.map(_.payloadBytes).sum)
      layers("cycle.uncovered_s") = sum.get("cycle").map(_("s")).getOrElse(0.0)
      layers("trace_overhead_ratio") =
        Stats.mean(secs) / math.max(1e-9, Stats.mean(untracedWall.toSeq))
      named("cycle.wall_s") = sum.get("cycle").map(_("wall_s")).getOrElse(0.0)
      // orientation only: the reference's published phase times (BASELINE.md)
      named("bootstrap_dump.s") = sum.get("bootstrap_dump").map(_("s")).getOrElse(0.0)
      named("bootstrap_load.s") = sum.get("bootstrap_load").map(_("s")).getOrElse(0.0)
      named("bootstrap_verify.s") = sum.get("bootstrap_verify").map(_("s")).getOrElse(0.0)
      named("reference.bootstrap_dump_s") = 6.0
      named("reference.bootstrap_load_s") = 20.1
      named("reference.verify_s") = 5.4
    }
    Outcome(setupTimes, secs, led.attempted, led.failed, wmOk && contentOk, named.toMap,
      layers.toMap, led.notes.toSeq)
  }

  // ----------------------------------------------------------------- llm

  /** The heavy LLM-data queries, each built through `SparkEntry.queries`
    * and consumed with `Consume.checksum`, in a seeded order. Exactly one
    * pass per run, however long it takes: it is the first in its session,
    * and a second, warm pass would change what is measured whenever the
    * first one got faster than the time budget. Read-only: no replication
    * involved.
    */
  val LlmSf = 0.01
  val LlmTables = Seq("customer", "orders", "lineitem", "documents", "embeddings")

  def llm(c: Ctx): Outcome = {
    val led = new Ledger
    val gen = Gen(42L, LlmSf)
    val pins = Pins.read(c.pinsPath)
    var dir = ""
    val setupTimes = (0 until 2).map { i =>
      time { dir = s"${c.work}/llm-$i"; gen.writeCorpus(c.spark, dir, LlmTables) }._1
    }
    val times = mutable.LinkedHashMap[String, Double]()
    val builds = mutable.LinkedHashMap[String, Double]()
    /** One query, built and consumed (inside a span when traced); the pins
      * are checked after the timing stops.
      */
    def query(short: String, q: String): Unit = {
      led.attempt(q) {
        val t0 = System.nanoTime()
        def run() = {
          val (tb, df) = time(SparkEntry.queries(q)(c.spark, dir))
          (tb, df, Consume.checksum(df))
        }
        val (tb, df, cs) = c.trace match {
          case Some(t) => t.span(short)(run())
          case None => run()
        }
        times(short) = (System.nanoTime() - t0) / 1e9
        builds(short) = tb
        System.err.println(f"[perfbench] $q ${times(short)}%.2fs (build $tb%.2fs)")
        pins.get(q).foreach { case (pc, pr) =>
          if (cs != pc) led.fail(s"$q checksum $cs != pinned $pc")
          val n = df.count() // runs the final plan again, untimed
          if (n != pr) led.fail(s"$q rows $n != pinned $pr")
        }
      }
      c.spark.catalog.clearCache()
    }
    new Draws(c.seed).shuffle(Queries).foreach { case (short, q) => query(short, q) }
    val pass = times.values.sum
    val gates = led.gate("pins present for every query")(Queries.forall(q => pins.contains(q._2)))
    val named = Queries.map { case (short, _) => s"${short}_s" -> times.getOrElse(short, 0.0) }.toMap
    val layers = mutable.LinkedHashMap[String, Double]()
    c.trace.foreach { tr =>
      val sum = tr.summary()
      for ((short, _) <- Queries; k <- QueryCounters)
        layers(s"$short.$k") =
          if (k == "build_s") builds.getOrElse(short, 0.0)
          else sum.get(short).map(_(k)).getOrElse(0.0)
      // a second, untraced cold pass would need a second session, so the
      // overhead is the pass time over the pass time without the spans'
      // own bookkeeping (the task listener runs in both modes)
      layers("trace_overhead_ratio") = pass / math.max(1e-9, pass - tr.bookkeepingSeconds)
    }
    Outcome(setupTimes, Seq(pass), led.attempted, led.failed, gates, named, layers.toMap,
      led.notes.toSeq)
  }
}

/** Pinned (checksum, row count) per query, from `pins.json`. */
object Pins {
  private val Entry = """"([a-z0-9_]+)"\s*:\s*\{\s*"checksum"\s*:\s*(-?\d+)\s*,\s*"rows"\s*:\s*(\d+)\s*\}""".r
  def read(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Entry.findAllMatchIn(s).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    }
  }
}
