package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  *   --workload repl_trickle|llm_corpus --seed N --seconds S
  *   --trace 0|1 --work DIR --result FILE --pins FILE
  *   --write-pins FILE     (instead of a run: pin the llm_corpus checksums)
  *   --export-corpus DIR   (instead of a run: write the llm_corpus tables)
  *
  * Writes the result object to `--result` and prints a detail line (the
  * workload's own named figures and the host record) to stdout.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val probeStart = Host.probe(cpus)
    val hostStart = Host.sample()
    val t0 = System.nanoTime()
    // session settings copy graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val log = new TaskLog
    spark.sparkContext.addSparkListener(log)

    (args.get("write-pins"), args.get("export-corpus")) match {
      case (Some(out), _) => writePins(spark, work, out); spark.stop(); return
      case (_, Some(dir)) =>
        Gen(42L, Workloads.LlmSf).writeCorpus(spark, dir, Workloads.LlmTables); spark.stop(); return
      case _ => ()
    }
    val workload = args("workload")
    val traced = args.getOrElse("trace", "0") == "1"
    val ctx = Ctx(spark, work, args("seed").toLong, args("seconds").toDouble,
      if (traced) Some(new Trace(spark.sparkContext, log)) else None, args("pins"))
    val wallStartMs = System.currentTimeMillis()
    val out = try Workloads.run(workload, ctx) catch { case e: Throwable =>
      System.err.println(s"[perfbench] $workload aborted: $e")
      e.printStackTrace()
      Outcome(Seq.empty, Seq.empty, 1, 1, gatesOk = false, Map.empty, Map.empty, Seq(e.toString))
    }
    val wallS = (System.currentTimeMillis() - wallStartMs) / 1000.0
    val execCpuS = log.cpuSeconds(wallStartMs, System.currentTimeMillis())
    val hostEnd = Host.sample()
    val probeEnd = Host.probe(cpus)
    val correct = out.gatesOk && out.failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (traced) Workloads.LayerMetrics.map { m =>
        val unit = if (m.endsWith("_s") || m.endsWith(".s")) "s"
          else if (m.endsWith("_mb")) "MB" else if (m.endsWith("ratio") || m.endsWith("amp")) "ratio"
          else "count"
        (m, out.layers.getOrElse(m, 0.0), unit)
      }
      else Seq(
        ("setup_s", Stats.median(out.setups), "s"),
        ("op_p50_s", Stats.median(out.ops), "s"),
        ("op_mean_s", Stats.mean(out.ops), "s"))
    val failedRatio = out.failed.toDouble / math.max(1, out.attempted)
    val detail = (out.named.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" } ++ Seq(
      s""""failed_ratio":${num(failedRatio)}""",
      s""""setup_samples":${out.setups.size}""",
      s""""op_samples":${out.ops.size}""",
      s""""session_start_s":${num(sessionS)}""",
      s""""wall_s":${num(wallS)}""",
      s""""exec_cpu_s":${num(execCpuS)}""",
      s""""host":{"nproc":$cpus,"start":${hostStart.json},"end":${hostEnd.json},""" +
        s""""steal_ratio":${num(Host.stealRatio(hostStart, hostEnd))},""" +
        s""""cpu_probe_s":{"start":${num(probeStart)},"end":${num(probeEnd)}}}""",
      s""""failures":[${out.notes.map(graft.repl.Json.str).mkString(",")}]""")).mkString(",")
    println(s"""{"perfbench_detail":{"workload":"$workload","trace":$traced,$detail}}""")
    val result = s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(args("result")), result.getBytes("UTF-8"))
    try spark.stop() catch { case e: Throwable => System.err.println(s"[perfbench] stop: $e") }
    System.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Runs each llm_corpus query once over the corpus and writes its
    * (checksum, row count) as the pins later runs check against.
    */
  private def writePins(spark: SparkSession, work: String, out: String): Unit = {
    val dir = s"$work/pins"
    Gen(42L, Workloads.LlmSf).writeCorpus(spark, dir, Workloads.LlmTables)
    val entries = Workloads.Queries.map { case (_, q) =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val cs = graft.util.Consume.checksum(df)
      val n = df.count()
      spark.catalog.clearCache()
      s"""    "$q": {"checksum": $cs, "rows": $n}"""
    }
    val body = s"""{\n  "sf": ${Workloads.LlmSf},\n  "data_seed": 42,\n  "queries": {\n""" +
      entries.mkString(",\n") + "\n  }\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
  }
}

/** Host record: load average and cumulative CPU steal from /proc, and a
  * CPU probe — a fixed amount of integer work on every core, independent of
  * the program — whose time tracks how fast the host runs right now.
  */
final case class Host(load1: Double, steal: Long, total: Long) {
  def json: String = s"""{"loadavg_1m":$load1,"steal_jiffies":$steal,"total_jiffies":$total}"""
}
object Host {
  def sample(): Host = try {
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1)
      .map(_.toLong)
    Host(load, if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
  } catch { case _: Throwable => Host(-1, 0, 0) }
  def probe(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = i.toLong; var k = 0
        while (k < 30000000) { x = Rng.mix(x); k += 1 }
        sink.addAndGet(x): Unit
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  def stealRatio(a: Host, b: Host): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0
}
