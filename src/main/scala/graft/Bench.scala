package graft

/** Benchmark main. Emits ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Covers (a) the full query corpus (each timed consumption-faithfully —
  * a checksum over every output column, so column pruning cannot delete
  * the operator's own work from the timed plan; see util.Consume) and
  * (b) the replication engine end-to-end — bootstrap and
  * incremental — which is what BASELINE.md actually measures (~36.7 s
  * bootstrap / ~45.5 s incremental on the reference's two-cluster rig).
  */
object Bench {
  /** Canonical shape of the POST-EXECUTION physical plan (AQE
    * finalized): the operator tree — node names plus join types — with
    * exprIds/paths/sizes excluded by construction. A round-over-round
    * [[fingerprint]] change means the plan structurally changed (a lost
    * broadcast, a new exchange, a join strategy flip); tools/plan_diff.py
    * flags rows whose plan changed without a bench win, and
    * `tools.PlanFlip` prints the shapes themselves. PlanSpec gates the ~40
    * named plans; this tripwire covers the whole corpus.
    */
  def planShape(p: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    val label = p match {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        s"${p.nodeName}[${j.joinType}]"
      // WholeStageCodegenExec's nodeName embeds its codegenStageId — a
      // session-GLOBAL counter whose value depends on what compiled
      // before and on AQE stage-materialization order (thread timing).
      // It is not a plan property: r12's six "AQE-multistable" rows
      // (q24/q27/q53/q72/q110/q133) were all IDENTICAL trees whose ids
      // drifted (PlanFlip probe: 4-5 raw shapes each, exactly 1 after
      // stripping the id). Normalize so the fingerprint hashes the
      // tree, not the compile order.
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        "WholeStageCodegen"
      case _ => p.nodeName
    }
    label + "(" + (p.children ++ extra).map(planShape).mkString(",") + ")"
  }

  /** The artifact's `plans` hash: 6 bytes of SHA-1 over [[planShape]]. */
  def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(planShape(df.queryExecution.executedPlan).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val firstRun = scala.collection.mutable.LinkedHashMap[String, Double]()
    val planFps = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-row evidence for post-hoc adjudication (the r12 lesson: one
    // loadavg snapshot for a 160-row run cannot localize a host stall):
    // row END wall-clock + the 1-min loadavg at that moment + every plan
    // shape the row's runs produced (AQE-multistable rows legitimately
    // flip between equivalent shapes; recording BOTH runs' fingerprints
    // lets tools/plan_diff.py flag only genuinely NEW shapes)
    val rowMeta = scala.collection.mutable.LinkedHashMap[
      String, (Double, Double, Seq[String])]()
    def load1m: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val errors = scala.collection.mutable.ListBuffer[String]()
    val refused = scala.collection.mutable.LinkedHashSet[String]()

    // DATA-VOLUME companion to the plan fingerprint: per query, the bytes
    // the final plan's execution shuffled (sum of shuffleBytesWritten over
    // distinct exchanges), the post-pruning bytes its file scans were fed
    // (filesSize — what partition pruning + pushdown left to read), and
    // the exchange count. The fingerprint catches SHAPE changes; this
    // catches the same-shape regressions — a filter that stopped pruning,
    // a pre-aggregation that stopped combining — as a round-over-round
    // byte diff. Scope is the final executed plan (eager internal jobs
    // like localCheckpoint cadences are timed but not metered here).
    case class Volume(shuffleMb: Double, scanMb: Double, exchanges: Int)
    val volumes = scala.collection.mutable.LinkedHashMap[String, Volume]()
    def volumeOf(df: org.apache.spark.sql.DataFrame): Volume = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      var sh = 0L; var scan = 0L; var ex = 0
      def walk(p: SparkPlan): Unit = {
        if (!seen.add(p)) return // reused exchanges count once
        p match {
          case s: ShuffleExchangeLike =>
            ex += 1
            sh += s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            scan += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            // DSv2 reports no filesSize; take what it exposes so a future
            // v1→v2 source migration reads as its true scan volume, not a
            // silent drop to 0 that the VOLUME tripwire would misread.
            // A v2 scan exposing NEITHER key must warn here — it is not a
            // DataSourceScanExec, so the v1 arm below never sees it
            b.metrics.get("bytesRead").orElse(b.metrics.get("filesSize"))
              .map(_.value) match {
              case Some(v) => scan += v
              case None => System.err.println(
                s"[bench] volume: BatchScanExec with neither bytesRead nor " +
                s"filesSize (${b.scan.getClass.getSimpleName}) — scan_mb undercounts")
            }
          // warn ONLY for real data-source scans we fail to meter —
          // InMemoryTableScan / LocalTableScan legitimately carry no
          // file bytes and must not spam the log
          case l: org.apache.spark.sql.execution.DataSourceScanExec =>
            System.err.println(
              s"[bench] volume: unrecognized leaf scan ${l.getClass.getSimpleName} — scan_mb undercounts")
          case _ => ()
        }
        val extra = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => Seq.empty
        }
        (p.children ++ extra).foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      Volume(sh / 1048576.0, scan / 1048576.0, ex)
    }

    // Warm up codegen/JIT/file-index paths so the first timed query does
    // not absorb one-time session costs.
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => () }

    // Query corpus, two runs per query. "queries" reports the best of the
    // two (the machine hosting the bench shows multi-second background-load
    // spikes; min-of-N reports the code's cost rather than the neighbors'),
    // and "queries_first" the cold first run, so warm-cache flattery is
    // visible side by side. A query that throws goes to "errors" and is
    // EXCLUDED from the total instead of being folded in as a near-zero
    // time. Cached blocks are dropped after each query: operators that
    // persist intermediates (k-means loop input, shingle scans) must not
    // accumulate across 66 queries and squeeze the later ones' memory —
    // round-2's repl numbers were inflated ~10× by exactly that pileup.
    // SPARK_GRAFT_BENCH_ONLY=q24_…,q27_… restricts the corpus (and skips
    // the replication sections) — attributes a single row, e.g. under
    // `-Dspark.eventLog.enabled=true` (see the verify skill).
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val corpus = only match {
      case Some(sel) => SparkEntry.queries.filter { case (n, _) => sel(n) }
      case None => SparkEntry.queries
    }
    corpus.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // the timed body is CONSUMPTION-FAITHFUL: a checksum referencing
      // every output column (util.Consume), not count() — count() lets
      // ColumnPruning delete unused result-column work (aggregate
      // expressions, whole Window computations, argmax structs) so a row
      // would time the plan count() needs instead of the plan the
      // operator produces (the round-12 find; BENCH_k_build.md). The
      // executed 1-row frame survives for the fingerprint — taken from
      // the SECOND run's finalized adaptive plan. The CONSTRUCTION call
      // stays INSIDE the timer: iterative/maintainer queries do eager
      // work while building (localCheckpoint cadences, k-means driver
      // loops) — a first draft that hoisted fn() out of time{} read q155
      // at 0.17 s vs its honest 8.8 s
      def once: Option[(Double, org.apache.spark.sql.DataFrame)] =
        try {
          var cdf: org.apache.spark.sql.DataFrame = null
          val t = time { cdf = graft.util.Consume.frame(fn(spark, sfDir)); cdf.collect(); () }
          Some((t, cdf))
        }
        catch {
          // a ContractRefusal is the operator's DOCUMENTED behavior on an
          // out-of-contract corpus (e.g. the exact all-pairs baseline past
          // its candidate bound at 30×) — recorded as "refused", not an
          // error, so a scale run distinguishes "the engine broke" from
          // "the engine declined work its contract names infeasible"
          case e: graft.util.ContractRefusal =>
            System.err.println(s"[bench] $name refused by contract: ${e.getMessage}")
            refused += name; None
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); None }
      def fpOf(df: org.apache.spark.sql.DataFrame): Option[String] =
        try Some(fingerprint(df))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name fingerprint failed: $e"); None }
      (once, once) match {
        case (Some((a, cdfA)), Some((b, cdfB))) =>
          firstRun(name) = a
          // a heavy row whose two runs DISAGREE >2x is a stall suspect —
          // one tie-breaker run so a single noisy-neighbor window cannot
          // own the row's reported time (min-of-3 on disagreement only;
          // concordant rows stay min-of-2 and pay nothing extra)
          val third =
            if (math.min(a, b) > 2.0 && math.max(a, b) > 2 * math.min(a, b))
              once.map(_._1)
            else None
          results(name) = (Seq(a, b) ++ third).min
          val fpA = fpOf(cdfA)
          val fpB = fpOf(cdfB)
          fpB.orElse(fpA).foreach(planFps(name) = _)
          rowMeta(name) = ((System.currentTimeMillis() / 1000.0, load1m,
            (fpA.toSeq ++ fpB.toSeq).distinct))
          try volumes(name) = volumeOf(cdfB)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name volume failed: $e") }
        case _ => if (!refused.contains(name)) errors += name
      }
      spark.catalog.clearCache()
    }

    // Replication end-to-end (the BASELINE.md metrics). Starts from a clean
    // block manager so the corpus above can't tax these numbers.
    if (only.isEmpty) try {
      spark.catalog.clearCache()
      import graft.repl._
      val root = java.nio.file.Files.createTempDirectory("graft-bench").toString
      val source = DbCatalog(spark, s"$root/src")
      val target = DbCatalog(spark, s"$root/tgt")
      source.createDb("bench")
      // Seed per-table, each in its own try — INCLUDING the DataFrame
      // construction, which is where an AnalysisException on a schema-drifted
      // table fires. One broken table must cost that table's rows, not
      // silently delete the whole repl section (and with it the four
      // BASELINE.md headline rows, as in round 7).
      val seedTables = Tables(spark, sfDir)
      Tables.names.foreach { n =>
        try source.writeTable("bench", n, seedTables.byName(n))
        catch { case e: Throwable =>
          System.err.println(s"[bench] repl seed skipped table $n: $e")
          errors += s"repl_seed_$n"
        }
      }
      val job = ReplicationJob(spark, source, target, s"$root/dumps",
        ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 100))
      results("repl_bootstrap") = time { assert(job.run("bench").verify == "SUCCESS") }
      // ~1000 upsert txns against the small dimension, like the README run.
      val ev = (1 to 1000).map { i =>
        DbCatalog.Event("nation", DbCatalog.OpUpsert, (i % 25).toString,
          s"""{"n_nationkey":${i % 25},"n_name":"N$i","n_regionkey":${i % 5}}""")
      }
      source.appendEvents("bench", ev)
      results("repl_incremental_1000txn") = time { assert(job.run("bench").verify == "SUCCESS") }
      // ...and against the FACT table: the merge has to rewrite the full
      // lineitem (anti-join + union + swap), which is the cost that
      // dominates real incremental loads — reported separately so dimension
      // merges can't flatter the number.
      val evFact = (1 to 1000).map { i =>
        DbCatalog.Event("lineitem", DbCatalog.OpUpsert, (i * 7).toString,
          s"""{"l_orderkey":${i * 7},"l_linenumber":1,"l_quantity":$i}""")
      }
      source.appendEvents("bench", evFact)
      results("repl_incremental_fact_1000txn") = time { assert(job.run("bench").verify == "SUCCESS") }
      // Same fact-table churn against a PARTITIONED lineitem with the delta
      // localized to one bucket (the realistic recent-date pattern): the
      // merge rewrites 1/16 of the table instead of all of it. Reported
      // next to the full-rewrite number so the partition-scoped load path's
      // win is measured, not asserted.
      import org.apache.spark.sql.functions.{col, pmod}
      val sourceP = DbCatalog(spark, s"$root/srcp")
      val targetP = DbCatalog(spark, s"$root/tgtp")
      sourceP.createDb("benchp")
      sourceP.writeTablePartitioned("benchp", "lineitem",
        Tables(spark, sfDir).lineitem
          .withColumn("l_pbucket", pmod(col("l_orderkey"), org.apache.spark.sql.functions.lit(16))),
        "l_pbucket")
      val jobP = ReplicationJob(spark, sourceP, targetP, s"$root/dumpsp",
        ReplConfig(dumpRoot = s"$root/dumpsp", rerunSleepMs = 100))
      assert(jobP.run("benchp").verify == "SUCCESS") // bootstrap, untimed
      val evPart = (1 to 1000).map { i =>
        DbCatalog.Event("lineitem", DbCatalog.OpUpsert, (i * 16).toString,
          s"""{"l_orderkey":${i * 16},"l_linenumber":1,"l_quantity":$i,"l_pbucket":0}""")
      }
      sourceP.appendEvents("benchp", evPart)
      results("repl_incremental_fact_partitioned_1000txn") =
        time { assert(jobP.run("benchp").verify == "SUCCESS") }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    } catch { case e: Throwable => System.err.println(s"[bench] repl failed: $e") }

    // Replication from a LIVE JDBC endpoint (embedded Derby) — the
    // reference's actual topology (its dumps all flow through a HiveServer2
    // JDBC connection). Seeds the endpoint with the dimension tables +
    // orders (the JDBC insert cost is the endpoint's, not the engine's, so
    // seeding is untimed), then times bootstrap-over-JDBC and a 1000-txn
    // incremental whose watermark predicate is pushed to the remote WHERE.
    if (only.isEmpty) try {
      spark.catalog.clearCache()
      import graft.repl._
      val url = "jdbc:derby:memory:benchsrc;create=true"
      val db = "benchj"
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement()
        try st.execute(s"""CREATE SCHEMA "$db"""") finally st.close()
      } finally c.close()
      val t = Tables(spark, sfDir)
      Seq("region" -> t.region, "nation" -> t.nation, "supplier" -> t.supplier,
          "customer" -> t.customer, "orders" -> t.orders).foreach { case (n, df) =>
        graft.sources.Jdbc.write(df, url, s""""$db"."$n"""")
      }
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-bench-jdbc").toString
      val source = JdbcSource(spark, url, numPartitions = cpus.min(8))
      val target = DbCatalog(spark, s"$root/tgt")
      val job = ReplicationJob(spark, source, target, s"$root/dumps",
        ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 100))
      results("repl_bootstrap_jdbc") = time { assert(job.run(db).verify == "SUCCESS") }
      val ev = (1 to 1000).map { i =>
        (i.toLong, "nation", DbCatalog.OpUpsert, (i % 25).toString,
          s"""{"n_nationkey":${i % 25},"n_name":"N$i","n_regionkey":${i % 5}}""")
      }.toDF("event_id", "table", "op", "key", "row_json")
      graft.sources.Jdbc.write(ev, url, s""""$db"."${DbCatalog.EventsTable}"""")
      results("repl_incremental_jdbc_1000txn") =
        time { assert(job.run(db).verify == "SUCCESS") }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    } catch { case e: Throwable => System.err.println(s"[bench] jdbc repl failed: $e") }

    // Replication INTO a live JDBC endpoint (embedded Derby as the TARGET —
    // the reference's load side: REPL LOAD over the target connection).
    // Times the bootstrap restore (bulk rows through the parallel batched
    // JDBC writer) and a 1000-txn incremental applied as ONE endpoint
    // transaction via staging tables, watermark committed at the endpoint.
    if (only.isEmpty) try {
      spark.catalog.clearCache()
      import graft.repl._
      val db = "benchl"
      val root = java.nio.file.Files.createTempDirectory("graft-bench-jload").toString
      val source = DbCatalog(spark, s"$root/src")
      source.createDb(db)
      val t = Tables(spark, sfDir)
      Seq("region" -> t.region, "nation" -> t.nation, "supplier" -> t.supplier,
          "customer" -> t.customer, "orders" -> t.orders).foreach { case (n, df) =>
        source.writeTable(db, n, df)
      }
      val target = JdbcTarget(spark, "jdbc:derby:memory:benchtgt;create=true")
      val job = ReplicationJob(spark, source, target, s"$root/dumps",
        ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 100))
      results("repl_load_jdbc") = time { assert(job.run(db).verify == "SUCCESS") }
      val ev = (1 to 1000).map { i =>
        DbCatalog.Event("nation", DbCatalog.OpUpsert, (i % 25).toString,
          s"""{"n_nationkey":${i % 25},"n_name":"N$i","n_regionkey":${i % 5}}""")
      }
      source.appendEvents(db, ev)
      results("repl_load_jdbc_1000txn") =
        time { assert(job.run(db).verify == "SUCCESS") }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    } catch { case e: Throwable => System.err.println(s"[bench] jdbc load failed: $e") }

    def jmap(m: scala.collection.Map[String, Double], fmt: String): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt.format(v) }.mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val refusedJson = refused.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.sum
    // Host-noise self-description: this machine is shared, and past rounds
    // showed multi-second inflations that evaporated on an idle host. The
    // 1/5/15-min load averages + free memory at bench END let a reader
    // adjudicate "regression or noisy neighbor" without a re-run.
    val host = try {
      val load = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")
      val memKb = scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemAvailable:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      f""""host":{"loadavg_1m":${load(0)},"loadavg_5m":${load(1)},""" +
      f""""loadavg_15m":${load(2)},"mem_available_gb":${memKb / 1048576.0}%.1f,""" +
      f""""cpus":$cpus},"""
    } catch { case _: Throwable => "" }
    // Two lines: cold-first detail first, then the headline line LAST and
    // kept compact (2-decimal values) — the harness archives only the tail
    // of stdout, and round 1/2 proved a >2 KB line gets its head (metric/
    // value/unit) truncated away.
    val detailLine =
      f"""{"metric":"detail","unit":"sec","queries_first":${jmap(firstRun, "%.3f")},"errors":$errs}"""
    val totalLine =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec",$host"queries":${jmap(results, "%.2f")},"errors":$errs,"refused":$refusedJson,"sf":"$sfDir"}"""
    // plan-fingerprint line: artifact-file ONLY (the stdout tail the
    // driver archives truncates >2 KB lines; the hashes are for
    // tools/plan_diff.py, which reads the artifact)
    val planLine = planFps
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("""{"metric":"plans","fingerprints":{""", ",", "}}")
    // volume line: artifact-file only, like the plans line
    val volumeLine = volumes
      .map { case (k, v) =>
        f""""$k":{"shuffle_mb":${v.shuffleMb}%.2f,"scan_mb":${v.scanMb}%.2f,"exchanges":${v.exchanges}}""" }
      .mkString("""{"metric":"volume","queries":{""", ",", "}}")
    // rows line (artifact-file only): execution-ordered per-row end
    // timestamp + loadavg sample + the row's observed plan-shape SET —
    // what lets plan_diff.py (a) self-identify a host-stall window from
    // the artifacts alone and (b) flag only genuinely NEW plan shapes on
    // AQE-multistable rows
    val rowsLine = rowMeta
      .map { case (k, (end, ld, fps)) =>
        val fpj = fps.map("\"" + _ + "\"").mkString("[", ",", "]")
        f""""$k":{"end_s":$end%.1f,"load_1m":$ld%.2f,"shapes":$fpj}""" }
      .mkString("""{"metric":"rows","queries":{""", ",", "}}")
    // CONTRACT (round-14 fix): the one-line total JSON must be the LAST
    // line of the process's output — consumers json-parse the tail of
    // what sbt prints. Every side channel (artifact write, plan_diff
    // tripwire echo) therefore runs ABOVE; here we silence Spark's
    // shutdown logging, stop the session, and only then print the two
    // contract lines so nothing can follow them on stdout or stderr. A
    // failing stop() is logged, never allowed to swallow the lines.
    def stopAndPrintContract(): Unit = {
      try {
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] spark.stop failed: $e") }
      println(detailLine)
      println(totalLine)
    }
    // The driver archives only a ~2000-char TAIL of stdout, which truncates
    // the per-query map (BENCH_r09.json lost its first half). Persist the
    // FULL two-line artifact to a repo file so round-over-round comparison
    // never depends on the driver's tail buffer. Opt-out/override via
    // SPARK_GRAFT_BENCH_OUT ("" disables; the scale bench writes its own
    // artifact).
    sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Some(new java.io.File("BENCH_full_latest.json").getAbsolutePath))
      .filter(_.nonEmpty).foreach { p =>
        try {
          val path = java.nio.file.Paths.get(p)
          // keep the prior artifact: the plan/volume tripwire below (and
          // any later hand diff) needs a round-over-round pair
          val prev = java.nio.file.Paths.get(
            p.stripSuffix(".json") + "_prev.json")
          if (java.nio.file.Files.exists(path))
            java.nio.file.Files.move(path, prev,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.write(path,
            (detailLine + "\n" + totalLine + "\n" + planLine + "\n" +
             volumeLine + "\n" + rowsLine + "\n").getBytes("UTF-8"))
          // The tripwire runs IN the bench entry — un-skippable, not
          // judge-invoked: every full-corpus run diffs itself against the
          // previous artifact (plan-shape changes without a bench win,
          // same-shape shuffle growth) and persists the report. Exit is
          // nonzero on flagged rows only under SPARK_GRAFT_PLAN_GATE=1:
          // the driver's round bench must still publish its artifact
          // even when a diff needs adjudication (host noise can flag a
          // plan change that IS a win), so the hard gate is the
          // builder-loop configuration, documented in the verify skill.
          if (only.isEmpty && java.nio.file.Files.exists(prev) &&
              new java.io.File("tools/plan_diff.py").exists()) {
            val pb = new ProcessBuilder("python3", "tools/plan_diff.py",
              prev.toString, path.toString).redirectErrorStream(true)
            val proc = pb.start()
            val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
            val code = proc.waitFor()
            java.nio.file.Files.write(
              java.nio.file.Paths.get("PLAN_DIFF_latest.txt"),
              out.getBytes("UTF-8"))
            System.err.println(out)
            if (code != 0) {
              System.err.println("[bench] plan/volume tripwire FLAGGED " +
                "rows (see PLAN_DIFF_latest.txt)")
              if (sys.env.get("SPARK_GRAFT_PLAN_GATE").contains("1")) {
                // a gated run still prints the contract lines
                stopAndPrintContract(); sys.exit(3)
              }
            }
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] artifact write failed: $e") }
      }
    stopAndPrintContract()
  }
}
