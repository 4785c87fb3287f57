package graft

import graft.repl._

/** Operational CLI — the engine's form of the reference's invocation
  * surface (`/root/reference/README.md:58-62`: cron runs
  * `hive3repl.sh <dbname>` per database; `env.sh` carries the endpoints).
  * One command replicates one or many databases through one Spark session:
  *
  *   ReplMain <source> <targetRoot> <dumpRoot> <db[,db...]> [allowlist] [key=value ...]
  *
  * `<source>` and `<target>` each select their topology by form, so one
  * command serves every endpoint combination (including the reference's
  * actual two-endpoint shape, both ends JDBC):
  *   - a directory path → [[DbCatalog]] (file-native warehouse);
  *   - a `jdbc:` URL   → [[JdbcSource]] / [[JdbcTarget]] (live endpoints,
  *     the reference's wire topology, `env.sh:4-5`).
  *
  * Trailing `key=value` args are the engine's `env.sh`: every
  * [[ReplConfig]] knob the reference exposes as a config variable
  * (external tables `env.sh:8`, retry policy `:24-26`, cross-cluster
  * prefix `:18`, …) plus `user`/`password` endpoint credentials
  * (`BEELINE_USER`, `env.sh:21`) and `sourceUrlFile`/`targetUrlFile`
  * file-backed endpoint discovery (the CLI form of the reference's
  * ZooKeeper service discovery, `env.sh:4-5` — the file holds the current
  * endpoint URL and is re-read on every attempt). An unknown key is
  * refused with usage —
  * the reference's validation stance (B12/B13), never a silent
  * misconfiguration.
  *
  * Multiple dbs run as one concurrent [[Sweep]] (per-db locks, lock-busy ⇒
  * skip, failure isolation). Emits one JSON line per db — the structured
  * replacement for the reference's parsed log tail — and exits nonzero if
  * any db failed, so a cron/orchestrator can alert exactly like the
  * reference's `exit 1` paths.
  */
object ReplMain {

  /** Fold `key=value` args over a base config; returns the config plus
    * endpoint credential properties. Throws IllegalArgumentException on an
    * unknown key or unparsable value.
    */
  private[graft] def parseConfig(base: repl.ReplConfig, kvs: Seq[String])
      : (repl.ReplConfig, Map[String, String]) = {
    var props = Map.empty[String, String]
    val cfg = kvs.foldLeft(base) { (c, kv) =>
      val (k, v) = kv.split("=", 2) match {
        case Array(k, v) => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(s"not key=value: '$kv'")
      }
      try k match {
        case "includeExternalTables" => c.copy(includeExternalTables = v.toBoolean)
        case "incrRerun"             => c.copy(incrRerun = v.toInt)
        case "rerunSleepMs"          => c.copy(rerunSleepMs = v.toLong)
        case "lockStaleMs"           => c.copy(lockStaleMs = v.toLong)
        case "extCopyParallelism"    => c.copy(extCopyParallelism = v.toInt)
        case "extVerify"             => c.copy(extVerify = v.toBoolean)
        case "sourcePathPrefix"      => c.copy(sourcePathPrefix = v)
        case "sweepMaxConcurrent"    => c.copy(sweepMaxConcurrent = v.toInt)
        case "autoCompactFactor"     => c.copy(autoCompactFactor = v.toDouble)
        case "autoPurge"             => c.copy(autoPurge = v.toBoolean)
        case "runLogDir"             => c.copy(runLogDir = Some(v).filter(_.nonEmpty))
        case "user" | "password"     => props += (k -> v); c
        case other =>
          throw new IllegalArgumentException(s"unknown config key: $other")
      } catch {
        case _: NumberFormatException | _: IllegalStateException =>
          throw new IllegalArgumentException(s"bad value for $k: '$v'")
      }
    }
    (cfg, props)
  }

  /** File-backed endpoint discovery for the CLI — the operational form of
    * [[repl.JdbcSource]]/[[repl.JdbcTarget]]'s `urlProvider`: the file
    * (any path ops can update — a ZK-watcher sidecar, a k8s configmap
    * mount, a failover script) holds the CURRENT endpoint URL; it is
    * re-read on every connection attempt, so a failover between retries
    * lands on the newly-published endpoint. Whitespace-trimmed; a missing
    * or empty file fails the attempt loudly (and the retry loop re-reads).
    */
  private[graft] def fileUrlProvider(path: String): () => String = () => {
    val s = scala.io.Source.fromFile(path)
    val url = try s.mkString.trim finally s.close()
    require(url.nonEmpty, s"endpoint url file $path is empty")
    url
  }

  /** Split `sourceUrlFile=`/`targetUrlFile=` out of the key=value args —
    * they configure endpoint construction, not [[repl.ReplConfig]] and not
    * JDBC connection properties.
    */
  private[graft] def splitUrlFiles(kvs: Seq[String])
      : (Map[String, String], Seq[String]) = {
    val keys = Set("sourceUrlFile", "targetUrlFile")
    val (uf, rest) = kvs.partition(kv => keys.exists(k => kv.startsWith(k + "=")))
    (uf.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap, rest)
  }

  /** Split `targetEpochs=` out of the key=value args — it configures
    * TARGET construction (DbCatalog epoch mode, db-level read consistency
    * via [[repl.DbEpochs]]), not [[repl.ReplConfig]].
    */
  private[graft] def splitTargetEpochs(kvs: Seq[String]): (Boolean, Seq[String]) = {
    val (ep, rest) = kvs.partition(_.startsWith("targetEpochs="))
    val on = ep.lastOption.exists { kv =>
      val v = kv.split("=", 2)(1).trim
      try v.toBoolean catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(s"bad value for targetEpochs: '$v'")
      }
    }
    (on, rest)
  }

  /** One db's CLI line: a run prints its [[repl.RunReport.json]], the run
    * log's own record; a skip or error prints `db`, `skipped` and `error`.
    * Strings go through [[repl.Json]]: exception messages carry quotes,
    * backslashes and (Spark plans) newlines, and the one-line-per-db
    * contract must survive exactly the failure case alerting depends on.
    */
  private[graft] def line(o: Sweep#Outcome): String = o.report match {
    case Some(r) => r.json
    case None =>
      s"""{"db":${Json.str(o.db)},"skipped":${o.skipped},""" +
      s""""error":${o.error.map(Json.str).getOrElse("null")}}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: ReplMain <sourceRoot|jdbcUrl> <targetRoot|jdbcUrl> <dumpRoot> " +
        "<db[,db...]> [allowlist,...] [key=value ...]")
      sys.exit(2)
    }
    val Array(src, targetRoot, dumpRoot, dbArg) = args.take(4)
    // arg 5 is the allowlist unless it is a key=value pair; everything
    // after is key=value config
    val rest = args.drop(4).toSeq
    val (allowArg, kvArgs) = rest match {
      case head +: tail if !head.contains("=") => (Some(head), tail)
      case _ => (None, rest)
    }
    val allow: Set[String] =
      allowArg.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
    val spark = Session.local("spark.app.name" -> "graft-repl")

    val (urlFiles, cfgArgs0) = splitUrlFiles(kvArgs)
    val (targetEpochs, cfgArgs) = try splitTargetEpochs(cfgArgs0) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        spark.stop(); sys.exit(2); throw e // unreachable
    }
    val (cfg0, props) = try
      parseConfig(ReplConfig(dumpRoot = dumpRoot, dbAllowlist = allow), cfgArgs)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        System.err.println(
          "config keys: includeExternalTables incrRerun rerunSleepMs lockStaleMs " +
          "extCopyParallelism extVerify sourcePathPrefix sweepMaxConcurrent " +
          "autoCompactFactor autoPurge runLogDir user password " +
          "sourceUrlFile targetUrlFile targetEpochs")
        spark.stop(); sys.exit(2); throw e // unreachable
    }
    val cfg = cfg0
    // url files require a JDBC endpoint on that side — attaching discovery
    // to a file-catalog root would silently do nothing (validation stance)
    for ((k, side) <- Seq("sourceUrlFile" -> src, "targetUrlFile" -> targetRoot))
      if (urlFiles.contains(k) && !side.startsWith("jdbc:")) {
        System.err.println(s"$k requires a jdbc: endpoint on that side")
        spark.stop(); sys.exit(2)
      }
    // epoch mode is the FILE target's consistency mechanism; a JDBC target
    // already applies each delta as one endpoint transaction (db-level
    // atomicity from the endpoint) — attaching the knob there would
    // silently do nothing (validation stance)
    if (targetEpochs && targetRoot.startsWith("jdbc:")) {
      System.err.println("targetEpochs requires a directory (file-catalog) target")
      spark.stop(); sys.exit(2)
    }
    val source: ReplSource =
      if (src.startsWith("jdbc:")) JdbcSource(spark, src, connProps = props,
        urlProvider = urlFiles.get("sourceUrlFile").map(fileUrlProvider))
      else DbCatalog(spark, src)
    val target: ReplTarget =
      if (targetRoot.startsWith("jdbc:")) JdbcTarget(spark, targetRoot, connProps = props,
        urlProvider = urlFiles.get("targetUrlFile").map(fileUrlProvider))
      else DbCatalog(spark, targetRoot, epochMode = targetEpochs)
    val sweep = Sweep(spark, source, target, dumpRoot, cfg)
    val outcomes = sweep.run(dbArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    outcomes.foreach(o => println(line(o)))
    spark.stop()
    // skips are benign (held lock or allowlist — the reference's
    // exit-0-equivalent); real errors and failed verifies are not
    val bad = outcomes.exists(o =>
      o.error.isDefined ||
      o.report.exists(r => r.verify != "SUCCESS" && r.verify != "NOOP"))
    if (bad) sys.exit(1)
  }
}
