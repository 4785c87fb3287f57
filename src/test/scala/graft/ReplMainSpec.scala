package graft

import graft.repl.{ReplConfig, RunReport, Sweep, TableMergeStats}
import org.scalatest.funsuite.AnyFunSuite

/** The CLI's `env.sh` surface: every reference config variable reachable
  * from the invocation surface, unknown keys refused (B12/B13 validation
  * stance, `/root/reference/misc_functions.sh:185-207`).
  */
class ReplMainSpec extends AnyFunSuite {

  private val base = ReplConfig(dumpRoot = "/d")

  test("key=value args map onto ReplConfig; credentials split out") {
    val (cfg, props) = ReplMain.parseConfig(base, Seq(
      "includeExternalTables=true", "incrRerun=7", "rerunSleepMs=250",
      "lockStaleMs=9000", "extCopyParallelism=64", "extVerify=true",
      "sourcePathPrefix=hdfs://prod-nn:8020", "sweepMaxConcurrent=2",
      "autoCompactFactor=3.5", "autoPurge=true",
      "user=repl_user", "password=repl_secret"))
    assert(cfg == base.copy(
      includeExternalTables = true, incrRerun = 7, rerunSleepMs = 250,
      lockStaleMs = 9000, extCopyParallelism = 64, extVerify = true,
      sourcePathPrefix = "hdfs://prod-nn:8020", sweepMaxConcurrent = 2,
      autoCompactFactor = 3.5, autoPurge = true))
    assert(props == Map("user" -> "repl_user", "password" -> "repl_secret"))
  }

  test("no args = defaults, no credentials") {
    assert(ReplMain.parseConfig(base, Seq.empty) == (base, Map.empty))
  }

  test("unknown keys and malformed values are refused, never silently dropped") {
    val e = intercept[IllegalArgumentException] {
      ReplMain.parseConfig(base, Seq("incRerun=3")) // typo'd key
    }
    assert(e.getMessage.contains("incRerun"))
    intercept[IllegalArgumentException] {
      ReplMain.parseConfig(base, Seq("incrRerun=three"))
    }
    intercept[IllegalArgumentException] {
      ReplMain.parseConfig(base, Seq("extVerify")) // not key=value
    }
  }

  test("sourceUrlFile/targetUrlFile split out of the config args; file re-read per call") {
    val (uf, rest) = ReplMain.splitUrlFiles(Seq(
      "incrRerun=2", "sourceUrlFile=/tmp/src.url", "targetUrlFile=/tmp/t.url"))
    assert(uf == Map("sourceUrlFile" -> "/tmp/src.url", "targetUrlFile" -> "/tmp/t.url"))
    assert(rest == Seq("incrRerun=2"))
    // parseConfig never sees (and would refuse) the url-file keys
    intercept[IllegalArgumentException] {
      ReplMain.parseConfig(base, Seq("sourceUrlFile=/tmp/src.url"))
    }

    // the provider re-reads the file on EVERY call — a failover published
    // to the file is picked up by the next attempt
    val f = java.nio.file.Files.createTempFile("graft-url", ".txt")
    java.nio.file.Files.writeString(f, "jdbc:derby:memory:a\n")
    val provider = ReplMain.fileUrlProvider(f.toString)
    assert(provider() == "jdbc:derby:memory:a")
    java.nio.file.Files.writeString(f, "  jdbc:derby:memory:b  ")
    assert(provider() == "jdbc:derby:memory:b")
    java.nio.file.Files.writeString(f, "")
    intercept[IllegalArgumentException](provider())
  }

  test("targetEpochs splits out of the config args and validates its value") {
    assert(ReplMain.splitTargetEpochs(Seq("targetEpochs=true", "incrRerun=3"))
      == ((true, Seq("incrRerun=3"))))
    assert(ReplMain.splitTargetEpochs(Seq("incrRerun=3"))
      == ((false, Seq("incrRerun=3"))))
    assert(ReplMain.splitTargetEpochs(Seq("targetEpochs=false"))._1 == false)
    intercept[IllegalArgumentException] {
      ReplMain.splitTargetEpochs(Seq("targetEpochs=yes"))
    }
    // parseConfig never sees (and would refuse) the key
    intercept[IllegalArgumentException] {
      ReplMain.parseConfig(repl.ReplConfig(dumpRoot = "/tmp/d"),
        Seq("targetEpochs=true"))
    }
  }

  test("CLI line: a run renders its RunReport.json; an error renders one valid JSON line") {
    // Outcome is Sweep's member type; the constructor touches no endpoint
    val sweep = Sweep(null, null, null, "/d", base)
    val r = RunReport("a", "incremental", 1, 2, 1, "SUCCESS", 10,
      Seq(TableMergeStats("t", 1, 2, 3)))
    assert(ReplMain.line(sweep.Outcome("a", Some(r), skipped = false, None)) == r.json)

    val msg = "boom \"quoted\" C:\\path\nsecond line"
    val line = ReplMain.line(sweep.Outcome("d\"b", None, skipped = false, Some(msg)))
    assert(!line.contains("\n"), line)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("db").asText == "d\"b")
    assert(!node.get("skipped").asBoolean)
    assert(node.get("error").asText == msg)
  }
}
