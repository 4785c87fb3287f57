package graft.repl

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class ExtCopySpec extends SparkSpec {

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }
  private def read(path: String): String = Files.readString(Paths.get(path))

  test("sync copies everything once, then only changed files (-update)") {
    val root = Files.createTempDirectory("graft-ext").toString
    write(s"$root/src/a.txt", "alpha")
    write(s"$root/src/sub/b.txt", "beta")
    write(s"$root/src/sub/c.txt", "gamma")

    val (c1, s1) = ExtCopy.sync(spark, s"$root/src", s"$root/dst")
    assert(c1 == 3 && s1 == 0)
    assert(read(s"$root/dst/sub/b.txt") == "beta")

    // no changes → all skipped
    val (c2, s2) = ExtCopy.sync(spark, s"$root/src", s"$root/dst")
    assert(c2 == 0 && s2 == 3)

    // mutate one file (newer mtime + different size)
    Thread.sleep(20)
    write(s"$root/src/sub/b.txt", "beta-updated")
    val (c3, s3) = ExtCopy.sync(spark, s"$root/src", s"$root/dst")
    assert(c3 == 1 && s3 == 2, s"copied $c3 skipped $s3")
    assert(read(s"$root/dst/sub/b.txt") == "beta-updated")
  }

  test("permissions survive the copy (-pugprb); delta verify and audit heal corruption") {
    val root = Files.createTempDirectory("graft-extp").toString
    write(s"$root/src/a.txt", "alpha")
    write(s"$root/src/sub/b.txt", "beta")
    // non-default permission bits on a source file (distcp -p)
    import java.nio.file.attribute.PosixFilePermissions
    Files.setPosixFilePermissions(Paths.get(s"$root/src/sub/b.txt"),
      PosixFilePermissions.fromString("r-x------"))

    val (c1, _) = ExtCopy.sync(spark, s"$root/src", s"$root/dst", verify = true)
    assert(c1 == 2)
    val perms = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(s"$root/dst/sub/b.txt")))
    assert(perms == "r-x------", perms)

    // verified-clean trees report no mismatches
    assert(ExtCopy.digestMismatches(spark, s"$root/src", s"$root/dst").isEmpty)

    // corrupt the REPLICA without changing size or mtime: the -update diff
    // cannot see it, and a sync's verify (scoped to ITS copied delta — the
    // O(delta) check, not O(corpus)) never re-reads an uncopied file
    Files.setPosixFilePermissions(Paths.get(s"$root/dst/sub/b.txt"),
      PosixFilePermissions.fromString("rw-------"))
    val mt = Files.getLastModifiedTime(Paths.get(s"$root/dst/sub/b.txt"))
    Files.writeString(Paths.get(s"$root/dst/sub/b.txt"), "BETA")
    Files.setLastModifiedTime(Paths.get(s"$root/dst/sub/b.txt"), mt)
    val (c2, s2) = ExtCopy.sync(spark, s"$root/src", s"$root/dst", verify = true)
    assert(c2 == 0 && s2 == 2) // -update (and the delta verify) are blind to it

    // the full-tree AUDIT finds it, deletes the corrupt replica so the
    // -update diff can see the hole, and the next sync re-copies: healed
    assert(ExtCopy.audit(spark, s"$root/src", s"$root/dst") == Seq("sub/b.txt"))
    assert(!Files.exists(Paths.get(s"$root/dst/sub/b.txt")))
    val (c3, _) = ExtCopy.sync(spark, s"$root/src", s"$root/dst", verify = true)
    assert(c3 == 1)
    assert(read(s"$root/dst/sub/b.txt") == "beta")

    // a TORN COPY (corruption during transfer): the delta verify catches
    // it, deletes the bad replica (self-heal), and fails retryably
    Thread.sleep(20)
    write(s"$root/src/a.txt", "alpha-v2")
    val e = graft.util.FaultPoints.during { (point, dir) =>
      if (point == graft.util.FaultPoints.ExtAfterCopy)
        Files.writeString(Paths.get(s"$dir/a.txt"), "XXXXX-v2") // same length, different bytes
    }(intercept[IllegalStateException] {
      ExtCopy.sync(spark, s"$root/src", s"$root/dst", verify = true)
    })
    assert(e.getMessage.contains("a.txt"))
    assert(!Files.exists(Paths.get(s"$root/dst/a.txt"))) // self-healed
    // the retry (corruption gone) converges
    val (c4, _) = ExtCopy.sync(spark, s"$root/src", s"$root/dst", verify = true)
    assert(c4 == 1)
    assert(read(s"$root/dst/a.txt") == "alpha-v2")
  }

  test("external tables replicate by file sync through the full job") {
    val root = Files.createTempDirectory("graft-extdb").toString
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    source.createDb("edb")
    source.writeTable("edb", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    // external table: raw files under the db dir
    write(s"$root/src/edb/ext_logs/part-000.txt", "log line 1")
    write(s"$root/src/edb/ext_logs/day=2/part-001.txt", "log line 2")

    val cfg = ReplConfig(dumpRoot = s"$root/dumps",
      includeExternalTables = true, rerunSleepMs = 10)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    assert(job.run("edb").verify == "SUCCESS")
    assert(read(s"$root/tgt/edb/ext_logs/day=2/part-001.txt") == "log line 2")

    // change external data + managed data, incremental picks up both
    Thread.sleep(20)
    write(s"$root/src/edb/ext_logs/part-000.txt", "log line 1 v2")
    import DbCatalog._
    source.appendEvents("edb", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"X"}""")))
    val r = job.run("edb")
    assert(r.kind == "incremental" && r.verify == "SUCCESS")
    assert(read(s"$root/tgt/edb/ext_logs/part-000.txt") == "log line 1 v2")

    // a changed EXTERNAL file with NO managed events: the cycle verifies
    // NOOP (watermark unchanged) but the file re-sync must still run —
    // external tables have no event log to advance the watermark
    Thread.sleep(20)
    write(s"$root/src/edb/ext_logs/part-000.txt", "log line 1 v3")
    val r2 = job.run("edb")
    assert(r2.verify == "NOOP", r2.verify)
    assert(read(s"$root/tgt/edb/ext_logs/part-000.txt") == "log line 1 v3")

    // exclude flag: external tables are NOT replicated
    val source2 = DbCatalog(spark, s"$root/src2")
    val target2 = DbCatalog(spark, s"$root/tgt2")
    source2.createDb("edb2")
    source2.writeTable("edb2", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    write(s"$root/src2/edb2/ext_logs/p.txt", "x")
    val job2 = ReplicationJob(spark, source2, target2, s"$root/dumps2",
      ReplConfig(dumpRoot = s"$root/dumps2", includeExternalTables = false, rerunSleepMs = 10))
    assert(job2.run("edb2").verify == "SUCCESS")
    assert(!Files.exists(Paths.get(s"$root/tgt2/edb2/ext_logs/p.txt")))
  }
}
