package graft.repl

import graft.SparkSpec
import graft.util.FaultPoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Db-level read consistency ([[DbEpochs]]): pinned readers see one
  * committed epoch — never the torn state between two table commits of an
  * in-flight incremental load (the flaw the reference shares,
  * `hive3repl.sh` applies per table too).
  */
class DbEpochSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-epoch-$tag").toString

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("mid-load pinned reads: the pre-load epoch survives per-table merges") {
    val cat = DbCatalog(spark, tmp("mid"), epochMode = true)
    cat.createDb("db")
    cat.writeTable("db", "a", kv(1L -> "a1", 2L -> "a2"))
    cat.writeTable("db", "b", kv(1L -> "b1"))
    val epochs = DbEpochs(spark, cat, "db")
    epochs.commit(10L)
    val pinned = epochs.pin()
    assert(pinned.epoch == 0L && pinned.watermark == 10L)
    assert(pinned.tables == Seq("a", "b"))

    // the load's first table swap lands (table a merged) — the db is TORN
    cat.mergeDml("db", "a",
      upserts = kv(2L -> "a2new", 3L -> "a3"),
      deadKeys = Seq("2", "3").toDF("key"))
    assert(rows(cat.readTable("db", "a")) ==
      Set(1L -> "a1", 2L -> "a2new", 3L -> "a3"), "live must see the merge")
    // pinned reader still sees the PRE-load state of BOTH tables
    assert(rows(pinned.readTable("a")) == Set(1L -> "a1", 2L -> "a2"))
    assert(rows(pinned.readTable("b")) == Set(1L -> "b1"))

    // second table swap + epoch commit: the new epoch sees the new state,
    // the old pin still serves the old one (keepEpochs=2 grace)
    cat.mergeDml("db", "b", upserts = kv(1L -> "b1new"),
      deadKeys = Seq("1").toDF("key"))
    epochs.commit(20L)
    val pinned1 = epochs.pin()
    assert(pinned1.epoch == 1L)
    assert(rows(pinned1.readTable("a")) ==
      Set(1L -> "a1", 2L -> "a2new", 3L -> "a3"))
    assert(rows(pinned1.readTable("b")) == Set(1L -> "b1new"))
    assert(rows(pinned.readTable("a")) == Set(1L -> "a1", 2L -> "a2"))
    assert(rows(pinned.readTable("b")) == Set(1L -> "b1"))
  }

  test("partitioned merges stash only affected partitions; pinned reads recompose") {
    val cat = DbCatalog(spark, tmp("part"), epochMode = true)
    cat.createDb("db")
    def part(rows: (Long, String, Long)*): DataFrame =
      rows.toDF("k", "v", "p")
    cat.writeTablePartitioned("db", "t",
      part((1L, "p0a", 0L), (2L, "p0b", 0L), (3L, "p1a", 1L), (4L, "p2a", 2L)), "p")
    val epochs = DbEpochs(spark, cat, "db")
    epochs.commit(1L)
    val pinned = epochs.pin()

    // merge touches partition 0 (update) and creates partition 9
    cat.mergeDml("db", "t",
      upserts = part((2L, "p0bNEW", 0L), (9L, "p9a", 9L)),
      deadKeys = Seq("2", "9").toDF("key"))
    def all(df: DataFrame): Set[(Long, String, Long)] =
      df.select(col("k"), col("v"), col("p").cast("long")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(all(cat.readTable("db", "t")) == Set(
      (1L, "p0a", 0L), (2L, "p0bNEW", 0L), (3L, "p1a", 1L), (4L, "p2a", 2L),
      (9L, "p9a", 9L)))
    // pinned: partition 0 from the stash, 1/2 from live, 9 invisible
    assert(all(pinned.readTable("t")) == Set(
      (1L, "p0a", 0L), (2L, "p0b", 0L), (3L, "p1a", 1L), (4L, "p2a", 2L)))
  }

  test("drops, creates and renames resolve through the epoch manifest and markers") {
    val cat = DbCatalog(spark, tmp("ddl"), epochMode = true)
    cat.createDb("db")
    cat.writeTable("db", "gone", kv(1L -> "g1"))
    cat.writeTable("db", "moved", kv(1L -> "m1"))
    val epochs = DbEpochs(spark, cat, "db")
    epochs.commit(1L)
    val pinned = epochs.pin()

    cat.dropTable("db", "gone")
    cat.renameTableFs("db", "moved", "dst")
    cat.writeTable("db", "fresh", kv(1L -> "f1")) // created after the pin
    assert(rows(pinned.readTable("gone")) == Set(1L -> "g1"),
      "dropped table must stay readable at the pinned epoch")
    assert(rows(pinned.readTable("moved")) == Set(1L -> "m1"),
      "renamed table must resolve through the marker")
    intercept[IllegalArgumentException] { pinned.readTable("fresh") }

    // merge the RENAMED table: pinned old-name reads keep the pre-image
    cat.mergeDml("db", "dst", upserts = kv(1L -> "m1new"),
      deadKeys = Seq("1").toDF("key"))
    assert(rows(pinned.readTable("moved")) == Set(1L -> "m1"))

    epochs.commit(2L)
    val pinned1 = epochs.pin()
    assert(pinned1.tables == Seq("dst", "fresh"))
    assert(rows(pinned1.readTable("dst")) == Set(1L -> "m1new"))
  }

  test("retention: epochs below the floor are pruned and fail loudly") {
    val cat = DbCatalog(spark, tmp("prune"), epochMode = true)
    cat.createDb("db")
    cat.writeTable("db", "t", kv(1L -> "v0"))
    val epochs = DbEpochs(spark, cat, "db") // keepEpochs = 2
    epochs.commit(1L)
    val pinned0 = epochs.pin()
    cat.mergeDml("db", "t", kv(1L -> "v1"), Seq("1").toDF("key"))
    epochs.commit(2L)
    assert(rows(pinned0.readTable("t")) == Set(1L -> "v0"), "within grace")
    cat.mergeDml("db", "t", kv(1L -> "v2"), Seq("1").toDF("key"))
    epochs.commit(3L) // floor moves past epoch 0
    val e = intercept[Exception] { rows(pinned0.readTable("t")) }
    assert(e.getMessage != null)
    // the current pin is unaffected
    assert(rows(epochs.pin().readTable("t")) == Set(1L -> "v2"))
  }

  test("an older engine's <epoch>,<watermark> pointer still pins, and the next cycle upgrades it") {
    import graft.util.AtomicPointer
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val cat = DbCatalog(spark, tmp("legacy"), epochMode = true)
    cat.createDb("db")
    cat.writeTable("db", "t", kv(1L -> "v0"))
    val epochsDir = new Path(cat.dbPath("db"), "_epochs")
    val epochs = DbEpochs(spark, cat, "db")
    // epoch 0 as the engine before group manifests wrote it
    AtomicPointer.commit(conf, new Path(epochsDir, "manifest_v0"),
      s"""{"tables":[{"name":"t","manifest":${cat.manifest("db", "t").get.json}}]}""")
    AtomicPointer.commit(conf, new Path(epochsDir, "CURRENT"), "0,7")
    assert(epochs.current.contains((0L, 7L)))
    val pinned0 = epochs.pin()
    assert(pinned0.tables == Seq("t") && rows(pinned0.readTable("t")) == Set(1L -> "v0"))
    // a table write keeps the files epoch 0 names; the commit upgrades the pointer
    cat.mergeDml("db", "t", kv(1L -> "v1"), Seq("1").toDF("key"))
    assert(rows(pinned0.readTable("t")) == Set(1L -> "v0"))
    assert(epochs.commit(8L) == 1L)
    assert(AtomicPointer.read(conf, new Path(epochsDir, "CURRENT")).exists(_.startsWith("{")))
    assert(rows(epochs.pin().readTable("t")) == Set(1L -> "v1"))
    assert(rows(pinned0.readTable("t")) == Set(1L -> "v0"), "within grace")

    // db manifests from before table manifests (table names only) name no
    // table version: pin refuses them by name, writes and the next commit go on
    val old = DbCatalog(spark, tmp("legacy0"), epochMode = true)
    old.createDb("db")
    old.writeTable("db", "t", kv(1L -> "v0"))
    val oldDir = new Path(old.dbPath("db"), "_epochs")
    Seq("manifest_v0", "manifest_v1").foreach(f => AtomicPointer.commit(conf, new Path(oldDir, f), "t"))
    AtomicPointer.commit(conf, new Path(oldDir, "CURRENT"), "1,9")
    val oldEpochs = DbEpochs(spark, old, "db")
    assert(intercept[IllegalStateException](oldEpochs.pin()).getMessage
      .contains("epoch 1 of db was written by an older engine"))
    old.mergeDml("db", "t", kv(1L -> "v1"), Seq("1").toDF("key"))
    assert(oldEpochs.commit(10L) == 2L)
    assert(rows(oldEpochs.pin().readTable("t")) == Set(1L -> "v1"))
  }

  test("commit points: a crash before or after a table's manifest commit converges to the no-crash twin") {
    import DbCatalog._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = tmp("commit")
    // Two worlds share every source change; only the crash world's cycles
    // fail at a commit point. Its load retries in-run (incrRerun = 2), so a
    // crash inside the load and the retry that recovers it are one cycle;
    // the purge runs after the load, so a crash there fails its cycle.
    final case class World(name: String, incrRerun: Int, autoPurge: Boolean) {
      val source = DbCatalog(spark, s"$root/$name/src")
      val target = DbCatalog(spark, s"$root/$name/tgt", epochMode = true)
      val job = ReplicationJob(spark, source, target, s"$root/$name/dumps",
        ReplConfig(dumpRoot = s"$root/$name/dumps", rerunSleepMs = 10, incrRerun = incrRerun,
          autoPurge = autoPurge))
      source.createDb("db")
      source.writeTable("db", "region", spark.read.parquet(s"${sf()}/region.parquet"))
      source.writeTablePartitioned("db", "supplier",
        spark.read.parquet(s"${sf()}/supplier.parquet"), "s_nationkey")
      assert(job.run("db").verify == "SUCCESS")
    }
    val (crash, twin) = (World("crash", 2, autoPurge = true), World("twin", 1, autoPurge = false))
    def digests(w: World): Map[String, Set[String]] = w.target.listTables("db").map { t =>
      val df = w.target.readTable("db", t)
      t -> Digest.tableDigest(df, col(df.columns.head), df.columns.toSeq.map(col))
        .collect().map(_.toString).toSet
    }.toMap
    // parquet files under a table that neither its manifest nor a kept
    // epoch names: what a crash or a superseding write could leak
    def unnamed(cat: DbCatalog): Seq[String] = {
      val kept = if (cat.epochMode) DbEpochs(spark, cat, "db").keptFiles else Map.empty[String, Set[String]]
      (cat.listTables("db") :+ EventsTable).flatMap(t => cat.manifest("db", t).map(t -> _)).flatMap { case (t, m) =>
        val dir = new Path(cat.dbPath("db"), t)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val named = m.files.map(_.path).toSet ++ kept.getOrElse(m.id, Set.empty)
        val it = fs.listFiles(dir, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
          .filter(_.endsWith(".parquet"))
          .map(_.stripPrefix(fs.makeQualified(dir).toString + "/"))
          .filterNot(named).toSeq
      }
    }

    val nk = spark.read.parquet(s"${sf()}/supplier.parquet")
      .select("s_nationkey").distinct().orderBy("s_nationkey").head().getInt(0)
    def upsert(table: String, key: Long, json: String): DbCatalog => Unit =
      _.appendEvents("db", Seq(Event(table, OpUpsert, key.toString, json))): Unit
    // Both worlds take every change once, up front, in one cycle; the
    // crash world then applies a scenario's change again before each of its
    // crashes, so that cycle's delta holds only that change. Each change is
    // idempotent, so the twin's digests are the expected state after every
    // crash.
    val scenarios: Seq[(String, String, Boolean, DbCatalog => Unit)] = Seq(
      ("unpartitioned merge", "region", true,
        upsert("region", 100L, """{"r_regionkey":100,"r_name":"R"}""")),
      ("partitioned merge", "supplier", true,
        upsert("supplier", 900000L, s"""{"s_suppkey":900000,"s_name":"S","s_nationkey":$nk}""")),
      ("ALTER rewrite", "region", true, cat => {
        val schema = cat.readTable("db", "region").schema
        cat.alterTable("db", "region", StructType(
          schema.fields.filterNot(_.name == "c1") :+ StructField("c1", LongType))): Unit
      }),
      ("event-log purge", EventsTable, false,
        upsert("supplier", 910000L, s"""{"s_suppkey":910000,"s_name":"P","s_nationkey":$nk}""")))
    for ((_, _, _, change) <- scenarios; w <- Seq(crash, twin)) change(w.source)
    Seq(crash, twin).foreach(w => assert(w.job.run("db").verify == "SUCCESS", w.name))
    val expected = digests(twin)
    for ((what, table, inLoad, change) <- scenarios; after <- Seq(false, true)) {
      val point = s"$what, ${if (after) "after" else "before"} the commit"
      change(crash.source)
      val pinned = DbEpochs(spark, crash.target, "db").pin()
      def all(df: DataFrame) = df.collect().map(_.toString).toSet
      val pre = pinned.tables.map(t => t -> all(crash.target.readTable("db", t))).toMap
      def preImageServed(): Unit = pinned.tables.foreach { t =>
        assert(all(pinned.readTable(t)) == pre(t), s"$point: pinned $t")
      }
      val txn = crash.source.currentTxnId("db")
      var fired = false
      val at = if (after) FaultPoints.TableAfterCommit else FaultPoints.TableBeforeCommit
      val run = FaultPoints.during { (p, t) =>
        if (p == at && t == table && !fired) {
          fired = true; throw new RuntimeException(s"injected crash: $point")
        }
      }(scala.util.Try(crash.job.run("db")))
      assert(fired, point)
      if (inLoad) assert(run.get.verify == "SUCCESS" && run.get.attempts == 2, point)
      else {
        assert(run.isFailure, point)
        preImageServed()
        // the purge never beheads the counter; the next append continues it
        assert(crash.source.currentTxnId("db") == txn, point)
        change(crash.source)
        assert(crash.source.currentTxnId("db") == txn + 1, point)
        assert(crash.job.run("db").verify == "SUCCESS", point)
      }
      assert(digests(crash) == expected, point)
      preImageServed()
      Seq(crash.source, crash.target).foreach(c => assert(unnamed(c).isEmpty, s"$point: ${unnamed(c)}"))
    }
  }

  test("a crashed job's committed task output under _temporary never joins the next commit") {
    import DbCatalog._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    val (target, source) = (DbCatalog(spark, tmp("temporary"), epochMode = true),
      DbCatalog(spark, tmp("temporary-src")))
    val fs = new Path(target.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def eventRows(ids: Long*) = spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, "t", OpUpsert, i.toString, "{}"))), EventSchema)
    // what a driver killed after some of its tasks committed leaves behind:
    // a committed task dir under the job attempt's `_temporary/0`
    def plant(cat: DbCatalog, table: String, df: DataFrame): Unit = {
      val staged = tmp("staged")
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = fs.listStatus(new Path(staged)).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val task = new Path(cat.dbPath("db"), s"$table/_temporary/0/task_202601010000_0001_m_000000")
      fs.mkdirs(task)
      assert(fs.rename(part, new Path(task, "part-00000-planted.snappy.parquet")))
    }
    target.createDb("db")
    target.writeTable("db", "t", kv(1L -> "a"))
    DbEpochs(spark, target, "db").commit(1L)
    source.createDb("db")
    source.appendEvents("db", Seq(Event("t", OpUpsert, "1", "{}")))
    plant(target, "t", kv(1L -> "crashed", 2L -> "crashed"))
    plant(source, EventsTable, eventRows(7L, 8L))

    target.mergeDml("db", "t", kv(3L -> "c"), Seq("3").toDF("key"))
    assert(source.appendEvents("db", Seq(Event("t", OpUpsert, "3", "{}"))) == 2L)
    assert(rows(target.readTable("db", "t")) == Set(1L -> "a", 3L -> "c"))
    assert(source.readEvents("db").count() == 2L && source.currentTxnId("db") == 2L)
    assert(!target.manifest("db", "t").get.files.exists(_.path.contains("planted")))
    assert(!source.manifest("db", EventsTable).get.files.exists(_.path.contains("planted")))
  }

  test("end-to-end: a verified replication cycle publishes one epoch") {
    val root = tmp("e2e")
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt", epochMode = true)
    source.createDb("db")
    source.writeTable("db", "t", kv(1L -> "v1", 2L -> "v2"))
    val job = ReplicationJob(spark, source, target, s"$root/dumps",
      ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10))
    assert(job.run("db").verify == "SUCCESS") // bootstrap publishes epoch 0
    val epochs = DbEpochs(spark, target, "db")
    val pinned = epochs.pin()
    assert(pinned.epoch == 0L)
    assert(rows(pinned.readTable("t")) == Set(1L -> "v1", 2L -> "v2"))

    source.appendEvents("db", Seq(
      DbCatalog.Event("t", DbCatalog.OpUpsert, "2", """{"k":2,"v":"v2new"}""")))
    assert(job.run("db").verify == "SUCCESS")
    // old pin: pre-load; new pin: post-load, watermark carried
    assert(rows(pinned.readTable("t")) == Set(1L -> "v1", 2L -> "v2"))
    val pinned1 = epochs.pin()
    assert(pinned1.epoch == 1L && pinned1.watermark >= 1L)
    assert(rows(pinned1.readTable("t")) == Set(1L -> "v1", 2L -> "v2new"))
    // a NOOP cycle does not mint a new epoch
    assert(job.run("db").verify == "NOOP")
    assert(epochs.pin().epoch == 1L)
  }
}
