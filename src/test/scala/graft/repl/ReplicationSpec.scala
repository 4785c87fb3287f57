package graft.repl

import graft.SparkSpec
import graft.util.FaultPoints
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** End-to-end replication round trip on the sf0.001 tables — the automated
  * form of the reference's manual runbook (`/root/reference/ManualSteps.md:
  * 15-33`): bootstrap, mutate, incremental, verify convergence; plus the
  * idempotence/no-op/lock properties the bash relies on implicitly.
  */
class ReplicationSpec extends SparkSpec {

  private def tmpRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-repl").toString
    d
  }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def freshWorld() = {
    val root = tmpRoot()
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    (root, source, target, job)
  }

  private def seedDb(source: DbCatalog, db: String): Unit = {
    source.createDb(db)
    Seq("region", "nation", "supplier").foreach { t =>
      source.writeTable(db, t, spark.read.parquet(s"${sf()}/$t.parquet"))
    }
  }

  test("bootstrap replicates every table byte-for-byte") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db1")
    val report = job.run("db1")
    assert(report.kind == "bootstrap")
    assert(report.verify == "SUCCESS")
    assert(target.listTables("db1") == Seq("nation", "region", "supplier"))
    Seq("region", "nation", "supplier").foreach { t =>
      assert(rowSet(target.readTable("db1", t)) == rowSet(source.readTable("db1", t)), t)
    }
  }

  test("bootstrap cleans debris from a failed prior bootstrap (reference TODO.md:2)") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db1b")
    // Simulate a prior bootstrap that died partway: the target db holds a
    // table and a view that the source has since dropped, plus data files a
    // crashed write left in a table dir that no manifest names. None
    // committed a watermark.
    target.createDb("db1b")
    target.writeTable("db1b", "zombie", spark.read.parquet(s"${sf()}/region.parquet"))
    target.createView("db1b", "zombie_v", "SELECT 1 AS one")
    target.writeTable("db1b", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    val regionDir = new Path(target.dbPath("db1b"), "region")
    spark.read.parquet(s"${sf()}/nation.parquet").write.mode("append").parquet(regionDir.toString)
    val fs = target.dbPath("db1b").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(regionDir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    assert(dataFiles.size > target.manifest("db1b", "region").get.files.size)
    val report = job.run("db1b")
    assert(report.kind == "bootstrap")
    assert(report.verify == "SUCCESS")
    // The restored db mirrors the snapshot exactly — debris gone.
    assert(target.listTables("db1b") == Seq("nation", "region", "supplier"))
    assert(target.listViews("db1b").isEmpty)
    assert(dataFiles == target.manifest("db1b", "region").get.files.map(_.path).toSet)
    assert(rowSet(target.readTable("db1b", "nation")) ==
      rowSet(source.readTable("db1b", "nation")))
  }

  test("content digests verify a replica beyond the watermark; divergence is bucket-scoped") {
    import org.apache.spark.sql.functions._
    val (_, source, target, job) = freshWorld()
    seedDb(source, "dbd")
    job.run("dbd")
    def dig(cat: DbCatalog) = Digest.tableDigest(
      cat.readTable("dbd", "nation"), col("n_nationkey"),
      Seq(col("n_nationkey").cast("string"), col("n_name")), buckets = 8)
    // equal watermarks AND equal content ⇒ no divergent buckets
    assert(Digest.divergentBuckets(dig(source), dig(target)).count() == 0L)
    // an out-of-band corruption the watermark can NOT see...
    val corrupted = target.readTable("dbd", "nation")
      .withColumn("n_name", when(col("n_nationkey") === 3, lit("CORRUPT"))
        .otherwise(col("n_name")))
    target.rewriteTable("dbd", "nation", corrupted)
    // ...shows up, scoped to exactly the corrupted key's bucket
    val div = Digest.divergentBuckets(dig(source), dig(target))
      .collect().map(_.getLong(0)).toSeq
    assert(div.length == 1, s"divergence not bucket-scoped: $div")
  }

  test("table digests are invariant to partitioning and row order") {
    import org.apache.spark.sql.functions._
    val nation = spark.read.parquet(s"${sf()}/nation.parquet")
    def dig(df: org.apache.spark.sql.DataFrame) =
      Digest.tableDigest(df, col("n_nationkey"),
          Seq(col("n_nationkey").cast("string"), col("n_name")), buckets = 8)
        .collect().map(_.toString).toSet
    val base = dig(nation)
    assert(dig(nation.repartition(17)) == base)
    assert(dig(nation.repartition(1).orderBy(col("n_name").desc)) == base)
  }

  test("out-of-order delta application is refused, not silently committed") {
    import DbCatalog._
    val (root, source, target, job) = freshWorld()
    seedDb(source, "dbo")
    job.run("dbo") // bootstrap
    val meta = MetadataStore(spark, target.root)
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10, incrRerun = 1)
    val dumper = Dump(spark, source, s"$root/dumps", cfg)
    val loader = Load(spark, target, cfg)
    // two consecutive deltas; try to apply only the SECOND one
    source.appendEvents("dbo", Seq(Event("nation", OpUpsert, "25",
      """{"n_nationkey":25,"n_name":"A","n_regionkey":1}""")))
    val w0 = meta.watermark("dbo").get
    val d1 = dumper.incremental("dbo", w0)
    source.appendEvents("dbo", Seq(Event("nation", OpUpsert, "26",
      """{"n_nationkey":26,"n_name":"B","n_regionkey":1}""")))
    val d2 = dumper.incremental("dbo", d1.txnId)
    val e = intercept[IllegalStateException] { loader.replay(d2.path) }
    assert(e.getMessage.contains("out-of-order"), e.getMessage)
    assert(meta.watermark("dbo").contains(w0)) // untouched
    // applying in order still works and converges: both upserts land
    loader.replay(d1.path)
    loader.replay(d2.path)
    val keys = target.readTable("dbo", "nation").collect()
      .map(_.get(0).toString.toLong).toSet
    assert(keys.contains(25L) && keys.contains(26L), keys.toSeq.sorted)
  }

  test("incremental applies upserts and deletes; watermark advances") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db2")
    assert(job.run("db2").verify == "SUCCESS")

    // Mutate: rename region 0, delete region 1, insert region 90.
    import DbCatalog._
    source.appendEvents("db2", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"AFRICA-RENAMED"}"""),
      Event("region", OpDelete, "1", null),
      Event("region", OpUpsert, "90", """{"r_regionkey":90,"r_name":"MOON"}""")))

    assert(job.pendingEvents("db2") == 3)
    val r2 = job.run("db2")
    assert(r2.kind == "incremental" && r2.verify == "SUCCESS")
    assert(job.pendingEvents("db2") == 0)

    val region = target.readTable("db2", "region").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(region(0L) == "AFRICA-RENAMED")
    assert(!region.contains(1L))
    assert(region(90L) == "MOON")
    // untouched table intact
    assert(rowSet(target.readTable("db2", "nation")) == rowSet(source.readTable("db2", "nation")))
  }

  test("incremental with no new events is a verified no-op") {
    val (_, source, _, job) = freshWorld()
    seedDb(source, "db3")
    job.run("db3")
    val r = job.run("db3")
    assert(r.kind == "incremental")
    assert(r.verify == "NOOP") // reference hive3repl.sh:157-158
  }

  test("replaying the same delta twice is idempotent") {
    val (root, source, target, job) = freshWorld()
    seedDb(source, "db4")
    job.run("db4")
    import DbCatalog._
    source.appendEvents("db4", Seq(
      Event("region", OpUpsert, "2", """{"r_regionkey":2,"r_name":"ASIA-v2"}"""),
      Event("region", OpDelete, "3", null)))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val dump = Dump(spark, source, s"$root/dumps", cfg).incremental("db4", 0L)
    val loader = Load(spark, target, cfg)
    val meta = MetadataStore(spark, target.root)
    loader.replay(dump.path)
    val once = rowSet(target.readTable("db4", "region"))
    loader.replay(dump.path) // replay same dump again
    val twice = rowSet(target.readTable("db4", "region"))
    assert(once == twice)
    assert(once.exists(_.contains("ASIA-v2")))
  }

  test("DDL replay: create and drop table through the event log") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db5")
    job.run("db5")
    import DbCatalog._
    source.appendEvents("db5", Seq(
      Event("extra", OpCreateTable, null, "id BIGINT, name STRING"),
      Event("extra", OpUpsert, "1", """{"id":1,"name":"a"}"""),
      Event("extra", OpUpsert, "2", """{"id":2,"name":"b"}""")))
    job.run("db5")
    assert(target.tableExists("db5", "extra"))
    assert(target.readTable("db5", "extra").count() == 2)

    source.appendEvents("db5", Seq(Event("extra", OpDropTable, null, null)))
    job.run("db5")
    assert(!target.tableExists("db5", "extra"))
  }

  test("ALTER TABLE replays: added column lands at the replica, old rows null") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db_alter")
    assert(job.run("db_alter").verify == "SUCCESS")

    import DbCatalog._
    import org.apache.spark.sql.types._
    // Source-side migration: region gains a population column, then both
    // a pre-existing row is updated and a new row arrives with the field.
    val cur = source.readTable("db_alter", "region").schema
    val newSchema = StructType(cur.fields :+ StructField("population", LongType))
    source.alterTable("db_alter", "region", newSchema)
    source.appendEvents("db_alter", Seq(
      Event("region", OpUpsert, "0",
        """{"r_regionkey":0,"r_name":"AFRICA","population":1400}"""),
      Event("region", OpUpsert, "91",
        """{"r_regionkey":91,"r_name":"ATLANTIS","population":7}""")))

    val report = job.run("db_alter")
    assert(report.kind == "incremental")
    assert(report.verify == "SUCCESS")

    val rep = target.readTable("db_alter", "region")
    assert(rep.schema.fieldNames.toSeq == cur.fieldNames.toSeq :+ "population")
    val pIdx = rep.schema.fieldIndex("population")
    val byKey = rep.collect().map(r => r.get(0).toString.toLong -> r).toMap
    assert(byKey(0L).getLong(pIdx) == 1400L)
    assert(byKey(91L).getString(1) == "ATLANTIS" && byKey(91L).getLong(pIdx) == 7L)
    // untouched pre-ALTER rows survive with a null in the added column
    assert(byKey(2L).isNullAt(pIdx))
    // a second run is a verified no-op and leaves the migrated table intact
    val before = rowSet(rep)
    assert(job.run("db_alter").verify == "NOOP")
    assert(rowSet(target.readTable("db_alter", "region")) == before)
  }

  test("RENAME TABLE replays; DML on both sides of the rename lands correctly") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db_ren")
    assert(job.run("db_ren").verify == "SUCCESS")

    import DbCatalog._
    // pre-rename DML under the old name, the rename, post-rename DML under
    // the new name — all in ONE delta, exercising the epoch split.
    source.appendEvents("db_ren", Seq(
      Event("supplier", OpUpsert, "0",
        """{"s_suppkey":0,"s_name":"Supplier#000000000-v2"}""")))
    source.renameTable("db_ren", "supplier", "vendor")
    source.appendEvents("db_ren", Seq(
      Event("vendor", OpUpsert, "1",
        """{"s_suppkey":1,"s_name":"Vendor#000000001"}""")))

    assert(job.run("db_ren").verify == "SUCCESS")
    assert(!target.tableExists("db_ren", "supplier"))
    assert(target.tableExists("db_ren", "vendor"))
    val names = target.readTable("db_ren", "vendor").collect()
      .map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(names(0L) == "Supplier#000000000-v2") // pre-rename upsert survived the move
    assert(names(1L) == "Vendor#000000001")      // post-rename upsert landed at new name
    // second run: verified no-op, rename not re-applied
    assert(job.run("db_ren").verify == "NOOP")
    assert(target.tableExists("db_ren", "vendor"))
  }

  test("TRUNCATE TABLE replays: pre-truncate DML dead, post-truncate DML lands, schema kept") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db_tr")
    assert(job.run("db_tr").verify == "SUCCESS")

    import DbCatalog._
    // dead pre-truncate upsert, the truncate, then one surviving upsert —
    // all in ONE delta, exercising the reset floor.
    source.appendEvents("db_tr", Seq(
      Event("supplier", OpUpsert, "0",
        """{"s_suppkey":0,"s_name":"DeadBeforeTruncate"}""")))
    source.truncateTable("db_tr", "supplier")
    source.appendEvents("db_tr", Seq(
      Event("supplier", OpUpsert, "1",
        """{"s_suppkey":1,"s_name":"AliveAfterTruncate"}""")))

    assert(job.run("db_tr").verify == "SUCCESS")
    val rows = target.readTable("db_tr", "supplier").collect()
    assert(rows.length == 1, s"expected 1 surviving row, got ${rows.length}")
    assert(rows.head.getString(1) == "AliveAfterTruncate")
    // schema survived the truncate (Hive contract: metadata kept)
    assert(target.readTable("db_tr", "supplier").schema ==
      source.readTable("db_tr", "supplier").schema)
    // a rerun is a verified no-op and leaves the surviving row intact
    assert(job.run("db_tr").verify == "NOOP")
    assert(target.readTable("db_tr", "supplier").count() == 1)
  }

  test("partitioned table: bootstrap keeps layout; merge rewrites ONLY touched partitions") {
    val (_, source, target, job) = freshWorld()
    source.createDb("db_p")
    val sup = spark.read.parquet(s"${sf()}/supplier.parquet")
    source.writeTablePartitioned("db_p", "supplier", sup, "s_nationkey")
    assert(job.run("db_p").verify == "SUCCESS")
    // layout replicated: the target table is partitioned the same way
    assert(target.partitionSpec("db_p", "supplier").contains("s_nationkey"))
    assert(rowSet(target.readTable("db_p", "supplier")) ==
      rowSet(source.readTable("db_p", "supplier")))

    // snapshot the files of an UNTOUCHED partition at the target
    val fs = target.dbPath("db_p")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(nk: Int): Map[String, Long] =
      fs.listStatus(new Path(target.dbPath("db_p"), s"supplier/s_nationkey=$nk"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val nations = source.readTable("db_p", "supplier")
      .select("s_nationkey").distinct().collect().map(_.getInt(0)).sorted
    val (hot, cold) = (nations.head, nations.last)
    val coldBefore = partFiles(cold)

    // delta touching ONLY the hot partition: one upsert + one delete there
    import DbCatalog._
    val delKey = source.readTable("db_p", "supplier")
      .where(col("s_nationkey") === hot).select("s_suppkey")
      .orderBy(col("s_suppkey")).head().get(0).toString
    source.appendEvents("db_p", Seq(
      Event("supplier", OpUpsert, "900001",
        s"""{"s_suppkey":900001,"s_name":"PartUpsert","s_nationkey":$hot}"""),
      Event("supplier", OpDelete, delKey, null)))
    assert(job.run("db_p").verify == "SUCCESS")

    // rows correct: delete applied, upsert landed in the hot partition
    val after = target.readTable("db_p", "supplier")
    assert(after.where(col("s_suppkey") === delKey.toLong).isEmpty)
    assert(after.where(col("s_suppkey") === 900001 &&
      col("s_nationkey") === hot).count() == 1)
    // and the cold partition's files were NOT rewritten (names + mtimes)
    assert(partFiles(cold) == coldBefore,
      s"cold partition s_nationkey=$cold was rewritten by a merge that never touched it")
    // idempotent rerun
    assert(job.run("db_p").verify == "NOOP")
    assert(after.where(col("s_suppkey") === 900001).count() == 1)
  }

  test("partition-moving upsert kills the old copy; lone delete rewrites its partition") {
    // The two cases that force the merge to LOCATE evented keys across the
    // whole table (Catalog.locateEventedPartitions): an upsert whose payload
    // moves a row to a new partition must also rewrite the OLD partition
    // (or a stale duplicate survives), and a delete into a partition no
    // upsert touches must still rewrite that partition. Guards the round-8
    // inline-isin locate path with long keys (the inlinable dtype).
    val (_, source, target, job) = freshWorld()
    source.createDb("db_mv")
    val sup = spark.read.parquet(s"${sf()}/supplier.parquet")
    source.writeTablePartitioned("db_mv", "supplier", sup, "s_nationkey")
    assert(job.run("db_mv").verify == "SUCCESS")

    val src = source.readTable("db_mv", "supplier")
    val nations = src.select("s_nationkey").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(nations.length >= 4, "fixture needs ≥4 partitions for this proof")
    val (pOld, pNew, pDel, pCold) = (nations(0), nations(1), nations(2), nations(3))
    def firstKeyIn(nk: Int): Long = src.where(col("s_nationkey") === nk)
      .select("s_suppkey").orderBy(col("s_suppkey")).head().getLong(0)
    val moveKey = firstKeyIn(pOld)
    val delKey = firstKeyIn(pDel)

    val fs = target.dbPath("db_mv")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def coldFiles(): Map[String, Long] =
      fs.listStatus(new Path(target.dbPath("db_mv"), s"supplier/s_nationkey=$pCold"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val coldBefore = coldFiles()

    import DbCatalog._
    source.appendEvents("db_mv", Seq(
      Event("supplier", OpUpsert, moveKey.toString,
        s"""{"s_suppkey":$moveKey,"s_name":"Moved","s_nationkey":$pNew}"""),
      Event("supplier", OpDelete, delKey.toString, null)))
    assert(job.run("db_mv").verify == "SUCCESS")

    val after = target.readTable("db_mv", "supplier")
    // exactly ONE copy of the moved row, and it lives in the NEW partition
    assert(after.where(col("s_suppkey") === moveKey).count() == 1)
    assert(after.where(col("s_suppkey") === moveKey &&
      col("s_nationkey") === pNew).count() == 1)
    // the lone delete applied even though no upsert touched its partition
    assert(after.where(col("s_suppkey") === delKey).isEmpty)
    // untouched partition's files did not rewrite
    assert(coldFiles() == coldBefore,
      s"partition s_nationkey=$pCold rewritten by a merge that never touched it")
  }

  test("partitioned merge with a non-inlinable key dtype uses the join fallback correctly") {
    // A DOUBLE key column cannot inline into the native isin locate filter,
    // so the locate scan takes the semi-join fallback (cast on the SMALL
    // side). Same move+delete semantics must hold.
    val (_, source, target, job) = freshWorld()
    source.createDb("db_dk")
    import spark.implicits._
    val t = Seq((1.5, "x", 0), (2.5, "y", 0), (3.5, "z", 1))
      .toDF("k", "v", "p")
    source.writeTablePartitioned("db_dk", "t", t, "p")
    assert(job.run("db_dk").verify == "SUCCESS")

    import DbCatalog._
    source.appendEvents("db_dk", Seq(
      Event("t", OpUpsert, "1.5", """{"k":1.5,"v":"x2","p":1}"""), // p=0 → p=1
      Event("t", OpDelete, "2.5", null)))
    assert(job.run("db_dk").verify == "SUCCESS")

    val after = target.readTable("db_dk", "t")
    assert(after.count() == 2)
    assert(after.where(col("k") === 1.5).select("v", "p").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("x2", 1)))
    assert(after.where(col("k") === 2.5).isEmpty)
    assert(after.where(col("k") === 3.5).count() == 1)
  }

  test("two-level-partitioned source degrades to first-level scoping without row corruption") {
    // The engine's partition plane is ONE level deep (the warehouse
    // date/bucket column). A source table laid out a=…/b=…/ must still
    // replicate row-correct: partition discovery surfaces BOTH levels as
    // columns, the dump/replica keep level-a dirs, and level b rides as an
    // ordinary data column — merge scoping is level-a only, never wrong.
    val (_, source, target, job) = freshWorld()
    source.createDb("db_ml")
    val sup = spark.read.parquet(s"${sf()}/supplier.parquet")
      .withColumn("bkt", col("s_suppkey") % 2)
    // two-level layout written directly (the engine API only offers one
    // level; the on-disk shape is what a migrated warehouse would hand us)
    sup.write.mode("overwrite").partitionBy("s_nationkey", "bkt")
      .parquet(s"${source.dbPath("db_ml")}/supplier")
    assert(job.run("db_ml").verify == "SUCCESS")
    assert(target.partitionSpec("db_ml", "supplier").contains("s_nationkey"))
    assert(rowSet(target.readTable("db_ml", "supplier")
             .select(sup.columns.map(col).toIndexedSeq: _*)) ==
           rowSet(source.readTable("db_ml", "supplier")
             .select(sup.columns.map(col).toIndexedSeq: _*)))

    // an incremental upsert carrying both former partition columns merges
    // correctly under level-a scoping
    import DbCatalog._
    source.appendEvents("db_ml", Seq(Event("supplier", OpUpsert, "900001",
      """{"s_suppkey":900001,"s_name":"TwoLevel","s_nationkey":0,"bkt":1}""")))
    assert(job.run("db_ml").verify == "SUCCESS")
    val row = target.readTable("db_ml", "supplier")
      .where(col("s_suppkey") === 900001).collect()
    assert(row.length == 1)
  }

  test("run report carries per-table merge cost (rows/bytes/partitions) from observe metrics") {
    import DbCatalog._
    val (_, source, target, job) = freshWorld()
    source.createDb("db_obs")
    val region = spark.read.parquet(s"${sf()}/region.parquet")
    val sup = spark.read.parquet(s"${sf()}/supplier.parquet")
    source.writeTable("db_obs", "region", region)
    source.writeTablePartitioned("db_obs", "supplier", sup, "s_nationkey")

    // bootstrap: no merge plane, so no table stats (restores report via verify)
    val r1 = job.run("db_obs")
    assert(r1.verify == "SUCCESS" && r1.tableStats.isEmpty)

    // delta: one upsert into the unpartitioned table, one upsert + one
    // delete into a SINGLE partition of the partitioned table
    val hot = sup.select("s_nationkey").distinct()
      .orderBy(col("s_nationkey")).head().getInt(0)
    val delKey = sup.where(col("s_nationkey") === hot)
      .select("s_suppkey").orderBy(col("s_suppkey")).head().get(0).toString
    source.appendEvents("db_obs", Seq(
      Event("region", OpUpsert, "90", """{"r_regionkey":90,"r_name":"OBS"}"""),
      Event("supplier", OpUpsert, "900007",
        s"""{"s_suppkey":900007,"s_name":"Obs","s_nationkey":$hot}"""),
      Event("supplier", OpDelete, delKey, null)))
    val r2 = job.run("db_obs")
    assert(r2.verify == "SUCCESS")
    val byTable = r2.tableStats.map(s => s.table -> s).toMap
    assert(byTable.keySet == Set("region", "supplier"))

    // unpartitioned rewrite: whole table rewritten as one unit
    val regStats = byTable("region")
    assert(regStats.rowsMerged == region.count() + 1)
    assert(regStats.bytesRewritten > 0L)
    assert(regStats.partitionsTouched == 1L)

    // partition-scoped merge: ONLY the hot partition's slice was rewritten
    val hotRows = sup.where(col("s_nationkey") === hot).count()
    val supStats = byTable("supplier")
    assert(supStats.partitionsTouched == 1L,
      s"expected 1 partition touched, got ${supStats.partitionsTouched}")
    assert(supStats.rowsMerged == hotRows - 1 + 1) // delete + upsert, hot slice only
    assert(supStats.bytesRewritten > 0L)

    // the target-resident run log carries the same stats (CLI/alerting read it)
    val fs = new Path(target.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runsDir = new Path(target.root, "_repl_metadata/db_obs/runs")
    val logs = fs.listStatus(runsDir).map { st =>
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val incr = logs.filter(_.contains("\"kind\":\"incremental\""))
    assert(incr.nonEmpty)
    assert(incr.exists(j => j.contains("\"tables\":[") &&
      j.contains(s""""table":"supplier","rowsMerged":${hotRows}""") &&
      j.contains("\"partitionsTouched\":1")))
  }

  test("compaction merges small files without changing rows") {
    val (_, source, _, _) = freshWorld()
    source.createDb("db_c")
    // simulate many incremental merges: 40 tiny files
    source.writeTable("db_c", "nation",
      spark.read.parquet(s"${sf()}/nation.parquet").repartition(40))
    val before = rowSet(source.readTable("db_c", "nation"))
    val (nBefore, nAfter) = source.compactTable("db_c", "nation")
    assert(nBefore >= 20, s"expected >=20 files, saw $nBefore")
    assert(nAfter == 1, s"tiny table should compact to 1 file, got $nAfter")
    assert(rowSet(source.readTable("db_c", "nation")) == before)
    // compacting an already-compact table is a no-op (no pointless rewrite)
    assert(source.compactTable("db_c", "nation") == (1, 1))
  }

  test("merges size output by bytes: a small table stays one file across cycles") {
    import DbCatalog._
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db_one")
    assert(job.run("db_one").verify == "SUCCESS")
    (1 to 10).foreach { i =>
      source.appendEvents("db_one", Seq(
        Event("region", OpUpsert, (i % 4).toString,
          s"""{"r_regionkey":${i % 4},"r_name":"C$i"}"""),
        Event("region", OpDelete, "4", null)))
      assert(job.run("db_one").verify == "SUCCESS")
    }
    val fs = target.dbPath("db_one").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(target.dbPath("db_one"), "region"))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(files.length == 1, s"region holds ${files.length} data files")
    val names = target.readTable("db_one", "region").collect()
      .map(r => r.get(0).toString.toInt -> r.getString(1)).toMap
    assert(names == Map(0 -> "C8", 1 -> "C9", 2 -> "C10", 3 -> "C7"))
  }

  test("readTable's footer schema equals Spark's own inference") {
    import DbCatalog._
    import spark.implicits._
    import org.apache.spark.sql.types._
    val (_, source, target, job) = freshWorld()
    source.createDb("db_sch")
    source.writeTable("db_sch", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    source.writeTablePartitioned("db_sch", "items", Seq(
      (1L, "one", "2024-01-01 00:00:00"), (2L, "two", "2024-02-01 00:00:00"))
      .toDF("id", "name", "ts_part"), "ts_part")
    def sameSchema(cat: DbCatalog, t: String): Unit =
      assert(cat.readTable("db_sch", t).schema ==
        spark.read.parquet(new Path(cat.dbPath("db_sch"), t).toString).schema, t)
    sameSchema(source, "region")
    sameSchema(source, "items") // partition column appended, inferred as timestamp
    assert(source.readTable("db_sch", "items").schema("ts_part").dataType == TimestampType)
    assert(job.run("db_sch").verify == "SUCCESS")
    // an ALTER replay and a table created empty by a CREATE_TABLE replay
    val cur = source.readTable("db_sch", "region").schema
    source.alterTable("db_sch", "region", StructType(cur.fields :+ StructField("pop", LongType)))
    source.appendEvents("db_sch", Seq(Event("fresh", OpCreateTable, null, "id BIGINT, name STRING")))
    assert(job.run("db_sch").verify == "SUCCESS")
    Seq("region", "items", "fresh").foreach(sameSchema(target, _))
    assert(target.readTable("db_sch", "region").schema.fieldNames.last == "pop")
    assert(target.readTable("db_sch", "fresh").isEmpty)
  }

  test("an incremental cycle's Spark jobs grow by at most 2 per touched table") {
    import DbCatalog._
    // Production single-replica settings: maintenance runs in the cycle.
    def cycleJobs(db: String, tables: Seq[String]): Int = {
      val root = tmpRoot()
      val source = DbCatalog(spark, s"$root/src")
      val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10,
        autoCompactFactor = 1.2, autoPurge = true)
      val job = ReplicationJob(spark, source, DbCatalog(spark, s"$root/tgt"),
        s"$root/dumps", cfg)
      source.createDb(db)
      tables.foreach(t => source.writeTable(db, t, spark.read.parquet(s"${sf()}/$t.parquet")))
      assert(job.run(db).verify == "SUCCESS")
      // one upsert and one delete per table on rows `from` and `from + 1`
      // (by the first column): fresh keys every cycle keep the log below
      // the compaction trigger, so the cycle measured is the steady one
      def delta(from: Int) = tables.flatMap { t =>
        val df = source.readTable(db, t)
        val rows = df.orderBy(col(df.columns.head)).limit(from + 2)
        val (json, keys) = (rows.toJSON.collect().drop(from),
          rows.collect().drop(from).map(_.get(0).toString))
        Seq(Event(t, OpUpsert, keys(0), json(0)), Event(t, OpDelete, keys(1), null))
      }
      source.appendEvents(db, delta(0))
      assert(job.run(db).verify == "SUCCESS") // warm-up
      source.appendEvents(db, delta(2))
      var verify = ""
      val n = graft.JobCounter.jobsDuring(spark) { verify = job.run(db).verify }
      assert(verify == "SUCCESS")
      n
    }
    val one = cycleJobs("db_jobs1", Seq("region"))
    val five = cycleJobs("db_jobs5", Seq("region", "nation", "supplier", "customer", "part"))
    info(s"1 table: $one jobs, 5 tables: $five jobs")
    assert(five - one <= 2 * 4, s"1 table: $one jobs, 5 tables: $five jobs")
    assert(five <= 22, s"5-table incremental cycle ran $five Spark jobs")
  }

  test("five-way verify enum matches the reference's comparisons") {
    import VerifyResult._
    assert(of(Some(10), 10, Some(5)) == Success)
    assert(of(Some(5), 5, Some(5)) == NoOp)   // watermark unchanged, no new txns
    assert(of(Some(5), 10, Some(5)) == Behind) // events existed, none applied
    assert(of(Some(7), 10, Some(5)) == Behind)
    assert(of(Some(12), 10, Some(5)) == Ahead)
    assert(of(None, 10, Some(5)) == Unknown)
    assert(of(Some(10), 10, None) == Success) // bootstrap success
  }

  test("concurrent run refused by per-db lock; stale lock is stolen") {
    val (root, source, _, job) = freshWorld()
    seedDb(source, "db6")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockPath = new Path(s"$root/dumps/db6/run.lock")
    val held = Locks.acquire(fs, lockPath, "someone-else", staleMs = 60000)
    intercept[IllegalStateException](job.run("db6"))
    held.release()
    assert(job.run("db6").verify == "SUCCESS")
    // stale steal
    val l2 = Locks.acquire(fs, lockPath, "crashed-runner", staleMs = 60000)
    Thread.sleep(30)
    val stolen = Locks.tryAcquire(fs, lockPath, "new-runner", staleMs = 10)
    assert(stolen.isDefined)
    stolen.get.release()
  }

  test("db allowlist enforced") {
    val (root, source, target, _) = freshWorld()
    seedDb(source, "db7")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", dbAllowlist = Set("other"))
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    intercept[IllegalArgumentException](job.run("db7"))
  }

  test("views replicate at bootstrap and through incremental replay") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db9")
    source.createView("db9", "v_regions",
      "SELECT r_name FROM region ORDER BY r_name")
    job.run("db9") // bootstrap carries the definition
    assert(target.listViews("db9") == Seq("v_regions"))
    assert(
      target.readView("db9", "v_regions").collect().map(_.getString(0)).toSeq ==
      source.readView("db9", "v_regions").collect().map(_.getString(0)).toSeq)

    // Incremental: create a second view and drop the first via the event log.
    import DbCatalog._
    val vSql = "SELECT count(*) AS n FROM nation"
    source.createView("db9", "v_count", vSql)
    source.appendEvents("db9", Seq(
      Event("v_count", OpCreateView, null, vSql),
      Event("v_regions", OpDropView, null, null)))
    assert(job.run("db9").verify == "SUCCESS")
    assert(target.listViews("db9") == Seq("v_count"))
    assert(target.readView("db9", "v_count").head().getLong(0) == 25L)
  }

  test("view edge cases: redefinition wins, bootstrap overwrites, drop of absent is a no-op") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db10")
    source.createView("db10", "v", "SELECT r_name FROM region")
    job.run("db10")
    import DbCatalog._
    // Redefine + drop-absent in one delta: latest definition wins, the
    // absent-view drop changes nothing.
    source.appendEvents("db10", Seq(
      Event("v", OpCreateView, null, "SELECT count(*) AS n FROM region"),
      Event("ghost", OpDropView, null, null)))
    assert(job.run("db10").verify == "SUCCESS")
    assert(target.listViews("db10") == Seq("v"))
    assert(target.readView("db10", "v").head().getLong(0) == 5L)
    // A fresh bootstrap to a second target overwrites with current defs.
    val root2 = tmpRoot()
    val target2 = DbCatalog(spark, s"$root2/tgt2")
    val cfg2 = ReplConfig(dumpRoot = s"$root2/dumps", rerunSleepMs = 10)
    val job2 = ReplicationJob(spark, source, target2, s"$root2/dumps", cfg2)
    assert(job2.run("db10").verify == "SUCCESS")
    assert(target2.viewSql("db10", "v").contains("SELECT r_name FROM region"))
  }

  test("a lost table is a hard error") {
    val (_, source, target, job) = freshWorld()
    seedDb(source, "db8")
    job.run("db8")
    import DbCatalog._
    // A genuinely lost table (no backup, no CREATE_TABLE in the delta) must
    // refuse to replay rather than silently skip and commit the watermark.
    source.appendEvents("db8", Seq(
      Event("region", OpUpsert, "1", """{"r_regionkey":1,"r_name":"AMERICA-X"}""")))
    target.dropTable("db8", "region")
    intercept[IllegalStateException](job.run("db8"))
  }

  test("partial dump without a manifest is inert; manifest is the atomicity boundary") {
    val (root, source, target, _) = freshWorld()
    seedDb(source, "db11")
    // Simulate a dump crashed before its manifest write: tables copied,
    // no _dumpmetadata.json. Replay must refuse it (not silently apply),
    // and a later healthy run is unaffected by the leftover dir.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = new Path(s"$root/dumps/db11/${java.util.UUID.randomUUID()}")
    fs.mkdirs(new Path(dead, "tables/region"))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val loader = Load(spark, target, cfg)
    val meta = MetadataStore(spark, target.root)
    intercept[Exception](loader.replay(dead.toString))
    assert(meta.watermark("db11").isEmpty) // nothing committed
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    assert(job.run("db11").verify == "SUCCESS")
  }

  test("stale delta (toId <= watermark) is skipped — no replay, no watermark regress") {
    val (root, source, target, job) = freshWorld()
    seedDb(source, "db12")
    job.run("db12")
    import DbCatalog._
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val loader = Load(spark, target, cfg)
    val meta = MetadataStore(spark, target.root)
    source.appendEvents("db12", Seq(
      Event("region", OpUpsert, "2", """{"r_regionkey":2,"r_name":"ASIA-v1"}""")))
    val d1 = Dump(spark, source, s"$root/dumps", cfg).incremental("db12", 0L)
    loader.replay(d1.path)
    val wm1 = meta.watermark("db12").get
    source.appendEvents("db12", Seq(
      Event("region", OpUpsert, "2", """{"r_regionkey":2,"r_name":"ASIA-v2"}""")))
    val d2 = Dump(spark, source, s"$root/dumps", cfg).incremental("db12", wm1)
    loader.replay(d2.path)
    val wm2 = meta.watermark("db12").get
    assert(wm2 > wm1)
    // Re-applying the STALE d1 must not overwrite v2 with the old v1
    // payload, and must not regress the watermark to d1.toId.
    assert(loader.replay(d1.path).attempts == 0) // skipped, not replayed
    assert(meta.watermark("db12").contains(wm2))
    assert(rowSet(target.readTable("db12", "region")).exists(_.contains("ASIA-v2")))
  }

  test("partition values with filesystem-special characters merge correctly") {
    val (_, source, target, job) = freshWorld()
    import spark.implicits._
    source.createDb("db13")
    // ':' and '%' are percent-escaped by Spark in partition dir names
    // (cat=a%3Ab); a merge that rebuilt dir names from raw values would
    // miss these dirs and silently skip the partition.
    val items = Seq(
      (1L, "one", "a:b"), (2L, "two", "a:b"), (3L, "three", "p%q"))
      .toDF("id", "name", "cat")
    source.writeTablePartitioned("db13", "items", items, "cat")
    assert(job.run("db13").verify == "SUCCESS")
    import DbCatalog._
    source.appendEvents("db13", Seq(
      Event("items", OpUpsert, "1", """{"id":1,"name":"one-v2","cat":"a:b"}"""),
      Event("items", OpDelete, "3", null)))
    assert(job.run("db13").verify == "SUCCESS")
    val after = target.readTable("db13", "items")
    assert(after.where(col("id") === 1L && col("name") === "one-v2").count() == 1)
    assert(after.where(col("id") === 3L).isEmpty)
    assert(after.count() == 2)
  }

  test("timestamp-inferred partition values merge correctly") {
    val (_, source, target, job) = freshWorld()
    import spark.implicits._
    source.createDb("db13t")
    // every value is timestamp-like, so partition type inference reads the
    // column back as TimestampType — the collected value's JVM toString
    // ("… 00:00:00.0") differs from the dir's value string; the merge must
    // match dirs via Spark's own rendering, not toString
    val items = Seq(
      (1L, "one", "2024-01-01 00:00:00"), (2L, "two", "2024-01-01 00:00:00"),
      (3L, "three", "2024-02-01 00:00:00")).toDF("id", "name", "ts_part")
    source.writeTablePartitioned("db13t", "items", items, "ts_part")
    assert(job.run("db13t").verify == "SUCCESS")
    import DbCatalog._
    source.appendEvents("db13t", Seq(
      Event("items", OpUpsert, "1",
        """{"id":1,"name":"one-v2","ts_part":"2024-01-01 00:00:00"}"""),
      Event("items", OpDelete, "3", null)))
    assert(job.run("db13t").verify == "SUCCESS")
    val after = target.readTable("db13t", "items")
    assert(after.where(col("id") === 1L && col("name") === "one-v2").count() == 1)
    assert(after.where(col("id") === 3L).isEmpty)
    assert(after.count() == 2)
  }

  test("invariant violations are non-retryable: fail fast, no sleep cycles") {
    val (root, source, target, _) = freshWorld()
    seedDb(source, "db14")
    // Long sleep + retries: if the missing-table refusal were retried, this
    // test would take >= 2 * 5 s. Non-retryable surfaces in attempt 1.
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", incrRerun = 3, rerunSleepMs = 5000)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    job.run("db14")
    import DbCatalog._
    source.appendEvents("db14", Seq(
      Event("region", OpUpsert, "1", """{"r_regionkey":1,"r_name":"X"}""")))
    target.dropTable("db14", "region")
    val t0 = System.nanoTime()
    intercept[NonRetryableException](job.run("db14"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs < 4000, s"non-retryable violation slept through retries (${elapsedMs} ms)")
  }

  test("kill -9 before a manifest commit (forked JVM): next run converges") {
    val (root, source, target, job) = freshWorld()
    seedDb(source, "db15")
    job.run("db15") // bootstrap
    val meta = MetadataStore(spark, target.root)
    val wm0 = meta.watermark("db15").get
    import DbCatalog._
    source.appendEvents("db15", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"AFRICA-K9"}""")))
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10)
    val dump = Dump(spark, source, s"$root/dumps", cfg).incremental("db15", wm0)

    // Fork a real JVM that replays this dump and parks after the merge's
    // new files are written and before its manifest commit, then SIGKILL it.
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED") ||
        a.startsWith("-D") || a.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.repl.CrashVictim", root, dump.path)
    val log = new java.io.File(root, "victim.log")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log).start()
    try {
      val marker = java.nio.file.Paths.get(root, "_inwindow")
      val deadline = System.currentTimeMillis() + 180000
      while (!java.nio.file.Files.exists(marker) &&
             System.currentTimeMillis() < deadline && proc.isAlive)
        Thread.sleep(50)
      assert(java.nio.file.Files.exists(marker),
        s"victim never reached the commit point:\n${scala.io.Source.fromFile(log).mkString.takeRight(2000)}")
      proc.destroyForcibly() // SIGKILL — no shutdown hooks, no cleanup
      proc.waitFor()
    } finally if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }

    // The crash left new data files no manifest names; the table still
    // reads its last committed version and the watermark did NOT advance.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val regionDir = new Path(target.dbPath("db15"), "region")
    def orphans = fs.listStatus(regionDir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet --
      target.manifest("db15", "region").get.files.map(_.path)
    assert(orphans.nonEmpty)
    assert(target.readTable("db15", "region").where(col("r_name") === "AFRICA-K9").isEmpty)
    assert(meta.watermark("db15").contains(wm0))

    // An ordinary next cycle (what cron would run) recovers and converges.
    val r = job.run("db15")
    assert(r.kind == "incremental" && r.verify == "SUCCESS")
    val region = target.readTable("db15", "region")
    assert(region.where(col("r_regionkey") === 0 &&
      col("r_name") === "AFRICA-K9").count() == 1)
    // all pre-crash rows intact alongside the replayed upsert
    assert(region.count() == source.readTable("db15", "region").count())
    // no data file outlives the crash unreferenced
    assert(orphans.isEmpty, orphans)
  }

  test("PartitionPaths.unescape inverts Spark's partition-dir escaping") {
    assert(PartitionPaths.unescape("a%3Ab") == "a:b")
    assert(PartitionPaths.unescape("p%25q") == "p%q")
    assert(PartitionPaths.unescape("plain-1.5_x") == "plain-1.5_x")
    assert(PartitionPaths.unescape("2024-01-01 00%3A00%3A00") == "2024-01-01 00:00:00")
    assert(PartitionPaths.unescape("%zz") == "%zz") // malformed stays literal
    assert(PartitionPaths.unescape("trail%") == "trail%")
  }

  test("retry converges after transient failures") {
    var calls = 0
    val attempts = Retry.retry(3, 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
    }
    assert(attempts == 3)
    intercept[RuntimeException](Retry.retry(2, 1) { throw new RuntimeException("hard") })
  }

  test("extVerify=true: corrupt external sync fails before watermark commit, then heals") {
    import java.nio.file.{Files, Paths}
    def write(path: String, content: String): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      Files.writeString(Paths.get(path), content)
    }
    val root = tmpRoot()
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", includeExternalTables = true,
      extVerify = true, incrRerun = 2, rerunSleepMs = 10)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    source.createDb("edbv")
    source.writeTable("edbv", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    write(s"$root/src/edbv/ext_logs/p0.txt", "v1")
    assert(job.run("edbv").verify == "SUCCESS") // clean verified bootstrap
    assert(Files.readString(Paths.get(s"$root/tgt/edbv/ext_logs/p0.txt")) == "v1")
    val meta = MetadataStore(spark, target.root)
    val wm1 = meta.watermark("edbv").get

    // new external content + a managed event; every copy of this cycle is
    // corrupted in flight (torn transfer) by the fault-injection hook
    Thread.sleep(20)
    write(s"$root/src/edbv/ext_logs/p0.txt", "v2-good")
    import DbCatalog._
    source.appendEvents("edbv", Seq(
      Event("region", OpUpsert, "0", """{"r_regionkey":0,"r_name":"XV"}""")))
    FaultPoints.during { (p, dir) =>
      if (p == FaultPoints.ExtAfterCopy) Files.writeString(Paths.get(s"$dir/p0.txt"), "v2-CORR")
    }(intercept[IllegalStateException] { job.run("edbv") })
    // the digest mismatch failed the load BEFORE the watermark could
    // commit over the corrupt replica (cfg.extVerify threaded through
    // Load.syncExternal into ExtCopy.sync)
    assert(meta.watermark("edbv").contains(wm1))
    // self-heal deleted the corrupt replica; the next cycle re-copies,
    // verifies green, and commits
    val r = job.run("edbv")
    assert(r.verify == "SUCCESS")
    assert(Files.readString(Paths.get(s"$root/tgt/edbv/ext_logs/p0.txt")) == "v2-good")
    assert(meta.watermark("edbv").get > wm1)
  }

  test("dump manifest round-trips quoted db and table names") {
    val root = tmpRoot()
    val source = DbCatalog(spark, s"$root/src")
    val (db, tables) = ("qu\"db", Seq("a\"b", "c,d", "e]f"))
    source.createDb(db)
    val fs = source.dbPath(db).getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach(t => fs.mkdirs(new Path(source.dbPath(db), t)))
    val d = Dump(spark, source, s"$root/dumps", ReplConfig(dumpRoot = s"$root/dumps"))
      .incremental(db, 0L)
    val m = Dump.readManifest(spark, d.path)
    assert(m.db == db)
    assert(m.tables == tables)
    assert(m.sourceDbPath == source.sourceDbPath(db))
    assert(m.externalTables.isEmpty)
  }

  test("pre-upgrade manifest without an ext key falls back to the naming convention") {
    import java.nio.file.{Files, Paths}
    def write(path: String, content: String): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      Files.writeString(Paths.get(path), content)
    }
    val root = tmpRoot()
    val source = DbCatalog(spark, s"$root/src")
    val target = DbCatalog(spark, s"$root/tgt")
    val cfg = ReplConfig(dumpRoot = s"$root/dumps", includeExternalTables = true,
      rerunSleepMs = 10)
    val job = ReplicationJob(spark, source, target, s"$root/dumps", cfg)
    source.createDb("edbm")
    source.writeTable("edbm", "region", spark.read.parquet(s"${sf()}/region.parquet"))
    write(s"$root/src/edbm/ext_logs/p0.txt", "m1")
    assert(job.run("edbm").verify == "SUCCESS")

    // external file changes; a PRE-UPGRADE writer dumps WITHOUT the "ext"
    // key (strip it from the manifest json, as an old engine wrote it)
    Thread.sleep(20)
    write(s"$root/src/edbm/ext_logs/p0.txt", "m2")
    val meta = MetadataStore(spark, target.root)
    val d = Dump(spark, source, s"$root/dumps", cfg)
      .incremental("edbm", meta.watermark("edbm").get)
    // rewrite through the Hadoop fs (keeps the .crc sidecar consistent)
    val mPath = new Path(d.path, Dump.ManifestFile)
    val mfs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = mfs.open(mPath)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val stripped = json.replaceAll(""","ext":\[[^\]]*\]""", "")
    assert(!stripped.contains("\"ext\""))
    val out = mfs.create(mPath, true)
    try out.write(stripped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()

    // the fallback recovers the external set from the ext_ naming
    // convention instead of silently dropping the re-sync
    val m = Dump.readManifest(spark, d.path)
    assert(m.externalTables == Seq("ext_logs"))
    Load(spark, target, cfg).replay(d.path)
    assert(Files.readString(Paths.get(s"$root/tgt/edbm/ext_logs/p0.txt")) == "m2")
  }
}
