package graft.util

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The delta-commit storage core: every property the maintainers lean on —
  * fold semantics (delete kills, reinsert revives, same-batch
  * delete+reinsert), compaction transparency, idempotent replay,
  * crash-window overwrite-replay, pruning with reader grace, and
  * equivalence with an in-memory reference model over a random op
  * sequence.
  */
class DeltaViewSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-dv-$tag").toString

  private def rows(df: Option[DataFrame]): Set[(Long, String)] =
    df.map(_.select(col("k"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet).getOrElse(Set.empty)

  private def ins(kv: (Long, String)*): DataFrame = kv.toSeq.toDF("k", "p")
  private def del(ks: Long*): DataFrame = ks.toSeq.toDF("k")

  test("insert / delete / reinsert across versions fold correctly") {
    val dv = DeltaView(spark, tmp("basic"), Seq("k"), compactEvery = 100)
    dv.applyBatch(0)(_ => (ins(1L -> "a", 2L -> "b"), del()))
    assert(rows(dv.read()) == Set(1L -> "a", 2L -> "b"))
    // delta commit: delete 1, insert 3
    dv.applyBatch(1)(_ => (ins(3L -> "c"), del(1L)))
    assert(rows(dv.read()) == Set(2L -> "b", 3L -> "c"))
    // reinsert a key deleted in an EARLIER version: revives with new payload
    dv.applyBatch(2)(_ => (ins(1L -> "a2"), del()))
    assert(rows(dv.read()) == Set(1L -> "a2", 2L -> "b", 3L -> "c"))
    // same-batch delete+reinsert (modify): strict `>` keeps the new row
    dv.applyBatch(3)(_ => (ins(2L -> "b2"), del(2L)))
    assert(rows(dv.read()) == Set(1L -> "a2", 2L -> "b2", 3L -> "c"))
    // delete of a dead key is a harmless tombstone
    dv.applyBatch(4)(_ => (ins(), del(99L)))
    assert(rows(dv.read()) == Set(1L -> "a2", 2L -> "b2", 3L -> "c"))
  }

  test("multi-row keys: one key's rows land together and die together") {
    val dv = DeltaView(spark, tmp("multi"), Seq("k"), compactEvery = 100)
    dv.applyBatch(0)(_ => (ins(1L -> "a", 1L -> "b", 2L -> "x"), del()))
    dv.applyBatch(1)(_ => (ins(1L -> "c", 1L -> "d"), del(1L)))
    assert(rows(dv.read()) == Set(1L -> "c", 1L -> "d", 2L -> "x"))
  }

  test("compaction is transparent and folds the log into one base") {
    val d = tmp("compact")
    val dv = DeltaView(spark, d, Seq("k"), compactEvery = 3)
    val model = scala.collection.mutable.Map[Long, String]()
    for (b <- 0 until 10) {
      dv.applyBatch(b) { _ =>
        model -= b % 4L; model(100L + b) = s"p$b"
        (ins((100L + b) -> s"p$b"), del(b % 4L))
      }
      assert(rows(dv.read()) == model.toSet.map((t: (Long, String)) => t),
        s"state diverged at batch $b")
      val (_, v, base) = dv.committed.get
      assert(v - base < 3, s"log exceeded the cadence at batch $b")
    }
    // a compaction happened (base advanced past version 0)
    assert(dv.committed.get._3 > 0)
  }

  test("rebase rewrites the whole view as one fresh base; replay no-ops; empty dir refuses") {
    val dir = tmp("rebase")
    val dv = DeltaView(spark, dir, Seq("k"), compactEvery = 100)
    val g = DeltaView.Group(spark, dir, Seq(dv))
    def upperP(vs: Seq[DataFrame]) = vs.map(_.withColumn("p", upper(col("p"))))
    // an empty directory has nothing to rewrite
    intercept[IllegalArgumentException] {
      g.rebase(0)(identity)
    }
    dv.applyBatch(0)(_ => (ins(1L -> "a", 2L -> "b"), del()))
    dv.applyBatch(1)(_ => (ins(3L -> "c"), del(1L)))
    // every row transforms at once — the commit a delta batch cannot
    // express without corpus-sized tombstones
    assert(g.rebase(2)(upperP))
    assert(rows(dv.read()) == Set(2L -> "B", 3L -> "C"))
    // the rewrite IS a compaction: the new state is one base, no deltas
    val (_, v, base) = dv.committed.get
    assert(v == base, s"v=$v base=$base")
    // replay no-ops (the transform must not apply twice)
    assert(!g.rebase(2)(upperP))
    assert(rows(dv.read()) == Set(2L -> "B", 3L -> "C"))
    // normal delta commits continue on top of the rebased state
    dv.applyBatch(3)(_ => (ins(4L -> "d"), del(2L)))
    assert(rows(dv.read()) == Set(3L -> "C", 4L -> "d"))
    // only a rebase moves the layout; a commit under the old one is then
    // refused by name
    assert(g.rebase(4, to = "v2")(identity))
    assert(g.copy(layout = "v2").checked.exists(_.layout == "v2"))
    assert(intercept[IllegalStateException](dv.applyBatch(5)(_ => (ins(5L -> "e"), del())))
      .getMessage.contains("layout mismatch, rebuild required"))
  }

  test("replayed batches no-op; the pointer is the replay guard") {
    val dv = DeltaView(spark, tmp("replay"), Seq("k"), compactEvery = 100)
    assert(dv.applyBatch(0)(_ => (ins(1L -> "a"), del())))
    assert(dv.applyBatch(1)(_ => (ins(2L -> "b"), del(1L))))
    // replay both (e.g. a restarted foreachBatch): nothing changes
    assert(!dv.applyBatch(0)(_ => (ins(9L -> "z"), del())))
    assert(!dv.applyBatch(1)(_ => (ins(9L -> "z"), del())))
    assert(rows(dv.read()) == Set(2L -> "b"))
  }

  test("crash between data write and pointer swap: overwrite-replay") {
    val d = tmp("crash")
    val dv = DeltaView(spark, d, Seq("k"), compactEvery = 100)
    dv.applyBatch(0)(_ => (ins(1L -> "a"), del()))
    // simulate the crash: the NEXT delta dir exists (data written) but the
    // pointer still says version 0 — exactly the post-crash disk state
    ins(666L -> "junk").withColumn("_op", lit("I"))
      .write.mode("overwrite").parquet(s"$d/delta_v1")
    assert(dv.committed.get._2 == 0L)
    // replay of the batch overwrites delta_v1 and commits
    dv.applyBatch(1)(_ => (ins(2L -> "b"), del()))
    assert(rows(dv.read()) == Set(1L -> "a", 2L -> "b"))
  }

  test("pruning keeps exactly what the last keepVersions states need") {
    val d = tmp("prune")
    val dv = DeltaView(spark, d, Seq("k"), compactEvery = 3)
    for (b <- 0 until 7) dv.applyBatch(b)(_ => (ins(b.toLong -> s"p$b"), del()))
    // version 6 = base 6 (compaction at 3 and 6); state 5 needs base_v3 +
    // deltas 4,5 — all kept; everything at versions < 3 pruned
    val files = new java.io.File(d).list().toSet
    assert(files.contains("base_v6") && files.contains("base_v3") &&
      files.contains("delta_v4") && files.contains("delta_v5"), files.toString)
    assert(!files.contains("base_v0") && !files.contains("delta_v1") &&
      !files.contains("delta_v2"), files.toString)
    // reader grace: a frame read BEFORE a commit stays collectable after it
    val before = dv.read().get
    dv.applyBatch(7)(_ => (ins(70L -> "x"), del()))
    assert(before.count() == 7) // state 6's files survive commit 7
  }

  test("partitioned bases keep the layout without changing the fold") {
    val dv = DeltaView(spark, tmp("part"), Seq("k"), compactEvery = 2,
      basePartitionCols = Seq("bucket"))
    def insB(kv: (Long, String)*) = kv.toSeq.toDF("k", "p")
      .withColumn("bucket", pmod(col("k"), lit(4)))
    dv.applyBatch(0)(_ => (insB(1L -> "a", 2L -> "b", 5L -> "e"), del()))
    dv.applyBatch(1)(_ => (insB(3L -> "c"), del(1L)))
    dv.applyBatch(2)(_ => (insB(4L -> "d"), del())) // compacts here
    assert(dv.committed.get._3 == 2L)
    assert(rows(dv.read()) == Set(2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("writer lock: a live second maintainer fails fast; a crashed one is stolen") {
    val d = tmp("lock")
    val dv = DeltaView(spark, d, Seq("k"), compactEvery = 100)
    dv.applyBatch(0)(_ => (ins(1L -> "a"), del()))
    val p = new org.apache.hadoop.fs.Path(d, DeltaView.WriterLockFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a LIVE concurrent maintainer: fresh marker held by another id
    val other = graft.repl.Locks.acquire(fs, p, "other-maintainer", staleMs = 600000)
    val e = intercept[graft.repl.LockBusyException] {
      dv.applyBatch(1)(_ => (ins(2L -> "b"), del()))
    }
    assert(e.getMessage.contains("another maintainer owns this view"))
    assert(rows(dv.read()) == Set(1L -> "a"), "contended commit must not land")
    other.release()
    // crashed maintainer: a marker past staleMs is stolen, the commit runs,
    // and the lock is released afterwards
    val out = fs.create(p, false)
    try out.write("dead-maintainer".getBytes) finally out.close()
    fs.setTimes(p, System.currentTimeMillis() - 120000, -1)
    val dvSteal = DeltaView(spark, d, Seq("k"), compactEvery = 100,
      writerLockStaleMs = 60000)
    assert(dvSteal.applyBatch(1)(_ => (ins(2L -> "b"), del())))
    assert(rows(dvSteal.read()) == Set(1L -> "a", 2L -> "b"))
    assert(!fs.exists(p), "lock must release after the commit")
  }

  test("a foreign 2-field pointer is refused by name, never bootstrapped over") {
    val d = tmp("foreign")
    val conf = spark.sparkContext.hadoopConfiguration
    val pointer = new org.apache.hadoop.fs.Path(d, "CURRENT")
    AtomicPointer.commit(conf, pointer, "3,3") // the retired snapshot core's
    def refused(body: => Any): Unit = assert(intercept[IllegalStateException](
      body).getMessage.contains("a 2-field pointer is a VersionedView directory"))
    refused(graft.streaming.ViewMaintenance.readViewDelta(spark, d))
    refused(graft.streaming.ViewMaintenance.applyBatchDelta(spark, d,
      Seq(("I", "A", 1.0)).toDF("op", "key", "measure"), 4L))
    // neither call bootstrapped: pointer untouched, no data, lock released
    assert(AtomicPointer.read(conf, pointer).contains("3,3"))
    assert(new java.io.File(d).list().filterNot(_.startsWith(".")).toSeq ==
      Seq("CURRENT"))
    // the same for the 3-field pointer DeltaView wrote before group manifests
    val d3 = tmp("foreign3")
    val pointer3 = new org.apache.hadoop.fs.Path(d3, "CURRENT")
    AtomicPointer.commit(conf, pointer3, "4,5,3")
    def refused3(body: => Any): Unit = assert(intercept[IllegalStateException](
      body).getMessage.contains("a 3-field pointer is a DeltaView directory from before group manifests"))
    refused3(graft.streaming.ViewMaintenance.readViewDelta(spark, d3))
    refused3(graft.streaming.ViewMaintenance.applyBatchDelta(spark, d3,
      Seq(("I", "A", 1.0)).toDF("op", "key", "measure"), 6L))
    assert(AtomicPointer.read(conf, pointer3).contains("4,5,3"))
    assert(new java.io.File(d3).list().filterNot(_.startsWith(".")).toSeq ==
      Seq("CURRENT"))

    // coupled-view dirs from before group manifests: each view had its own
    // 3-field pointer (`docs/CURRENT`), and the dir's stamp still matches
    def files(g: String): Set[String] = {
      val root = java.nio.file.Paths.get(g)
      val walk = java.nio.file.Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala.map(root.relativize(_).toString)
        .filterNot(_.split('/').last.startsWith(".")).toSet
      finally walk.close()
    }
    def legacy(tag: String, stamp: String, value: String)(calls: (String => Any)*): Unit = {
      val g = tmp(tag)
      AtomicPointer.commit(conf, new org.apache.hadoop.fs.Path(g, stamp), value)
      AtomicPointer.commit(conf, new org.apache.hadoop.fs.Path(s"$g/docs", "CURRENT"), "4,5,3")
      val before = files(g)
      calls.foreach(call => refused3(call(g)))
      assert(files(g) == before, s"$tag: nothing may be written")
      assert(AtomicPointer.read(conf, new org.apache.hadoop.fs.Path(s"$g/docs", "CURRENT")).contains("4,5,3"))
    }
    import graft.streaming.{CurationStream, PostingsStream}
    val docs = Seq(("I", 1L, "the quick brown fox", "s")).toDF("op", "doc_id", "text", "source")
    val ok = graft.operators.Dedup.lshIndexBuild(docs, "text", "doc_id").ok
    legacy("foreign-curation", "BANDING", graft.operators.Dedup.bandingStamp)(
      CurationStream.readDocsDelta(spark, _),
      CurationStream.committedDelta(spark, _),
      CurationStream.applySignedBatchDelta(spark, _, ok, docs, 6L, capN = 10L))
    legacy("foreign-postings", "LAYOUT", PostingsStream.postingsStamp(64))(
      PostingsStream.readPostingsDelta(spark, _),
      PostingsStream.committedDelta(spark, _),
      PostingsStream.applySignedBatchDelta(spark, _, docs.drop("source"), 6L))
  }

  test("a grouped view is addressed only through its group") {
    def group(g: String) = DeltaView.Group(spark, g,
      Seq(DeltaView(spark, s"$g/a", Seq("k")), DeltaView(spark, s"$g/b", Seq("k"))))
    val g = tmp("grouped")
    assert(group(g).applyBatch(0)(_ => Seq((ins(1L -> "a"), del()), (ins(2L -> "b"), del()))))
    assert(group(g).read().map(rows) == Seq(Set(1L -> "a"), Set(2L -> "b")))
    // the member view on its own: refused, and no pointer of its own is made
    def solo(body: => Any): Unit = assert(intercept[IllegalStateException](body)
      .getMessage.contains("is a view of the group at"))
    val member = DeltaView(spark, s"$g/a", Seq("k"))
    solo(member.read())
    solo(member.applyBatch(1)(_ => (ins(3L -> "c"), del())))
    assert(!new java.io.File(s"$g/a/CURRENT").exists())
    assert(group(g).read().map(rows) == Seq(Set(1L -> "a"), Set(2L -> "b")))
    // the reverse: a view committed on its own is not adopted by a group
    val g2 = tmp("grouped-solo")
    DeltaView(spark, s"$g2/a", Seq("k")).applyBatch(0)(_ => (ins(1L -> "a"), del()))
    assert(intercept[IllegalStateException](group(g2).read()).getMessage
      .contains("is a view's own pointer"))
    assert(!new java.io.File(s"$g2/CURRENT").exists())
  }

  test("building a read runs no Spark job; a curation batch is one group commit") {
    val dv = DeltaView(spark, tmp("jobs"), Seq("k"), compactEvery = 8,
      basePartitionCols = Seq("tb"))
    def insT(kv: (Long, String)*) = kv.toSeq.toDF("k", "p")
      .withColumn("tb", pmod(col("k"), lit(4)).cast("int"))
    dv.applyBatch(0)(_ => (insT(1L -> "a", 2L -> "b", 3L -> "c"), del()))
    dv.applyBatch(1)(_ => (insT(4L -> "d"), del(1L)))
    dv.applyBatch(2)(_ => (insT(5L -> "e"), del()))
    dv.applyBatch(3)(_ => (insT(1L -> "a2"), del(2L)))
    assert(dv.committed.contains((3L, 3L, 0L))) // a tb-partitioned base + 3 deltas
    var view: Option[DataFrame] = None
    assert(graft.JobCounter.jobsDuring(spark) { view = dv.read() } == 0)
    assert(rows(view) == Set(1L -> "a2", 3L -> "c", 4L -> "d", 5L -> "e"))

    // CurationStream's three views: one group commit per batch, no table commit
    val prefix = "the quick brown fox jumps over a lazy dog and runs with " +
      "great speed to an old mill where it finds many tasty treats"
    def docs(ids: Long*) = ids.map(i => ("I", i, prefix + " " +
      (0 until 15).map(k => s"d${i}u$k").mkString(" "), "web"))
      .toDF("op", "doc_id", "text", "source")
    val ok = graft.operators.Dedup.lshIndexBuild(docs(1L, 2L, 3L), "text", "doc_id").ok.cache()
    val cur = tmp("curation")
    for ((batch, id) <- Seq(docs(1L, 2L), docs(3L)).zipWithIndex) {
      val commits = scala.collection.mutable.Buffer[String]()
      FaultPoints.during { (p, _) => commits.synchronized(commits += p) } {
        graft.streaming.CurationStream.applySignedBatchDelta(spark, cur, ok, batch, id.toLong, capN = 100)
      }
      assert(commits.filter(_.endsWith("beforeCommit")) == Seq(FaultPoints.GroupBeforeCommit), id)
    }
    assert(graft.streaming.CurationStream.readDocsDelta(spark, cur).count() == 3)
    ok.unpersist()
  }

  test("random op sequence matches the in-memory reference model") {
    val dv = DeltaView(spark, tmp("fuzz"), Seq("k"), compactEvery = 4)
    val model = scala.collection.mutable.Map[Long, String]()
    val rnd = new scala.util.Random(42)
    for (b <- 0 until 16) {
      val inserts = (0 until rnd.nextInt(4))
        .map(_ => rnd.nextInt(20).toLong)
        .filterNot(model.contains).distinct.map(k => k -> s"v${b}_$k")
      val deletes = (0 until rnd.nextInt(3))
        .map(_ => rnd.nextInt(20).toLong).filter(model.contains).distinct
      dv.applyBatch(b) { _ =>
        (if (inserts.isEmpty) ins() else ins(inserts: _*),
         if (deletes.isEmpty) del() else del(deletes: _*))
      }
      deletes.foreach(model -= _); inserts.foreach { case (k, p) => model(k) = p }
      assert(rows(dv.read()) == model.toSet.map((t: (Long, String)) => t),
        s"diverged at batch $b")
    }
  }
}
