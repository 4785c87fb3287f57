package graft.streaming

import graft.SparkSpec
import graft.operators.EmbeddingIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EmbeddingDedupStreamSpec extends SparkSpec {

  // tiny deterministic 4-d vectors: unit axes and near-axes
  private def v(x: Double, y: Double, z: Double, w: Double) = Seq(x, y, z, w)
  private val e1 = v(1, 0, 0, 0)
  private val e1close = v(0.99, 0.01, 0, 0)   // cos(e1, e1close) ≈ 1
  private val e2 = v(0, 1, 0, 0)
  private val e3 = v(0, 0, 1, 0)
  private val e4 = v(0, 0, 0, 1)

  private def centFrame = {
    import spark.implicits._
    Seq((0L, e1.map(_.toDouble)), (1L, e2), (2L, e3), (3L, e4))
      .toDF("cid", "cv")
  }

  test("streamed ingest: in-batch near-dups collapse, cross-batch copies reject, deletes retract") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds").toString

    val mem = MemoryStream[(String, Long, Seq[Double])]
    val q = EmbeddingDedupStream.dedupStreamDelta(
      mem.toDS().toDF("op", "vec_id", "embedding"), centFrame,
      s"$dir/index", s"$dir/ckpt")

    // batch 1: two near-identical vectors arrive TOGETHER (only id 2
    // may enter) plus one distinct vector
    mem.addData(("I", 5L, e1close), ("I", 2L, e1), ("I", 9L, e2))
    q.processAllAvailable()
    // batch 2: a copy of accepted id 2 arrives later — reject; a novel
    // vector — accept; and id 9 is deleted
    mem.addData(("I", 20L, e1close), ("I", 30L, e3), ("D", 9L, Seq.empty))
    q.processAllAvailable()
    q.stop()

    val got = EmbeddingDedupStream.readIndexDelta(spark, s"$dir/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 30L), got.toString)
  }

  test("replayed micro-batches no-op, including replayed deletes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds2").toString
    val idx = s"$dir/index"
    def batch(rows: (String, Long, Seq[Double])*) =
      rows.toDF("op", "vec_id", "embedding")

    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("I", 1L, e1), ("I", 2L, e2)), 0L)
    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("D", 1L, Seq.empty), ("I", 3L, e3)), 1L)
    // replay of batch 1 with DIFFERENT (bogus) content must be a no-op
    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("D", 2L, Seq.empty), ("I", 99L, e4)), 1L)

    val got = EmbeddingDedupStream.readIndexDelta(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), got.toString)
    assert(EmbeddingDedupStream.committedDelta(spark, idx).map(_._1)
      .contains(1L))

    // a deleted id's CONTENT may re-enter later under a new id
    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("I", 10L, e1)), 2L)
    val after = EmbeddingDedupStream.readIndexDelta(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after == Set(2L, 3L, 10L), after.toString)
  }

  test("streamed ingest equals the sequential batch reference on real embeddings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds3").toString
    val idx = s"$dir/index"
    val embs = graft.Tables(spark, sf()).embeddings
    val cent = EmbeddingIndex.seedCentroids(
      embs.filter(col("vec_id") < 100), "embedding", "vec_id", 8)

    // two arrival waves over the same corpus (near-dup structure is the
    // synthetic corpus' planted one, straddling the wave boundary)
    val w1 = embs.filter(col("vec_id") % 2 === 0)
      .select(lit("I").as("op"), col("vec_id"), col("embedding"))
    val w2 = embs.filter(col("vec_id") % 2 === 1)
      .select(lit("I").as("op"), col("vec_id"), col("embedding"))
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent, w1, 0L)
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent, w2, 1L)
    val streamed = EmbeddingDedupStream.readIndexDelta(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // sequential reference from the BATCH primitives: wave-1 reps enter;
    // wave-2 survivors of in-batch dominance probe the wave-1 index
    import graft.functions.VectorFunctions._
    def repsOf(wave: org.apache.spark.sql.DataFrame) = {
      val a = EmbeddingIndex.assignCells(wave, cent, "embedding", "vec_id")
      val drp = a.as("a").join(a.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosineFast(col("a.v"), col("b.v")) >= 0.4)
        .select(col("b.vec_id").as("drop_id")).distinct()
      a.join(drp, col("vec_id") === col("drop_id"), "left_anti")
    }
    val r1 = repsOf(w1).cache()
    val r2 = repsOf(w2)
    val kept2 = EmbeddingIndex.probeDedup(r1, cent,
        r2.select(col("vec_id"), col("v")), "v", "vec_id")
      .filter(col("is_new")).select("vec_id")
    val want = (r1.select("vec_id").collect() ++ kept2.collect())
      .map(_.getLong(0)).toSet
    r1.unpersist()
    assert(streamed == want, s"streamed=$streamed want=$want")
  }

  test("delta core equals the batch reference across a compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds4").toString
    def batch(rows: (String, Long, Seq[Double])*) =
      rows.toDF("op", "vec_id", "embedding")
    // four batches crossing a compactEvery=2 boundary, with a delete and
    // a post-delete re-id of the same content
    val batches = Seq(
      batch(("I", 5L, e1close), ("I", 2L, e1), ("I", 9L, e2)),
      batch(("I", 20L, e1close), ("I", 30L, e3), ("D", 9L, Seq.empty)),
      batch(("I", 40L, e2)), // content of deleted 9 re-enters under 40
      batch(("D", 30L, Seq.empty), ("I", 50L, e4)))
    batches.zipWithIndex.foreach { case (b, i) =>
      EmbeddingDedupStream.applyBatchDelta(spark, s"$dir/delta", centFrame,
        b, i, compactEvery = 2)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val delta = ids(EmbeddingDedupStream.readIndexDelta(spark, s"$dir/delta"))
    // sequential reference: 2 beats its in-batch near-dup 5, 20 rejects
    // against 2, 9 and then 30 are retracted, 40 re-enters 9's content
    assert(delta == Set(2L, 40L, 50L), delta.toString)
    // a compaction actually happened (base advanced past version 0)
    assert(EmbeddingDedupStream.committedDelta(spark, s"$dir/delta")
      .exists(_._3 > 0))
    // replay with bogus content no-ops on the delta core too
    EmbeddingDedupStream.applyBatchDelta(spark, s"$dir/delta", centFrame,
      batch(("I", 99L, e4), ("D", 2L, Seq.empty)), 3L, compactEvery = 2)
    assert(ids(EmbeddingDedupStream.readIndexDelta(spark, s"$dir/delta"))
      == Set(2L, 40L, 50L))
  }

  test("probeDelta serves the same verdicts as a probe of the full folded index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds6").toString
    val idx = s"$dir/index"
    val embs = graft.Tables(spark, sf()).embeddings
    val cent = EmbeddingIndex.seedCentroids(
      embs.filter(col("vec_id") < 100), "embedding", "vec_id", 8).cache()
    // bootstrap + an incremental wave + a delete wave, across a compaction
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent,
      embs.filter(col("vec_id") % 3 === 0)
        .select(lit("I").as("op"), col("vec_id"), col("embedding")),
      0L, compactEvery = 2)
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent,
      embs.filter(col("vec_id") % 3 === 1)
        .select(lit("I").as("op"), col("vec_id"), col("embedding")),
      1L, compactEvery = 2)
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent,
      embs.filter(col("vec_id") % 21 === 0).select(lit("D").as("op"),
        col("vec_id"), array().cast("array<double>").as("embedding")),
      2L, compactEvery = 2)
    val queries = embs.filter(col("vec_id") % 3 === 2)
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    val served = rows(EmbeddingDedupStream.probeDelta(spark, idx, cent, queries))
    val full = rows(EmbeddingIndex.probeDedup(
      EmbeddingDedupStream.readIndexDelta(spark, idx), cent,
      queries.select(col("vec_id"), col("embedding").as("v")), "v", "vec_id"))
    cent.unpersist()
    assert(served.nonEmpty && served.exists(!_._3), "no dup verdicts at all")
    assert(served == full, s"served diverged: ${(served diff full).take(5)}")
  }

  test("probeDelta statically partition-prunes the compacted base scan to the probed cells") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-eds7").toString
    val idx = s"$dir/index"
    val embs = graft.Tables(spark, sf()).embeddings
    val cent = EmbeddingIndex.seedCentroids(embs, "embedding", "vec_id", 8)
    // compactEvery=1 → the committed state is a pure partitionBy(cell) base
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent,
      embs.select(lit("I").as("op"), col("vec_id"), col("embedding")),
      0L, compactEvery = 1)
    val probe = EmbeddingDedupStream.probeDelta(spark, idx, cent,
      embs.filter(col("vec_id") % 50 === 7).select("vec_id", "embedding"))
    probe.collect()
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      val extra = p match {
        case qs: QueryStageExec => Seq(qs.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Seq.empty
      }
      p +: (p.children ++ extra).flatMap(deep)
    }
    val plan = probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val pruned = deep(plan).collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty =>
        f.partitionFilters.mkString(",")
    }
    assert(pruned.exists(s => s.contains("cell") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no cell IN/INSET partition filter on the base scan: $pruned\n" +
        plan.toString.take(2000))
  }

  test("index stamp: quantizer re-seed and router flip fail loudly; pre-stamp state is refused") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds8").toString
    val idx = s"$dir/index"
    def batch(rows: (String, Long, Seq[Double])*) =
      rows.toDF("op", "vec_id", "embedding")
    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("I", 2L, e1), ("I", 9L, e2)), 0L)
    // the first commit's manifest carries router + quantizer digest
    val stamp = Stamps.layout(spark, idx)
    assert(stamp.exists(_.startsWith("router=flat,quantizer=")), stamp.toString)

    // a RE-SEEDED quantizer (different centroid vectors) must be refused —
    // on the write path and on every serving read — and write nothing
    val centB = Seq((0L, e2), (1L, e1), (2L, e4), (3L, e3)).toDF("cid", "cv")
    val before = Stamps.files(idx)
    val eW = intercept[IllegalStateException] {
      EmbeddingDedupStream.applyBatchDelta(spark, idx, centB,
        batch(("I", 30L, e3)), 1L)
    }
    assert(eW.getMessage.contains("layout mismatch, rebuild required"), eW.getMessage)
    val queries = Seq((100L, e1close)).toDF("vec_id", "embedding")
    for (serve <- Seq[() => Any](
        () => EmbeddingDedupStream.probeDelta(spark, idx, centB, queries).collect(),
        () => EmbeddingDedupStream.annTopKDelta(spark, idx, centB, queries, k = 1).collect(),
        () => EmbeddingDedupStream.tuneProbeDelta(spark, idx, centB, queries, 0.9))) {
      val eP = intercept[IllegalStateException](serve())
      assert(eP.getMessage.contains("quantizer mismatch"), eP.getMessage)
    }
    // a ROUTER flip under the same quantizer is refused too
    val eR = intercept[IllegalStateException] {
      EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
        batch(("I", 30L, e3)), 1L, router = EmbeddingIndex.HierRouter)
    }
    assert(eR.getMessage.contains("layout mismatch, rebuild required"), eR.getMessage)
    assert(Stamps.files(idx) == before, "a refused call writes nothing")
    // the matching quantizer + router still works
    EmbeddingDedupStream.applyBatchDelta(spark, idx, centFrame,
      batch(("I", 30L, e3)), 1L)
    assert(EmbeddingDedupStream.readIndexDelta(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(2L, 9L, 30L))

    // committed state WITHOUT a stamp (a pre-stamp engine or a foreign
    // writer) is refused rather than trusted
    val bare = s"$dir/bare"
    graft.util.DeltaView(spark, bare, Seq("vec_id"),
        basePartitionCols = Seq("cell"))
      .applyBatch(0L) { _ =>
        (Seq((2L, 0L, e1)).toDF("vec_id", "cell", "v"),
         Seq.empty[Long].toDF("vec_id"))
      }
    val eB = intercept[IllegalStateException] {
      EmbeddingDedupStream.probeDelta(spark, bare, centFrame,
        Seq((100L, e1close)).toDF("vec_id", "embedding")).collect()
    }
    assert(eB.getMessage.contains("by an unstamped writer"), eB.getMessage)
  }

  test("a hier-built index is stamped hier and probeDelta dispatches hier-aware from the stamp") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds9").toString
    val idx = s"$dir/index"
    val embs = graft.Tables(spark, sf()).embeddings
    val cent = EmbeddingIndex.seedCentroids(embs, "embedding", "vec_id", 16)
      .cache()
    EmbeddingDedupStream.applyBatchDelta(spark, idx, cent,
      embs.filter(col("vec_id") % 3 =!= 2)
        .select(lit("I").as("op"), col("vec_id"), col("embedding")),
      0L, router = EmbeddingIndex.HierRouter)
    val stamp = Stamps.layout(spark, idx)
    assert(stamp.exists(_.startsWith("router=hier,")), stamp.toString)
    // the maintained assignments ARE the hier build's (not flat's)
    val got = EmbeddingDedupStream.readIndexDelta(spark, idx)
    val queries = embs.filter(col("vec_id") % 3 === 2)
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
        .toSet
    // serving dispatches from the stamp: verdicts equal an explicit
    // hier-aware probe of the same index, NOT the flat probe
    val served = rows(EmbeddingDedupStream.probeDelta(spark, idx, cent, queries))
    val wantHier = rows(EmbeddingIndex.probeDedupHierAware(got, cent,
      queries.select(col("vec_id"), col("embedding").as("v")), "v", "vec_id"))
    assert(served == wantHier,
      s"served diverged from hier-aware: ${(served diff wantHier).take(5)}")
    assert(served.exists(!_._3), "no dup verdicts at all — fixture inert")

    // the serving-side tuner obeys the stamp too: its curve equals a
    // direct tune of the same view under the HIER router
    val (pServed, curveServed) = EmbeddingDedupStream.tuneProbeDelta(
      spark, idx, cent, queries, targetRecall = 0.8,
      candidates = Seq(1, 2, 4), maxQueries = 128)
    val (pDirect, curveDirect) = EmbeddingIndex.tuneNProbe(got, cent,
      queries, "embedding", "vec_id", targetRecall = 0.8,
      candidates = Seq(1, 2, 4), maxQueries = 128,
      router = EmbeddingIndex.HierRouter)
    cent.unpersist()
    assert(pServed == pDirect && curveServed == curveDirect,
      s"stamped tuner diverged: $pServed/$curveServed vs $pDirect/$curveDirect")
  }

  test("delta-core stream driver maintains the index end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eds5").toString
    val mem = MemoryStream[(String, Long, Seq[Double])]
    val q = EmbeddingDedupStream.dedupStreamDelta(
      mem.toDS().toDF("op", "vec_id", "embedding"), centFrame,
      s"$dir/index", s"$dir/ckpt", compactEvery = 2)
    mem.addData(("I", 5L, e1close), ("I", 2L, e1), ("I", 9L, e2))
    q.processAllAvailable()
    mem.addData(("I", 20L, e1close), ("I", 30L, e3), ("D", 9L, Seq.empty))
    q.processAllAvailable()
    mem.addData(("I", 40L, e2))
    q.processAllAvailable()
    q.stop()
    val got = EmbeddingDedupStream.readIndexDelta(spark, s"$dir/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 30L, 40L), got.toString)
  }

  test("drift monitor: planted off-centroid drift trips the re-quantize signal; a stationary corpus does not") {
    import spark.implicits._
    // 8-d fixture: 4 disjoint 2-plane subspaces, one twin PAIR per plane
    // (cos(2°) ≈ 0.99939 between twins, 0 across planes), 8 axis
    // centroids. Stationary twins sit at 10°/12° — both assign to the
    // even axis cell, so each query's true near-dup shares its rank-1
    // cell. Drift twins STRADDLE the 45° cell boundary (44°/46°): the
    // frozen quantizer splits every pair across two cells, so serving at
    // nProbe=1 misses ALL of them — the exact decay mode the monitor
    // exists to catch.
    def pairVec(j: Int, deg: Double): Seq[Double] = {
      val a = math.toRadians(deg)
      val buf = Array.fill(8)(0.0)
      buf(2 * j) = math.cos(a); buf(2 * j + 1) = math.sin(a)
      buf.toIndexedSeq
    }
    val cent8 = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(8)(d => if (d == i) 1.0 else 0.0))
    }.toDF("cid", "cv")
    def corpus(degA: Double, degB: Double) = (0 until 4).flatMap { j =>
      Seq(("I", (2 * j).toLong, pairVec(j, degA)),
          ("I", (2 * j + 1).toLong, pairVec(j, degB)))
    }.toDF("op", "vec_id", "embedding")
    def bootstrap(rows: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
      // ingest threshold 0.9999 > cos(2°): twins must BOTH enter (the
      // drift being planted is in the survivors, not dedup rejections)
      EmbeddingDedupStream.applyBatchDelta(spark, dir, cent8, rows, 0L,
        nProbe = 1, threshold = 0.9999)
      dir
    }
    // monitor threshold 0.999: only the engineered twin counts as a true
    // near-dup (cos(2°) = 0.99939 passes; everything else is ≤ cos(30°))
    val stationary = bootstrap(corpus(10, 12))
    val repS = EmbeddingDedupStream.monitorDriftDelta(spark, stationary,
      cent8, nProbe = 1, targetRecall = 0.9, threshold = 0.999).get
    assert(!repS.requantizeRecommended && repS.recallAtNProbe == 1.0, repS)

    val drifted = bootstrap(corpus(44, 46))
    val repD = EmbeddingDedupStream.monitorDriftDelta(spark, drifted,
      cent8, nProbe = 1, targetRecall = 0.9, threshold = 0.999).get
    assert(repD.requantizeRecommended && repD.recallAtNProbe == 0.0, repD)
    // the signal is ACTIONABLE: the curve shows the target IS reachable
    // one probe up (boundary straddle, not quantizer collapse)
    assert(repD.curve.find(_._1 == 2).exists(_._2 == 1.0), repD.curve)
    // the curve is recorded next to the stamp for the retune review
    val rec = graft.util.AtomicPointer.read(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(drifted, "RECALL"))
    assert(rec.exists(_.contains("\"requantize_recommended\":true")), rec)

    // --- the lifecycle the recommendation points at: RE-QUANTIZE ---
    // re-fit quantizer a kmeans pass would find: one 45°-diagonal
    // centroid per plane — each straddling twin pair now co-locates
    val cent4 = (0 until 4).map { j =>
      val d = math.sqrt(2.0) / 2
      (j.toLong, Seq.tabulate(8)(k =>
        if (k == 2 * j || k == 2 * j + 1) d else 0.0))
    }.toDF("cid", "cv")
    val before = EmbeddingDedupStream.readIndexDelta(spark, drifted)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(EmbeddingDedupStream.requantizeDelta(spark, drifted, cent4,
      batchId = 1L))
    // WHICH vectors live is untouched; only WHERE they live moved
    val after = EmbeddingDedupStream.readIndexDelta(spark, drifted)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after == before, s"$after vs $before")
    // the drift is CURED at the served nProbe, and the monitor (running
    // against the new quantizer) says so — closed loop
    val repR = EmbeddingDedupStream.monitorDriftDelta(spark, drifted,
      cent4, nProbe = 1, targetRecall = 0.9, threshold = 0.999).get
    assert(!repR.requantizeRecommended && repR.recallAtNProbe == 1.0, repR)
    // probing under the RETIRED quantizer is refused (stamp moved)
    val exOld = intercept[IllegalStateException] {
      EmbeddingDedupStream.probeDelta(spark, drifted, cent8,
        corpus(44, 46).select($"vec_id", $"embedding"), nProbe = 1)
    }
    assert(exOld.getMessage.contains("quantizer mismatch"), exOld.getMessage)
    // replay of the completed requantize no-ops
    assert(!EmbeddingDedupStream.requantizeDelta(spark, drifted, cent4,
      batchId = 1L))
  }

  test("requantize: cells and stamp move in one commit; a crash on either side converges") {
    import spark.implicits._
    import graft.util.FaultPoints
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
    val cent2 = Seq((0L, Seq(0.8, 0.6)), (1L, Seq(-0.6, 0.8))).toDF("cid", "cv")
    val rows = Seq(("I", 1L, Seq(0.9, 0.1)), ("I", 2L, Seq(0.1, 0.9)))
      .toDF("op", "vec_id", "embedding")
    val q = Seq((9L, Seq(0.8, 0.6))).toDF("vec_id", "embedding")
    def serves(dir: String, c: org.apache.spark.sql.DataFrame): Boolean =
      try { EmbeddingDedupStream.probeDelta(spark, dir, c, q, nProbe = 1).collect(); true }
      catch { case e: IllegalStateException
        if e.getMessage.contains("quantizer mismatch") => false }
    def index(dir: String) = EmbeddingDedupStream.readIndexDelta(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def fresh(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-requant").toString
      EmbeddingDedupStream.applyBatchDelta(spark, dir, cent, rows, 0L,
        threshold = 0.9999)
      dir
    }
    def crashAt(point: String): String = {
      val dir = fresh()
      intercept[RuntimeException] {
        FaultPoints.during { (p, label) =>
          if (p == point && label == dir) throw new RuntimeException("boom")
        }(EmbeddingDedupStream.requantizeDelta(spark, dir, cent2, batchId = 1L))
      }
      dir
    }
    // the reference: the same requantize with no crash
    val ref = fresh()
    assert(EmbeddingDedupStream.requantizeDelta(spark, ref, cent2, batchId = 1L))
    assert(!serves(ref, cent) && serves(ref, cent2))

    // before the commit: the old index serves under the old quantizer, the
    // new one is refused, and a re-run converges to the reference
    val before = crashAt(FaultPoints.GroupBeforeCommit)
    assert(serves(before, cent) && !serves(before, cent2))
    assert(EmbeddingDedupStream.committedDelta(spark, before).map(_._1).contains(0L))
    assert(EmbeddingDedupStream.requantizeDelta(spark, before, cent2, batchId = 1L))
    assert(!serves(before, cent) && serves(before, cent2))
    assert(index(before) == index(ref))

    // after the commit: the new index serves, and a replay returns false
    val after = crashAt(FaultPoints.GroupAfterCommit)
    assert(!serves(after, cent) && serves(after, cent2))
    assert(index(after) == index(ref))
    assert(!EmbeddingDedupStream.requantizeDelta(spark, after, cent2, batchId = 1L))
    // another target at the committed batchId is refused, never
    // last-write-wins, and writes nothing
    val files = Stamps.files(after)
    val cent3 = Seq((0L, Seq(1.0, 1.0))).toDF("cid", "cv")
    val exOther = intercept[IllegalStateException] {
      EmbeddingDedupStream.requantizeDelta(spark, after, cent3, batchId = 1L)
    }
    assert(exOther.getMessage.contains("refusing rather than last-write-wins"),
      exOther.getMessage)
    assert(Stamps.files(after) == files && serves(after, cent2))
  }
}
