package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EmbeddingIndexSpec extends SparkSpec {

  private def embs = graft.Tables(spark, sf()).embeddings
  private val isBatch = col("vec_id") % 10 === 0

  test("probe dedup: every dup_of is a true near-dup, and probe-scope recall is exact") {
    import graft.functions.VectorFunctions._
    val corpus = embs.filter(!isBatch)
    val cent = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id", 16)
    val index = EmbeddingIndex.assignCells(corpus, cent, "embedding", "vec_id").cache()
    val got = EmbeddingIndex.probeDedup(index, cent, embs.filter(isBatch),
      "embedding", "vec_id").cache()

    // precision: each reported dup_of really has cos >= 0.4 with its batch vector
    val bad = got.filter(!col("is_new"))
      .join(embs.select(col("vec_id"), col("embedding").as("bv")), "vec_id")
      .join(embs.select(col("vec_id").as("dup_of"), col("embedding").as("cv")), "dup_of")
      .filter(cosineFast(col("bv"), col("cv")) < 0.4)
    assert(bad.count() == 0)

    // scope-exact recall (the q133 pattern): within the probed cells the
    // probe must find the MIN matching corpus id a full scan of those
    // cells finds — the IVF recall knob is cell routing, never the verify
    val probes = embs.filter(isBatch)
      .select(col("vec_id").as("bid"), col("embedding").as("qv"))
      .join(broadcast(cent))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bid"))
          .orderBy(cosineFast(col("qv"), col("cv")).desc, col("cid"))))
      .filter(col("rn") <= 2).select(col("bid"), col("qv"), col("cid").as("cell"))
    val want = index.join(probes, "cell")
      .filter(cosineFast(col("qv"), col("v")) >= 0.4)
      .groupBy(col("bid")).agg(min(col("vec_id")).as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotMap = got.filter(!col("is_new")).select("vec_id", "dup_of")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMap == want)
    index.unpersist(); got.unpersist()
  }

  test("retract equals a full rebuild of the survivors under the frozen quantizer") {
    val corpus = embs.filter(!isBatch)
    val cent = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id", 16)
    val index = EmbeddingIndex.assignCells(corpus, cent, "embedding", "vec_id")
    val dropIds = corpus.filter(col("vec_id") % 7 === 0).select("vec_id")
    val shrunk = EmbeddingIndex.retract(index, dropIds)
    val rebuilt = EmbeddingIndex.assignCells(
      corpus.filter(col("vec_id") % 7 =!= 0), cent, "embedding", "vec_id")
    assert(shrunk.select("vec_id", "cell").except(
      rebuilt.select("vec_id", "cell")).count() == 0)
    assert(rebuilt.select("vec_id", "cell").except(
      shrunk.select("vec_id", "cell")).count() == 0)
    // and no retracted id can ever come back as dup_of
    val got = EmbeddingIndex.probeDedup(shrunk, cent, embs.filter(isBatch),
      "embedding", "vec_id")
    assert(got.join(dropIds.withColumnRenamed("vec_id", "dup_of"), "dup_of")
      .count() == 0)
  }

  /** The two-level index BUILD ([[EmbeddingIndex.assignCellsHier]]):
    * the contract is OUTCOME-level — ground-truth probe recall on a
    * hier-built index must hold flat-grade — not assignment identity
    * (on near-uniform vectors the coarse route legitimately picks a
    * different argmax; measured ~50 % raw agreement on the synthetic
    * embeddings, which is why agreement is reported, not pinned).
    */
  test("assignCellsHier: deterministic, flat-grade ground-truth recall, frozen-quantizer retract") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val d = 16; val nCells = 16; val nCorpus = 2000
    val threshold = 0.8
    def gauss() = Array.fill(d)(rnd.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def mix(a: Array[Double], b: Array[Double], s: Double) =
      unit(a.zip(b).map { case (x, y) => x + s * y })
    val centers = Array.fill(nCells)(unit(gauss()))
    val corpus = (0 until nCorpus).map { i =>
      (100L + i, mix(centers(i % nCells), gauss(), 0.6))
    }
    val batch = corpus.grouped(5).map(_.head).zipWithIndex.map {
      case ((_, v), j) => (100000L + j, mix(v, gauss(), 0.15))
    }.toSeq
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val hasMatch = batch.map { case (bid, v) =>
      bid -> corpus.exists { case (_, w) => cos(v, w) >= threshold }
    }.toMap
    val corpusDf = corpus.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val batchDf = batch.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cent = EmbeddingIndex.seedCentroids(corpusDf, "embedding", "vec_id",
      nCells)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier1 = cellsOf(EmbeddingIndex.assignCellsHier(corpusDf, cent,
      "embedding", "vec_id"))
    val hier2 = cellsOf(EmbeddingIndex.assignCellsHier(corpusDf, cent,
      "embedding", "vec_id"))
    assert(hier1 == hier2, "two-level routing must be bit-deterministic")
    assert(hier1.size == nCorpus, "every vector must land in a cell")

    def recallWith(probe: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                           org.apache.spark.sql.DataFrame, String, String, Int,
                           Double) => org.apache.spark.sql.DataFrame)
                  (index: org.apache.spark.sql.DataFrame, nProbe: Int): Double = {
      val found = probe(index, cent, batchDf, "embedding", "vec_id", nProbe,
          threshold)
        .filter(!col("is_new")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val withTruth = hasMatch.filter(_._2).keys.toSeq
      withTruth.count(found) / withTruth.size.toDouble
    }
    val flatIdx = EmbeddingIndex.assignCells(corpusDf, cent, "embedding",
      "vec_id").cache()
    val hierIdx = EmbeddingIndex.assignCellsHier(corpusDf, cent, "embedding",
      "vec_id").cache()
    val agree = cellsOf(flatIdx).count { case (id, c) => hier1(id) == c }
    val rf = recallWith(EmbeddingIndex.probeDedup)(flatIdx, 4)
    // router MISMATCH measured: hier-stored + flat-probed loses recall
    // (0.855 vs 0.957 on this construction); the hier-aware probe adds
    // the query's own two-level cell, and nProbe widening buys the rest
    val rhFlatProbe = recallWith(EmbeddingIndex.probeDedup)(hierIdx, 4)
    val rh4 = recallWith(EmbeddingIndex.probeDedupHierAware)(hierIdx, 4)
    val rh8 = recallWith(EmbeddingIndex.probeDedupHierAware)(hierIdx, 8)
    val rf8 = recallWith(EmbeddingIndex.probeDedup)(flatIdx, 8)
    // the router-generic recall ESTIMATOR must measure exactly what the
    // hier-aware probe achieves on the hier-built index (same candidate
    // join, reproduced per candidate on the sample)
    val nTruthH = hasMatch.values.count(identity)
    val estH = EmbeddingIndex.estimateProbeRecall(hierIdx, cent, batchDf,
        "embedding", "vec_id", nProbes = Seq(4, 8), threshold = threshold,
        maxQueries = Int.MaxValue, router = EmbeddingIndex.HierRouter)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Seq(4 -> rh4, 8 -> rh8).foreach { case (p, r) =>
      assert(estH(p)._2 == nTruthH.toLong, s"hier estimator denominator@$p")
      assert(estH(p)._1 == math.round(r * nTruthH),
        s"hier estimator@$p hit=${estH(p)._1} but the hier-aware probe " +
        s"resolved ${math.round(r * nTruthH)} of $nTruthH")
    }
    flatIdx.unpersist(); hierIdx.unpersist()
    info(f"agreement $agree/$nCorpus = ${agree.toDouble / nCorpus}%.3f; " +
      f"ground-truth recall: flat@4 $rf%.3f, hier+flat-probe@4 " +
      f"$rhFlatProbe%.3f, hier-aware@4 $rh4%.3f, hier-aware@8 $rh8%.3f, " +
      f"flat@8 $rf8%.3f")
    assert(rh4 > rhFlatProbe,
      "the hier-aware probe must beat the mismatched flat probe")
    assert(rh4 >= 0.85, f"hier-aware@4 recall floor broken: $rh4%.3f")
    assert(rh8 >= rf - 0.03,
      f"one nProbe doubling must buy back the hier build's recall: " +
      f"hier-aware@8 $rh8%.3f vs flat@4 $rf%.3f")

    // frozen-quantizer invariance: retract ≡ rebuild on the hier table
    val dropIds = corpusDf.filter(col("vec_id") % 7 === 0).select("vec_id")
    val shrunk = EmbeddingIndex.retract(
      EmbeddingIndex.assignCellsHier(corpusDf, cent, "embedding", "vec_id"),
      dropIds)
    val rebuilt = EmbeddingIndex.assignCellsHier(
      corpusDf.filter(col("vec_id") % 7 =!= 0), cent, "embedding", "vec_id")
    assert(shrunk.select("vec_id", "cell").except(
      rebuilt.select("vec_id", "cell")).count() == 0)
    assert(rebuilt.select("vec_id", "cell").except(
      shrunk.select("vec_id", "cell")).count() == 0)
  }

  /** GROUND-TRUTH recall of the nProbe cell routing — not an oracle
    * replay. The oracle gate (q149/q151) recomputes the SAME routing, so
    * a quantizer or nProbe retune that silently drops recall would still
    * hash-match (the round-10 MinHash blind spot, on the embedding
    * modality). This spec plants near-dup pairs at known cosine in a
    * corpus noisy enough that copies genuinely straddle cell boundaries,
    * computes the truth by BRUTE FORCE over the full corpus, and pins the
    * probe's recall floor. A retune that lands planted copies outside
    * their originals' probed cells fails red here.
    */
  test("probeDedup nProbe routing: ground-truth recall floor vs brute force across cell boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val d = 16; val nCells = 16; val nCorpus = 2000
    val threshold = 0.8
    def gauss() = Array.fill(d)(rnd.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def mix(a: Array[Double], b: Array[Double], s: Double) =
      unit(a.zip(b).map { case (x, y) => x + s * y })
    val centers = Array.fill(nCells)(unit(gauss()))
    // corpus: cluster direction + STRONG noise — vectors sit near cell
    // boundaries, so a copy's nearest centroid is frequently not its
    // original's (that crossing is what the spec exercises)
    val corpus = (0 until nCorpus).map { i =>
      (100L + i, mix(centers(i % nCells), gauss(), 0.6))
    }
    // batch: a mild perturbation of every 5th corpus vector (cos ≈ 0.97
    // with its original — a true near-dup at any sane threshold)
    val batch = corpus.grouped(5).map(_.head).zipWithIndex.map {
      case ((_, v), j) => (100000L + j, mix(v, gauss(), 0.15))
    }.toSeq
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // ground truth: brute force over the FULL corpus (no cells anywhere)
    val hasMatch = batch.map { case (bid, v) =>
      bid -> corpus.exists { case (_, w) => cos(v, w) >= threshold }
    }.toMap
    assert(hasMatch.values.count(identity) >= 350,
      "construction broke: planted copies are not true near-dups")

    val corpusDf = corpus.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val batchDf = batch.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cent = EmbeddingIndex.seedCentroids(corpusDf, "embedding", "vec_id",
      nCells)
    val index = EmbeddingIndex.assignCells(corpusDf, cent, "embedding",
      "vec_id").cache()
    def recallAt(nProbe: Int): Double = {
      val found = EmbeddingIndex.probeDedup(index, cent, batchDf,
          "embedding", "vec_id", nProbe, threshold)
        .filter(!col("is_new")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val withTruth = hasMatch.filter(_._2).keys.toSeq
      withTruth.count(found) / withTruth.size.toDouble
    }
    // the spec must actually exercise boundary crossing: some batch
    // copies' rank-1 cell differs from their original's stored cell
    val batchTop1 = EmbeddingIndex.assignCells(batchDf, cent, "embedding",
        "vec_id").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusCell = index.select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val crossed = batch.zipWithIndex.count { case ((bid, _), j) =>
      batchTop1(bid) != corpusCell(corpus(j * 5)._1)
    }
    assert(crossed > 0, "no copy crossed a cell boundary — spec is inert")

    val rs = Seq(1, 2, 4, 8).map(p => p -> recallAt(p)).toMap

    // --- the recall ESTIMATOR must measure exactly what the probe
    // achieves: with the full query sample (disjoint ids, brute force over
    // the same index) estimateProbeRecall's n_hit/n_eval at each nProbe
    // equals the ground-truth recall computed above, bit-for-bit on the
    // integers (hit ⟺ some matching vector's stored cell ranks ≤ p — the
    // same event probeDedup's candidate join tests)
    val est = EmbeddingIndex.estimateProbeRecall(index, cent, batchDf,
        "embedding", "vec_id", nProbes = Seq(1, 2, 4, 8),
        threshold = threshold, maxQueries = Int.MaxValue)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val nTruth = hasMatch.values.count(identity)
    Seq(1, 2, 4, 8).foreach { p =>
      val (hit, eval) = est(p)
      assert(eval == nTruth.toLong,
        s"estimator denominator $eval != brute-force truth count $nTruth")
      assert(hit == math.round(rs(p) * nTruth),
        s"estimator@$p hit=$hit but the probe actually resolved " +
        s"${math.round(rs(p) * nTruth)} of $nTruth")
    }

    // --- the tuner picks FROM that curve: smallest candidate meeting the
    // target, the largest when the target is unreachable — and its
    // returned curve is the estimator's
    val (p95, curve) = EmbeddingIndex.tuneNProbe(index, cent, batchDf,
      "embedding", "vec_id", targetRecall = 0.95,
      candidates = Seq(1, 2, 4, 8), threshold = threshold,
      maxQueries = Int.MaxValue)
    val wantP95 = Seq(1, 2, 4, 8).find(rs(_) >= 0.95).get
    assert(p95 == wantP95, s"tuner chose $p95, curve says $wantP95: $curve")
    assert(curve.map(_._1) == Seq(1, 2, 4, 8))
    curve.foreach { case (p, r) =>
      assert(math.abs(r - rs(p)) < 1e-12, s"tuner curve@$p=$r vs probe ${rs(p)}")
    }
    val (pMax, _) = EmbeddingIndex.tuneNProbe(index, cent, batchDf,
      "embedding", "vec_id", targetRecall = 1.01,
      candidates = Seq(1, 2, 4, 8), threshold = threshold,
      maxQueries = Int.MaxValue)
    assert(pMax == 8, "unreachable target must fall back to the largest candidate")
    val (pLow, _) = EmbeddingIndex.tuneNProbe(index, cent, batchDf,
      "embedding", "vec_id", targetRecall = 0.5,
      candidates = Seq(1, 2, 4, 8), threshold = threshold,
      maxQueries = Int.MaxValue)
    assert(pLow == 1, "a target under the nProbe=1 floor must choose 1")

    // --- bounded sampling is deterministic and lands near the full curve
    val s1 = EmbeddingIndex.estimateProbeRecall(index, cent, batchDf,
        "embedding", "vec_id", nProbes = Seq(4), threshold = threshold,
        maxQueries = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    val s2 = EmbeddingIndex.estimateProbeRecall(index, cent, batchDf,
        "embedding", "vec_id", nProbes = Seq(4), threshold = threshold,
        maxQueries = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(s1 == s2, "xxhash64 sampling must be deterministic")
    assert(s1._2 <= 64L && s1._2 > 0L)
    assert(math.abs(s1._1.toDouble / s1._2 - rs(4)) <= 0.15,
      s"64-query sample estimate ${s1._1.toDouble / s1._2} far from full ${rs(4)}")

    // --- tuning ON corpus members: a query's own stored copy must not
    // count as a hit (excludeSelf), or recall@1 degenerates to 1.0
    val selfIncl = EmbeddingIndex.estimateProbeRecall(index, cent, corpusDf,
        "embedding", "vec_id", nProbes = Seq(1), threshold = threshold,
        maxQueries = 128, excludeSelf = false)
      .collect().head
    assert(selfIncl.getLong(1) == selfIncl.getLong(2),
      "with excludeSelf=false every corpus query must hit itself at nProbe=1")
    val selfExcl = EmbeddingIndex.estimateProbeRecall(index, cent, corpusDf,
        "embedding", "vec_id", nProbes = Seq(1), threshold = threshold,
        maxQueries = 128)
      .collect().head
    assert(selfExcl.getLong(1) < selfExcl.getLong(2),
      "excludeSelf must remove the degenerate self-hit")

    index.unpersist()
    info("boundary crossings=" + crossed + ", recall by nProbe: " +
      rs.toSeq.sortBy(_._1).map { case (p, r) => f"$p->$r%.3f" }.mkString(" ") +
      f"; tuner(0.95)=$p95, 64-sample@4=${s1._1.toDouble / s1._2}%.3f")
    assert(rs(1) >= 0.5 && rs(2) >= 0.7 && rs(4) >= 0.85 && rs(8) >= 0.95,
      s"recall curve dropped below its pinned floors: $rs")
    // routing sensitivity: each doubling of nProbe must do real work on
    // this construction — a broken router flattens the curve
    assert(rs(2) > rs(1) && rs(4) > rs(2) && rs(8) > rs(4),
      s"recall not monotone in nProbe: $rs")
  }

  /** On an EASY corpus (well-separated clusters, mild noise) the tuner
    * must not over-probe: nProbe=1 already meets a 0.9 target, and paying
    * more beams there is pure cost — the other half of the
    * recall-targeted contract (the adversarial corpus above pins the
    * under-probe half).
    */
  test("tuneNProbe does not over-probe an easy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val d = 16; val nCells = 16
    def gauss() = Array.fill(d)(rnd.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def mix(a: Array[Double], b: Array[Double], s: Double) =
      unit(a.zip(b).map { case (x, y) => x + s * y })
    val centers = Array.fill(nCells)(unit(gauss()))
    val corpus = (0 until 1200).map { i =>
      (100L + i, mix(centers(i % nCells), gauss(), 0.05))
    }
    val batch = corpus.grouped(5).map(_.head).zipWithIndex.map {
      case ((_, v), j) => (100000L + j, mix(v, gauss(), 0.05))
    }.toSeq
    val corpusDf = corpus.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val batchDf = batch.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cent = EmbeddingIndex.seedCentroids(corpusDf, "embedding", "vec_id",
      nCells)
    val index = EmbeddingIndex.assignCells(corpusDf, cent, "embedding",
      "vec_id")
    val (p, curve) = EmbeddingIndex.tuneNProbe(index, cent, batchDf,
      "embedding", "vec_id", targetRecall = 0.9,
      candidates = Seq(1, 2, 4, 8), threshold = 0.8,
      maxQueries = Int.MaxValue)
    info("easy-corpus curve: " +
      curve.map { case (q, r) => f"$q->$r%.3f" }.mkString(" "))
    assert(p == 1, s"easy corpus should tune to nProbe=1, got $p ($curve)")
  }
  test("auto-router resolves from the measured cell crossover and stamps the choice") {
    val corpus = embs.filter(!isBatch)
    val few = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id", 16)
    assert(EmbeddingIndex.AutoRouter.resolve(few) == EmbeddingIndex.FlatRouter)
    // above the crossover (k* ~ 100-150 cells) AUTO must pick the n·2√k
    // hier build — the exp-0.88 flat build is no longer the silent default
    val many = EmbeddingIndex.seedCentroids(
      graft.Tables(spark, sf("sf0.01")).embeddings, "embedding", "vec_id",
      EmbeddingIndex.AutoRouterCellCrossover + 1)
    assert(EmbeddingIndex.AutoRouter.resolve(many) == EmbeddingIndex.HierRouter)
    // unresolved AUTO must fail loudly, never route
    intercept[IllegalStateException] {
      EmbeddingIndex.AutoRouter.assign(corpus, few, "embedding", "vec_id")
    }
    // a maintainer bootstrapping under the default (AUTO) commits the
    // RESOLVED family as its layout, and the serving probe dispatches from it
    import graft.streaming.{EmbeddingDedupStream, Stamps}
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    def router(dir: String, cent: org.apache.spark.sql.DataFrame) =
      EmbeddingIndex.committedRouter(dir, Stamps.layout(spark, dir).get, cent)
    val dirF = tmp("graft-auto-f")
    EmbeddingDedupStream.bootstrapDelta(spark, dirF, few, corpus)
    assert(router(dirF, few) == EmbeddingIndex.FlatRouter)
    val dirH = tmp("graft-auto-h")
    EmbeddingDedupStream.bootstrapDelta(spark, dirH, many, corpus)
    assert(router(dirH, many) == EmbeddingIndex.HierRouter)
    // an explicit FLAT build against the auto-stamped hier dir fails
    // loudly at the commit (build appropriateness is now enforced)
    val batch = embs.filter(isBatch).limit(4)
      .select(lit("I").as("op"), col("vec_id"), col("embedding"))
    intercept[IllegalStateException] {
      EmbeddingDedupStream.applyBatchDelta(spark, dirH, many, batch, 1L,
        router = EmbeddingIndex.FlatRouter)
    }
    // AUTO against an EXISTING valid stamp ADOPTS the stamped family
    // instead of re-deriving from the cell count: an index built 'flat'
    // under an older default (or before a crossover re-tune) with a
    // quantizer ABOVE today's crossover must keep serving, not hard-fail
    // "rebuild required" while its state is perfectly valid (r12 ADVICE)
    val dirAdopt = tmp("graft-auto-adopt")
    EmbeddingDedupStream.bootstrapDelta(spark, dirAdopt, many, corpus,
      EmbeddingIndex.FlatRouter)
    val flat = Stamps.layout(spark, dirAdopt)
    assert(EmbeddingIndex.indexLayout(dirAdopt, flat, many,
      EmbeddingIndex.AutoRouter) == (EmbeddingIndex.FlatRouter -> flat.get))
    EmbeddingDedupStream.applyBatchDelta(spark, dirAdopt, many, batch, 1L)
    assert(EmbeddingDedupStream.committedDelta(spark, dirAdopt).map(_._1).contains(1L))
    assert(Stamps.layout(spark, dirAdopt) == flat)
    // ...but adoption is digest-gated: AUTO against a DIFFERENT quantizer
    // still fails loudly (assignments are incomparable either way)
    intercept[IllegalStateException] {
      EmbeddingDedupStream.applyBatchDelta(spark, dirAdopt, few, batch, 2L)
    }
  }

  test("first commit holds the writer lock: a concurrent bootstrapper under another quantizer fails loudly") {
    import graft.streaming.{EmbeddingDedupStream, Stamps}
    val corpus = embs.filter(!isBatch)
    val centA = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id", 16)
    val centB = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id", 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-stamp-race").toString
    // two bootstrappers race for the fresh dir: one wins the writer lock and
    // commits rows and stamp in one pointer write; the other is refused,
    // either by the held lock or by the winner's stamp — never run under a
    // stamp it did not write
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = Seq(centA, centB).map { c =>
        pool.submit(() => {
          start.await()
          scala.util.Try(EmbeddingDedupStream.bootstrapDelta(spark, dir, c, corpus,
            EmbeddingIndex.FlatRouter))
        })
      }
      start.countDown()
      val outcomes = runs.map(_.get())
      assert(outcomes.count(_.isSuccess) == 1, outcomes.toString)
      outcomes.filter(_.isFailure).foreach(f => assert(f.failed.get.getMessage
        .matches("(?s).*(another maintainer owns this view|layout mismatch, rebuild required).*"),
        f.failed.get.getMessage))
      val won = if (outcomes.head.isSuccess) centA else centB
      assert(Stamps.layout(spark, dir).contains(
        EmbeddingIndex.indexStamp(won, EmbeddingIndex.FlatRouter)))
    } finally pool.shutdown()
    // a later bootstrapper under the loser's quantizer is refused by the stamp
    val lost = if (Stamps.layout(spark, dir).contains(
      EmbeddingIndex.indexStamp(centA, EmbeddingIndex.FlatRouter))) centB else centA
    val e = intercept[IllegalStateException] {
      EmbeddingDedupStream.bootstrapDelta(spark, dir, lost, corpus,
        EmbeddingIndex.FlatRouter)
    }
    assert(e.getMessage.contains("layout mismatch, rebuild required"), e.getMessage)
  }
}
