package graft.streaming

import graft.operators.EmbeddingIndex
import graft.util.DeltaView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Always-on EMBEDDING-ingest dedup: a stream of SIGNED vector rows
  * (op ∈ I/D, vec_id, embedding) maintains the corpus IVF cell index
  * through `foreachBatch` — the streaming form of
  * [[EmbeddingIndex.probeDedup]] (q149), completing the per-modality
  * maintainer set (text [[CurationStream]], media [[MediaDedupStream]],
  * embeddings here) on the same [[DeltaView]] idempotent-commit core.
  *
  * Per micro-batch, in order:
  *  1. retract: `D` rows remove their ids from the index
  *     ([[EmbeddingIndex.retract]] — quantizer frozen, so removal ≡ full
  *     rebuild of the survivors; q151's contract);
  *  2. in-batch dedup: `I` vectors assign to cells and the one-shot min-id
  *     dominance rule ([[graft.operators.Dedup.semanticDedup]]'s) drops
  *     any vector with a smaller-id near-dup cell-mate arriving TOGETHER;
  *  3. index probe: survivors probe the post-retract index
  *     ([[EmbeddingIndex.probeDedup]]); matches reject — first arrival
  *     wins across batches;
  *  4. append: accepted vectors' (vec_id, cell, v) rows append, committed
  *     as a new version (the accepted rows plus the batch's delete
  *     tombstones).
  *
  * The CENTROIDS are a frozen parameter of the stream (built once from a
  * bootstrap corpus via [[EmbeddingIndex.seedCentroids]] or
  * [[graft.operators.Similarity.kmeansCentroids]]) — the standard IVF
  * quantizer-freeze contract: cell ids stay stable across every version,
  * which is exactly what makes retraction rebuild-equivalent and stored
  * assignments immortal. `cent` must therefore be deterministic across
  * triggers (a literal frame or a read of a frozen table). ROUTER
  * consistency is part of the same freeze — and both halves are
  * ENFORCED, not documented: the first commit stamps the index dir with
  * `router=<flat|hier>,quantizer=<digest>`
  * ([[EmbeddingIndex.ensureIndexStamp]], the
  * [[graft.operators.Dedup.bandingStamp]] recipe on the embedding
  * modality), every later trigger re-validates it (a re-seeded quantizer
  * or a router flip fails loudly with "rebuild required" instead of
  * silently losing recall), and [[probeDelta]] DISPATCHES from the stamp
  * — a hier-built index ([[EmbeddingIndex.assignCellsHier]], the
  * beyond-100× build regime) is probed hier-aware automatically, never
  * paying the measured store/probe router-mismatch tax (0.855 vs 0.957
  * @ nProbe=4, EmbeddingIndexSpec). The DEFAULT router is
  * [[EmbeddingIndex.AutoRouter]]: the build family resolves from the
  * quantizer's cell count at the measured ~128-cell crossover, so a
  * caller bootstrapping a large index gets the n·2√k hier build instead
  * of silently inheriting flat's ∝-k assignment; pass a concrete router
  * to force a family (the stamp then enforces it forever).
  *
  * Exactly-once effect = checkpointed offsets × the idempotent versioned
  * commit (replayed batchIds no-op — including replayed DELETES; crash
  * windows recover by overwrite-replay), the contract shared by every
  * maintainer on the core. Cost per trigger: batch-sized assignment + a
  * probe against the probed cells + an O(batch) changes-only commit, with
  * cell-partitioned compacted bases every K commits — the 100 TB
  * configuration (the `idx_commit_delta` study row measures it).
  */
object EmbeddingDedupStream {

  val IndexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", LongType),
    StructField("v", ArrayType(DoubleType))))

  /** Batch-side frames (assignment + in-batch min-id dominance): they
    * depend only on the batch and the frozen quantizer — built and cached
    * OUTSIDE the commit closure so the commit's parquet write reuses them
    * (callers release via the returned handles; no trigger-to-trigger
    * cache growth).
    */
  private def prepBatch(cent: DataFrame, batch: DataFrame, threshold: Double,
                        router: EmbeddingIndex.Router)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VectorFunctions._
    val assigned = router
      .assign(batch.filter(col("op") === "I")
        .select(col("vec_id"), col("embedding")), cent, "embedding", "vec_id")
      .select(col("vec_id").cast("long"), col("cell").cast("long"),
        col("v").cast("array<double>")).cache()
    val dels = batch.filter(col("op") === "D").select("vec_id").cache()
    // one-shot min-id dominance WITHIN the batch (two copies arriving
    // together must not both enter): deterministic, replay-stable
    val drop = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosineFast(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("drop_id")).distinct()
    val reps = assigned.join(drop, col("vec_id") === col("drop_id"),
      "left_anti")
    (assigned, dels, reps)
  }

  /** The batch's probed cell ids — ≤ min(|batch|·nProbe, nCells) distinct
    * longs, a control-plane round-trip (the q91 `annIvfIndexed` pattern).
    * Collecting them lets the index read carry a LITERAL `cell IN (…)`
    * filter, which reaches the compacted base's `partitionBy(cell)` scan
    * as STATIC partition pruning (gated in EmbeddingDedupStreamSpec) — the
    * folded view is never scanned whole on the probe path.
    */
  private def probedCellIds(cent: DataFrame, queries: DataFrame, nProbe: Int,
                            router: EmbeddingIndex.Router): Seq[Long] =
    router.routing(cent, queries, "v", "vec_id", nProbe)
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq

  /** Apply one micro-batch of signed rows (op, vec_id, embedding): skip if
    * already committed (replay), else retract → in-batch dedup → probe →
    * append. Public so tests drive replay/crash/delete cases directly.
    * The commit writes only the ACCEPTED rows plus the batch's delete
    * tombstones — O(batch), not O(index) — and the log compacts into a
    * cell-partitioned base (the q91 serving layout) every `compactEvery`
    * commits. The 100 TB configuration of this maintainer: a day's ingest
    * costs the day, and the index rewrite price is paid 1/K as often.
    *
    * The probe inside the commit reads the index PRUNED to the batch's
    * probed cells (lossless — [[EmbeddingIndex.probeRouting]]), so the
    * vector payloads scanned per trigger are bounded by
    * |probed cells| × cell size, not the corpus; only the id-uniqueness
    * invariant reads the full view, COLUMN-pruned to `vec_id` (8 bytes a
    * row — the vectors never load for it).
    */
  def applyBatchDelta(spark: SparkSession, indexDir: String, cent: DataFrame,
                      batch: DataFrame, batchId: Long, nProbe: Int = 2,
                      threshold: Double = 0.4, compactEvery: Int = 8,
                      router: EmbeddingIndex.Router = EmbeddingIndex.AutoRouter): Unit = {
    val dv = deltaView(spark, indexDir, compactEvery)
    // replay check FIRST (one pointer read); prepBatch caches the batch
    // BEFORE the emptiness probe so the probe job and the commit work
    // share one materialization
    val cur0 = dv.committed
    if (cur0.exists(_._1 >= batchId)) return
    // quantizer-freeze + router-consistency contract, enforced per trigger
    // (one model-sized collect): a re-seeded quantizer or a mismatched
    // router fails loudly here instead of silently losing recall
    val r = EmbeddingIndex.ensureIndexStamp(spark, indexDir, cent, router,
      stateExists = cur0.nonEmpty)
    val (assigned, dels, reps) = prepBatch(cent, batch, threshold, r)
    try {
      if (assigned.isEmpty && dels.isEmpty) return // idle trigger: no commit
      val cells = probedCellIds(cent, reps, nProbe, r)
      dv.applyBatch(batchId) { cur =>
        // the probe's view of the index is (current − this batch's
        // deletes) pruned to the probed cells — the post-retract state,
        // LAZY (never written); the commit ships only changes
        val index = cur.map(normalize).getOrElse(graft.util.Frames.empty(spark, IndexSchema))
        val afterDel = EmbeddingIndex.retract(
          index.filter(col("cell").isin(cells: _*)), dels)
        val kept = r.probe(afterDel, cent,
            reps.select(col("vec_id"), col("v")), "v", "vec_id",
            nProbe, threshold)
          .filter(col("is_new")).select("vec_id")
        // id-uniqueness invariant over the FULL view, vec_id column only
        val liveIds = EmbeddingIndex.retract(index.select("vec_id"), dels)
        (reps.join(kept, "vec_id").join(liveIds, Seq("vec_id"), "left_anti"),
          dels)
      }: Unit
    } finally { assigned.unpersist(); dels.unpersist() }
  }

  /** Serve a dedup probe from the CURRENT committed delta-core index —
    * the external-serving twin of the probe inside [[applyBatchDelta]],
    * and the default stream-tier read path: the query batch's probed
    * cells are collected (control-plane) and the read carries a literal
    * `cell IN (…)` filter that statically partition-prunes the compacted
    * `partitionBy(cell)` base scan (plan-gated in
    * EmbeddingDedupStreamSpec; the `q149_ivf_probe_stream` study row
    * measures it at 1×–100×). Returns [[EmbeddingIndex.probeDedup]]'s
    * `(vec_id, dup_of, is_new)` contract. `queries` carries
    * `(vec_id, embedding)`.
    */
  def probeDelta(spark: SparkSession, indexDir: String, cent: DataFrame,
                 queries: DataFrame, nProbe: Int = 2,
                 threshold: Double = 0.4): DataFrame = {
    val q = queries.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val view = deltaView(spark, indexDir, compactEvery = 8).read()
    // readers OBEY the stamp: the router the index was built under is the
    // router that probes it (a flat probe of a hier build pays the
    // measured recall tax), and the quantizer digest must match the
    // passed centroids — both enforced, not documented
    val router = EmbeddingIndex
      .stampedRouter(spark, indexDir, cent, stateExists = view.nonEmpty)
      .getOrElse(EmbeddingIndex.FlatRouter)
    val idx = view.map(normalize)
      .getOrElse(graft.util.Frames.empty(spark, IndexSchema))
    val cells = probedCellIds(cent, q, nProbe, router)
    router.probe(idx.filter(col("cell").isin(cells: _*)),
      cent, q, "v", "vec_id", nProbe, threshold)
  }

  /** ANN top-k RANKING served from the CURRENT committed delta-core
    * index — the retrieval twin of [[probeDelta]] (which answers "is this
    * a dup", not "what are the k nearest"): per query, route to the
    * stamped router's `nProbe` cells, score cosine against only the
    * probed cells' stored vectors, rank (cos DESC, vec_id). The read is
    * the same `cell IN (…)`-pruned folded scan as [[probeDelta]] — the
    * compacted `partitionBy(cell)` base partition-prunes under live
    * uncompacted deltas — so a STREAMED index serves ANN retrieval with
    * no rebuild between commits. This is the vector tier a live RAG
    * stack reads (q166 fuses it with the streamed BM25 tier).
    * `queries` carries `(vec_id, embedding)`; self-matches are excluded.
    */
  def annTopKDelta(spark: SparkSession, indexDir: String, cent: DataFrame,
                   queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions._
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val view = deltaView(spark, indexDir, compactEvery = 8).read()
    val router = EmbeddingIndex
      .stampedRouter(spark, indexDir, cent, stateExists = view.nonEmpty)
      .getOrElse(EmbeddingIndex.FlatRouter)
    val idx = view.map(normalize)
      .getOrElse(graft.util.Frames.empty(spark, IndexSchema))
    val routed = router.routing(cent, q, "qv", "query_id", nProbe)
      .select(col("bid").as("query_id"), col("qv"),
        col("cell").cast("long").as("cell"))
      .localCheckpoint() // feeds the control-plane collect AND the join
    val cells = routed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val scored = idx.filter(col("cell").isin(cells: _*))
      .join(broadcast(routed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineFast(col("qv"), col("v")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Recall-targeted nProbe for the CURRENT committed delta-core index —
    * [[EmbeddingIndex.tuneNProbe]] run against the maintained view under
    * the router the index is STAMPED with (a hier-built index tunes its
    * hier-aware routing; a flat index its ranking). The returned curve is
    * the evidence to record next to the frozen quantizer; the chosen
    * value feeds [[probeDelta]]/[[dedupStreamDelta]]'s `nProbe`. A
    * scan-class job (brute-force truth over the index for ≤ `maxQueries`
    * sampled queries — run once per quantizer freeze or retune review,
    * not per trigger). `queries` carries `(vec_id, embedding)`.
    */
  def tuneProbeDelta(spark: SparkSession, indexDir: String, cent: DataFrame,
                     queries: DataFrame, targetRecall: Double,
                     candidates: Seq[Int] = Seq(1, 2, 4, 8, 16, 32),
                     threshold: Double = 0.4,
                     maxQueries: Int = 256): (Int, Seq[(Int, Double)]) = {
    val view = deltaView(spark, indexDir, compactEvery = 8).read()
    val router = EmbeddingIndex
      .stampedRouter(spark, indexDir, cent, stateExists = view.nonEmpty)
      .getOrElse(EmbeddingIndex.FlatRouter)
    val idx = view.map(normalize)
      .getOrElse(graft.util.Frames.empty(spark, IndexSchema))
    EmbeddingIndex.tuneNProbe(idx, cent,
      queries.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
      targetRecall, candidates, threshold, maxQueries, excludeSelf = true,
      router = router)
  }

  /** One quantizer-drift measurement: served recall of the CURRENT grown
    * index at the serving `nProbe`, with the recommendation verdict.
    */
  final case class DriftReport(batchId: Long, nProbe: Int,
                               targetRecall: Double,
                               curve: Seq[(Int, Double)],
                               recallAtNProbe: Double,
                               requantizeRecommended: Boolean) {
    def toJson: String = {
      val c = curve.map { case (p, r) => s""""$p":$r""" }.mkString(",")
      s"""{"batch_id":$batchId,"n_probe":$nProbe,""" +
      s""""target_recall":$targetRecall,"curve":{$c},""" +
      s""""recall_at_n_probe":$recallAtNProbe,""" +
      s""""requantize_recommended":$requantizeRecommended}"""
    }
  }

  /** Quantizer-DRIFT monitor for the frozen-quantizer delta-core index:
    * [[EmbeddingIndex.estimateProbeRecall]] of the GROWN index against
    * its own stored vectors — the grown corpus is its own drift witness:
    * recall at the stamped router + served `nProbe` decays exactly when
    * newly-ingested vectors' true near-neighbors land in cells the
    * frozen quantizer does not co-locate (mass concentrating off the
    * original centroids). The quantizer-freeze contract makes stored
    * assignments immortal but says nothing about their continued
    * QUALITY; this is the watcher that turns that blind spot into a
    * signal.
    *
    * Returns None before any commit or when no stored vector has a true
    * near-dup at `threshold` (nothing evaluable — a corpus the dedup
    * already keeps near-dup-free at the serving threshold needs no
    * re-quantize signal). Otherwise records the measured curve NEXT TO
    * THE STAMP (`<dir>/RECALL`, atomic pointer — the evidence trail a
    * retune review reads) and recommends re-quantization when the
    * serving recall has fallen below `targetRecall` — the target is
    * unreachable at the stamped nProbe, so either nProbe grows (paying
    * probe cost forever) or the quantizer is re-fit and the index
    * rebuilt under a new stamp.
    *
    * Cost: a brute-force truth join over ≤ `maxQueries` sampled stored
    * vectors (the [[tuneProbeDelta]] scan class) — a cadence job
    * ([[dedupStreamDelta]] runs it every `monitorEvery` commits), never
    * per trigger.
    */
  def monitorDriftDelta(spark: SparkSession, indexDir: String,
                        cent: DataFrame, nProbe: Int = 2,
                        targetRecall: Double = 0.9,
                        threshold: Double = 0.4,
                        maxQueries: Int = 256): Option[DriftReport] = {
    val view = deltaView(spark, indexDir, compactEvery = 8).read()
    if (view.isEmpty) return None
    val router = EmbeddingIndex
      .stampedRouter(spark, indexDir, cent, stateExists = true)
      .getOrElse(EmbeddingIndex.FlatRouter)
    val idx = normalize(view.get)
    val probes = (Seq(1, 2, 4, 8) :+ nProbe).distinct.sorted
    val rows = EmbeddingIndex.estimateProbeRecall(idx, cent,
        idx.select(col("vec_id"), col("v")), "v", "vec_id",
        probes, threshold, maxQueries, excludeSelf = true, router)
      .collect()
    if (rows.isEmpty || rows.forall(_.getLong(2) == 0L)) return None
    val curve = rows.map(r =>
      (r.getInt(0), r.getLong(1).toDouble / r.getLong(2))).toSeq.sortBy(_._1)
    val atServed = curve.find(_._1 == nProbe).map(_._2).getOrElse(0.0)
    val report = DriftReport(
      committedDelta(spark, indexDir).map(_._1).getOrElse(-1L),
      nProbe, targetRecall, curve, atServed,
      requantizeRecommended = atServed < targetRecall)
    graft.util.AtomicPointer.commit(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(indexDir, "RECALL"), report.toJson)
    Some(report)
  }

  /** RE-QUANTIZE the maintained index — the lifecycle act
    * [[monitorDriftDelta]]'s recommendation points at: re-assign every
    * live vector under `newCent`, rewrite the state as one fresh
    * compacted base ([[DeltaView.rebase]] — NOT delete-all+reinsert-all,
    * which would put the corpus in the tombstone set and break the
    * fold's broadcast bound), and move the ROUTER stamp to the new
    * quantizer's digest. The live `vec_id` set is preserved EXACTLY:
    * survivors stay survivors, takedowns stay gone — re-quantization
    * changes WHERE vectors live, never WHICH vectors live (no re-dedup;
    * past accept/reject decisions are history, not state).
    *
    * Crash safety: the stamp and the cell assignments can never disagree
    * SILENTLY. A create-exclusive `REQUANT` marker (the target stamp
    * string) goes up first; every reader/writer gate
    * ([[EmbeddingIndex.ensureIndexStamp]]/[[EmbeddingIndex.stampedRouter]])
    * refuses while it exists. Then the rebase commits (replay-keyed by
    * `batchId`), the ROUTER stamp moves, the stale `RECALL` curve (it
    * measured the OLD quantizer) is removed, and the marker clears. A
    * crash in any window converges by re-running with the same
    * `newCent`: a marker with a DIFFERENT target refuses (two
    * requantizers racing is an operator error to adjudicate, not to
    * last-write-win). `AutoRouter` re-resolves against `newCent` — a
    * re-quantize IS a rebuild, so the crossover decision is fresh.
    *
    * Cost: one live-view scan + the codegen argmax assignment + one
    * clustered `partitionBy(cell)` base write — the compaction price,
    * paid on the cadence drift actually demands (the monitor's), not per
    * trigger. Returns false on a pure replay (stamp already moved,
    * batchId already committed, no marker).
    */
  def requantizeDelta(spark: SparkSession, indexDir: String,
                      newCent: DataFrame, batchId: Long,
                      router: EmbeddingIndex.Router = EmbeddingIndex.AutoRouter,
                      compactEvery: Int = 8): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = EmbeddingIndex.requantMarkerPath(indexDir)
    val stampP = new org.apache.hadoop.fs.Path(indexDir, "ROUTER")
    val fs = stampP.getFileSystem(conf)
    val dv = deltaView(spark, indexDir, compactEvery)
    val cur = dv.committed
    require(cur.nonEmpty,
      s"requantizeDelta: $indexDir has no committed index state")
    val r = router.resolve(newCent)
    val want = EmbeddingIndex.indexStamp(newCent, r)
    graft.util.AtomicPointer.read(conf, marker) match {
      case Some(m) if m == want => // resume a crashed attempt at this target
      case Some(m) => throw new IllegalStateException(
        s"$indexDir/REQUANT is held by a different re-quantization " +
        s"('$m' vs this run's '$want') — converge that one first " +
        "(re-run with ITS quantizer) or adjudicate manually")
      case None =>
        if (graft.util.AtomicPointer.read(conf, stampP).contains(want) &&
            cur.exists(_._1 >= batchId)) return false // replayed, complete
        require(cur.exists(_._1 < batchId),
          s"requantizeDelta: batchId $batchId does not advance past the " +
          s"committed ${cur.get._1} — the rebase would no-op on live state")
        if (!graft.util.AtomicPointer.commitExclusive(conf, marker, want))
          throw new IllegalStateException(
            s"$indexDir/REQUANT appeared concurrently — another " +
            "re-quantizer is live; exactly one may run")
    }
    dv.rebase(batchId) { view =>
      r.assign(normalize(view).select(col("vec_id"), col("v")),
          newCent, "v", "vec_id")
        .select(col("vec_id").cast("long"), col("cell").cast("long"),
          col("v").cast("array<double>"))
    }
    graft.util.AtomicPointer.commit(conf, stampP, want)
    fs.delete(new org.apache.hadoop.fs.Path(indexDir, "RECALL"), false)
    fs.delete(marker, false)
    true
  }

  private def deltaView(spark: SparkSession, indexDir: String,
                        compactEvery: Int): DeltaView =
    DeltaView(spark, indexDir, keyCols = Seq("vec_id"),
      compactEvery = compactEvery, basePartitionCols = Seq("cell"))

  /** Partition-column type inference on compacted bases reads `cell` back
    * as int — pin the published schema regardless of which file kind a
    * row came from.
    */
  private def normalize(df: DataFrame): DataFrame =
    df.select(col("vec_id").cast("long"), col("cell").cast("long"), col("v"))

  /** The current accepted-vector index (empty before any commit). */
  def readIndexDelta(spark: SparkSession, indexDir: String): DataFrame =
    deltaView(spark, indexDir, compactEvery = 8).read().map(normalize)
      .getOrElse(graft.util.Frames.empty(spark, IndexSchema))

  def committedDelta(spark: SparkSession,
                     indexDir: String): Option[(Long, Long, Long)] =
    deltaView(spark, indexDir, compactEvery = 8).committed

  /** Maintain the index continuously from a streaming signed frame with
    * columns (op, vec_id, embedding) — O(batch) commits with periodic
    * compaction. No session-wide clearCache per trigger: applyBatchDelta
    * releases everything it caches in its own finally, and a clearCache
    * would evict the CALLER-owned frozen `cent` quantizer every trigger.
    */
  def dedupStreamDelta(changes: DataFrame, cent: DataFrame, indexDir: String,
                       checkpointDir: String, nProbe: Int = 2,
                       threshold: Double = 0.4, compactEvery: Int = 8,
                       router: EmbeddingIndex.Router = EmbeddingIndex.AutoRouter,
                       monitorEvery: Int = 0, targetRecall: Double = 0.9)
      : StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchDelta(spark, indexDir, cent, batch, batchId, nProbe,
          threshold, compactEvery, router)
        // drift cadence: every `monitorEvery` commits, measure the grown
        // index's served recall against the frozen quantizer and persist
        // the curve next to the stamp (0 = off). A recommendation is a
        // SIGNAL for the operator (re-fit + rebuild under a new stamp),
        // never an automatic rebuild — the stamp contract stays frozen.
        if (monitorEvery > 0 && batchId % monitorEvery == 0)
          monitorDriftDelta(spark, indexDir, cent, nProbe, targetRecall,
              threshold).foreach { rep =>
            if (rep.requantizeRecommended) System.err.println(
              s"[embedding-dedup] quantizer drift: recall@$nProbe = " +
              f"${rep.recallAtNProbe}%.3f < target $targetRecall — " +
              "re-quantize recommended (curve at " + s"$indexDir/RECALL)")
          }
      }
      .start()
  }
}
