package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import graft.operators.Dedup.LshIndex
import graft.util.{DeltaView, Frames}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Always-on CURATION: the composed nightly pipeline (q110/q78's gate
  * stack) run incrementally over a stream of arriving documents
  * (doc_id, text, source), maintaining the CURATED CORPUS and its dedup
  * index as versioned views — each stage wired onto the library's
  * incremental primitive instead of its corpus-rescanning batch form.
  *
  * Per micro-batch, in order:
  *  1. per-row gates: language-id + quality score
  *     ([[TextAnalysis.langGuessExpr]]/[[TextAnalysis.qualityKeepExpr]] —
  *     map-only, truly stateless). The corpus-LM gate (q110's
  *     `lmScore`) needs corpus-wide vocabulary statistics and stays a
  *     nightly re-curation concern, exactly as its docstring says;
  *  2. in-batch exact dedup (min doc_id per text hash);
  *  3. exact gate vs the accepted corpus: anti-join on the stored text
  *     hash — the q111 path (a production deployment puts the mergeable
  *     Bloom sketch in FRONT of this join; the stored hash table IS the
  *     verify side, and the sketch only prunes probes);
  *  4. in-batch NEAR-dup dominance: the batch's LSH artifacts under the
  *     FROZEN df-cap universe ([[Dedup.lshArtifacts]]) self-pair
  *     ([[Dedup.lshPairsWithin]]) and larger ids drop (one-shot min-id
  *     dominance, the [[EmbeddingDedupStream]] rule);
  *  5. near-dup gate vs the corpus: [[Dedup.lshIndexProbe]] against the
  *     MAINTAINED set/band views — the q123 index probe, never a corpus
  *     rescan;
  *  6. domain cap: FIRST-ARRIVAL per-source admission while the source's
  *     accepted count stays ≤ capN (deterministic in-batch order by
  *     doc_id). The nightly batch cap ranks by quality ([[
  *     graft.operators.Curation.domainCap]]); an ingest cap necessarily
  *     admits by arrival — both are documented contracts, and the
  *     spec's batch reference replays arrival order;
  *  7. commit: accepted docs append to the docs view and their set/band
  *     rows to the index views, in ONE group commit.
  *
  * The df-cap universe `ok` is a FROZEN parameter (built once from a
  * bootstrap corpus — [[Dedup.lshIndexBuild]]`.ok`), the same
  * quantizer-freeze contract as [[EmbeddingDedupStream]]'s centroids and
  * [[Dedup.lshIndexRetract]]: stored signatures are only valid under
  * their build-time universe, and corpus churn big enough to shift df
  * statistics is a nightly full rebuild.
  *
  * THREE coupled views, ONE commit: docs, sets and bands are one
  * [[DeltaView.Group]], so a batch lands in all three views or in none,
  * under one writer lock and one replay guard, and a crash leaves every
  * view at the previous batch. Probes read the set/band views at the
  * previous batch's state, the same state the docs gate reads.
  */
object CurationStream {

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("hash", StringType)))

  private def bandField(r: Int) = StructField(s"s$r", LongType)
  private val bandSlots = Dedup.MinHashK / Dedup.MinHashBands

  val SetsSchema: StructType = StructType(Seq(
    StructField("doc", LongType),
    StructField("shs", ArrayType(LongType))))

  val BandsSchema: StructType = StructType(
    StructField("doc", LongType) +: StructField("band", IntegerType) +:
      (0 until bandSlots).map(bandField))

  /** Stages 1+2+4's batch side: per-row gates fused into one scan pass,
    * in-batch exact dedup, LSH artifacts under the frozen universe,
    * in-batch near-dup dominance. `e2` and `sets` come back CACHED —
    * callers release them in a finally.
    */
  private def gateBatch(ok: DataFrame, batch: DataFrame, n: Int,
                        threshold: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // eager localCheckpoint: the gated batch feeds the exact-dedup
    // groupBy AND the semi-join back — one gate pass instead of two,
    // blocks self-release (per-trigger caller, the lshIndexProbe
    // convention)
    val eligible = batch.filter(
      TextAnalysis.langGuessExpr(col("text")) === "en" &&
      TextAnalysis.qualityKeepExpr(col("text"))).localCheckpoint()
    val exactKeep = Dedup.exact(eligible, col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val e2 = eligible.join(exactKeep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("text"),
        md5(col("text")).as("hash")).cache()
    val art = Dedup.lshArtifacts(e2, "text", "doc_id", ok, n)
    val sets = art.sets.cache()
    // the band rows are consumed twice (in-batch pair join here, the
    // bands-view appender later) and each evaluation re-runs the MinHash
    // signature aggregate — checkpoint once, self-releasing
    val bands = art.bands.localCheckpoint()
    val inDrop = Dedup.lshPairsWithin(LshIndex(ok, sets, bands), threshold)
      .select(col("doc_b").as("drop_id")).distinct()
    val reps = e2.join(inDrop, col("doc_id") === col("drop_id"), "left_anti")
    (e2, sets, bands, reps)
  }

  /** Stages 3+5+6 given the CURRENT views: exact gate vs the corpus, the
    * q123 index probe, and the first-arrival domain cap (accepted-so-far
    * counts broadcast, in-batch admission order = doc_id, deterministic).
    * Returns only the NEWLY admitted (doc_id, source, hash) rows.
    */
  private def admit(docsV: DataFrame, index: LshIndex, reps: DataFrame,
                    capN: Long, n: Int, threshold: Double): DataFrame = {
    // EMPTY-BATCH short-circuit (delete-only triggers): with no insert
    // survivors the admission is empty by definition — skip the probe's
    // eager batch-side artifact jobs and the two full index-view folds
    // they force (reps derives from the caller's CACHED e2, so the check
    // is a cheap local scan)
    if (reps.isEmpty)
      return reps.select(col("doc_id"), col("source"), col("hash"))
    val exNew = reps
      .join(docsV.select(col("hash")), Seq("hash"), "left_anti")
      .join(docsV.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // EMPTY-INDEX short-circuit (the bootstrap leg): probing an empty
    // index keeps every batch doc by definition, but the probe's batch
    // side still pays a full shingle+MinHash pass (its bSets frame is an
    // EAGER localCheckpoint) before its candidates join the empty band
    // view — measured at a third of q155's bootstrap-leg cost. The
    // emptiness check is a limit-1 read of the band view.
    val survivors =
      if (index.bands.isEmpty) exNew
      else {
        val nearKept = Dedup.lshIndexProbe(index, exNew, "text", "doc_id",
            n, threshold)
          .filter(col("kept")).select("doc_id")
        exNew.join(nearKept, "doc_id")
      }
    val cnts = docsV.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id")))
    survivors.withColumn("rn", rn)
      .join(broadcast(cnts), Seq("source"), "left")
      .filter(coalesce(col("cnt"), lit(0L)) + col("rn") <= capN)
      .select(col("doc_id"), col("source"), col("hash"))
  }

  /** The docs, sets and bands views, committed as one group under the
    * banding stamp: stored signatures and band keys are only comparable
    * under the LSH configuration that computed them.
    */
  private[streaming] def views(spark: SparkSession, dir: String, k: Int = 8) =
    DeltaView.Group(spark, dir, Seq(
      DeltaView(spark, s"$dir/docs", Seq("doc_id"), compactEvery = k),
      DeltaView(spark, s"$dir/sets", Seq("doc"), compactEvery = k),
      DeltaView(spark, s"$dir/bands", Seq("doc"), compactEvery = k)),
      Dedup.bandingStamp)

  /** The curated corpus (doc_id, source, hash); empty before any commit.
    * A corpus committed under another banding is refused.
    */
  def readDocsDelta(spark: SparkSession, dir: String): DataFrame = {
    val g = views(spark, dir)
    g.readAt(g.checked).head.getOrElse(Frames.empty(spark, DocsSchema))
  }

  /** (batchId, version, docs base version), None before any commit. */
  def committedDelta(spark: SparkSession,
                     dir: String): Option[(Long, Long, Long)] =
    views(spark, dir).committed

  /** Apply one micro-batch of documents (doc_id, text, source): the full
    * gate stack, then one idempotent group commit — [[applySignedBatchDelta]]
    * with every row an insert. The commit ships only the batch's ACCEPTED
    * rows — O(batch), not O(corpus) — with periodic compaction.
    */
  def applyBatchDelta(spark: SparkSession, dir: String, ok: DataFrame,
                      batch: DataFrame, batchId: Long, capN: Long,
                      n: Int = 3, threshold: Double = 0.5,
                      compactEvery: Int = 8): Unit =
    applySignedBatchDelta(spark, dir, ok, asInserts(batch), batchId, capN, n,
      threshold, compactEvery)

  private def asInserts(docs: DataFrame): DataFrame =
    docs.select(lit("I").as("op"), col("doc_id"), col("text"), col("source"))

  /** SIGNED ingest on the [[DeltaView]] core: rows carry `op` ∈ I/D —
    * I rows (doc_id, text, source) run the full gate stack, D rows
    * (doc_id; text/source ignored) RETRACT documents from all three views
    * (takedown/retention — the [[MediaDedupStream.applySignedBatchDelta]]
    * pattern brought to the curation corpus, completing q150/q151's
    * retraction lifecycle for the STREAMED text index).
    *
    * Deletes apply FIRST: this batch's inserts gate against the
    * post-delete state (exact/near probes and the domain cap all read
    * `current view − batch deletes`), so a near-copy of a document
    * deleted in the SAME batch re-enters — and a REPLAYED delete is a
    * no-op tombstone. The df-cap universe `ok` stays FROZEN across
    * retractions ([[Dedup.lshIndexRetract]]'s contract): surviving
    * signatures remain valid, and a retracted doc provably never again
    * matches a probe (its set/band rows are tombstoned in the same
    * commit). The docs the commit inserts are the accepted set: the
    * set/band views get exactly their rows.
    */
  def applySignedBatchDelta(spark: SparkSession, dir: String, ok: DataFrame,
                            batch: DataFrame, batchId: Long, capN: Long,
                            n: Int = 3, threshold: Double = 0.5,
                            compactEvery: Int = 8): Unit = {
    val group = views(spark, dir, compactEvery)
    if (group.checked.exists(_.batchId >= batchId)) return

    val dels = batch.filter(col("op") === "D")
      .select(col("doc_id")).distinct().cache()
    val (e2, sets, bands, reps) = gateBatch(ok,
      batch.filter(col("op") === "I").select("doc_id", "text", "source"),
      n, threshold)
    try {
      if (e2.isEmpty && dels.isEmpty) return // idle trigger: no commits
      def minus(df: DataFrame, key: String) =
        df.join(broadcast(dels.select(col("doc_id").as("_del"))),
          col(key) === col("_del"), "left_anti")
      group.applyBatch(batchId) { case Seq(docsCur, setsCur, bandsCur) =>
        // probes and the cap read the POST-DELETE state
        val index = LshIndex(ok,
          minus(setsCur.getOrElse(Frames.empty(spark, SetsSchema)), "doc"),
          minus(bandsCur.getOrElse(Frames.empty(spark, BandsSchema)), "doc"))
        val docsV = minus(docsCur.getOrElse(Frames.empty(spark, DocsSchema)), "doc_id")
        // admitted ids are new to the docs view, so none has set/band rows;
        // checkpointed once, it feeds all three writes
        val accepted = admit(docsV, index, reps, capN, n, threshold).localCheckpoint()
        val acc = accepted.select(col("doc_id").as("doc"))
        val delDocs = dels.withColumnRenamed("doc_id", "doc")
        Seq((accepted, dels), (sets.join(acc, "doc"), delDocs),
          (bands.join(acc, "doc"), delDocs))
      }: Unit
    } finally { e2.unpersist(); sets.unpersist(); dels.unpersist() }
  }
}
