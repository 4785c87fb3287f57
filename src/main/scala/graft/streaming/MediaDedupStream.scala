package graft.streaming

import graft.operators.Multimodal
import graft.util.DeltaView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Always-on media-ingest dedup: a stream of per-clip FINGERPRINTS
  * (media_id, b0..b3 — produced upstream by
  * [[Multimodal.audioFingerprintHashes]] / the image-hash path, so the
  * heavy payload decode stays on the ingest executors) maintains the
  * corpus fingerprint INDEX through [[MicroBatch]] — the streaming form
  * of [[Multimodal.fingerprintIndexProbe]] (q144), as
  * [[ViewMaintenance]] is of the batch aggregate maintainer.
  *
  * Per micro-batch, in order:
  *  1. in-batch dedup: [[Multimodal.fingerprintDedupClusters]] over the
  *     batch's own fingerprints — near-dup clusters WITHIN the batch
  *     resolve to their smallest-id representative (two copies arriving
  *     together must not both enter the index);
  *  2. index probe: the surviving representatives probe the CURRENT
  *     index ([[Multimodal.fingerprintIndexProbe]]); matches are
  *     rejected — first arrival wins across batches;
  *  3. append: accepted fingerprints append to the index, committed as
  *     a new [[DeltaView]] version.
  *
  * Exactly-once effect = checkpointed offsets × the idempotent versioned
  * commit (atomic pointer swap, replayed batchIds no-op, crash windows
  * recover by overwrite-replay, keep-two pruning) — the same contract as
  * every other streamed maintainer on the shared core.
  *
  * Cost model, honestly: per trigger the in-batch cluster stage is
  * batch-sized and the probe is batch-driven, but the probe SCANS the
  * current index's band rows — O(index) at 4 longs per accepted clip, so
  * the per-item constant is tiny but trigger time does grow with the
  * accepted corpus. The commit ships only accepted rows + delete
  * tombstones (O(batch)) and the log compacts every K commits — the
  * 100 TB configuration. The probe-side scan prunes with the q91/q144
  * band-bucketed serving layout (q147), orthogonal to the commit core.
  *
  * Caching: every per-trigger frame is released by its owner — the batch
  * sides cache under try/finally in [[applySignedBatchDelta]]/[[ingestFiles]],
  * and the fingerprint operators' internal barriers are eager
  * localCheckpoints whose blocks self-release when unreachable — so a
  * long-running stream accumulates nothing and NO session-wide
  * `clearCache` runs (it would evict co-tenant caches, e.g. a serving
  * loop's hot index, every trigger).
  */
object MediaDedupStream {

  val IndexSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("b0", LongType), StructField("b1", LongType),
    StructField("b2", LongType), StructField("b3", LongType)))

  /** The `binaryFile` source's FIXED schema (Spark defines it statically —
    * it never depends on the input), hardcoded so a stream can start on a
    * watch directory that does not exist yet (a freshly provisioned ingest
    * bucket): deriving it from a batch read of the dir would throw at
    * stream start.
    */
  val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", org.apache.spark.sql.types.StringType),
    StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    StructField("length", LongType),
    StructField("content", org.apache.spark.sql.types.BinaryType)))

  /** Apply one SIGNED micro-batch (op ∈ I/D, media_id, b0..b3): `D` rows
    * retract their ids from the index (retention, takedown — rebuild-
    * equivalent by construction: fingerprint rows carry no derived
    * statistics, so removal IS the rebuild), then `I` rows run the normal
    * in-batch dedup → probe (against the post-delete index) → append.
    * Replayed batchIds no-op — including replayed deletes. The commit
    * ships only the ACCEPTED rows plus the batch's delete tombstones —
    * O(batch), not O(index) — with the log compacting every
    * `compactEvery` commits. Public so tests drive replay/crash cases
    * directly.
    */
  def applySignedBatchDelta(spark: SparkSession, indexDir: String,
                            batch: DataFrame, batchId: Long,
                            maxDist: Int = 3, compactEvery: Int = 8): Unit = {
    val g = group(spark, indexDir, compactEvery)
    // one pointer read: the fingerprint-family freeze (a hash-family or
    // band-layout change fails loudly instead of probing wrong emptiness)
    // and the replay check, before the emptiness job below
    if (g.checked.exists(_.batchId >= batchId)) return
    val (hashes, dels) = splitSigned(batch)
    try {
      if (hashes.isEmpty && dels.isEmpty) return // idle trigger: no commit
      val repHashes = repsOf(hashes, maxDist)
      g.applyBatch(batchId) { case Seq(cur) =>
        val index = cur.getOrElse(graft.util.Frames.empty(spark, IndexSchema))
        Seq((acceptedAgainst(index, repHashes, dels, maxDist), dels))
      }: Unit
    } finally { hashes.unpersist(); dels.unpersist() }
  }

  /** Batch-side frames: I-row fingerprints and D-row ids, CACHED (lazily —
    * no job runs here) before the caller's emptiness probe so the probe
    * and the commit share one materialization of the decode-priced
    * lineage; callers release both in a finally.
    */
  private def splitSigned(batch: DataFrame): (DataFrame, DataFrame) = (
    batch.filter(col("op") === "I").select(col("media_id"),
      col("b0"), col("b1"), col("b2"), col("b3")).cache(),
    batch.filter(col("op") === "D").select("media_id").cache())

  /** In-batch dedup representatives' fingerprints. EAGER (the cluster
    * stage materializes via localCheckpoint + runs CC jobs) — callers
    * invoke it AFTER the idle-trigger guard and inside their try/finally,
    * so an idle stream trigger pays nothing and a cluster-stage failure
    * cannot leak the cached batch frames.
    */
  private def repsOf(hashes: DataFrame, maxDist: Int): DataFrame = {
    val reps = Multimodal.fingerprintDedupClusters(hashes, maxDist)
      .filter(col("media_id") === col("cluster")).select("media_id")
    hashes.join(reps, "media_id")
  }

  /** The batch rows that enter the index: representatives that probe
    * clean against the post-delete index AND whose id is not already
    * present — id uniqueness is an index INVARIANT: a later batch
    * re-using an already-accepted id with different content (a bucket
    * overwrite, a producer bug) must not append a second row under that
    * id; content-new but id-stale rows drop via the anti join.
    */
  private def acceptedAgainst(index: DataFrame, repHashes: DataFrame,
                              dels: DataFrame,
                              maxDist: Int): DataFrame = {
    val afterDel = index.join(
      broadcast(dels.withColumnRenamed("media_id", "_drop")),
      col("media_id") === col("_drop"), "left_anti")
    val kept = Multimodal.fingerprintIndexProbe(afterDel, repHashes, maxDist)
      .filter(col("kept")).select("media_id")
    repHashes.join(kept, "media_id")
      .join(afterDel.select(col("media_id")), Seq("media_id"), "left_anti")
  }

  /** The index: one view, committed under the fingerprint-family stamp. */
  private def group(spark: SparkSession, indexDir: String,
                    compactEvery: Int = 8): DeltaView.Group =
    DeltaView.Group(spark, indexDir, Seq(DeltaView(spark, indexDir,
      keyCols = Seq("media_id"), compactEvery = compactEvery)),
      Multimodal.fingerprintStamp)

  /** Commit `hashes` (media_id, b0..b3) as the index's batch 0 under this
    * maintainer's view and stamp, with no probe: a corpus already known
    * to be near-dup-free seeds the index in one base commit.
    */
  def bootstrapDelta(spark: SparkSession, indexDir: String,
                     hashes: DataFrame): Unit =
    group(spark, indexDir).applyBatch(0L) { _ =>
      Seq((hashes, graft.util.Frames.empty(spark, IndexSchema).select("media_id")))
    }: Unit

  /** The current accepted-fingerprint index (empty before any commit). An
    * index committed under another fingerprint family is refused.
    */
  def readIndexDelta(spark: SparkSession, indexDir: String): DataFrame = {
    val g = group(spark, indexDir)
    g.readAt(g.checked).head.getOrElse(graft.util.Frames.empty(spark, IndexSchema))
  }

  def committedDelta(spark: SparkSession,
                     indexDir: String): Option[(Long, Long, Long)] =
    group(spark, indexDir).committed

  /** The WHOLE media-ingest pipeline as one always-on stream: watch a
    * directory of loose media objects — audio (.wav) AND images (.png),
    * routed by extension into their fingerprint paths (the bucket layout
    * [[graft.sources.Files.readBinaryFiles]] reads in batch), fingerprint
    * each arriving file, and maintain the dedup index — files land on
    * disk, duplicates never enter the index. The media id comes from the
    * file name (`..._<id>.wav`, the bucket convention); `pathGlobFilter`
    * keeps sidecar objects out of the source itself. Checkpointed file
    * offsets + the idempotent versioned commit give the same exactly-once
    * contract as every maintainer on [[MicroBatch]].
    *
    * Poison-file safety — an always-on stream must never crash-loop on a
    * bad object (checkpoint replay would re-read it forever):
    *  - names that don't carry a parseable `_<id>` are SKIPPED (the
    *    extract yields null / an overflowing id casts to null);
    *  - undecodable payloads (corrupt uploads, files listed mid-write)
    *    are SKIPPED by the corrupt-tolerant hash paths of BOTH
    *    modalities ([[Multimodal.audioFingerprintHashesSafe]] for .wav,
    *    [[Multimodal.imageHashesSafe]] for .png); write-then-rename
    *    producers never hit this;
    *  - two files colliding on the same derived id in one batch keep ONE
    *    deterministically (smallest fingerprint) — the id, not the path,
    *    is the identity under the bucket convention, and a silent
    *    duplicate-id index row would corrupt every downstream join.
    *
    * Index layout: one [[DeltaView]] per modality under
    * `indexDir/audio` and `indexDir/image` (cross-kind hamming matches
    * are numerology, so per-kind views make cross-kind rejection
    * structurally impossible). This layout shipped WITH the multimodal
    * routing; a single-view index from the brief wav-only form of this
    * API needs a one-time move to `indexDir/audio`.
    */
  def ingestFiles(spark: SparkSession, watchDir: String, glob: String,
                  indexDir: String, checkpointDir: String,
                  maxDist: Int = 3): StreamingQuery = {
    val raw = spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("pathGlobFilter", glob)
      .load(watchDir)
    MicroBatch.start(raw, checkpointDir) { (batch, batchId) =>
      // try_cast: ANSI mode (Spark 4 default) makes a plain cast of a
      // non-matching extract ("") THROW — the exact poison loop this
      // path exists to prevent. Modality routes by extension; anything
      // else the glob admitted is skipped, not fatal.
      val media = batch.select(
        expr("try_cast(regexp_extract(path, '_(\\\\d+)\\\\.[a-z]+$', 1) AS LONG)")
          .as("media_id"),
        when(col("path").endsWith(".wav"), "audio")
          .when(col("path").endsWith(".png"), "image")
          .as("kind"),
        col("content").as("payload"))
        .filter(col("media_id").isNotNull && col("kind").isNotNull)
        .cache() // ONE payload read per trigger; both modality
                 // pipelines (and their isEmpty probes) reuse it
      // ONE INDEX PER MODALITY: an audio and an image fingerprint
      // landing within hamming 3 is numerology, not a duplicate —
      // cross-kind rejections must be impossible. Two idempotent
      // commits share the batchId: a crash between them replays the
      // batch, the committed side no-ops, the other converges.
      // One row per derived id, as signed inserts.
      def uniqInserts(h: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("media_id"))
          .orderBy(col("b0"), col("b1"), col("b2"), col("b3"))
        h.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn").withColumn("op", lit("I"))
      }
      try {
        applySignedBatchDelta(spark, s"$indexDir/audio",
          uniqInserts(Multimodal.audioFingerprintHashesSafe(spark, media)),
          batchId, maxDist)
        applySignedBatchDelta(spark, s"$indexDir/image",
          uniqInserts(Multimodal.imageHashesSafe(spark, media)),
          batchId, maxDist)
      } finally media.unpersist() // trigger-owned; nothing session-wide
    }
  }
}
