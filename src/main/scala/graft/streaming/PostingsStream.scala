package graft.streaming

import graft.operators.TextAnalysis
import graft.util.{DeltaView, Frames}
import graft.util.TextPrep.tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Always-on BM25 POSTINGS maintenance — the text-retrieval member of the
  * streamed-index family (embeddings [[EmbeddingDedupStream]], media
  * [[MediaDedupStream]], curated corpus [[CurationStream]]): a stream of
  * SIGNED document rows (op ∈ I/D, doc_id, text) maintains the inverted
  * postings index that [[TextAnalysis.bm25TopKServed]] serves from, as
  * two coupled [[DeltaView]]s committed as one group — so retrieval keeps serving fresh
  * documents without the nightly full `bm25IndexFor` rebuild, and
  * takedowns leave the index as if the document never existed.
  *
  * State (one directory, one group commit per batch across both views):
  *  - `docs/`     — (doc, dl, hash): one row per live document; the
  *    id-uniqueness invariant and the corpus stats source (N = count,
  *    avgdl = sum(dl)/N — both exact integers/long-sums, so identical
  *    to a from-scratch scan at any partitioning);
  *  - `postings/` — (term, doc, dl, tf, tb): the q156 layout, keyed by
  *    `doc` (a document's postings live and die together — "modify" is
  *    delete+reinsert), compacted bases partitioned by
  *    `tb = pmod(xxhash64(term), nBuckets)` so serving scans
  *    partition-prune to the query terms' buckets.
  *
  * Per signed batch: deletes apply FIRST (tombstones by doc; inserts
  * gate against the post-delete state, so delete-then-reinsert in one
  * batch works — the [[CurationStream.applySignedBatchDelta]] contract);
  * in-batch duplicate ids keep ONE row deterministically (smallest text
  * md5 — the media maintainer's smallest-fingerprint rule); a re-used
  * live id is rejected (id uniqueness is an index invariant). The
  * accepted documents go to both views in ONE group commit
  * ([[DeltaView.Group]]): a crash leaves both views old or both new, and
  * the replay guard is the group's.
  *
  * Serving ([[bm25TopKDelta]]): exactly [[TextAnalysis.bm25TopKServed]]'s
  * machinery — query-term buckets collected control-plane side with the
  * SAME xxhash64 expression the writer uses, the folded postings view
  * filtered by `tb IN (…) AND term IN (…)` (partition-pruned on the
  * compacted base; deltas are batch-sized), per-term df exact from the
  * pruned scan, stats from the docs view, the shared decimal-routed
  * scorer ([[TextAnalysis.bm25ScorePostings]]). q160 proves the whole
  * lifecycle hash-equal to a from-scratch BM25 over the surviving
  * corpus.
  *
  * The index layout is STAMPED (tokenizer family, bucket count, hash) —
  * the [[graft.operators.Dedup.bandingStamp]] recipe: [[postingsStamp]]
  * is the layout of the group manifest, committed with the rows, so a
  * maintainer or server under a different nBuckets/tokenization fails
  * "rebuild required" instead of writing to (or pruning) the wrong
  * buckets. The first commit holds the writer lock, so of two concurrent
  * bootstrappers with different configs the second is refused.
  *
  * 100 TB shape: a day's ingest costs the day — per-batch tokenize +
  * one groupBy over the batch's (term, doc) pairs + O(batch) delta
  * commits; the corpus-wide artifacts (compacted bases) rewrite every
  * `compactEvery` commits only. Serving touches the query terms' posting
  * lists, never the corpus.
  */
object PostingsStream {

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc", LongType), StructField("dl", LongType),
    StructField("hash", StringType)))

  val PostingsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("doc", LongType),
    StructField("dl", LongType), StructField("tf", LongType),
    StructField("tb", IntegerType)))

  /** What a postings index is stamped with: the tokenizer family and
    * the bucketing (count + hash). Any change invalidates stored rows
    * and every serving-side bucket computation.
    */
  def postingsStamp(nBuckets: Int): String =
    s"postings=v1,tokens=ws-lower,bucket=xxhash64%$nBuckets"

  /** The docs and postings views, committed as one group under the
    * layout of `nBuckets`.
    */
  private[streaming] def views(spark: SparkSession, dir: String, k: Int = 8,
                               nBuckets: Int = 64) =
    DeltaView.Group(spark, dir, Seq(
      DeltaView(spark, s"$dir/docs", Seq("doc"), compactEvery = k),
      DeltaView(spark, s"$dir/postings", Seq("doc"), compactEvery = k,
        basePartitionCols = Seq("tb"))), postingsStamp(nBuckets))

  /** Live documents (doc, dl, hash); empty before any commit. */
  def readDocsDelta(spark: SparkSession, dir: String): DataFrame =
    docsOf(spark, views(spark, dir).read().head)

  /** Live postings (term, doc, dl, tf, tb); empty before any commit. */
  def readPostingsDelta(spark: SparkSession, dir: String): DataFrame =
    postingsOf(spark, views(spark, dir).read()(1))

  private def docsOf(spark: SparkSession, view: Option[DataFrame]): DataFrame =
    view.getOrElse(Frames.empty(spark, DocsSchema))
      .select(col("doc").cast("long"), col("dl").cast("long"), col("hash"))

  /** Partition-column inference reads `tb` back as int on compacted
    * bases — pin the published schema regardless of file kind.
    */
  private def postingsOf(spark: SparkSession, view: Option[DataFrame]): DataFrame =
    view.getOrElse(Frames.empty(spark, PostingsSchema))
      .select(col("term"), col("doc").cast("long"), col("dl").cast("long"),
        col("tf").cast("long"), col("tb").cast("int"))

  /** (batchId, version, docs base version), None before any commit. */
  def committedDelta(spark: SparkSession,
                     dir: String): Option[(Long, Long, Long)] =
    views(spark, dir).committed

  /** A batch's postings rows — the EXACT `bm25IndexFor` build expressions
    * (same tokenizer, same tf groupBy, same bucket hash), evaluated over
    * the batch instead of the corpus: a (term, doc) posting depends only
    * on its own document's text, which is what makes the maintained index
    * row-identical to a full rebuild over the live corpus.
    */
  private def batchPostings(docsWithText: DataFrame, nBuckets: Int): DataFrame =
    docsWithText.select(col("doc"), tokens(col("text")).as("tk"))
      .select(col("doc"), size(col("tk")).cast("long").as("dl"), col("tk"))
      .select(col("doc"), col("dl"), explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))

  /** Apply one SIGNED micro-batch (op ∈ I/D, doc_id, text). Public so
    * tests drive replay/crash/delete cases directly.
    */
  def applySignedBatchDelta(spark: SparkSession, dir: String,
                            batch: DataFrame, batchId: Long,
                            nBuckets: Int = 64,
                            compactEvery: Int = 8): Unit = {
    val group = views(spark, dir, compactEvery, nBuckets)
    if (group.checked.exists(_.batchId >= batchId)) return

    val dels = batch.filter(col("op") === "D")
      .select(col("doc_id").cast("long").as("doc")).distinct().cache()
    // deterministic in-batch id dedupe: smallest text-md5 wins (the media
    // maintainer's smallest-fingerprint rule — the id, not arrival order,
    // is the identity, and a duplicate-id index row would corrupt df)
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("hash")))
    val ins = batch.filter(col("op") === "I")
      .select(col("doc_id").cast("long").as("doc"), col("text"),
        md5(col("text")).as("hash"))
      .withColumn("_rn", rn).filter(col("_rn") === 1).drop("_rn")
      .cache()
    try {
      if (ins.isEmpty && dels.isEmpty) return // idle trigger: no commits
      group.applyBatch(batchId) { case Seq(docsCur, _) =>
        // inserts gate against the post-delete live set; an accepted id is
        // new to the docs view, so it has no postings to guard against
        val live = docsCur.getOrElse(Frames.empty(spark, DocsSchema))
          .join(broadcast(dels.select(col("doc").as("_del"))),
            col("doc") === col("_del"), "left_anti")
        val accepted = ins.join(live.select(col("doc")), Seq("doc"), "left_anti")
        Seq((accepted.select(col("doc"),
            size(tokens(col("text"))).cast("long").as("dl"), col("hash")), dels),
          (batchPostings(accepted, nBuckets), dels))
      }: Unit
    } finally { ins.unpersist(); dels.unpersist() }
  }

  /** BM25 top-k served from the MAINTAINED index — q156's serving path on
    * the streamed state: same bucket pruning, same exact df, same scorer.
    * Both views come from one manifest read whose layout must be
    * `nBuckets`'s: a server under another bucketing is refused instead of
    * pruning the wrong buckets.
    */
  def bm25TopKDelta(spark: SparkSession, dir: String,
                    queries: Seq[(Long, String)], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75, nSalts: Int = 16,
                    nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    val group = views(spark, dir, nBuckets = nBuckets)
    val Seq(docsV, postingsV) = group.readAt(group.checked)
    val allTerms = queries.flatMap(_._2.toLowerCase.trim.split(" +")).distinct
    // bucket ids via the SAME expression as the writer (driver-side
    // reimplementation would silently drift)
    val buckets = allTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toIndexedSeq
    val post = postingsOf(spark, postingsV)
      .filter(col("tb").isin(buckets: _*) && col("term").isin(allTerms: _*))
      .select(col("term"), col("doc"), col("dl"), col("tf"))
    val stats = docsOf(spark, docsV)
      .agg(count(lit(1)).cast("double").as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    TextAnalysis.bm25ScorePostings(post, stats, queries, k, k1, b, nSalts)
  }
}
