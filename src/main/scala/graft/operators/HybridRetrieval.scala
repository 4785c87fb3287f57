package graft.operators

import graft.Query
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval FUSION: the standard RAG-stack read path that composes
  * the two serving tiers this engine already maintains — the persisted
  * BM25 postings index ([[TextAnalysis.bm25TopKServed]], q156) and the
  * persisted IVF embedding index ([[Similarity.annIvfIndexed]], q91) —
  * into one ranking per query via reciprocal-rank fusion (Cormack et al.
  * 2009's RRF, the de-facto default in hybrid search engines).
  *
  * Exactness contract: RRF is computed in INTEGER rank arithmetic —
  * each list contributes `RrfScale div (RrfK + rank)` (integral
  * division), summed per (query, candidate) — so the fused ordering is a
  * pure function of the two input RANKINGS, with no float summation
  * order to drift: the DuckDB oracle reproduces it bit-for-bit by
  * composing q156's and q91's oracle FRAGMENTS
  * ([[TextAnalysis.bm25OracleCtes]], [[Similarity.annIndexedOracleCtes]])
  * under the same `//` integer division. Ties break to the smaller
  * candidate id. A candidate present in only one list scores only that
  * list's contribution (the standard RRF convention).
  *
  * Query-set contract: the fixture's hybrid queries are
  * [[TextAnalysis.Bm25Queries]] (text side) paired with the embedding
  * whose `vec_id` equals the query id (vector side) — `embeddings.vec_id
  * ≡ documents.doc_id` is the fixture's document-embedding join key.
  *
  * 100 TB shape: the fusion itself touches `2 · k · |queries|` rows —
  * control-plane sized at any corpus scale; ALL data-plane cost is the
  * two index reads, each of which keeps its own pruning (the postings
  * scan partition-prunes to the query terms' `tb` buckets, the IVF scan
  * to the probed cells — both PlanSpec-gated ON THE FUSED PLAN, so a
  * regression that silently un-prunes either tier inside the composition
  * fails the suite, not just the tierwise gates). No corpus rescan, no
  * shuffle beyond the k·|queries|-row fuse aggregate.
  */
object HybridRetrieval {

  /** RRF constants: the canonical k=60 damping, and a scale that keeps
    * every contribution an exact integer (1e6 div 61 .. 1e6 div (60+k)).
    */
  val RrfK = 60
  val RrfScale = 1000000L

  /** Fuse two per-query rankings `(query_id, rank, <idCol>)` by integer
    * RRF; top `k` fused candidates per query.
    */
  def rrfFuse(a: DataFrame, aIdCol: String, b: DataFrame, bIdCol: String,
              k: Int): DataFrame = {
    def contrib(df: DataFrame, idCol: String) =
      df.select(col("query_id"), col(idCol).cast("long").as("cand"),
        (lit(RrfScale) / (lit(RrfK.toLong) + col("rank").cast("long")))
          .cast("long").as("c"))
    // lit/lit division is double, but every quotient here is ≤ RrfScale/
    // (RrfK+1) with |error| << 1, so the long cast truncates to exactly
    // the integral quotient — the oracle's `//`
    val fused = contrib(a, aIdCol).unionByName(contrib(b, bIdCol))
      .groupBy(col("query_id"), col("cand"))
      .agg(sum(col("c")).cast("long").as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand").as("doc_id"),
        col("rrf"))
  }

  val queries: Seq[Query] = Seq(
    // RRF fusion of the two SERVED rankings: BM25 from the persisted
    // postings index (q156's path) + ANN from the persisted IVF index
    // (q91's path, query vectors = the query ids' embeddings). The
    // oracle composes the two tiers' oracle fragments and fuses with
    // DuckDB's `//` — full hash match proves both the tier rankings and
    // the integer fusion arithmetic.
    Query(
      "q162_hybrid_rrf",
      Some {
        val qids = TextAnalysis.Bm25Queries.map(_._1)
        s"""
        WITH ${TextAnalysis.bm25OracleCtes(
            "documents", "text", "doc_id", TextAnalysis.Bm25Queries)},
        ${Similarity.annIndexedOracleCtes(
            s"""SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id IN (${qids.mkString(", ")})""")},
        bmtop AS (SELECT query_id, rank, doc FROM r WHERE rank <= 10),
        anntop AS (SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 10),
        u AS (SELECT query_id, doc AS cand, $RrfScale // ($RrfK + rank) AS c
              FROM bmtop
              UNION ALL
              SELECT query_id, vec_id AS cand, $RrfScale // ($RrfK + rank) AS c
              FROM anntop),
        f AS (SELECT query_id, cand, CAST(SUM(c) AS BIGINT) AS rrf
              FROM u GROUP BY query_id, cand),
        rr AS (SELECT query_id, cand, rrf,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, cand) AS frank
               FROM f)
        SELECT query_id, frank AS rank, cand AS doc_id, rrf
        FROM rr WHERE frank <= 10
        ORDER BY query_id, rank"""
      })((spark, dir) => {
      val qids = TextAnalysis.Bm25Queries.map(_._1)
      val bm = TextAnalysis.bm25TopKServed(spark, dir,
        TextAnalysis.Bm25Queries, k = 10)
      val ann = Similarity.annIvfIndexed(spark, dir, k = 10,
        queryIds = Some(qids))
      rrfFuse(bm, "doc_id", ann, "vec_id", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // RRF fusion over LIVE STREAMED indexes — the read path of a RAG
    // stack whose both tiers are maintained by signed micro-batches, not
    // nightly rebuilds: the BM25 side serves from q163's steady-state
    // postings index (compacted base + two live uncompacted deltas,
    // takedowns and same-batch reinserts applied), the vector side from
    // a delta-maintained embedding index after its own insert+takedown
    // lifecycle ([[graft.streaming.EmbeddingDedupStream.annTopKDelta]],
    // the ranking twin of the dedup probe — same cell-pruned folded
    // scan). The embedding lifecycle runs dedup-FREE (threshold > 1 so
    // cosine can never reject): acceptance semantics are q158/q164's
    // contract; THIS oracle isolates the fused serving path, so its live
    // set replays as plain set algebra ((corpus − takedowns) ∪ inserts)
    // and both tier rankings + the integer RRF replay from first
    // principles. Retrieval stays fresh across commits with NO index
    // rebuild on either tier — the freshness property nightly-rebuild
    // stacks cannot have.
    Query(
      "q166_hybrid_stream_rrf",
      Some {
        val qids = TextAnalysis.Bm25Queries.map(_._1)
        s"""
        WITH ${TextAnalysis.bm25OracleCtes(
            TextAnalysis.SteadyStatePostingsCorpusSql,
            "text", "doc_id", TextAnalysis.Bm25Queries)},
        ecent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                  WHERE NOT (vec_id % 10 = 0) ORDER BY vec_id LIMIT 16),
        elive AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 10 = 0 OR vec_id % 7 <> 0),
        ea AS (SELECT l.vec_id, c.cid, l.embedding,
                 ROW_NUMBER() OVER (PARTITION BY l.vec_id
                   ORDER BY list_cosine_similarity(l.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                            c.cid) AS rn
               FROM elive l CROSS JOIN ecent c),
        ecells AS (SELECT vec_id, cid AS cell, embedding FROM ea WHERE rn = 1),
        eq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id IN (${qids.mkString(", ")})),
        ep AS (SELECT eq.query_id, eq.qv, c.cid AS cell,
                 ROW_NUMBER() OVER (PARTITION BY eq.query_id
                   ORDER BY list_cosine_similarity(eq.qv::DOUBLE[], c.cv::DOUBLE[]) DESC,
                            c.cid) AS rn
               FROM eq CROSS JOIN ecent c),
        eprobes AS (SELECT query_id, qv, cell FROM ep WHERE rn <= 2),
        escored AS (SELECT pr.query_id, ce.vec_id,
                      list_cosine_similarity(pr.qv::DOUBLE[], ce.embedding::DOUBLE[]) AS cos
                    FROM eprobes pr JOIN ecells ce ON ce.cell = pr.cell
                    WHERE ce.vec_id <> pr.query_id),
        eranked AS (SELECT query_id, vec_id, cos,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, vec_id) AS rank
                    FROM escored),
        bmtop AS (SELECT query_id, rank, doc FROM r WHERE rank <= 10),
        anntop AS (SELECT query_id, rank, vec_id FROM eranked WHERE rank <= 10),
        u AS (SELECT query_id, doc AS cand, $RrfScale // ($RrfK + rank) AS c
              FROM bmtop
              UNION ALL
              SELECT query_id, vec_id AS cand, $RrfScale // ($RrfK + rank) AS c
              FROM anntop),
        f AS (SELECT query_id, cand, CAST(SUM(c) AS BIGINT) AS rrf
              FROM u GROUP BY query_id, cand),
        rr AS (SELECT query_id, cand, rrf,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, cand) AS frank
               FROM f)
        SELECT query_id, frank AS rank, cand AS doc_id, rrf
        FROM rr WHERE frank <= 10
        ORDER BY query_id, rank"""
      })((spark, dir) => {
      import graft.streaming.EmbeddingDedupStream
      val qids = TextAnalysis.Bm25Queries.map(_._1)
      val e = graft.Tables(spark, dir).embeddings
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      val cent = EmbeddingIndex.seedCentroids(corpus, "embedding", "vec_id",
        nCells = 16)
      val eroot = graft.PartitionedWrites.memoizedIndex(s"q166emb#$dir") {
        path =>
          EmbeddingDedupStream.bootstrapDelta(spark, path, cent, corpus,
            EmbeddingIndex.FlatRouter)
          // one signed batch: takedowns + inserts, LEFT UNCOMPACTED so the
          // serve reads base + live delta (the steady state, like q163)
          EmbeddingDedupStream.applyBatchDelta(spark, path, cent,
            e.filter(col("vec_id") % 7 === 0)
              .select(lit("D").as("op"), col("vec_id"), col("embedding"))
              .unionByName(e.filter(col("vec_id") % 10 === 0)
                .select(lit("I").as("op"), col("vec_id"), col("embedding"))),
            batchId = 1L, threshold = 1.1, compactEvery = 3)
      }
      val bm = graft.streaming.PostingsStream.bm25TopKDelta(spark,
        TextAnalysis.steadyStatePostingsRoot(spark, dir),
        TextAnalysis.Bm25Queries)
      val ann = EmbeddingDedupStream.annTopKDelta(spark, eroot, cent,
        e.filter(col("vec_id").isin(qids: _*)), k = 10, nProbe = 2)
      rrfFuse(bm, "doc_id", ann, "vec_id", k = 10)
        .orderBy(col("query_id"), col("rank"))
    })
  )
}
