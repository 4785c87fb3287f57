package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental EMBEDDING dedup against a maintained IVF cell index — the
  * embedding member of the per-modality incremental matrix (text: q111
  * Bloom / q123 LSH band probe; media: q144/q147/q148 fingerprint probes).
  * A new vector batch is assigned to its `nProbe` nearest cells and
  * compared ONLY against the corpus vectors stored in those cells — the
  * SemDeDup recipe run incrementally, so a day's ingest never reassigns or
  * re-pairs the corpus.
  *
  * Index artifacts (what a production pipeline PERSISTS, cf. the q91
  * serving layout, reference `README.md:16`'s warehouse-object framing):
  *  - the CENTROIDS (`(cid, cv)`, model-sized) — the frozen coarse
  *    quantizer. Freezing is the standard IVF contract (FAISS/SPANN): cell
  *    ids stay stable so stored assignments never invalidate; the
  *    quantizer refreshes only on a full rebuild.
  *  - the CELL TABLE (`(vec_id, cell, v)`) — appended per accepted batch;
  *    on disk this is the q91 `partitionBy(cell)` layout, so probes prune
  *    to probed cells.
  *
  * Steady-state cost per batch: O(batch · nCells) assignment (map-side,
  * centroids broadcast) + a probe join that touches `nProbe / nCells` of
  * the index (partition-pruned when persisted) + O(batch) appended rows.
  * Nothing corpus-wide.
  *
  * Recall contract (measured, not hidden): a true near-dup in a cell the
  * batch vector does NOT probe is missed — the classic IVF recall/cost
  * knob (`nProbe`). Two ground-truth measurements pin it
  * (EmbeddingIndexSpec, brute-force truth, NOT the oracle — the oracle
  * replays this routing and is blind to recall):
  *  - the synthetic corpus' planted duplicate pairs all resolve at the
  *    default nProbe=2 over 16 first-seed cells (parity with the
  *    cell-free exact scan);
  *  - on a boundary-ADVERSARIAL construction (strong intra-cell noise, a
  *    seeded — not k-means — quantizer, ~44 % of copies landing in a
  *    different top-1 cell than their original) measured recall is
  *    0.60 / 0.80 / 0.96 / 0.99 at nProbe = 1 / 2 / 4 / 8, floor-pinned
  *    in the spec. The default nProbe=2 is a THROUGHPUT point, not a
  *    recall guarantee: boundary-heavy corpora under a weak quantizer
  *    should raise nProbe (or feed k-means centroids), exactly as q53
  *    tunes query ANN against measured recall.
  */
object EmbeddingIndex {

  /** The routing family a persisted index is BUILT under — and therefore
    * must be PROBED under. Flat scores n·k cosines per assignment (the
    * oracle-replayable default); Hier routes two-level at n·2√k (the
    * cells-∝-n build regime). Store and probe must agree: a hier-built
    * index probed flat pays the measured router-mismatch recall tax
    * (0.855 vs 0.957 @ nProbe=4, EmbeddingIndexSpec). Maintainers commit
    * the router (with the quantizer digest) as the index's layout
    * ([[indexLayout]]) and the serving probe dispatches FROM it
    * ([[committedRouter]], [[graft.streaming.EmbeddingDedupStream.probeDelta]]),
    * so the consistency contract is enforced, not documented.
    */
  sealed abstract class Router(val name: String) {
    def assign(vectors: DataFrame, cent: DataFrame, vecCol: String,
               idCol: String): DataFrame
    def routing(cent: DataFrame, batch: DataFrame, vecCol: String,
                idCol: String, nProbe: Int): DataFrame
    def probe(index: DataFrame, cent: DataFrame, batch: DataFrame,
              vecCol: String, idCol: String, nProbe: Int,
              threshold: Double): DataFrame
    /** Resolve to a concrete routing family for `cent` — identity for the
      * concrete routers; [[AutoRouter]] picks from the measured crossover.
      * Maintainers resolve BEFORE stamping, so only concrete names are
      * ever stamped.
      */
    def resolve(cent: DataFrame): Router = this
  }
  case object FlatRouter extends Router("flat") {
    def assign(vectors: DataFrame, cent: DataFrame, vecCol: String,
               idCol: String): DataFrame =
      assignCells(vectors, cent, vecCol, idCol)
    def routing(cent: DataFrame, batch: DataFrame, vecCol: String,
                idCol: String, nProbe: Int): DataFrame =
      probeRouting(cent, batch, vecCol, idCol, nProbe)
    def probe(index: DataFrame, cent: DataFrame, batch: DataFrame,
              vecCol: String, idCol: String, nProbe: Int,
              threshold: Double): DataFrame =
      probeDedup(index, cent, batch, vecCol, idCol, nProbe, threshold)
  }
  case object HierRouter extends Router("hier") {
    def assign(vectors: DataFrame, cent: DataFrame, vecCol: String,
               idCol: String): DataFrame =
      assignCellsHier(vectors, cent, vecCol, idCol)
    def routing(cent: DataFrame, batch: DataFrame, vecCol: String,
                idCol: String, nProbe: Int): DataFrame =
      probeRoutingHierAware(cent, batch, vecCol, idCol, nProbe)
    def probe(index: DataFrame, cent: DataFrame, batch: DataFrame,
              vecCol: String, idCol: String, nProbe: Int,
              threshold: Double): DataFrame =
      probeDedupHierAware(index, cent, batch, vecCol, idCol, nProbe, threshold)
  }
  /** Measured flat↔hier build crossover in CELLS. Under the map-only
    * expression argmax the whole family got ~20× cheaper and the
    * crossover RE-MEASURED at k* ≈ 256 (k-sweep at fixed n: hier ≤ flat
    * from k ≈ 256, clearly ahead ≥ 1024; 100× cells-∝-n point flat
    * 1.04 s vs hier 0.63 s, flat's top leg 0.82 vs hier 0.29 —
    * BENCH_sf4_build2.json; the pre-expression history with flat's
    * exp-0.88 / 20 s / ENOSPC arc is BENCH_k_build.md). The constant
    * stays at 128 — conservative toward the sub-linear side, since the
    * mid-range delta is ±0.1 s noise while flat's ∝-k term is the only
    * super-linear tail; the real trade hier buys into is RECALL (one
    * nProbe doubling, pinned in EmbeddingIndexSpec), which is why flat
    * remains the oracle-replayable default below the crossover.
    */
  val AutoRouterCellCrossover = 128

  /** BUILD-TIME router selection from the measured crossover — the
    * DEFAULT for the streamed maintainers, so a caller bootstrapping a
    * large index no longer silently gets the exp-0.88 flat build: ≤
    * [[AutoRouterCellCrossover]] cells resolves to [[FlatRouter]]
    * (bit-replayable, every oracle's form), above it to [[HierRouter]]
    * (the n·2√k build; recall price pinned in EmbeddingIndexSpec).
    * Resolution happens once per maintainer call against the frozen
    * quantizer (a model-sized count), BEFORE stamping — the committed
    * stamp then dispatches every later probe, so an index auto-built hier
    * is probed hier-aware automatically and a later caller who forces
    * `flat` against it fails loudly at the commit. Never itself stamped
    * or probed: using it unresolved throws.
    */
  case object AutoRouter extends Router("auto") {
    override def resolve(cent: DataFrame): Router =
      if (cent.count() > AutoRouterCellCrossover) HierRouter else FlatRouter
    private def unresolved: Nothing = throw new IllegalStateException(
      "AutoRouter must be resolved against the quantizer (router.resolve" +
      "(cent)) before assign/routing/probe — maintainers resolve before " +
      "stamping")
    def assign(vectors: DataFrame, cent: DataFrame, vecCol: String,
               idCol: String): DataFrame = unresolved
    def routing(cent: DataFrame, batch: DataFrame, vecCol: String,
                idCol: String, nProbe: Int): DataFrame = unresolved
    def probe(index: DataFrame, cent: DataFrame, batch: DataFrame,
              vecCol: String, idCol: String, nProbe: Int,
              threshold: Double): DataFrame = unresolved
  }

  def routerByName(name: String): Router = name match {
    case FlatRouter.name => FlatRouter
    case HierRouter.name => HierRouter
    case other => throw new IllegalStateException(
      s"unknown embedding-index router '$other' — stamped by a newer or " +
      "foreign engine; rebuild required")
  }

  /** Canonical fingerprint of a frozen quantizer: md5 over (cid, raw IEEE
    * bits of each component) in cid order — bit-exact, format-independent.
    * Model-sized collect (the same frame every assignment broadcasts).
    */
  def quantizerDigest(cent: DataFrame): String = {
    val rows = cent.select(col("cid").cast("long"),
        col("cv").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      buf.clear(); buf.putLong(l); md.update(buf.array())
    }
    rows.foreach { r =>
      putLong(r.getLong(0))
      r.getSeq[Double](1).foreach(d =>
        putLong(java.lang.Double.doubleToLongBits(d)))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** What a persisted index is stamped with: the router family
    * AND the frozen quantizer's digest. Either changing invalidates every
    * stored cell assignment — probes against a re-seeded or re-routed
    * quantizer return wrong emptiness, not an error, which is exactly the
    * failure mode [[graft.operators.Dedup.bandingStamp]] closed for LSH
    * state. Same recipe, embedding modality.
    */
  def indexStamp(cent: DataFrame, router: Router): String =
    stamp(router, quantizerDigest(cent))

  private def stamp(router: Router, digest: String): String =
    s"router=${router.name},quantizer=$digest"

  /** The writer's layout: the router `router` builds under and its stamp
    * for `cent`, given the index's committed layout (None before the first
    * commit). A committed stamp whose quantizer digest matches PINS the
    * concrete family for AUTO: adopt it instead of re-deriving from the
    * cell count. Otherwise an index built under an older default — or
    * near the boundary after the crossover is re-tuned — would hard-fail
    * "rebuild required" on its next trigger even though every stored
    * assignment is still valid. The crossover decides only the FIRST
    * commit; after that the stamp owns the family. The commit refuses a
    * stamp other than the committed one (a re-seeded quantizer, a router
    * flip); a mismatched probe would silently lose recall (0.855 vs 0.957
    * @ nProbe=4, EmbeddingIndexSpec).
    */
  def indexLayout(dir: String, committed: Option[String], cent: DataFrame,
                  router: Router): (Router, String) = {
    val digest = quantizerDigest(cent)
    val r = (router, committed.map(parseStamp(dir, _))) match {
      case (AutoRouter, Some((name, d))) if d == digest => routerByName(name)
      case _ => router.resolve(cent)
    }
    (r, stamp(r, digest))
  }

  /** `router=<name>,quantizer=<digest>` → (name, digest); loud on an
    * unstamped layout and on any foreign content.
    */
  private[graft] def parseStamp(dir: String, s: String): (String, String) =
    s.split(",", 2) match {
      case Array(r, q) if r.startsWith("router=") &&
          q.startsWith("quantizer=") =>
        (r.stripPrefix("router="), q.stripPrefix("quantizer="))
      case _ if s.isEmpty => throw graft.util.DeltaView.layoutRefused(dir, s,
        "router=<name>,quantizer=<digest>")
      case _ => throw new IllegalStateException(
        s"$dir's layout is not an embedding-index stamp (got '$s')")
    }

  /** The router an index was built under, from its committed layout,
    * verifying the caller's quantizer against the stamped digest — the
    * SERVING-side entry: readers obey the stamp instead of guessing.
    */
  def committedRouter(dir: String, layout: String, cent: DataFrame): Router = {
    val (name, digest) = parseStamp(dir, layout)
    val got = quantizerDigest(cent)
    if (digest != got) throw new IllegalStateException(
      s"quantizer mismatch on $dir: index built under digest " +
      s"'$digest' but the probe's quantizer is '$got' — probing " +
      "under a different quantizer returns wrong emptiness; pass the " +
      "frozen centroids the index was built with, or rebuild")
    routerByName(name)
  }

  /** First-`nCells` corpus vectors by id order — the deterministic seed
    * quantizer every cell-bounded oracle replays (q51/q74/q91's rule).
    * Production passes [[Similarity.kmeansCentroids]] output instead;
    * the plan shape is identical.
    */
  def seedCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                    nCells: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))

  /** Nearest-centroid assignment KEEPING the vector — the stored cell
    * table. The argmax is one whole-stage-codegen projection over the
    * collected centroid model ([[ArgMax.argmaxCosine]] — zero joins,
    * zero shuffles; see that object's scaladoc for why this beats both
    * `max(struct)` and the rescoring form). Results are bit-identical to
    * the struct-max form (ties to the smaller cid) under any
    * partitioning.
    */
  def assignCells(vectors: DataFrame, cent: DataFrame, vecCol: String,
                  idCol: String): DataFrame = {
    val m = ArgMax.cosModel(cent, "cv", "cid")
    vectors.select(col(idCol).cast("long").as("vec_id"),
      ArgMax.argmaxCosine(m, col(vecCol)).as("cell"), col(vecCol).as("v"))
  }

  /** [[assignCells]] with TWO-LEVEL routing — the index-BUILD
    * configuration for corpora large enough to need cells ∝ n (constant
    * expected cell size). Flat assignment scores n·k cosines — n² when
    * k ∝ n; this is [[Similarity.knnJoinInCellHier]]'s coarse-quantizer
    * fix applied to the stored cell table. The crossover is MEASURED,
    * not asserted (BENCH_k_build.md — after round 12 fixed two
    * measurement bugs that had inverted it: a count() consumption that
    * PRUNED the argmax out of the timed plan, and the struct-max argmax
    * itself planning SortAggregate, which ENOSPC'd at the 100× point;
    * both forms now run the map-only [[ArgMax.argmaxCosine]] projection):
    * flat is
    * cleanly ∝ k above its floor, hier ∝ √k, crossover k* ≈ 100–150
    * cells ≈ n* of 40–55 k vectors at dim 64 under the cells-∝-n layout.
    * THIS is the documented build for cells-∝-n corpora beyond ~30× the
    * base study corpus (15× faster at 100×, gap widening as √n); the
    * flat build remains the oracle-replayable form and the right choice
    * for fixed small k: route each vector to one of √k coarse cells
    * (the first √k centroids by id), then to the best centroid among
    * that coarse cell's children — n·2√k total. Standard IVF
    * approximation: a vector whose true nearest centroid hangs under a
    * different coarse cell lands in a neighboring cell — RECALL, not
    * correctness (a row's cell still depends only on its vector and the
    * frozen quantizer, so [[retract]] ≡ rebuild holds unchanged —
    * spec-gated). Probe a hier-built index with
    * [[probeDedupHierAware]] (the flat probe against a hier build pays a
    * measured router-mismatch recall tax; see that method's numbers).
    * The oracle-gated queries keep the flat form — the DuckDB twins
    * replay flat routing; this is the documented 100 TB build path
    * (`idx_build_flat` vs `idx_build_hier` study rows).
    */
  def assignCellsHier(vectors: DataFrame, cent: DataFrame, vecCol: String,
                      idCol: String): DataFrame = {
    // model-sized by contract: the quantizer crosses the driver for its
    // digest anyway. Sorted by cid = the flat form's orderBy/limit seeding.
    val centRows = cent
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val k = centRows.length
    val nCoarse = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = centRows.take(nCoarse)
    // centroid -> nearest coarse centroid (k·√k scalars, computed on the
    // driver with the executor loop's exact IEEE op order); a coarse
    // centroid routes to itself, so every coarse cell has a child
    val coarseModel = ArgMax.cosModelOf(coarse)
    val childOf = ArgMax.cosKeyedModelOf(centRows.map { case (cid, cv) =>
      (ArgMax.argmaxCosineDriver(coarse, cv), cid, cv)
    })
    // ONE projection: stage 1 (vector -> coarse cell, n·√k) nests as the
    // KEY of stage 2 (vector -> best child of that coarse cell, n·~√k) —
    // the whole two-level routing is a single whole-stage-codegen pass
    // with no joins, no aggregates, no shuffles.
    vectors.select(col(idCol).cast("long").as("vec_id"),
      ArgMax.argmaxCosine(childOf, col(vecCol),
        key = ArgMax.argmaxCosine(coarseModel, col(vecCol))).as("cell"),
      col(vecCol).as("v"))
  }

  /** Probe the stored cell index with a batch: each batch vector's
    * `nProbe` nearest cells are looked up (broadcast probe list keyed on
    * the cell id — with the q91 partitioned layout this prunes the index
    * scan), candidates verify by exact cosine, and a batch vector
    * near-duplicates (`cos >= threshold`) resolve to the SMALLEST matching
    * corpus id. Returns one row per batch vector:
    * `(vec_id, dup_of, is_new)` — the q111/q123 incremental contract.
    */
  /** nProbe-nearest-cell routing for a query batch — one row per
    * (query, probed cell), the shared head of [[probeDedup]]. Exposed so
    * serving layers can COLLECT the distinct probed cell ids (a
    * control-plane round-trip, ≤ nCells ints — the q91 `annIvfIndexed`
    * pattern) and statically partition-prune a persisted
    * `partitionBy(cell)` index scan to exactly the cells the probe join
    * will touch. Pruning is lossless BY CONSTRUCTION: [[probeDedup]]'s
    * candidate join is an inner equi-join on `cell` against this routing,
    * so index rows outside the probed cells never participate.
    */
  def probeRouting(cent: DataFrame, batch: DataFrame, vecCol: String,
                   idCol: String, nProbe: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions._
    batch
      .select(col(idCol).cast("long").as("bid"), col(vecCol).as("qv"))
      .join(broadcast(cent))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bid"))
          .orderBy(cosineFast(col("qv"), col("cv")).desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("bid"), col("qv"), col("cid").as("cell"))
  }

  /** [[probeRouting]] for a HIER-built index ([[assignCellsHier]]):
    * the flat top-nProbe cells PLUS the query's own two-level cell. A
    * near-dup copy routes through the same two-level path as its stored
    * original, so the cell the hier build may "misplace" a vector into
    * (relative to flat ranking) is usually the cell the query's own hier
    * route lands in. Measured on the boundary-adversarial spec corpus
    * (ground-truth recall @ nProbe=4): hier index + flat probe 0.855,
    * + this routing 0.880, @ nProbe=8 0.966 vs flat-build 0.957@4 —
    * i.e. ONE nProbe doubling buys back the hier build's recall, which
    * is the pinned contract (EmbeddingIndexSpec): the n·k → n·2√k build
    * saving costs one extra probe beam, the standard IVF coarse-quantizer
    * trade. Cost here: one extra probed cell + an n·2√k batch routing —
    * nothing corpus-wide.
    */
  def probeRoutingHierAware(cent: DataFrame, batch: DataFrame, vecCol: String,
                            idCol: String, nProbe: Int = 2): DataFrame =
    probeRouting(cent, batch, vecCol, idCol, nProbe)
      .unionByName(assignCellsHier(batch, cent, vecCol, idCol)
        .select(col("vec_id").as("bid"), col("v").as("qv"), col("cell")))
      .groupBy(col("bid"), col("cell"))
      .agg(first(col("qv")).as("qv"))
      .select(col("bid"), col("qv"), col("cell"))

  def probeDedup(index: DataFrame, cent: DataFrame, batch: DataFrame,
                 vecCol: String, idCol: String, nProbe: Int = 2,
                 threshold: Double = 0.4): DataFrame =
    probeDedupWith(probeRouting(cent, batch, vecCol, idCol, nProbe),
      index, batch, idCol, threshold)

  /** [[probeDedup]] against a HIER-built index: same verify and min-id
    * resolution, routing widened by [[probeRoutingHierAware]].
    */
  def probeDedupHierAware(index: DataFrame, cent: DataFrame, batch: DataFrame,
                          vecCol: String, idCol: String, nProbe: Int = 2,
                          threshold: Double = 0.4): DataFrame =
    probeDedupWith(probeRoutingHierAware(cent, batch, vecCol, idCol, nProbe),
      index, batch, idCol, threshold)

  private def probeDedupWith(probes: DataFrame, index: DataFrame,
                             batch: DataFrame, idCol: String,
                             threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val dup = index.join(broadcast(probes), "cell")
      .filter(cosineFast(col("qv"), col("v")) >= threshold)
      .groupBy(col("bid")).agg(min(col("vec_id")).as("dup_of"))
    batch.select(col(idCol).cast("long").as("vec_id"))
      .join(broadcast(dup), col("vec_id") === col("bid"), "left")
      .select(col("vec_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  /** Build-then-probe in one call (oracle form: the index derives from
    * `isBatch` so DuckDB can replay a full recompute — `seedCentroids` +
    * [[assignCells]] are the build step a real pipeline runs once and
    * [[graft.streaming.EmbeddingDedupStream]] maintains continuously).
    */
  def ivfIncrementalDedup(embs: DataFrame, vecCol: String, idCol: String,
                          isBatch: Column, nCells: Int = 16, nProbe: Int = 2,
                          threshold: Double = 0.4): DataFrame = {
    val corpus = embs.filter(!isBatch)
    val cent = seedCentroids(corpus, vecCol, idCol, nCells)
    probeDedup(assignCells(corpus, cent, vecCol, idCol), cent,
      embs.filter(isBatch), vecCol, idCol, nProbe, threshold)
  }

  /** Sample-based GROUND-TRUTH estimate of the flat probe's recall at each
    * candidate `nProbe` — the measurement behind [[tuneNProbe]]. For a
    * query with at least one true near-dup in the index (exact cosine ≥
    * `threshold`, brute force — no cells anywhere on the truth side), the
    * probe finds one iff SOME matching vector's stored cell ranks ≤ nProbe
    * in the query's centroid ordering; so recall@p = P(min matching-cell
    * rank ≤ p) over the evaluable queries. This is the standard IVF
    * nprobe-sweep procedure, run INSIDE the engine on a bounded query
    * sample, so the recall/cost knob can be chosen against evidence
    * instead of the default (the operator contract says nProbe=2 is a
    * THROUGHPUT point — this is the tool that turns that warning into a
    * number for the caller's own corpus).
    *
    * Scale shape: the sampled queries broadcast against the index — the
    * truth scan is O(|sample| · n) map-side cosines with NO index shuffle
    * (the index never moves; at 1000 executors it's embarrassingly
    * parallel and cheaper than one serving batch), the rank window runs on
    * |sample| · k rows, and every aggregate is map-side combinable.
    * Sampling is deterministic: the `maxQueries` smallest ids by
    * `xxhash64(id)` order (id-skew-independent, replayable);
    * `Int.MaxValue` means "use every query" (the oracle form q157 does,
    * over a mod-sampled batch, so DuckDB replays the whole computation).
    *
    * Returns exact integers `(n_probe, n_hit, n_eval)` — recall is
    * `n_hit / n_eval` — so the result is bit-comparable at any partition
    * count (no float aggregation anywhere).
    *
    * `excludeSelf` drops index rows whose `vec_id` equals the query's id
    * (tuning ON corpus members would otherwise score every query's rank-1
    * cell a hit through its own stored copy).
    */
  def estimateProbeRecall(index: DataFrame, cent: DataFrame,
                          queries: DataFrame, vecCol: String, idCol: String,
                          nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                          threshold: Double = 0.4,
                          maxQueries: Int = 256,
                          excludeSelf: Boolean = true,
                          router: Router = FlatRouter): DataFrame = {
    import graft.functions.VectorFunctions._
    require(nProbes.nonEmpty, "nProbes must be non-empty")
    val spark = index.sparkSession
    val base = queries.select(col(idCol).cast("long").as("bid"),
      col(vecCol).as("qv"))
    val q = if (maxQueries == Int.MaxValue) base
            else base.orderBy(xxhash64(col("bid")), col("bid"))
              .limit(maxQueries)
    // truth: brute force over the FULL index (queries broadcast, index
    // never shuffles) — each evaluable query's matching STORED cells.
    // Router-independent: the truth side never routes.
    val m0 = index.join(broadcast(q),
      cosineFast(col("qv"), col("v")) >= threshold)
    val matches = (if (excludeSelf) m0.filter(col("vec_id") =!= col("bid"))
                   else m0).select(col("bid"), col("cell"))
    router match {
      case FlatRouter =>
        // flat routing is a RANKING, so one window pass scores every
        // candidate nProbe at once: hit@p ⟺ min matching-cell rank ≤ p
        val ranks = q.join(broadcast(cent))
          .select(col("bid"), col("cid"),
            row_number().over(Window.partitionBy(col("bid"))
              .orderBy(cosineFast(col("qv"), col("cv")).desc, col("cid")))
              .as("rn"))
        val mr = matches.join(ranks,
            matches("bid") === ranks("bid") && col("cell") === col("cid"))
          .groupBy(matches("bid")).agg(min(col("rn")).as("mr"))
        import spark.implicits._
        nProbes.toDF("n_probe").crossJoin(broadcast(mr))
          .groupBy(col("n_probe"))
          .agg(sum(when(col("mr") <= col("n_probe"), 1L).otherwise(0L))
                 .cast("long").as("n_hit"),
               count(lit(1)).as("n_eval"))
      case r =>
        // a general router's probe set is not a prefix of one ranking
        // (hier-aware adds the query's own two-level cell at every p), so
        // score each candidate against ITS routing — the exact candidate
        // join [[probeDedup]]'s family runs, reproduced per p on the
        // bounded sample
        val nEval = matches.select(col("bid")).distinct()
          .agg(count(lit(1)).as("n_eval"))
        val perP = nProbes.map { p =>
          val routed = r.routing(cent, q, "qv", "bid", p)
            .select(col("bid"), col("cell"))
          matches.join(routed, Seq("bid", "cell"), "left_semi")
            .select(col("bid")).distinct()
            .agg(count(lit(1)).cast("long").as("n_hit"))
            .select(lit(p).as("n_probe"), col("n_hit"))
        }.reduce(_ unionByName _)
        perP.crossJoin(broadcast(nEval))
    }
  }

  /** Choose the smallest candidate `nProbe` whose estimated ground-truth
    * recall ([[estimateProbeRecall]]) meets `targetRecall` — the
    * recall-TARGETED serving configuration. Falls back to the largest
    * candidate when none meets the target (the curve is returned so the
    * caller can see the achieved ceiling and decide: more candidates, a
    * better quantizer, or accept). Throws when no sampled query has a true
    * match (nothing to evaluate — raise `maxQueries` or lower
    * `threshold`). The returned curve is the evidence to record next to
    * the frozen quantizer; EmbeddingIndexSpec pins this tuner against the
    * boundary-adversarial corpus' measured curve.
    */
  def tuneNProbe(index: DataFrame, cent: DataFrame, queries: DataFrame,
                 vecCol: String, idCol: String, targetRecall: Double,
                 candidates: Seq[Int] = Seq(1, 2, 4, 8, 16, 32),
                 threshold: Double = 0.4, maxQueries: Int = 256,
                 excludeSelf: Boolean = true,
                 router: Router = FlatRouter): (Int, Seq[(Int, Double)]) = {
    require(candidates.nonEmpty, "candidates must be non-empty")
    val rows = estimateProbeRecall(index, cent, queries, vecCol, idCol,
        candidates.distinct.sorted, threshold, maxQueries, excludeSelf,
        router)
      .collect()
    if (rows.isEmpty || rows.forall(_.getLong(2) == 0L))
      throw new IllegalArgumentException(
        "tuneNProbe: no sampled query has a true near-dup at threshold " +
        s"$threshold — raise maxQueries or lower the threshold")
    val curve = rows.map(r => (r.getInt(0),
        r.getLong(1).toDouble / r.getLong(2))).toSeq.sortBy(_._1)
    val chosen = curve.collectFirst {
      case (p, r) if r >= targetRecall => p
    }.getOrElse(curve.last._1)
    (chosen, curve)
  }

  /** Retract vectors from the cell index: remove their rows, quantizer
    * FROZEN (see the object doc — cell ids must stay stable). The result
    * is bit-identical to rebuilding the index from the remaining corpus
    * under the same centroids, because a row's cell depends only on its
    * own vector and the frozen quantizer — q151 proves it against a
    * full-recompute oracle whose centroids come from the ORIGINAL corpus
    * and whose cell table is rebuilt from the survivors.
    */
  def retract(index: DataFrame, dropIds: DataFrame): DataFrame =
    index.join(broadcast(dropIds.select(col(dropIds.columns.head).cast("long")
      .as("_drop_id"))), col("vec_id") === col("_drop_id"), "left_anti")

  /** DuckDB twin of [[ivfIncrementalDedup]] — and, with `corpusPred`
    * narrower than `centPred`, of the probe AFTER [[retract]]: centroids
    * from the `centPred` rows (the frozen quantizer), cell table rebuilt
    * from only the `corpusPred` survivors. Same seeding, argmax tie rule
    * and min-id dup resolution as the engine.
    */
  def ivfIncrementalOracleSql(table: String, vecCol: String, idCol: String,
                              batchPred: String, nCells: Int = 16,
                              nProbe: Int = 2, threshold: Double = 0.4,
                              corpusPred: Option[String] = None): String = {
    val centPred = s"NOT ($batchPred)"
    val cPred = corpusPred.getOrElse(centPred)
    def rankCte(pred: String) =
      s"""SELECT e.$idCol AS vid, c.cid, e.$vecCol AS v,
            ROW_NUMBER() OVER (PARTITION BY e.$idCol
              ORDER BY list_cosine_similarity(e.$vecCol::DOUBLE[], c.cv::DOUBLE[]) DESC,
                       c.cid) AS rn
          FROM $table e CROSS JOIN cent c WHERE $pred"""
    s"""WITH cent AS (SELECT $idCol AS cid, $vecCol AS cv FROM $table
                      WHERE $centPred ORDER BY $idCol LIMIT $nCells),
        ca AS (${rankCte(cPred)}),
        cells AS (SELECT vid, cid AS cell, v FROM ca WHERE rn = 1),
        qa AS (${rankCte(batchPred)}),
        probes AS (SELECT vid AS qid, cid AS cell, v AS qv FROM qa
                   WHERE rn <= $nProbe),
        dup AS (SELECT qid, MIN(cells.vid) AS dup_of
                FROM probes JOIN cells USING (cell)
                WHERE list_cosine_similarity(qv::DOUBLE[], cells.v::DOUBLE[]) >= $threshold
                GROUP BY qid)
        SELECT b.$idCol AS vec_id, dup.dup_of, dup.dup_of IS NULL AS is_new
        FROM (SELECT $idCol FROM $table WHERE $batchPred) b
        LEFT JOIN dup ON dup.qid = b.$idCol
        ORDER BY vec_id"""
  }

  val queries: Seq[Query] = Seq(

    // Incremental embedding dedup via the IVF cell index: batch = every
    // 10th vector (the q111/q123 split, so the three modalities'
    // incremental rows are directly comparable), corpus = the rest. The
    // oracle recomputes centroids, cell assignment, probe routing and the
    // cosine verify from scratch — passing proves the index-probe path
    // loses nothing vs a full recompute.
    Query(
      "q149_ivf_incremental",
      Some(ivfIncrementalOracleSql("embeddings", "embedding", "vec_id",
        batchPred = "vec_id % 10 = 0")))((spark, dir) => {
      ivfIncrementalDedup(Tables(spark, dir).embeddings, "embedding",
          "vec_id", isBatch = col("vec_id") % 10 === 0)
        .orderBy(col("vec_id"))
    }),

    // Index retraction (deletion lifecycle): vectors leave the corpus
    // (retention, takedown) WITHOUT a full index rebuild — their rows
    // retract through the versioned commit and the next batch probes the
    // shrunk index. Engine: build from corpus, retract every 7th corpus
    // vector, probe. Oracle: centroids from the ORIGINAL corpus (frozen
    // quantizer), cell table rebuilt from the survivors — proving
    // retract ≡ full rebuild under the frozen quantizer, and that no
    // retracted id can ever be returned as dup_of.
    Query(
      "q151_ivf_retract",
      Some(ivfIncrementalOracleSql("embeddings", "embedding", "vec_id",
        batchPred = "vec_id % 10 = 0",
        corpusPred = Some("vec_id % 10 <> 0 AND vec_id % 7 <> 0"))))(
      (spark, dir) => {
        val embs = Tables(spark, dir).embeddings
        val isBatch = col("vec_id") % 10 === 0
        val corpus = embs.filter(!isBatch)
        val cent = seedCentroids(corpus, "embedding", "vec_id", nCells = 16)
        val index = assignCells(corpus, cent, "embedding", "vec_id")
        val shrunk = retract(index,
          corpus.filter(col("vec_id") % 7 === 0).select("vec_id"))
        probeDedup(shrunk, cent, embs.filter(isBatch), "embedding", "vec_id")
          .orderBy(col("vec_id"))
      }),

    // Recall-targeted serving configuration: the nProbe sweep that
    // [[tuneNProbe]] runs — brute-force truth over the stored index for a
    // mod-sampled query set, min matching-cell rank per query, exact
    // integer (n_hit, n_eval) per candidate nProbe. The oracle recomputes
    // the whole sweep (assignment, ranks, truth scan) from scratch in
    // DuckDB — passing proves the engine's estimator measures exactly the
    // recall its own probe would achieve. The GROUND-TRUTH contract (the
    // part an oracle replay can't see: that the curve is honest against a
    // boundary-adversarial corpus and the tuner picks from it correctly)
    // is pinned in EmbeddingIndexSpec.
    Query(
      "q157_nprobe_recall",
      Some("""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE NOT (vec_id % 10 = 0)
                ORDER BY vec_id LIMIT 16),
          ca AS (SELECT e.vec_id AS vid, c.cid, e.embedding AS v,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM embeddings e CROSS JOIN cent c
                 WHERE NOT (e.vec_id % 10 = 0)),
          cells AS (SELECT vid, cid AS cell, v FROM ca WHERE rn = 1),
          q AS (SELECT vec_id AS bid, embedding AS qv FROM embeddings
                WHERE vec_id % 50 = 0),
          ranks AS (SELECT q.bid, c.cid,
                      ROW_NUMBER() OVER (PARTITION BY q.bid
                        ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC,
                                 c.cid) AS rn
                    FROM q CROSS JOIN cent c),
          matches AS (SELECT q.bid, cells.cell FROM q JOIN cells
                      ON list_cosine_similarity(q.qv::DOUBLE[], cells.v::DOUBLE[]) >= 0.4
                     AND cells.vid <> q.bid),
          mr AS (SELECT m.bid, MIN(r.rn) AS mr FROM matches m
                 JOIN ranks r ON r.bid = m.bid AND r.cid = m.cell
                 GROUP BY m.bid),
          p AS (SELECT * FROM (VALUES (1),(2),(4),(8)) AS t(n_probe))
          SELECT p.n_probe,
                 CAST(SUM(CASE WHEN mr.mr <= p.n_probe THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                 CAST(COUNT(*) AS BIGINT) AS n_eval
          FROM p CROSS JOIN mr GROUP BY 1 ORDER BY 1"""))((spark, dir) => {
      val e = Tables(spark, dir).embeddings
      val corpus = e.filter(col("vec_id") % 10 =!= 0)
      val cent = seedCentroids(corpus, "embedding", "vec_id", nCells = 16)
      val index = assignCells(corpus, cent, "embedding", "vec_id")
      estimateProbeRecall(index, cent, e.filter(col("vec_id") % 50 === 0),
          "embedding", "vec_id", nProbes = Seq(1, 2, 4, 8), threshold = 0.4,
          maxQueries = Int.MaxValue)
        .orderBy(col("n_probe"))
    }),

    // The STREAMED embedding maintainer end-to-end, in the main bench
    // corpus (it previously lived only in the scale study, so the
    // plan/volume tripwire never guarded it): direct index bootstrap
    // (the BenchScale idx-commit convention — assignCells → one
    // compacted cell-partitioned DeltaView commit), then one SIGNED
    // I-batch through [[graft.streaming.EmbeddingDedupStream
    // .applyBatchDelta]] — in-batch min-id dominance, nProbe-cell probe
    // against the pruned persisted index, O(batch) delta commit — then
    // the final index reads back. The oracle replays the WHOLE lifecycle
    // from first principles: corpus cell assignment, the batch's top-1
    // cells, the in-batch dominance rule, nProbe=2 probe routing, the
    // cosine verify, id-uniqueness — so the maintainer's committed state
    // hash-matches a from-scratch recompute.
    Query(
      "q158_embedding_stream_commit",
      Some("""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE NOT (vec_id % 10 = 0)
                ORDER BY vec_id LIMIT 16),
          ca AS (SELECT e.vec_id AS vid, c.cid, e.embedding AS v,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM embeddings e CROSS JOIN cent c
                 WHERE NOT (e.vec_id % 10 = 0)),
          cells AS (SELECT vid, cid AS cell, v FROM ca WHERE rn = 1),
          ba AS (SELECT e.vec_id AS vid, c.cid, e.embedding AS v,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM embeddings e CROSS JOIN cent c
                 WHERE e.vec_id % 10 = 0),
          bcells AS (SELECT vid, cid AS cell, v FROM ba WHERE rn = 1),
          bdrop AS (SELECT DISTINCT b.vid FROM bcells a JOIN bcells b
                    ON a.cell = b.cell AND a.vid < b.vid
                   AND list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]) >= 0.4),
          reps AS (SELECT * FROM bcells
                   WHERE vid NOT IN (SELECT vid FROM bdrop)),
          pr AS (SELECT r.vid AS bid, r.v AS qv, c.cid AS pcell,
                   ROW_NUMBER() OVER (PARTITION BY r.vid
                     ORDER BY list_cosine_similarity(r.v::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM reps r CROSS JOIN cent c),
          probes AS (SELECT bid, qv, pcell AS cell FROM pr WHERE rn <= 2),
          dup AS (SELECT bid FROM probes JOIN cells USING (cell)
                  WHERE list_cosine_similarity(qv::DOUBLE[], cells.v::DOUBLE[]) >= 0.4
                  GROUP BY bid),
          acc AS (SELECT vid, cell FROM reps
                  WHERE vid NOT IN (SELECT bid FROM dup)
                    AND vid NOT IN (SELECT vid FROM cells))
          SELECT vid AS vec_id, CAST(cell AS BIGINT) AS cell FROM cells
          UNION ALL
          SELECT vid AS vec_id, CAST(cell AS BIGINT) AS cell FROM acc
          ORDER BY vec_id"""))((spark, dir) => {
      import graft.streaming.EmbeddingDedupStream
      val e = Tables(spark, dir).embeddings
      val isBatch = col("vec_id") % 10 === 0
      val corpus = e.filter(!isBatch)
      val cent = seedCentroids(corpus, "embedding", "vec_id", nCells = 16)
      val root = java.nio.file.Files
        .createTempDirectory("graft-q158").toString
      EmbeddingDedupStream.bootstrapDelta(spark, root, cent, corpus, FlatRouter)
      EmbeddingDedupStream.applyBatchDelta(spark, root, cent,
        e.filter(isBatch).select(lit("I").as("op"), col("vec_id"),
          col("embedding")), batchId = 1L)
      EmbeddingDedupStream.readIndexDelta(spark, root)
        .select(col("vec_id"), col("cell")).orderBy(col("vec_id"))
    }),

    // RE-QUANTIZATION lifecycle (the act q164's drift monitor recommends):
    // the q158 lifecycle grows the index past its 16-cell seed quantizer,
    // then [[graft.streaming.EmbeddingDedupStream.requantizeDelta]] re-fits
    // a FINER deterministic quantizer (first-32-live-ids seed — the
    // oracle-replayable stand-in for a kmeans re-fit; production passes
    // kmeansCentroids output) and rebuilds in place: one DeltaView.Group.rebase
    // (fresh compacted base, NOT delete-all+reinsert-all) whose commit
    // moves the stamp to the new digest, live vec_id set preserved
    // exactly. The oracle replays the grown live set from first principles
    // and re-assigns it under the replayed new quantizer — passing proves
    // the rebuilt state is bit-identical to a from-scratch build over the
    // survivors, i.e. re-quantization changes WHERE vectors live, never
    // WHICH. The crash points around its one commit are spec-pinned in
    // EmbeddingDedupStreamSpec, not oracle-visible.
    Query(
      "q164_ivf_requantize",
      Some("""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                FROM embeddings WHERE NOT (vec_id % 10 = 0)
                ORDER BY vec_id LIMIT 16),
          ca AS (SELECT e.vec_id AS vid, c.cid, e.embedding AS v,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM embeddings e CROSS JOIN cent c
                 WHERE NOT (e.vec_id % 10 = 0)),
          cells AS (SELECT vid, cid AS cell, v FROM ca WHERE rn = 1),
          ba AS (SELECT e.vec_id AS vid, c.cid, e.embedding AS v,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM embeddings e CROSS JOIN cent c
                 WHERE e.vec_id % 10 = 0),
          bcells AS (SELECT vid, cid AS cell, v FROM ba WHERE rn = 1),
          bdrop AS (SELECT DISTINCT b.vid FROM bcells a JOIN bcells b
                    ON a.cell = b.cell AND a.vid < b.vid
                   AND list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]) >= 0.4),
          reps AS (SELECT * FROM bcells
                   WHERE vid NOT IN (SELECT vid FROM bdrop)),
          pr AS (SELECT r.vid AS bid, r.v AS qv, c.cid AS pcell,
                   ROW_NUMBER() OVER (PARTITION BY r.vid
                     ORDER BY list_cosine_similarity(r.v::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM reps r CROSS JOIN cent c),
          probes AS (SELECT bid, qv, pcell AS cell FROM pr WHERE rn <= 2),
          dup AS (SELECT bid FROM probes JOIN cells USING (cell)
                  WHERE list_cosine_similarity(qv::DOUBLE[], cells.v::DOUBLE[]) >= 0.4
                  GROUP BY bid),
          acc AS (SELECT vid, v FROM reps
                  WHERE vid NOT IN (SELECT bid FROM dup)
                    AND vid NOT IN (SELECT vid FROM cells)),
          live AS (SELECT vid, v FROM cells UNION ALL SELECT vid, v FROM acc),
          nc AS (SELECT vid AS cid, v AS cv FROM live ORDER BY vid LIMIT 32),
          na AS (SELECT l.vid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY l.vid
                     ORDER BY list_cosine_similarity(l.v::DOUBLE[], c.cv::DOUBLE[]) DESC,
                              c.cid) AS rn
                 FROM live l CROSS JOIN nc c)
          SELECT vid AS vec_id, CAST(cid AS BIGINT) AS cell FROM na
          WHERE rn = 1 ORDER BY vec_id"""))((spark, dir) => {
      import graft.streaming.EmbeddingDedupStream
      val e = Tables(spark, dir).embeddings
      val isBatch = col("vec_id") % 10 === 0
      val corpus = e.filter(!isBatch)
      val cent = seedCentroids(corpus, "embedding", "vec_id", nCells = 16)
      val root = java.nio.file.Files
        .createTempDirectory("graft-q164").toString
      EmbeddingDedupStream.bootstrapDelta(spark, root, cent, corpus, FlatRouter)
      EmbeddingDedupStream.applyBatchDelta(spark, root, cent,
        e.filter(isBatch).select(lit("I").as("op"), col("vec_id"),
          col("embedding")), batchId = 1L)
      val newCent = seedCentroids(
        EmbeddingDedupStream.readIndexDelta(spark, root), "v", "vec_id",
        nCells = 32)
      EmbeddingDedupStream.requantizeDelta(spark, root, newCent,
        batchId = 2L)
      EmbeddingDedupStream.readIndexDelta(spark, root)
        .select(col("vec_id"), col("cell")).orderBy(col("vec_id"))
    })
  )
}
