package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan quality gates: the properties that make these queries
  * survive a 100× scale-up, asserted so a refactor can't silently lose
  * them (`.explain` iteration, encoded).
  */
class PlanSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  /** Execute (so AQE finalizes) and unwrap the adaptive plan. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(name: String): String = executed(q(name)).toString

  /** Traverse INTO AQE query stages (leaf wrappers) and reused exchanges. */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val extra = p match {
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ extra).flatMap(deepNodes)
  }

  test("q1: shipdate filter is pushed down to the parquet scan") {
    val p = planString("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q2: scan reads only the projected+filtered columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = deepNodes(executed(q("q2_filter_project"))).collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    assert(scans.head == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate"), scans.head)
  }

  test("q3: dimension joins broadcast; the fact table is never broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val plan = executed(q("q3_revenue_by_nation"))
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val broadcastSubtrees = deepNodes(plan).collect {
      case b: BroadcastExchangeExec => deepNodes(b).map(_.toString).mkString
    }
    assert(broadcastSubtrees.nonEmpty)
    broadcastSubtrees.foreach(s =>
      assert(!s.contains("lineitem"), "lineitem inside a broadcast subtree"))
  }

  test("q9: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planString("q9_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Sort [o_totalprice"), "global sort snuck in")
  }

  test("q22: exact dedup is a single-shuffle partial+final hash aggregate") {
    val plan = executed(q("q22_dedup_exact"))
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s } ++
      (plan match {
        case a: AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case s: ShuffleExchangeExec => s }
        case _ => Seq.empty
      })
    // one shuffle for the group-by hash, plus at most one for the orderBy
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles")
    assert(plan.toString.contains("HashAggregate"), "expected hash aggregate")
  }

  test("q33: query side is broadcast (corpus never shuffles for the join)") {
    val p = planString("q33_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q51: IVF assignment is the map-only argmax expression, no aggregate") {
    val p = planString("q51_ann_ivf")
    // probe side broadcasts — corpus vectors never shuffle for a join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(1500))
    // cell assignment is ONE codegen'd projection over the collected
    // centroid model (ArgMax.argmaxCosine) — no candidate join, no
    // argmax aggregate, and in particular no SortAggregate anywhere
    assert(p.contains("graft_nearest_cos"), p.take(1500))
    assert(!p.contains("SortAggregate"), p.take(1500))
  }

  test("q52: grouping sets is one Expand pass with partial+final aggregation") {
    val plan = executed(q("q52_grouping_sets"))
    val p = plan.toString
    assert(p.contains("Expand"), p.take(1500))
    assert(p.contains("partial_"), "map-side partial aggregation missing")
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // one shuffle for the grouping hash + one for the final orderBy
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles")
  }

  test("q34: bucket assignment is the fused expression and the query side broadcasts") {
    val df = q("q34_ann_lsh")
    // logical plan carries ONE fused bucket expression per side, not
    // tables x planes separate dot-product columns
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft_hyperplane_buckets"), analyzed.take(1500))
    val p = executed(df).toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q54: repetition signals are a shuffle-free scan (plus the oracle sort)") {
    val plan = executed(q("q54_text_repetition"))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // only the final orderBy's range exchange — no groupBy/join anywhere
    assert(shuffles.size <= 1, s"${shuffles.size} shuffles")
  }

  test("q56: deduped corpus drops members via a broadcast anti-join") {
    val p = planString("q56_corpus_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(2000))
  }

  test("q58: binned range join plans as a hash join, never nested-loop") {
    val p = planString("q58_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "raw BETWEEN condition leaked into a nested-loop join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q62: star join pushes the date filter; fact never broadcast when it is big") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // At sf0.001 even lineitem fits under the broadcast threshold (both
    // statically and in AQE's runtime stats) and Spark rightly broadcasts
    // it — size-based planning working as designed. To assert the shape
    // the 100 TB regime gets (dimensions broadcast, fact stays the probe
    // side), pin static planning with a threshold between the pruned fact
    // and dimension size estimates.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val (oldT, oldA) = (spark.conf.get(thresholdKey), spark.conf.get(aqeKey))
    spark.conf.set(thresholdKey, (32 * 1024).toString)
    spark.conf.set(aqeKey, "false")
    try {
      val plan = executed(q("q62_star_join"))
      val p = plan.toString
      assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
        p.take(2000))
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      deepNodes(plan).collect { case b: BroadcastExchangeExec => b }
        .foreach(b => assert(!deepNodes(b).map(_.toString).mkString.contains("lineitem"),
          "fact table inside a broadcast subtree"))
    } finally {
      spark.conf.set(thresholdKey, oldT)
      spark.conf.set(aqeKey, oldA)
    }
  }

  test("q66: EXISTS/NOT EXISTS decorrelate into one semi + one anti join") {
    val plan = executed(q("q66_exists_subquery"))
    val joins = deepNodes(plan).map(_.nodeName).filter(_.contains("Join"))
    val p = plan.toString
    // Decorrelation means the subqueries became exactly two join passes
    // over orders — not per-customer re-execution (no residual subquery
    // nodes in the physical plan).
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(joins.size == 2, s"expected 2 joins, got $joins")
    assert(!p.contains("Subquery"), "correlated subquery survived to the physical plan")
  }

  test("q67: bucketed join has no shuffle exchange on either join side") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    operators.ScaleOps.bucketedPair(spark, sf("sf0.001"))
    // At sf0.001 the dimension fits the broadcast threshold and Spark
    // rightly skips the bucket-aware path; pin it off to assert the shape
    // the 100 TB fact-fact regime gets (same technique as the q62 gate).
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldT = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      import org.apache.spark.sql.functions.col
      val df = spark.table("g67_orders_b")
        .join(spark.table("g67_customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = executed(df)
      val smj = deepNodes(plan).collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge join over bucketed tables:\n${plan.toString.take(2000)}")
      // Bucket-aware scan: each task zips bucket i with bucket i — zero
      // exchanges anywhere under the join.
      val shufflesBelow = smj.flatMap(deepNodes).collect { case s: ShuffleExchangeExec => s }
      assert(shufflesBelow.isEmpty,
        s"bucketed join still shuffles:\n${plan.toString.take(2000)}")
    } finally spark.conf.set(thresholdKey, oldT)
  }

  test("q71/q72: the small side (batch / eval shingles) broadcasts; no SMJ of the corpus") {
    for (name <- Seq("q71_incremental_dedup", "q72_contamination")) {
      val p = planString(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(1500)}")
    }
  }

  test("q75: fuzzy join is an equi-join on the blocking key, never nested-loop") {
    val p = planString("q75_fuzzy_join")
    assert(!p.contains("NestedLoopJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q83: the learned vocabulary broadcasts to the occurrence scan") {
    val p = planString("q83_lm_quality")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), "occurrence stream shuffled for the vocab join: " + p.take(1500))
  }

  test("q91: the persisted IVF index scan is partition-pruned to the probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pruned = deepNodes(executed(q("q91_ann_indexed"))).collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty =>
        f.partitionFilters.mkString(",")
    }
    assert(pruned.exists(s => s.contains("cell") && s.contains(" IN (")),
      s"no cell IN (...) partition filter on the index scan: $pruned")
  }

  test("q156: the BM25 postings scan is partition-pruned to the query terms' buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = deepNodes(executed(q("q156_bm25_served"))).collect {
      case f: FileSourceScanExec => f
    }
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
      .map(_.partitionFilters.mkString(","))
    assert(pruned.exists(s => s.contains("tb") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no tb IN/INSET partition filter on the postings scan: $pruned")
    // the term predicate must also reach the scan (row-group pruning
    // inside a bucket — postings are term-sorted within files)
    assert(scans.exists(_.dataFilters.mkString(",").contains("term")),
      "term filter did not reach the postings scan")
  }

  test("q162: BOTH index scans stay pruned inside the fused hybrid plan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = deepNodes(executed(q("q162_hybrid_rrf"))).collect {
      case f: FileSourceScanExec => f
    }
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
      .map(_.partitionFilters.mkString(","))
    // the BM25 postings tier keeps its term-bucket pruning...
    assert(pruned.exists(s => s.contains("tb") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no tb IN/INSET partition filter on the postings scan in the fused plan: $pruned")
    // ...and the ANN IVF tier keeps its probed-cell pruning — a fusion
    // that silently rescans either corpus would still rank correctly,
    // so only a plan gate catches it
    assert(pruned.exists(s => s.contains("cell") && s.contains(" IN (")),
      s"no cell IN (...) partition filter on the IVF index scan in the fused plan: $pruned")
  }

  test("q166: both STREAMED index tiers stay partition-pruned inside the fused plan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = deepNodes(executed(q("q166_hybrid_stream_rrf"))).collect {
      case f: FileSourceScanExec => f
    }
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
      .map(_.partitionFilters.mkString(","))
    // the streamed postings tier's compacted base keeps tb pruning under
    // its two live deltas...
    assert(pruned.exists(s => s.contains("tb") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no tb IN/INSET partition filter on the streamed postings base: $pruned")
    // ...and the delta-maintained embedding index's compacted base keeps
    // probed-cell pruning under ITS live delta
    assert(pruned.exists(s => s.contains("cell") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no cell IN/INSET partition filter on the embedding base: $pruned")
  }

  test("q167: the BPE-budgeted allocation pass is one joinless, explodeless scan") {
    // the trained merge table ships as literals inside the count
    // projection — a Join or Generate here means the encode regressed to
    // a per-doc join against an encoded frame / an exploded token stream
    val p = planString("q167_mix_bpe_budget")
    assert(!p.contains("Join"), "allocation pass joins: " + p.take(1500))
    assert(!p.contains("Generate"), "allocation pass explodes: " + p.take(1500))
    assert(p.contains("HashAggregate"), p.take(1500))
  }

  test("q168: the IVF scan stays cell-pruned and the re-rank side only broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = executed(q("q168_maxsim_rerank"))
    val pruned = deepNodes(plan).collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty =>
        f.partitionFilters.mkString(",")
    }
    // stage 1 keeps q91's probed-cell pruning inside the composed plan
    assert(pruned.exists(s => s.contains("cell") && s.contains(" IN (")),
      s"no cell IN (...) partition filter on the IVF index scan: $pruned")
    // stage 2's shortlist + query vectors broadcast into the corpus scan —
    // a shuffled join would price the re-rank by corpus size
    val ps = plan.toString
    assert(!ps.contains("SortMergeJoin"),
      "re-rank shuffled a corpus-sized side: " + ps.take(1500))
  }

  test("q163: the folded postings BASE scan is partition-pruned under live deltas") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = deepNodes(executed(q("q163_bm25_stream_serve"))).collect {
      case f: FileSourceScanExec => f
    }
    // the fold unions the compacted tb-partitioned base with the
    // (unpartitioned) live deltas; the tb predicate must reach the BASE
    // side as PARTITION pruning — the steady-state serve cost contract
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
      .map(_.partitionFilters.mkString(","))
    assert(pruned.exists(s => s.contains("tb") &&
        (s.contains(" IN (") || s.contains("INSET"))),
      s"no tb IN/INSET partition filter on the folded base scan: $pruned")
    // the term predicate must reach the scans too (row-group pruning)
    assert(scans.exists(_.dataFilters.mkString(",").contains("term")),
      "term filter did not reach the postings scans")
  }

  test("q93: the hint yields a ShuffledHashJoin, not a sort-merge join") {
    val p = planString("q93_shuffle_hash_join")
    assert(p.contains("ShuffledHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q97: the content digest is one partial+final aggregate (single shuffle)") {
    val plan = executed(q("q97_table_digest"))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // one exchange for the bucket groupBy; the trailing orderBy may add a
    // range exchange — nothing else is allowed to shuffle
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles: ${plan.toString.take(1200)}")
    val p = plan.toString
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(800))
  }

  test("q104/q106/q107: curation windows are all partition-bounded; the shuffle-order carry broadcasts") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("q104_span_merge", "q106_epoch_shuffle", "q107_domain_cap")) {
      val plan = executed(q(name))
      val wins = deepNodes(plan).collect { case w: WindowExec => w }
      assert(wins.nonEmpty, name)
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name plans a single-partition (whole-corpus) window"))
    }
    // the per-(shard, epoch) offset frame joins back as a broadcast
    assert(planString("q106_epoch_shuffle").contains("BroadcastHashJoin"))
  }

  test("q109: mix materialization broadcasts the allocation; corpus path never shuffles") {
    val plan = executed(q("q109_mix_materialize"))
    assert(plan.toString.contains("BroadcastHashJoin"))
    // allowed shuffles: the mixture-table aggregate (one exchange) and the
    // oracle-ordering sort (one range exchange); the corpus scan itself
    // must reach the explode/filter without shuffling
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles")
  }

  test("q114: compaction lag + version lead/row_number share one key shuffle") {
    val plan = executed(q("q114_scd2_dim"))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // one hash exchange on the dimension key serves BOTH window passes
    // (same partitioning, compatible ordering); the trailing oracle
    // orderBy may add one range exchange — nothing else may shuffle
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles: ${plan.toString.take(1200)}")
  }

  test("q115: PIT lookup is an equi-join on the key, never nested-loop") {
    val p = planString("q115_scd2_pit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    assert(p.contains("Join"), p.take(800))
  }

  test("q120: forward + backward gap-fill windows share one key exchange") {
    val plan = executed(q("q120_gap_fill"))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // budget: one hash exchange on the key serves BOTH running windows
    // (the second adds only a re-sort); the grid side needs its own
    // min/max agg exchange pair (partial+final) feeding the union; the
    // trailing oracle orderBy adds one range exchange. Anything beyond
    // that means a window repartitioned per direction — the regression
    // this gate exists to catch.
    assert(shuffles.size <= 5, s"${shuffles.size} shuffles: ${plan.toString.take(1500)}")
    val hashOnKey = shuffles.count(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashOnKey >= 1, plan.toString.take(800))
  }

  test("q119: the change-stream delta aggregates partial+final before the view merge") {
    val p = planString("q119_incremental_agg")
    // map-side combine on the delta: both HashAggregate phases present,
    // and the base-vs-delta merge is a real join (no nested loop).
    assert(p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q121: prefix-filtered candidates verify via doc-keyed joins, never nested-loop") {
    val p = planString("q121_setsim_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q122: filtered ANN joins candidates on (cell, label); probes broadcast") {
    val plan = executed(q("q122_ann_filtered"))
    val p = plan.toString
    // (the 16-row centroid fan-out is a DELIBERATE broadcast nested-loop
    // cross, as in q51 — only an unbounded cartesian would be a defect)
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the candidate join must be a broadcast HASH join keyed on BOTH
    // (cell, label) — label as a join key, not a post-filter — with the
    // corpus side never shuffled for it
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bhj = deepNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.leftKeys.size >= 2) || bhj.exists(_.rightKeys.size >= 2),
      s"no multi-key broadcast hash join found: ${p.take(1200)}")
  }

  test("q123: the band-index probe broadcasts the batch side on the full band key") {
    val plan = executed(q("q123_lsh_incremental"))
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bhj = deepNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    // candidate lookup = hash join on the FULL band key (band, s0..s3) —
    // the index is probed by key, never shuffled for the batch
    assert(bhj.exists(j => j.leftKeys.size >= 3 || j.rightKeys.size >= 3),
      s"no band-key broadcast hash join: ${plan.toString.take(1200)}")
  }

  test("q27: grouped pairs — full-band-key candidate join, no cartesian anywhere") {
    val plan = executed(q("q27_dedup_minhash_lsh"))
    val p = plan.toString
    // the class collapse + member fan-out must never degrade to a
    // nested-loop/cartesian, and the candidate self-join must key on the
    // COMPLETE band key (band + MinHashK/MinHashBands slots = 5 columns) —
    // a refactor that drops slots from the key silently floods the verify
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    val keyCounts = deepNodes(plan).collect {
      case j: SortMergeJoinExec => j.leftKeys.size
      case j: BroadcastHashJoinExec => j.leftKeys.size
      case j: ShuffledHashJoinExec => j.leftKeys.size
    }
    val full = 1 + graft.operators.Dedup.MinHashK / graft.operators.Dedup.MinHashBands
    assert(keyCounts.exists(_ >= full),
      s"no full-band-key ($full-column) join: ${p.take(1200)}")
  }

  test("q124: the λ-table joins broadcast; no feature-keyed corpus shuffle") {
    val plan = executed(q("q124_dsir"))
    val p = plan.toString
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bhj = deepNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"λ join not broadcast: ${p.take(1200)}")
    // the per-doc weight sum must partial-aggregate before its exchange
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no partial aggregation in: ${p.take(1200)}")
  }

  test("q127: hourly agg partial+final, z-window on one key exchange") {
    val plan = executed(q("q127_anomaly_zscore"))
    val p = plan.toString
    // map-side combine to the hourly grain before any exchange
    assert(p.contains("HashAggregate") && p.contains("partial"), p.take(1200))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // budget: one hash exchange for the hourly aggregate, one for the
    // per-key window (n/s/s2 all ride the SAME frame), one range exchange
    // for the oracle orderBy — a fourth means a window repartitioned per
    // statistic
    assert(shuffles.size <= 3, s"${shuffles.size} shuffles: ${p.take(1500)}")
  }

  test("q128: neighbor candidates are an equi-join on the block id; offsets broadcast") {
    val plan = executed(q("q128_sorted_neighborhood"))
    val p = plan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // rank offsets (per-shard counts) must broadcast into the rank join,
    // and the block-banded candidate join must be a hash join — a
    // nested-loop on the rank inequality is the n² shape this operator
    // exists to avoid
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    assert(deepNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q129: signatures aggregate partial+final; shingle frames never self-join") {
    val plan = executed(q("q129_source_overlap"))
    val p = plan.toString
    // the only pairwise work is over the sources×k signature table (a
    // deliberate tiny broadcast cross); the (source, shingle) frame must
    // aggregate with map-side combine and never sort-merge against itself
    assert(p.contains("HashAggregate") && p.contains("partial"), p.take(1200))
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    assert(!deepNodes(plan).exists(_.isInstanceOf[SortMergeJoinExec]), p.take(1500))
  }

  test("q130: idf broadcasts into the score join; top-k window is per-doc") {
    val plan = executed(q("q130_tfidf_keywords"))
    val p = plan.toString
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    assert(deepNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"idf join not broadcast: ${p.take(1200)}")
    // no global (empty-partition) window anywhere — the ranking must
    // partition by doc_id
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q137: the cluster map broadcasts into one corpus scan; argmax windows per cluster") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = executed(q("q137_dedup_survivor"))
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    val wins = deepNodes(plan).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      "survivor argmax plans a single-partition window"))
  }

  test("q138: attribution is join-free — one user window + a matrix-sized aggregate") {
    val plan = executed(q("q138_attribution"))
    val p = plan.toString
    assert(!p.contains("Join"), p.take(1500))
    val shuffles = deepNodes(plan).collect { case s: ShuffleExchangeExec => s }
    // one hash exchange on the user key for the RANGE window, one for the
    // (first, last) matrix aggregate, one range exchange for the oracle
    // orderBy — nothing else may shuffle
    assert(shuffles.size <= 3, s"${shuffles.size} shuffles: ${p.take(1200)}")
  }

  test("q139: the seasonal profile joins back as a broadcast; the series never re-shuffles for it") {
    val plan = executed(q("q139_seasonal_anomaly"))
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q140/q141/q142: fingerprint candidates are equi-joins on hash keys, never nested-loop") {
    for (name <- Seq("q140_image_phash", "q141_audio_fingerprint",
        "q142_video_shingle")) {
      val p = planString(name)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$name: ${p.take(1200)}")
      assert(p.contains("Join"), s"$name plans no join at all")
    }
  }

  test("q147/q153: the persisted fingerprint/frame index scans are partition-pruned to the probed buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (name <- Seq("q147_media_index_serve", "q153_video_index_serve")) {
      val pruned = deepNodes(executed(q(name))).collect {
        case f: FileSourceScanExec if f.partitionFilters.nonEmpty =>
          f.partitionFilters.mkString(",")
      }
      // a small probe list renders as `pk IN (…)`, a larger one as
      // `pk INSET …` — both are static partition pruning
      assert(pruned.exists(s => s.contains("pk") &&
          (s.contains(" IN (") || s.contains("INSET"))),
        s"$name: no pk IN/INSET partition filter on the index scan: $pruned")
    }
  }

  test("Bench.planShape strips WholeStageCodegen's stage id") {
    // The id is a counter whose values follow AQE's stage-materialization
    // order, not the plan: two runs of one query can number the same tree
    // differently. Renumbering a stage of an executed plan must not move
    // its canonical shape (and so the bench's plan fingerprint).
    val stage = deepNodes(executed(q("q3_revenue_by_nation")))
      .collectFirst { case w: WholeStageCodegenExec => w }.get
    val renumbered = stage.copy()(codegenStageId = stage.codegenStageId + 100)
    assert(renumbered.toString != stage.toString)
    assert(Bench.planShape(renumbered) == Bench.planShape(stage))
  }

  test("no Cartesian surprises across the whole corpus") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // a refusal is an operator declining work past its scale contract;
      // any other throw fails the case
      val p = try planString(name) catch {
        case _: graft.util.ContractRefusal => ""
        case e: Throwable => fail(s"$name threw", e)
      }
      // Cartesian products are only legitimate in the explicit all-pairs
      // baselines (q28 embedding near-dup) and tiny broadcast crosses.
      if (p.contains("CartesianProduct") && name != "q28_dedup_embedding")
        Some(name)
      else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
