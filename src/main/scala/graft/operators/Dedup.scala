package graft.operators

import graft.{Query, Tables}
import graft.util.TextPrep._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (north-star ops,
  * `/root/repo/BASELINE.json`): exact, n-gram Jaccard, SimHash, MinHash-LSH,
  * embedding-cosine. Library API first (`DataFrame → DataFrame`
  * transformers), with the driver-facing query corpus at the bottom.
  *
  * Scale design (100 TB):
  *  - everything is joins/aggregations on shingle or band keys — no
  *    all-pairs work outside an explicit small-N baseline;
  *  - stop-shingles (doc frequency > `maxShingleDf`) are dropped BEFORE the
  *    pair join: frequent shingles are exactly the skew keys that would
  *    quadratically blow up a shingle-share join at scale, and they carry no
  *    dedup signal;
  *  - SimHash banding is EXACT by pigeonhole (hamming ≤ 3 with 4 bands ⇒
  *    some band equal), so the scale path loses nothing vs all-pairs;
  *  - MinHash-LSH (64 hashes, 16 bands × 4 rows, [[MinHashBands]]) is the
  *    probabilistic scale path for Jaccard. The banding S-curve midpoint
  *    sits at t* = (1/16)^(1/4) = 0.50 — the operators' default threshold.
  *    Candidate-recall contract (1 − (1−J⁴)¹⁶): ~64 % at J = 0.5, ~89 %
  *    at 0.6, ~99.8 % at 0.75, ~1 − 4·10⁻⁸ at 0.9 — pairs just above the
  *    threshold ARE missed ~1/3 of the time; that is the price of not
  *    verifying the moderate-J candidate flood a lower t* admits (the
  *    measured 100× quadratic, see [[MinHashBands]]). Recall is pinned by
  *    a spec (DedupSpec "LSH candidate recall tracks the banding
  *    S-curve"); candidates are verified with exact Jaccard so precision
  *    is 1.
  *
  * Caching contract: multiply-consumed BOUNDED intermediates (shingle-set
  * frames consumed by both the band join and the verify join) are either
  * `cache()`d lazily — the cache lives until the session clears it
  * (Verify/Bench `clearCache` between queries; [[minhashLshPairs]] pins
  * THREE such frames per call — `classes`, `docSets` and the class-member
  * map `mem` — so a long-lived session calling it repeatedly must
  * `spark.catalog.clearCache()` between calls, exactly as the harness
  * mains do) — or eagerly
  * `localCheckpoint()`ed on per-trigger paths ([[lshIndexProbe]] /
  * CurationStream), whose blocks self-release via ContextCleaner so a
  * long-running stream pins nothing.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Keep the lowest id per exact-duplicate group of `col`. Deterministic
    * representative selection (min id), unlike `dropDuplicates` whose
    * survivor depends on partition order.
    */
  def exact(df: DataFrame, dupKey: Column, id: Column): DataFrame =
    df.groupBy(md5(dupKey).as("dup_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("group_size"))

  // ------------------------------------------------ n-gram Jaccard (exact)

  /** Distinct n-gram shingle HASHES per doc, with stop-shingles removed.
    * All downstream joins/groupBys key on the 48-bit hash, not the shingle
    * string — an 8-byte shuffle key instead of a ~20-40 byte string (the
    * shuffle volume IS the cost of dedup at 100 TB). Collision probability
    * ~(shingles per doc)²/2⁴⁹ per pair — negligible, and mirrored exactly
    * in the oracle which hashes the same way.
    * The df-filter join is an inner join against a small aggregate — Spark
    * broadcasts it when small, and at scale it is a shuffle on the hash key
    * with partial aggregation (map-side combine) doing most of the work.
    */
  private def filteredShingles(docs: DataFrame, textCol: String, idCol: String,
                               n: Int, maxDf: Int): DataFrame = {
    // Single native expression (tokenize→shingle→hash in one JVM loop per
    // row); bit-identical to the composable HOF pipeline (TextHashSpec)
    // and ~3× faster — interpreted per-element lambdas were the profile's
    // hot spot.
    val sh = docs
      .select(col(idCol).as("doc"),
        explode(array_distinct(
          graft.functions.TextHashFunctions.hashedShingles(col(textCol), n))).as("sh"))
    val ok = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    sh.join(ok.select("sh"), "sh")
  }

  /** Scale-free form of the shingle df cap: a document-frequency FRACTION
    * with a small-corpus floor. 4e-3 reproduces the tuned cap 20 at the
    * 5 000-doc test corpus and keeps the guard's selectivity constant as
    * the corpus grows — the knob every df-capped operator here
    * ([[ngramJaccardPairs]], [[minhashLshPairs]], [[minhashSignatures]])
    * should be fed at scale (BENCH_sf1 measures why: a fixed absolute cap
    * empties the pair graph at 10×).
    */
  def dfCapFor(nDocs: Long, frac: Double = 4e-3, floor: Int = 20): Int =
    math.max(floor, math.round(nDocs * frac).toInt)

  /** Exact near-duplicate pairs by n-gram-shingle Jaccard ≥ `threshold`,
    * candidates generated by the shingle-share join (a pair is compared only
    * if it shares ≥ 1 surviving shingle — which any pair above a positive
    * threshold must).
    *
    * `maxShingleDf` is the skew guard: shingles held by more documents are
    * dropped BEFORE the pair join (stop-shingles pair everything with
    * everything). The cap is an ABSOLUTE document count, so it must scale
    * with the corpus — at 10× the documents a shingle's df grows ~10× while
    * its discriminative power is unchanged, and a fixed cap silently turns
    * from a skew guard into a corpus filter (measured directly in
    * BENCH_sf1: cap 20 at 50 k docs empties the pair graph; cap 200
    * reproduces sf0.1 behavior). At 100 TB, derive it from corpus size
    * (e.g. df ≤ N_docs × 4e-3) rather than hardcoding.
    *
    * SCALE RULE (measured, BENCH_sf3): with the cap ∝ corpus the shingle
    * join's candidate volume is Σ df² — quadratic on shingle spaces dense
    * enough that df grows with n (10×→30× leg exponent 2.0–2.4). Exact
    * pairs are therefore the BOUNDED-corpus construction; at scale,
    * generate candidates with [[minhashLshPairs]] (banded LSH + exact
    * verify — same ≥-threshold contract, leg exponent ≤ ~1.0) and feed
    * those pairs to clustering/dedup.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Int = 20): DataFrame = {
    val sh = filteredShingles(docs, textCol, idCol, n, maxShingleDf).cache()
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("sz"))
    // Deliberately the shingle self-join. A per-shingle basket rewrite
    // (groupBy(sh).collect_list(doc) + in-row pair explode) was tried in
    // r13 and REVERTED on 10× evidence: collect_list plans as
    // ObjectHashAggregate, which sort-falls-back past 128 keys — at sf1's
    // millions of distinct shingles the probe ran 103.7 s vs this form's
    // 24–46 s (cap 200, identical checksums), while the sf0.1 win was
    // only ~0.6 s. See Graph.coOccurrenceEdges for the same finding.
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
      .withColumn("jaccard", col("i") / (col("sza") + col("szb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard-threshold self-join via prefix filtering (AllPairs /
    * PPJoin candidate generation) — the third point in the near-dup design
    * space: [[ngramJaccardPairs]] is exact but needs the df CAP (drops
    * stop-shingle signal and bounds the corpus), [[minhashLshPairs]] scales
    * but is probabilistic; this is exact with NO tuning knob.
    *
    * Every document's distinct shingle hashes are ordered by ascending
    * global document frequency (ties by hash — one total order for the
    * whole corpus); only each doc's PREFIX (its `|d| − ⌈t·|d|⌉ + 1` rarest
    * shingles) enters the inverted-index join. The prefix-filtering lemma
    * guarantees any pair with Jaccard ≥ t shares a prefix token, so
    * candidates are a superset of the answer; the exact intersection of the
    * two full hash arrays then verifies each candidate.
    *
    * Scale honesty (measured, BENCH_sf3.md): the candidate join's volume is
    * Σ over tokens of (prefix-df)², and df-ascending ordering MINIMIZES it
    * among prefix choices — but when the shingle vocabulary saturates (the
    * regime of any real web corpus: vocab grew 9% while the corpus grew 10×
    * on the study replicas), per-token dfs grow ∝ corpus and the volume is
    * Ω(n²) at fixed threshold: 0.43 M candidates at 1× → 47 M at 10× →
    * ~0.4 B at 30× (OOM). No inverted-index exact join escapes this —
    * prefix filtering is a ~4× CONSTANT-factor saving over the full
    * shingle-share join, not an exponent saving; and unlike the
    * count-aggregated q24 join, the verify step ships both hash arrays per
    * surviving candidate, so a dfCapFor-scaled `maxDf` (which at 30× barely
    * binds: cap 600 vs max df ~750) does NOT rescue it either — measured
    * OOM in both configurations. Production routing: run this exactly on
    * bounded corpora / within blocks (`maxDf` is a skew guard there, with
    * q24's capped-Jaccard contract), and generate 100 TB candidates with
    * [[minhashLshPairs]] + exact verify.
    * Verification here fetches each doc's hash array by two hash
    * joins keyed on doc id (arrays travel once per CANDIDATE, not per
    * shared token); the length filter (`t ≤ min/max size`) prunes before
    * the arrays move.
    *
    * `maxCandEstimate` bounds the contract: the candidate volume
    * Σ (prefix-df choose 2) is estimated up front and the operator
    * throws [[graft.util.ContractRefusal]] above the bound (default
    * 2·10⁸ ≈ the largest volume this host verifiably survives — the 10×
    * corpus ran 4.7·10⁷ in 16 s; the 30× corpus's ~10⁹ died at >79 GB
    * of spill before the guard existed).
    */
  def setSimJoinPrefix(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxDf: Option[Int] = None,
                       maxCandEstimate: Long = 200000000L): DataFrame = {
    val toksAll = docs.select(col(idCol).as("doc"),
      explode(array_distinct(
        graft.functions.TextHashFunctions.hashedShingles(col(textCol), n))).as("tok"))
    val dfreqAll = toksAll.groupBy("tok").agg(count(lit(1)).as("df"))
    // Optional df guard (capped-Jaccard semantics, the q24 contract):
    // saturated shingles leave BOTH the prefix and the verified sets, so
    // the join stays exact over the FILTERED sets.
    val (toks, dfreq) = maxDf match {
      case Some(cap) =>
        val ok = dfreqAll.filter(col("df") <= cap)
        (toksAll.join(ok.select("tok"), "tok"), ok)
      case None => (toksAll, dfreqAll)
    }
    val perDoc = toks.join(dfreq, "tok")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc"),
        transform(col("ord"), s => s.getField("tok")).as("ts"),
        size(col("ord")).as("sz"))
      // ceil(t·n) via doubles can overshoot the true ceiling when t·n lands
      // an ulp above an integer (e.g. 0.3·10); the ε keeps both the prefix
      // length and the length filter on the CONSERVATIVE side — never
      // stricter than the mathematical bound, so no pair can be missed.
      .withColumn("plen",
        col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)).cast("int") + 1)
      // perDoc feeds four consumers (both prefix sides + both verify
      // fetches); without the cache the tokenize+df+collect pipeline runs
      // four times. At cluster scale, persist to MEMORY_AND_DISK or a
      // checkpoint table instead.
      .cache()
    val prefix = perDoc.select(col("doc"), col("sz"),
      explode(slice(col("ts"), lit(1), col("plen"))).as("ptok"))
    // Contract guard: candidate volume is Σ_tok (prefix-df choose 2) —
    // computable for one vocab-sized aggregate BEFORE the join runs. The
    // 30× full-corpus run (BENCH_sf3.md) killed the unguarded join with
    // ENOSPC after >79 GB of sort spill; past the bound this operator
    // REFUSES with the scale path named instead of dying mid-shuffle.
    // The estimate is an upper bound (pre-distinct, pre-length-filter),
    // so the refusal is conservative; the guard costs one small job on
    // every call (≈0.3 s at sf0.1 — the price of a bounded contract).
    val candEst = prefix.groupBy(col("ptok")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(((col("c") * (col("c") - 1)) / 2).cast("long")),
        lit(0L)).as("cand"))
      .head().getLong(0)
    if (candEst > maxCandEstimate)
      throw new graft.util.ContractRefusal(
        s"setSimJoinPrefix: estimated candidate volume $candEst exceeds " +
        s"the exact-join bound $maxCandEstimate (Ω(n²) by contract — " +
        "prefix filtering is a constant-factor saving, not an exponent " +
        "saving); route this corpus through Dedup.minhashLshPairs " +
        "(banded LSH + exact verify) or run exactly within blocks")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.doc") < col("b.doc") &&
        least(col("a.sz"), col("b.sz")) >=
          ceil(greatest(col("a.sz"), col("b.sz")) * lit(threshold) - lit(1e-9)))
      .select(col("a.doc").as("da"), col("b.doc").as("db")).distinct()
    val pa = perDoc.select(col("doc").as("da"), col("ts").as("ta"), col("sz").as("sza"))
    val pb = perDoc.select(col("doc").as("db"), col("ts").as("tb"), col("sz").as("szb"))
    cand.join(pa, "da").join(pb, "db")
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard", col("i") * lit(1.0) / (col("sza") + col("szb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Boilerplate n-gram detection (C4/RefinedWeb-style substring-level
    * dedup): a POSITIONAL n-gram occurring in ≥ `minDf` distinct documents
    * is boilerplate (navigation chrome, license headers, templated spans);
    * each doc reports how many of its occurrences are boilerplate and the
    * flagged fraction — the signal substring-removal pipelines cut on.
    *
    * Scale shape: identical to q83's two-pass — one map-side-combinable df
    * shuffle over 8-byte hashed shingles, the flagged set broadcast into
    * the positional occurrence scan, one per-doc re-aggregation. Docs
    * shorter than n tokens have no n-grams and emit nothing.
    */
  def boilerplateNgrams(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 5, minDf: Int = 5): DataFrame = {
    val occ = docs.select(col(idCol).as("doc"),
      explode(graft.functions.TextHashFunctions.hashedShingles(col(textCol), n)).as("sh"))
    val flagged = occ.select(col("doc"), col("sh")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("sh"))
    occ.join(broadcast(flagged.withColumn("_hit", lit(1))), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_ngrams"), count(col("_hit")).as("n_boiler"))
      .select(col("doc"), col("n_ngrams"), col("n_boiler"),
        round(col("n_boiler") * lit(1.0) / col("n_ngrams"), 6).as("boiler_frac"))
  }

  /** Exact duplicated-span detection — the "ExactSubstr" dedup of Lee et
    * al. 2022 (Deduplicating Training Data Makes Language Models Better),
    * re-expressed for a distributed tokenized corpus without the paper's
    * monolithic suffix array: every k-token window whose exact text occurs
    * ≥ minOcc times ANYWHERE in the corpus is flagged, and every occurrence
    * except the lexicographically-first (doc_id, pos) is reported as a
    * removal instruction. Differs from [[boilerplateNgrams]] (q87), which
    * scores documents by the per-document FREQUENCY of their n-grams; this
    * is positional — which exact spans of which documents to cut.
    *
    * Shape: token-window explode (one row per corpus token, the honest
    * floor for any-position matching), ONE map-side-combinable groupBy for
    * (occurrence count, first occurrence) and one shuffle join back.
    * Deliberately no window functions: a corpus-hot span (boilerplate
    * headers) would concentrate into one giant window partition, while the
    * groupBy partial-aggregates it map-side.
    *
    * `hashKeys` is the 100 TB configuration: key the groupBy and the join
    * back by `xxhash64(span)` instead of the span text — the shuffle key
    * drops from ~6·k bytes to 8 and the span text is pruned out of BOTH
    * shuffles entirely (the output then carries `(doc_id, pos, n_occ)`,
    * which is all a cut list needs — [[Curation.mergedDuplicateSpans]]
    * never reads the text). Collision odds ~n²/2⁶⁵ on the token-window
    * count. The default keeps exact string keys so the DuckDB oracle
    * (q103) verifies span-text semantics bit-for-bit; at real scale also
    * raise k toward the paper's 50 tokens so far fewer windows qualify.
    */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                      k: Int = 10, minOcc: Int = 2,
                      hashKeys: Boolean = false): DataFrame = {
    val spansText = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - lit(k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("ts"), col("pos"), lit(k)), " ").as("span"))
    val spans =
      if (hashKeys) spansText.select(col("doc_id"), col("pos"),
        xxhash64(col("span")).as("sk"))
      else spansText.withColumn("sk", col("span"))
    // min(struct(doc_id, pos)) DOES plan SortAggregate (struct buffer —
    // the ArgMax.rescoreArgmax story), and is deliberately kept here: the
    // sorted rows are key-only (sk, doc_id, pos — no payload), the
    // lexicographic two-field min has no single-column rescore form (the
    // rescore alternative doubles the span scan AND adds a spans-volume
    // join), and the q103/q104 study legs hold with the sort in place.
    val stats = spans
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first_occ"))
      .filter(col("n_occ") >= minOcc)
    val flagged = spans.join(stats, "sk")
      .filter(!(col("doc_id") === col("first_occ.doc_id") &&
                col("pos") === col("first_occ.pos")))
    if (hashKeys) flagged.select(col("doc_id"), col("pos"), col("n_occ"))
    else flagged.select(col("doc_id"), col("pos"), col("sk").as("span"), col("n_occ"))
  }

  // ------------------------------------------------------------ SimHash

  val SimHashBits = 48 // fits positive in BIGINT in Spark AND DuckDB

  /** 48-bit SimHash per document over its distinct-token set: bit b is set
    * iff the ±1 vote sum of token-hash bit b is positive. Computed by the
    * fused native expression ([[graft.functions.SimHash48]]) — a pure
    * map-side scan, no token explode/shuffle; DedupSpec pins it against
    * the aggregate formulation, the oracle SQL against DuckDB.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.TextHashFunctions.simhash48(col(textCol)).as("simhash"))

  /** The explode + 48-column aggregate formulation of [[simhash]] (kept as
    * the cross-check reference implementation; see DedupSpec).
    */
  private[graft] def simhashViaAggregate(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
      explode(array_distinct(tokens(col(textCol)))).as("t"))
    val h = tok.withColumn("h", h48(col("t")))
    val voteCols = (0 until SimHashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val votes = h.groupBy("doc").agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until SimHashBits).map { b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col("doc"), sim.as("simhash"))
  }

  /** DuckDB twin of [[simhash]] (machine-generated SQL). */
  def simhashOracleSql(table: String, textCol: String, idCol: String): String = {
    val votes = (0 until SimHashBits).map(b =>
      s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
    val bits = (0 until SimHashBits).map(b =>
      s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT $idCol AS doc, unnest(list_distinct(${sqlTokens(textCol)})) AS t FROM $table),
        h AS (SELECT doc, ${sqlH48("t")} AS h FROM tok),
        v AS (SELECT doc, $votes FROM h GROUP BY doc)
        SELECT doc, $bits AS simhash FROM v"""
  }

  /** Near-duplicate pairs with SimHash hamming distance ≤ `maxHamming`,
    * found by LSH banding that is EXACT here: with `maxHamming + 1` bands, a
    * pair within distance `maxHamming` must agree on at least one whole band
    * (pigeonhole), so banding only prunes true negatives. One equi-join on
    * (band index, band value) replaces the all-pairs scan.
    *
    * Scale contract (`maxCandEstimate`, the [[setSimJoinPrefix]]
    * pattern): exactness has a STRUCTURAL chance-collision term — with
    * `bandBits`-wide bands, unrelated documents share a band value at
    * ~n²·nBands/2^bandBits (12-bit bands here: n²/1024), and no fixed
    * fingerprint width can make an exact pigeonhole path sub-quadratic
    * forever (the 30× full corpus measured q26 at 5.3× for the 3×
    * 10×→30× leg as this term took over). The band-bucket candidate
    * volume Σ (bucket-df choose 2) is computed up front (one aggregate
    * over the banded frame — the simhash pass is checkpointed, so the
    * pair join does not recompute it) and the operator throws
    * [[graft.util.ContractRefusal]] above the bound, naming
    * [[minhashLshPairs]] (probabilistic, S-curve-contracted) as the
    * scale path for corpora past exactness's reach. Default calibrated
    * against measured volumes (archived in BENCH_sf3.md): 3.9·10⁶ /
    * 2.8·10⁸ / 2.6·10⁹ at 1×/10×/30× — the 30× volume verifiably ran
    * (42 s, ~62 GB through the join); a 100× corpus's ~2.9·10¹⁰
    * (~700 GB) is the q121 spill-death mode and refuses.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxCandEstimate: Long = 4000000000L): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = SimHashBits / nBands
    val sh = simhash(docs, textCol, idCol).localCheckpoint(true)
    val bands = sh.select(col("doc"), col("simhash"),
      explode(array((0 until nBands).map { i =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), i * bandBits)
            .bitwiseAND((1L << bandBits) - 1).as("value"))
      }: _*)).as("bd"))
      .select(col("doc"), col("simhash"), col("bd.band"), col("bd.value"))
    val candEst = bands.groupBy(col("band"), col("value"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(((col("c") * (col("c") - 1)) / 2).cast("long")),
        lit(0L)).as("cand"))
      .head().getLong(0)
    if (candEst > maxCandEstimate)
      throw new graft.util.ContractRefusal(
        s"simhashPairs: estimated band-bucket candidate volume $candEst " +
        s"exceeds the exact-pigeonhole bound $maxCandEstimate (chance " +
        s"band collisions grow ~n²·${nBands}/2^$bandBits — a fixed " +
        "fingerprint width cannot stay sub-quadratic); route this corpus " +
        "through Dedup.minhashLshPairs (banded LSH + exact verify) or " +
        "run exactly within blocks")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.value") === col("b.value") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------ MinHash-LSH

  val MinHashK = 64

  /** Band count is the precision/recall knob of every LSH operator here:
    * with `r = MinHashK / MinHashBands` rows per band, the candidate
    * S-curve's midpoint sits at t* = (1/b)^(1/r). 16 bands × 4 rows puts
    * t* = (1/16)^(1/4) = **0.50 — exactly the operators' default Jaccard
    * threshold**. The previous 32 bands × 2 rows put t* at 0.146: every
    * pair with Jaccard ≥ ~0.15 became a candidate with ≥ 50 % probability
    * — invisible on corpora whose non-dup pairs sit near J = 0 (all three
    * study points to 30×), and a measured quadratic at the 100× point,
    * where the replicated corpus carries real moderate-J mass (q27
    * 15 s → 281 s, leg 2.5, with the exact-Jaccard verify of the
    * low-J candidate flood as the cost). Candidate probability
    * 1 − (1−J⁴)¹⁶ at J = 0.15 is now 0.8 % (was ~52 %), at J = 0.3 is
    * 12 %, at 0.5 (= t*) 64 %, at 0.6 ~89 %, at 0.75 ~99.8 %, at 0.9
    * ~1 − 4·10⁻⁸ — measured against exact ground truth in DedupSpec
    * "LSH candidate recall tracks the banding S-curve". Both the engine
    * and every machine-generated DuckDB oracle derive banding from THIS
    * constant, so the recall contract stays engine-exact on both sides.
    */
  val MinHashBands = 16 // 4 rows per band: t* = (1/16)^(1/4) = 0.50
  private[graft] val MersenneP = (1L << 61) - 1

  /** Deterministic hash-family coefficients: FULL-RANGE a ∈ [1, p−1],
    * b ∈ [0, p−1] (small deterministic LCG). Full-range multipliers are
    * load-bearing, not cosmetic: the previous a ∈ [1, 2¹²] fit
    * `a·h48 + b` in a Long but wraps mod p at most once, so all 64 "hash
    * functions" were mostly order-preserving — the no-wrap slots of every
    * signature picked the SAME global-min shingle, slots agreed or
    * disagreed together, and realized recall collapsed far below the
    * banding S-curve (a planted J = 0.9 pair produced zero band
    * collisions). The product is now computed exactly mod p via
    * [[graft.functions.MinHashMod.mulAddModP]] (128-bit multiply +
    * Mersenne fold); DuckDB oracles compute the same value in int128:
    * `((sh::HUGEINT*a+b)%p)::BIGINT`. Recall is pinned to the S-curve by
    * DedupSpec "LSH candidate recall tracks the banding S-curve".
    */
  private[graft] val minhashCoeffs: Seq[(Long, Long)] = {
    var s = 0x5DEECE66DL
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 11 }
    // next() yields 53-bit values; splice two draws for 61-bit range
    def next61(): Long = ((next() << 30) ^ next()) & MersenneP
    (0 until MinHashK).map { _ =>
      (next61() % (MersenneP - 1) + 1, next61() % MersenneP) }
  }

  /** Fingerprint of the full LSH configuration — k, banding, modulus AND
    * the hash-family coefficients — that a PERSISTED index or view was
    * built under. Changing any of them (the round-9 32×2 → 16×4 retune,
    * the round-10 full-range-multiplier family fix) silently invalidates
    * every stored signature/band row: band keys stop colliding and probes
    * return wrong emptiness instead of an error. Maintainers of persisted
    * LSH state ([[graft.streaming.CurationStream]]) commit this string as
    * the layout of their group manifest ([[graft.util.DeltaView.Group]]),
    * so a mismatch fails loudly with "rebuild required" instead of a
    * schema/join failure.
    */
  val bandingStamp: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val coeffs = minhashCoeffs.map { case (a, b) => s"$a:$b" }.mkString(",")
    val fp = md.digest(s"$MinHashK|$MinHashBands|$MersenneP|$coeffs"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
    s"k=$MinHashK,bands=$MinHashBands,family=$fp"
  }

  /** MinHash signatures as one `sig` array column per doc, computed by the
    * [[graft.functions.MinHashSigAgg]] TypedImperativeAggregate — one
    * primitive-array buffer and one tight loop per row instead of 64
    * separate min-agg slots. `sh` = pre-filtered (doc, shingle-hash) pairs
    * from [[filteredShingles]] — pass a cached frame to share the scan
    * with verification.
    */
  private def signaturesFrom(sh: DataFrame): DataFrame =
    sh.groupBy("doc").agg(
      graft.functions.MinHashSigAgg.sig(col("sh"), minhashCoeffs, MersenneP).as("sig"))

  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, maxShingleDf: Int = 20): DataFrame =
    signaturesFrom(filteredShingles(docs, textCol, idCol, n, maxShingleDf))

  /** 64-separate-min-aggregates formulation, kept as the cross-check
    * reference for the imperative aggregate (see DedupSpec). The slot value
    * needs an exact 128-bit `(a·h+b) mod p` (full-range `a` overflows Long
    * Column arithmetic), so each slot goes through a scalar UDF — fine for
    * a test-only reference path, never a hot path.
    */
  private[graft] def minhashSignaturesViaMins(docs: DataFrame, textCol: String,
                                              idCol: String, n: Int = 3,
                                              maxShingleDf: Int = 20): DataFrame = {
    val sh = filteredShingles(docs, textCol, idCol, n, maxShingleDf)
    val slot = udf((h: Long, a: Long, b: Long) =>
      graft.functions.MinHashMod.mulAddModP(h, a, b))
    val mins = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      min(slot(col("sh"), lit(a), lit(b))).as(s"m$j")
    }
    sh.groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  /** Near-duplicate pairs via MinHash-LSH candidates + exact-Jaccard verify.
    * Probabilistic recall per the 16×4 S-curve (~64 % at J = 0.5, ~89 %
    * at 0.6, ~99.8 % at 0.75 — see the object header and [[MinHashBands]]),
    * exact precision. The scale
    * path for Jaccard dedup: cost is one signature computation plus a join
    * on band keys — never quadratic in corpus size.
    *
    * Plan shape: the shingle stream is aggregated ONCE into per-CLASS
    * (distinct-text) sorted shingle-set arrays; signatures ([[
    * graft.functions.MinHashSigArr]], a map-side loop), set sizes and the
    * exact candidate verification (`array_intersect` on the two arrays) all
    * derive from that cached 1-row-per-class frame, and member pairs fan
    * out of the class verdicts (see the body comment). Band keys are the
    * RAW signature slots (a 16-byte struct, not a string and not a lossy
    * hash), so the candidate set is exactly reproducible — which is what
    * lets the driver verify this op against a DuckDB oracle
    * ([[minhashLshOracleSql]]) instead of a rows-only check.
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, threshold: Double = 0.5,
                      maxShingleDf: Int = 20): DataFrame = {
    // GROUP-IDENTICAL-FIRST (q143's media contract ported to text): exact-
    // duplicate classes (md5 of text) collapse to one REPRESENTATIVE before
    // any signature/banding/verify work, and member pairs fan back out of
    // the class-level verdicts — so a c-copy boilerplate class costs one
    // doc's worth of signature work and ZERO candidate verifies instead of
    // c² of each, in RAW calls, not just in compositions that remember to
    // exact-dedup first. Semantics are BIT-IDENTICAL to the per-doc form
    // (minhashLshPairsUngrouped, equality spec-gated in DedupSpec):
    //  - df statistics stay per-DOCUMENT (class-weighted sums), so the
    //    stop-shingle universe is unchanged;
    //  - identical texts have identical signatures, so class A × class B
    //    member pairs band-collide iff the reps do, with the same jaccard;
    //  - intra-class pairs are J = 1 by construction and are emitted
    //    exactly when the per-doc form emits them (the class's filtered
    //    shingle set is non-empty — an all-stop-shingle class has no
    //    signature rows in either form).
    // Collapse FIRST, hash ONCE PER CLASS: the class groupBy shuffles
    // (md5, id, text) — comparable bytes to the per-doc shingle-hash
    // stream it replaces — and the expensive part (an MD5 per 3-gram
    // shingle in hashedShingles) then runs once per DISTINCT text instead
    // of once per document, so the grouped form is not slower even on a
    // duplicate-free corpus.
    val classes = docs
      .groupBy(md5(col(textCol)).as("cls"))
      .agg(min(col(idCol)).as("doc"), count(lit(1)).as("csize"),
        first(col(textCol)).as("_t")) // texts identical within a class
      .select(col("cls"), col("doc"), col("csize"),
        array_distinct(graft.functions.TextHashFunctions
          .hashedShingles(col("_t"), n)).as("hs"))
      .cache()
    val repSh = classes.select(col("doc"), col("csize"),
      explode(col("hs")).as("sh"))
    // weighted df = per-DOCUMENT df exactly (csize copies carry each sh)
    val ok = repSh.groupBy("sh").agg(sum(col("csize")).as("df"))
      .filter(col("df") <= maxShingleDf).select("sh")
    val docSets = repSh.select("doc", "sh").join(ok, "sh")
      .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("shs"))
      .cache()
    val mem = docs.select(md5(col(textCol)).as("cls"), col(idCol).as("m"))
      .cache()
    val repPairs = lshVerifiedPairs(docSets, threshold)
    // fan the class-level verdicts back out to members
    val repCls = classes.select(col("doc").as("r"), col("cls"))
    def side(s: String) = repCls
      .withColumnRenamed("r", s"doc_$s").withColumnRenamed("cls", s"cls_$s")
      .join(mem.select(col("cls").as(s"cls_$s"), col("m").as(s"m_$s")), s"cls_$s")
    val cross = repPairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("jaccard"))
    val intra = classes.filter(col("csize") >= 2)
      .join(docSets.select(col("doc")), Seq("doc"), "left_semi")
      .select("cls")
      .join(mem.select(col("cls"), col("m").as("m_a")), "cls")
      .join(mem.select(col("cls"), col("m").as("m_b")), "cls")
      .filter(col("m_a") < col("m_b"))
      .select(col("m_a").as("doc_a"), col("m_b").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Banded candidates + exact-Jaccard verify over a 1-row-per-doc sorted
    * shingle-set frame — the shared tail of [[minhashLshPairs]] (where the
    * rows are class representatives) and [[minhashLshPairsUngrouped]].
    * `docSets` should arrive cached: the band join and both verify joins
    * consume it.
    */
  private def lshVerifiedPairs(docSets: DataFrame,
                               threshold: Double): DataFrame = {
    val rows = MinHashK / MinHashBands
    val sig = docSets.select(col("doc"),
      graft.functions.MinHashSigAgg.sigArr(col("shs"), minhashCoeffs, MersenneP).as("sig"))
    val keyCols = "band" +: (0 until rows).map(r => s"s$r")
    val bands = sig.select(col("doc"),
      explode(array((0 until MinHashBands).map { i =>
        struct(lit(i).as("band") +: (0 until rows).map(r =>
          element_at(col("sig"), i * rows + r + 1).as(s"s$r")): _*)
      }: _*)).as("bd"))
      .select(col("doc") +: keyCols.map(c => col(s"bd.$c")): _*)
    val candidates = bands.as("a").join(bands.as("b"),
        keyCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // Exact verification of the CANDIDATE PAIRS ONLY: two joins against the
    // 1-row-per-doc set frame, intersection computed in-row — cost scales
    // with |candidates|, never with all pairs sharing a shingle.
    candidates
      .join(docSets.select(col("doc").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(docSets.select(col("doc").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("i") / (size(col("shs_a")) + size(col("shs_b")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The per-doc (no class collapsing) form: the equality REFERENCE for
    * [[minhashLshPairs]]'s group-identical-first rewrite (DedupSpec
    * "grouped LSH pairs equal the per-doc form") — and the right call for
    * compositions that have ALREADY exact-deduplicated on md5(text)
    * (q78's stage 3, the curation pipelines): every class is a singleton
    * there, so the grouped collapse is provably redundant and this form
    * skips its fixed stage overhead (~1 s at sf0.1 scale; nil at data
    * scale) while remaining bit-identical on distinct-text input.
    */
  private[graft] def minhashLshPairsUngrouped(docs: DataFrame, textCol: String,
                                              idCol: String, n: Int = 3,
                                              threshold: Double = 0.5,
                                              maxShingleDf: Int = 20): DataFrame =
    lshVerifiedPairs(
      filteredShingles(docs, textCol, idCol, n, maxShingleDf)
        .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("shs"))
        .cache(),
      threshold)

  /** DuckDB twin of [[minhashLshPairs]] (machine-generated SQL): same hash
    * family (the [[minhashCoeffs]] LCG literals are embedded), same banding
    * (candidates = pairs agreeing on ALL slots of ≥ 1 band), same exact
    * Jaccard verify — so the probabilistic op hash-matches the oracle, the
    * same trick q51 uses for IVF centroids. The oracle generates candidates
    * by an all-pairs band comparison (fine at oracle scale; the engine side
    * is the banded join).
    */
  def minhashLshOracleSql(table: String, textCol: String, idCol: String,
                          n: Int = 3, threshold: Double = 0.5,
                          maxShingleDf: Int = 20): String =
    s"""WITH ${minhashLshPairCtes(table, textCol, idCol, n, threshold, maxShingleDf)}
        SELECT doc_a, doc_b, jaccard FROM prs"""

  /** The CTE body of [[minhashLshOracleSql]], parameterized on the source
    * relation so COMPOSED-pipeline oracles (q78's near-dup stage) interpolate
    * the SAME machine-generated fragments — one Scala source of truth for the
    * LCG literals and banding. Defines CTEs `sh0, ok, shf, sig, cand, sz,
    * inter, prs`; the final `prs` carries (doc_a, doc_b, jaccard).
    */
  def minhashLshPairCtes(src: String, textCol: String, idCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxShingleDf: Int = 20): String = {
    val rows = MinHashK / MinHashBands
    val mins = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(((sh::HUGEINT*$a+$b)%$MersenneP)::BIGINT) AS m$j" }.mkString(", ")
    val bandCond = (0 until MinHashBands).map { i =>
      (0 until rows).map(r => s"a.m${i * rows + r} = b.m${i * rows + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""sh0 AS (SELECT $idCol AS doc,
                  unnest(list_distinct(list_transform(
                    ${sqlShingles(sqlTokens(textCol), n)}, s -> ${sqlH48("s")}))) AS sh
                FROM $src),
        ok AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= $maxShingleDf),
        shf AS (SELECT doc, sh0.sh FROM sh0 JOIN ok USING (sh)),
        sig AS (SELECT doc, $mins FROM shf GROUP BY doc),
        cand AS (SELECT a.doc AS doc_a, b.doc AS doc_b
                 FROM sig a JOIN sig b ON a.doc < b.doc AND ($bandCond)),
        sz AS (SELECT doc, COUNT(*) AS sz FROM shf GROUP BY doc),
        inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
                  FROM cand
                  JOIN shf a ON a.doc = doc_a
                  JOIN shf b ON b.doc = doc_b AND a.sh = b.sh
                  GROUP BY 1, 2),
        prs AS (
          SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
          FROM inter JOIN sz sa ON sa.doc = doc_a JOIN sz sb ON sb.doc = doc_b
          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= $threshold)"""
  }

  // ----------------------------------------------- embedding cosine near-dup

  /** Cosine of two float-vector columns, computed in double, sequential
    * left-to-right sum (deterministic; matches DuckDB list_cosine_similarity
    * operand order).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  /** Exact all-pairs cosine near-dup baseline. O(n²/2) compares — the
    * correctness baseline for small N; at 100 TB use [[Similarity.annLsh]]
    * (random-hyperplane LSH) or [[semanticDedupAuto]] (cell-bounded)
    * instead.
    *
    * Perf shape: vectors are cast to dense array<double> and their norms
    * computed ONCE per row before the pair join; each pair then costs one
    * codegen'd dot product ([[graft.functions.DotProductD]]) — not three
    * interpreted higher-order aggregates. ~40× on the sf0.1 bench.
    *
    * Scale contract (`maxPairEstimate`, the [[setSimJoinPrefix]]
    * pattern): the pair volume is exactly n(n−1)/2 — one count() up
    * front — and past the bound the operator throws
    * [[graft.util.ContractRefusal]] naming the sub-quadratic paths
    * (default 2·10⁹ ≈ the 30× corpus's verified-feasible 1.8·10⁹ pairs
    * at 37 s; a 100× corpus's ~2·10¹⁰ refuses instead of burning ~10
    * minutes of cluster time on a baseline).
    */
  def embeddingNearDupPairs(embs: DataFrame, vecCol: String, idCol: String,
                            threshold: Double,
                            maxPairEstimate: Long = 2000000000L): DataFrame = {
    import graft.functions.VectorFunctions._
    val n = embs.count()
    val pairEst = n * (n - 1) / 2
    if (pairEst > maxPairEstimate)
      throw new graft.util.ContractRefusal(
        s"embeddingNearDupPairs: exact all-pairs volume $pairEst exceeds " +
        s"the baseline bound $maxPairEstimate (Ω(n²) by contract); route " +
        "this corpus through Dedup.semanticDedupAuto (cell-bounded " +
        "dominance) or Similarity.annLsh (hyperplane LSH + exact verify)")
    val e = embs.select(col(idCol).as("id"), toDense(col(vecCol)).as("v"))
      .withColumn("nrm", norm2(col("v")))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        (dotd(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** SemDeDup-style semantic dedup: cluster the embeddings into `nCells`
    * Voronoi cells, then compare pairs only WITHIN a cell and drop every
    * vector that has ANY smaller-id cell-mate with cosine ≥ `threshold` —
    * a min-id DOMINANCE rule (deterministic, so an exact oracle can replay
    * it). Note this is a superset of the cited SemDeDup greedy iteration:
    * a vector is dropped even when its smaller-id similar mate was itself
    * dropped, where true greedy would keep it. The one-shot dominance rule
    * is a single self-join (no iteration), which is the property that
    * matters at scale; the DuckDB oracle replays the identical rule. This is the embedding analogue of LSH banding: the cluster
    * assignment bounds the pairwise work at n²/k per cell instead of n²
    * corpus-wide, which is what makes semantic dedup feasible at 100 TB
    * (cf. the SemDeDup recipe: k-means, then within-cluster cosine).
    *
    * Plan shape: centroid assignment is the same map-only argmax
    * projection as [[Similarity.annIvf]]
    * ([[ArgMax.argmaxCosine]] — the corpus's vectors never shuffle for
    * assignment; no joins, no aggregates), and the within-cell pair
    * join is an equi-join on the cell id whose two sides reuse ONE shuffle
    * exchange (Spark's ReuseExchange — the self-join re-reads the same
    * aggregated frame). Default centroids are the first `nCells` vectors so
    * the cells are exactly reproducible in SQL (q51's pattern); production
    * would pass [[Similarity.kmeansCentroids]] with k sized so each cell's
    * candidate set stays small.
    *
    * Returns one row per input vector: (vec_id, cell, dropped).
    */
  def semanticDedup(embs: DataFrame, vecCol: String, idCol: String,
                    nCells: Int = 16, threshold: Double = 0.4,
                    centroids: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions._
    val cent = centroids.getOrElse(embs.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cid"), col(vecCol).as("cv")))
    val m = ArgMax.cosModel(cent, "cv", "cid")
    val assigned = embs.select(col(idCol).as("vec_id"),
      ArgMax.argmaxCosine(m, col(vecCol)).as("cell"), col(vecCol).as("v"))
    dominanceDedup(assigned, threshold)
  }

  /** [[semanticDedup]] with cells ∝ n
    * ([[Similarity.autoCellCount]], target expected cell ≈ 512),
    * spread centroid seeding ([[Similarity.spreadCentroids]] — coverage
    * over the whole id range, not its head) and
    * two-level hier assignment ([[EmbeddingIndex.assignCellsHier]]) —
    * the configuration that scales: the within-cell pair join is
    * ≈ n·targetCellSize expected instead of the fixed-k form's n²/k
    * (measured quadratic on the 30× corpus — BENCH_sf3.md), and
    * assignment stays ≈ linear (n·2√k) where flat with k ∝ n would
    * itself be n². The corpus count is one control-plane aggregate;
    * both derived constants replay in SQL from COUNT(*), so the op is
    * hash-match oracled at any scale (q169).
    */
  def semanticDedupAuto(embs: DataFrame, vecCol: String, idCol: String,
                        targetCellSize: Int = 512,
                        threshold: Double = 0.4): DataFrame = {
    val k = Similarity.autoCellCount(embs.count(), targetCellSize)
    val cent = Similarity.spreadCentroids(embs, vecCol, idCol, k)
    dominanceDedup(
      EmbeddingIndex.assignCellsHier(embs, cent, vecCol, idCol), threshold)
  }

  /** Shared min-id dominance tail over an assigned (vec_id, cell, v)
    * frame — see [[semanticDedup]] for the rule's contract. The self-join
    * re-reads one shuffle exchange (ReuseExchange); AQE skew-splits hot
    * cells.
    */
  private def dominanceDedup(assigned: DataFrame,
                             threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosineFast(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("drop_id")).distinct()
    assigned.join(dropped, col("vec_id") === col("drop_id"), "left")
      .select(col("vec_id"), col("cell"), col("drop_id").isNotNull.as("dropped"))
  }

  // ------------------------------------------------------------ query corpus

  val queries: Seq[Query] = Seq(

    // Exact dedup on full text (md5 hash-groupBy; scalable: one shuffle).
    Query(
      "q22_dedup_exact",
      Some("""
        SELECT md5(text) AS dup_hash, min(doc_id) AS keep_id, COUNT(*) AS group_size
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_id"""))((spark, dir) => {
      val t = Tables(spark, dir)
      exact(t.documents, col("text"), col("doc_id"))
        .select(col("dup_hash"), col("keep_id"), col("group_size"))
        .orderBy(col("keep_id"))
    }),

    // Prefix dedup: collapses the corpus's planted shared-prefix near-dups.
    Query(
      "q23_dedup_prefix",
      Some("""
        SELECT min(doc_id) AS keep_id, COUNT(*) AS group_size
        FROM documents
        GROUP BY md5(substring(text, 1, 100))
        HAVING COUNT(*) > 1
        ORDER BY keep_id"""))((spark, dir) => {
      val t = Tables(spark, dir)
      exact(t.documents, substring(col("text"), 1, 100), col("doc_id"))
        .filter(col("group_size") > 1)
        .select(col("keep_id"), col("group_size"))
        .orderBy(col("keep_id"))
    }),

    // Exact n-gram Jaccard near-dup pairs (shingle-share join; stop-shingle
    // df cap = 100 mirrored on both sides).
    Query(
      "q24_dedup_ngram_jaccard",
      Some(s"""
        WITH sh0 AS (SELECT doc_id AS doc,
                       unnest(list_distinct(list_transform(
                         ${sqlShingles(sqlTokens("text"), 3)}, s -> ${sqlH48("s")}))) AS sh
                     FROM documents),
        ok AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 20),
        shf AS (SELECT doc, sh0.sh FROM sh0 JOIN ok USING (sh)),
        sz AS (SELECT doc, COUNT(*) AS sz FROM shf GROUP BY doc),
        inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
                  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc < b.doc
                  GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc = doc_a
        JOIN sz sb ON sb.doc = doc_b
        WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
        ORDER BY doc_a, doc_b"""))((spark, dir) => {
      val t = Tables(spark, dir)
      ngramJaccardPairs(t.documents, "text", "doc_id", n = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Per-doc 48-bit SimHash (sketch values verified bit-for-bit).
    Query(
      "q25_text_simhash",
      Some(simhashOracleSql("documents", "text", "doc_id") + " ORDER BY doc"))(
      (spark, dir) => {
        val t = Tables(spark, dir)
        simhash(t.documents, "text", "doc_id").orderBy(col("doc"))
      }),

    // SimHash near-dup pairs, hamming ≤ 3 — banded join in Spark, all-pairs
    // in the oracle; identical result sets by pigeonhole exactness.
    Query(
      "q26_dedup_simhash",
      Some(s"""
        WITH s AS (${simhashOracleSql("documents", "text", "doc_id")})
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM s a JOIN s b ON a.doc < b.doc
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY doc_a, doc_b"""))((spark, dir) => {
      val t = Tables(spark, dir)
      simhashPairs(t.documents, "text", "doc_id", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash-LSH near-dup (the probabilistic scale path). The hash family
    // is deterministic and embedded in the generated oracle SQL, so even
    // this probabilistic op gets a full hash-match check; DedupSpec
    // additionally cross-checks it against the exact q24 pairs
    // (precision 1, recall ≥ 0.9).
    Query(
      "q27_dedup_minhash_lsh",
      Some(minhashLshOracleSql("documents", "text", "doc_id", n = 3,
        threshold = 0.5) + " ORDER BY doc_a, doc_b"))((spark, dir) => {
      val t = Tables(spark, dir)
      minhashLshPairs(t.documents, "text", "doc_id", n = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding cosine near-dup, exact all-pairs baseline at threshold 0.4.
    Query(
      "q28_dedup_embedding",
      Some("""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        ORDER BY vec_a, vec_b"""))((spark, dir) => {
      val t = Tables(spark, dir)
      embeddingNearDupPairs(t.embeddings, "embedding", "vec_id", threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // SemDeDup-style cluster-bounded semantic dedup: per-cell member/drop
    // counts. Deterministic first-16 centroids make the cells — and the
    // greedy min-id drop rule — exactly reproducible in DuckDB (q51's
    // embedded-constants pattern), so the scale path for embedding dedup
    // gets a full hash-match oracle, not a rows-only check.
    Query(
      "q74_semdedup",
      Some(s"""
        WITH cent AS ${Similarity.centSql(16)},
        a AS (SELECT e.vec_id, c.cid, e.embedding,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                           c.cid) AS rn
              FROM embeddings e CROSS JOIN cent c),
        cells AS (SELECT vec_id, cid AS cell, embedding FROM a WHERE rn = 1),
        drp AS (SELECT DISTINCT y.vec_id
                FROM cells x JOIN cells y
                  ON x.cell = y.cell AND x.vec_id < y.vec_id
                WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4)
        SELECT cell, COUNT(*) AS n_members,
               COUNT(d.vec_id) AS n_dropped
        FROM cells c LEFT JOIN drp d ON d.vec_id = c.vec_id
        GROUP BY cell
        ORDER BY cell"""))((spark, dir) => {
      val t = Tables(spark, dir)
      semanticDedup(t.embeddings, "embedding", "vec_id", nCells = 16, threshold = 0.4)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          count(when(col("dropped"), 1)).as("n_dropped"))
        .orderBy(col("cell"))
    }),

    // q74's scale-path twin: cells ∝ n + hier assignment (see
    // semanticDedupAuto) — the SemDeDup configuration that holds its
    // expected cell size as the corpus grows, with k and the √k coarse
    // stage derived from COUNT(*) in the oracle so the hash-match is not
    // pinned to one corpus size.
    Query(
      "q169_semdedup_auto",
      Some(s"""
        WITH ${Similarity.hierCellsSql(512)},
        drp AS (SELECT DISTINCT y.vec_id
                FROM cells x JOIN cells y
                  ON x.cell = y.cell AND x.vec_id < y.vec_id
                WHERE list_cosine_similarity(x.embedding::DOUBLE[],
                        y.embedding::DOUBLE[]) >= 0.4)
        SELECT cell, COUNT(*) AS n_members,
               COUNT(d.vec_id) AS n_dropped
        FROM cells c LEFT JOIN drp d ON d.vec_id = c.vec_id
        GROUP BY cell
        ORDER BY cell"""))((spark, dir) => {
      val t = Tables(spark, dir)
      semanticDedupAuto(t.embeddings, "embedding", "vec_id",
          targetCellSize = 512, threshold = 0.4)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          count(when(col("dropped"), 1)).as("n_dropped"))
        .orderBy(col("cell"))
    }),

    // Incremental (delta-vs-corpus) dedup: the op a production ingest
    // actually runs — a NEW batch arrives and is deduped against the
    // already-ingested corpus without re-pairing the corpus with itself.
    // Batch = every 10th doc, corpus = the rest; a batch doc is a dup if
    // its filtered-shingle Jaccard vs ANY corpus doc clears 0.5 (exact
    // duplicates fall out as Jaccard 1). No corpus self-join anywhere —
    // corpus shingles are scanned once and joined against the (small,
    // broadcast) batch shingles.
    Query(
      "q71_incremental_dedup",
      Some(s"""
        WITH bsh AS (SELECT doc_id AS doc,
                       unnest(list_distinct(list_transform(
                         ${sqlShingles(sqlTokens("text"), 3)}, s -> ${sqlH48("s")}))) AS sh
                     FROM documents WHERE doc_id % 10 = 0),
        csh0 AS (SELECT doc_id AS doc,
                   unnest(list_distinct(list_transform(
                     ${sqlShingles(sqlTokens("text"), 3)}, s -> ${sqlH48("s")}))) AS sh
                 FROM documents WHERE doc_id % 10 <> 0),
        ok AS (SELECT sh FROM csh0 GROUP BY sh HAVING COUNT(*) <= 20),
        csh AS (SELECT doc, csh0.sh FROM csh0 JOIN ok USING (sh)),
        bshf AS (SELECT doc, bsh.sh FROM bsh JOIN ok USING (sh)),
        bsz AS (SELECT doc, COUNT(*) AS sz FROM bshf GROUP BY doc),
        csz AS (SELECT doc, COUNT(*) AS sz FROM csh GROUP BY doc),
        inter AS (SELECT b.doc AS bdoc, c.doc AS cdoc, COUNT(*) AS i
                  FROM bshf b JOIN csh c ON b.sh = c.sh GROUP BY 1, 2),
        dup AS (SELECT bdoc, min(cdoc) AS dup_of FROM inter
                JOIN bsz ON bsz.doc = bdoc JOIN csz ON csz.doc = cdoc
                WHERE i * 1.0 / (bsz.sz + csz.sz - i) >= 0.5 GROUP BY bdoc)
        SELECT d.doc_id, dup.dup_of, dup.dup_of IS NULL AS kept
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN dup ON dup.bdoc = d.doc_id
        ORDER BY d.doc_id"""))((spark, dir) => {
      val t = Tables(spark, dir)
      incrementalDedup(t.documents, "text", "doc_id",
          isBatch = col("doc_id") % 10 === 0, n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // Blocked fuzzy join (entity resolution): supplier names within edit
    // distance 1, candidates from equality blocking — never all-pairs.
    Query(
      "q75_fuzzy_join",
      Some("""
        SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
               a.s_name AS name_a, b.s_name AS name_b,
               levenshtein(a.s_name, b.s_name) AS dist
        FROM supplier a JOIN supplier b
          ON length(a.s_name) = length(b.s_name)
         AND substr(a.s_name, 1, length(a.s_name) - 2)
             = substr(b.s_name, 1, length(b.s_name) - 2)
         AND a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 1
        ORDER BY key_a, key_b"""))((spark, dir) => {
      val t = Tables(spark, dir)
      fuzzyPairs(t.supplier, col("s_name"), col("s_suppkey"), maxDist = 1)
        .orderBy(col("key_a"), col("key_b"))
    }),

    // Sorted-neighborhood ER: customers ranked by REVERSED name (so names
    // sharing a suffix collate adjacently — the typo class q75's prefix
    // blocking cannot see), each compared to its next 4 neighbors, kept at
    // edit distance <= 1. The oracle ranks with one global window; the
    // engine reproduces the identical ranks via the sharded prefix scan.
    Query(
      "q128_sorted_neighborhood",
      Some("""
        WITH r AS (SELECT c_custkey AS key, c_name AS name,
                          row_number() OVER (ORDER BY reverse(lower(c_name)),
                                             c_custkey) AS rnk
                   FROM customer)
        SELECT a.key AS key_a, b.key AS key_b,
               a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name) AS dist
        FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4
        WHERE levenshtein(a.name, b.name) <= 1
        ORDER BY key_a, key_b"""))((spark, dir) => {
      val t = Tables(spark, dir)
      sortedNeighborhood(t.customer, col("c_name"), col("c_custkey"),
          sortKey = reverse(lower(col("c_name"))), w = 4, maxDist = 1)
        .orderBy(col("key_a"), col("key_b"))
    }),

    // Corpus overlap matrix: estimated shingle-set Jaccard between every
    // source pair from 16-min MinHash signatures — one corpus scan, no
    // shingle-level pair join. The oracle rebuilds the identical
    // signatures (the SAME 2-universal constants interpolated from
    // overlapSeeds), so even the ESTIMATE hash-matches bit-for-bit.
    Query(
      "q129_source_overlap",
      Some(s"""
        WITH sh0 AS (SELECT source,
               unnest(list_distinct(list_transform(
                 ${sqlShingles(sqlTokens("text"), 3)}, s -> ${sqlH48("s")}))) AS sh
             FROM documents),
        shd AS (SELECT DISTINCT source, sh FROM sh0),
        seeds(i, a1, a2, b) AS (VALUES ${overlapSeeds.take(16).zipWithIndex
          .map { case ((a1, a2, b), i) => s"($i, $a1, $a2, $b)" }.mkString(", ")}),
        sig AS (SELECT source, i,
                  min((a1 * (sh % 16777216) + a2 * (sh // 16777216) + b)
                      % 281474976710656) AS m
                FROM shd, seeds
                GROUP BY 1, 2)
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
               SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) * 1.0 / 16 AS est_jaccard
        FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2"""))((spark, dir) => {
      sourceOverlapMinhash(Tables(spark, dir).documents, "text", "source",
          n = 3, k = 16)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Substring-level dedup signal: positional 5-grams shared by >= 5 docs
    // are boilerplate; per-doc flagged occurrence counts and fraction.
    Query(
      "q87_boilerplate",
      Some(s"""
        WITH occ AS (SELECT doc_id AS doc,
               unnest(list_transform(
                 ${sqlShingles(sqlTokens("text"), 5)}, s -> ${sqlH48("s")})) AS sh
             FROM documents),
        flagged AS (SELECT sh FROM (SELECT DISTINCT doc, sh FROM occ)
                    GROUP BY sh HAVING COUNT(*) >= 5)
        SELECT o.doc, COUNT(*) AS n_ngrams, COUNT(f.sh) AS n_boiler,
               round(COUNT(f.sh) * 1.0 / COUNT(*), 6) AS boiler_frac
        FROM occ o LEFT JOIN flagged f USING (sh)
        GROUP BY o.doc
        ORDER BY o.doc"""))((spark, dir) => {
      boilerplateNgrams(Tables(spark, dir).documents, "text", "doc_id")
        .orderBy(col("doc"))
    }),

    // Exact duplicated-span removal plan (ExactSubstr dedup): every k-token
    // window occurring >= 2 times anywhere in the corpus, all occurrences
    // except the lexicographically-first (doc_id, pos).
    Query(
      "q103_span_dedup",
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        posed AS (
          SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 9)) AS pos
          FROM toks WHERE len(ts) >= 10
        ),
        spans AS (
          SELECT doc_id, pos, array_to_string(ts[pos : pos + 9], ' ') AS span
          FROM posed
        ),
        stats AS (
          SELECT span, COUNT(*) AS n_occ,
                 MIN({'d': doc_id, 'p': pos}) AS first_occ
          FROM spans GROUP BY span HAVING COUNT(*) >= 2
        )
        SELECT s.doc_id, s.pos, s.span, t.n_occ
        FROM spans s JOIN stats t USING (span)
        WHERE NOT (s.doc_id = t.first_occ.d AND s.pos = t.first_occ.p)
        ORDER BY s.doc_id, s.pos"""))((spark, dir) => {
      duplicatedSpans(Tables(spark, dir).documents, "text", "doc_id")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Bloom-prefiltered exact membership of a daily batch against the
    // corpus: bit-identical to the plain join the oracle runs — the bloom
    // only decides which batch rows SKIP the verify join.
    Query(
      "q111_bloom_incremental",
      Some("""
        WITH c AS (SELECT md5(text) AS h, doc_id AS cid
                   FROM documents WHERE doc_id % 10 <> 0),
        b AS (SELECT doc_id, md5(text) AS h
              FROM documents WHERE doc_id % 10 = 0),
        v AS (SELECT b.doc_id, MIN(cid) AS dup_of
              FROM b JOIN c USING (h) GROUP BY b.doc_id)
        SELECT b.doc_id, v.dup_of, v.dup_of IS NULL AS is_new
        FROM b LEFT JOIN v USING (doc_id)
        ORDER BY b.doc_id"""))((spark, dir) => {
      bloomNewDocs(Tables(spark, dir).documents, "text", "doc_id",
          isBatch = col("doc_id") % 10 === 0, expectedItems = 20000L)
        .orderBy(col("doc_id"))
    }),

    // Exact Jaccard >= 0.5 self-join via prefix filtering: the engine
    // generates candidates from each doc's df-rarest shingle prefix only;
    // the oracle computes the UNFILTERED shared-shingle join — passing
    // proves prefix filtering is lossless candidate pruning, not an
    // approximation (contrast q27's probabilistic LSH and q24's df cap).
    Query(
      "q121_setsim_join",
      Some(s"""
        WITH sh AS (SELECT doc_id AS doc,
                      unnest(list_distinct(list_transform(
                        ${sqlShingles(sqlTokens("text"), 3)}, s -> ${sqlH48("s")}))) AS tok
                    FROM documents),
        sz AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
        inter AS (SELECT a.doc AS da, b.doc AS db, COUNT(*) AS i
                  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc < b.doc
                  GROUP BY 1, 2)
        SELECT da, db,
               round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
        FROM inter JOIN sz x ON x.doc = da JOIN sz y ON y.doc = db
        WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5
        ORDER BY da, db"""))((spark, dir) => {
      setSimJoinPrefix(Tables(spark, dir).documents, "text", "doc_id",
          n = 3, threshold = 0.5)
        .orderBy(col("da"), col("db"))
    }),

    // Incremental NEAR-dup via a persisted MinHash-LSH band index: the
    // continuous-crawl workflow — each arriving batch probes the corpus's
    // stored band table instead of rescanning corpus shingles (q71) or
    // re-pairing the corpus with itself (q27). Batch = every 10th doc,
    // same split as q71/q111, so the three incremental variants are
    // directly comparable. The oracle recomputes both sides' signatures
    // and bands from scratch — passing proves the probe path loses
    // nothing vs a full recompute.
    Query(
      "q123_lsh_incremental",
      Some(lshIncrementalOracleSql("documents", "text", "doc_id",
        batchPred = "doc_id % 10 = 0")))((spark, dir) => {
      lshIncrementalDedup(Tables(spark, dir).documents, "text", "doc_id",
          isBatch = col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))
    }),

    // LSH index retraction (deletion lifecycle): documents leave the
    // corpus WITHOUT a full index rebuild — their set/band rows retract,
    // the df-cap universe stays frozen (see [[lshIndexRetract]]), and the
    // next batch probes the shrunk index. Engine: build on the corpus,
    // retract every 7th corpus doc, probe. Oracle: df universe from the
    // ORIGINAL corpus, sets/signatures rebuilt from the survivors —
    // proving retract ≡ full rebuild under the frozen universe, and that
    // no retracted doc can ever be returned as dup_of.
    Query(
      "q150_lsh_retract",
      Some(lshIncrementalOracleSql("documents", "text", "doc_id",
        batchPred = "doc_id % 10 = 0",
        corpusPred = Some("doc_id % 10 <> 0 AND doc_id % 7 <> 0"))))(
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val isBatch = col("doc_id") % 10 === 0
        val corpus = docs.filter(!isBatch)
        val index = lshIndexBuild(corpus, "text", "doc_id")
        val shrunk = lshIndexRetract(index,
          corpus.filter(col("doc_id") % 7 === 0).select("doc_id"))
        lshIndexProbe(shrunk, docs.filter(isBatch), "text", "doc_id")
          .orderBy(col("doc_id"))
      })
  )

  /** Blocked fuzzy matching (entity resolution): candidate pairs come from
    * an EQUALITY blocking key — same length, same all-but-last-2-chars
    * prefix — so the quadratic edit-distance verify runs only inside
    * blocks, never corpus × corpus. The hash-partitionable block join is
    * what makes edit-distance matching possible at scale; the documented
    * tradeoff is recall bounded by the blocking scheme (here: only edits
    * in the trailing characters are found — the right scheme for id-like
    * names; content strings would block on q-gram signatures instead).
    */
  def fuzzyPairs(df: DataFrame, name: Column, id: Column,
                 maxDist: Int,
                 maxCandEstimate: Long = 4000000000L): DataFrame = {
    // Scale contract (the setSimJoinPrefix pattern): the edit-distance
    // verify is quadratic INSIDE blocks, so a corpus whose blocking key
    // degenerates (one dominant length/prefix class) silently reverts
    // toward n² — the candidate volume Σ (block-df choose 2) is one
    // name-column aggregate, checked before any pair is formed. Past the
    // bound the operator refuses, naming the sorted-neighborhood form
    // (w·n by construction) as the bounded alternative.
    val candEst = df.select(length(name).as("len"),
        name.substr(lit(1), length(name) - 2).as("blk"))
      .groupBy(col("len"), col("blk")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(((col("c") * (col("c") - 1)) / 2).cast("long")),
        lit(0L)).as("cand"))
      .head().getLong(0)
    if (candEst > maxCandEstimate)
      throw new graft.util.ContractRefusal(
        s"fuzzyPairs: estimated block candidate volume $candEst exceeds " +
        s"the bound $maxCandEstimate (the equality-blocked edit-distance " +
        "verify is quadratic inside blocks); use sortedNeighborhood " +
        "(w·n by construction) or a finer blocking key")
    def side(suffix: String) = df.select(
      id.as(s"key_$suffix"), name.as(s"name_$suffix"),
      length(name).as(s"len_$suffix"),
      name.substr(lit(1), length(name) - 2).as(s"blk_$suffix"))
    side("a").join(side("b"),
        col("len_a") === col("len_b") && col("blk_a") === col("blk_b") &&
        col("key_a") < col("key_b"))
      // bounded edit distance: the banded DP is O(maxDist·n) per pair and
      // returns -1 past the bound — those rows are filtered anyway, so the
      // result is identical to the unbounded form the oracle computes
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
  }

  /** Sorted-neighborhood entity resolution: rank all records by a sort key,
    * compare each record only against the next `w` records in that order,
    * keep pairs within `maxDist` edits. The classic complement of equality
    * blocking ([[fuzzyPairs]]): blocking misses typos INSIDE the blocking
    * prefix; a sort key chosen so near-matches collate adjacently (here the
    * caller typically passes the REVERSED name, catching prefix typos that
    * share a suffix) turns the n² comparison into w·n.
    *
    * Global ranks without the giant-partition window: `shardOf(sk)` must be
    * MONOTONIC in the sort key (equal keys ⇒ equal shards); ranks are then
    * per-shard row_numbers plus broadcast cumulative shard offsets — the
    * same distributed prefix-scan shape as [[Curation.epochShuffle]], one
    * exchange, no single-partition sort. The default shard (first
    * character) is deterministic and oracle-reproducible; a production
    * deployment would substitute sampled range bounds (`repartitionByRange`
    * quantiles) for even shards — the contract is only monotonicity.
    * Neighbor pairs come from banding ranks into width-`w` blocks and
    * joining each block with its successor (every pair at rank distance
    * ≤ w shares a block or spans adjacent blocks), so the candidate join is
    * an equi-join on the block id: shuffle-bounded, w·n candidate rows, and
    * the bounded-band levenshtein prunes each candidate in O(maxDist·len).
    */
  def sortedNeighborhood(df: DataFrame, name: Column, id: Column,
                         sortKey: Column, w: Int, maxDist: Int,
                         shardOf: Column => Column = c => substring(c, 1, 1))
      : DataFrame = {
    val keyed = df.select(id.as("key"), name.as("name"), sortKey.as("sk"))
      .withColumn("shard", shardOf(col("sk")))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("sk"), col("key"))
    val ranked = keyed.withColumn("rn", row_number().over(wIn).cast("long"))
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // shard count is control-plane sized (distinct prefix values), so the
    // offsets frame broadcasts; the window inside it runs over that tiny
    // aggregate, not the data
    val offsets = keyed.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("shard"), col("off"))
    val globalRanked = ranked.join(broadcast(offsets), Seq("shard"))
      .select(col("key"), col("name"), (col("off") + col("rn")).as("rnk"))
    val blkOf = (r: Column) => floor(r / w).cast("long")
    val a = globalRanked.select(col("key").as("key_a"), col("name").as("name_a"),
        col("rnk").as("rnk_a"))
      .withColumn("blk", explode(array(blkOf(col("rnk_a")), blkOf(col("rnk_a")) + 1)))
    val b = globalRanked.select(col("key").as("key_b"), col("name").as("name_b"),
        col("rnk").as("rnk_b"))
      .withColumn("blk", blkOf(col("rnk_b")))
    a.join(b, Seq("blk"))
      .filter((col("rnk_b") - col("rnk_a")).between(1, w))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))
  }

  /** Source-level corpus overlap matrix via per-source MinHash signatures —
    * "how much of source A's content is also in source B" (the C4-vs-Pile /
    * CommonCrawl-snapshot overlap analyses), as estimated shingle-set
    * Jaccard per source pair.
    *
    * 100 TB shape: the per-source signature (k mins over rehashed distinct
    * shingles) is ONE map-side-combinable aggregate whose output is
    * sources × k longs — the corpus is scanned once and never joined with
    * itself at the shingle level (the exact per-pair intersection is
    * Σ_shingle |sources(sh)|², quadratic in stop-shingle fan-out). The
    * pairwise stage compares signatures, O(k) per pair over a
    * broadcast-sized signature table; with millions of sources, band the
    * signatures through [[minhashLshPairs]]'s bucket join instead of the
    * full matrix — this matrix form is the reporting shape (hundreds of
    * named corpora). Estimator: matching mins / k, the standard unbiased
    * MinHash Jaccard estimate; k=16 gives σ ≈ 0.125, enough to rank
    * overlaps for triage.
    */
  /** The k-seed rehash family for [[sourceOverlapMinhash]]: 2-universal
    * `(a1·lo + a2·hi + b) mod 2⁴⁸` over the 24-bit halves of the 48-bit
    * shingle hash (split keeps every product < 2⁴¹ — far from BIGINT
    * overflow, which DuckDB would reject rather than wrap). Arithmetic
    * mixing instead of one md5 PER SEED: at 16 seeds the md5 variant was
    * the whole cost of the operator (3.3 s of a 3.4 s run at sf0.1), and
    * at 100 TB the signature scan is the operator. Constants are fixed
    * odd multipliers derived here once — the SAME values are interpolated
    * into the DuckDB oracle, so both engines run the identical family.
    *
    * Audited for the [[minhashCoeffs]] order-preservation pathology
    * (round 10): this family does NOT share it. The 24-bit multipliers
    * fully cover the 2⁴⁸ output range over their 24-bit halves, so per-
    * seed argmins decorrelate; measured on 200 planted J = 1/3 source
    * pairs, the estimator distributes Binomial(16, J)/16 (mean 0.328,
    * sd 0.121 vs 0.117 binomial, unimodal) — the independence the
    * "σ ≈ 0.125 at k=16" claim above assumes.
    */
  // lazy: referenced by the q129 oracle string inside `queries`, which
  // initializes earlier in source order
  private[operators] lazy val overlapSeeds: Seq[(Long, Long, Long)] =
    (0 until 64).map { i =>
      (2L * (1000003L * (i + 1) % 8388593L) + 1L,
       2L * (999983L * (i + 7) % 8388617L) + 1L,
       (1442695040888963L * (i + 1)) % (1L << 48))
    }

  def sourceOverlapMinhash(docs: DataFrame, textCol: String, sourceCol: String,
                           n: Int = 3, k: Int = 16): DataFrame = {
    require(k <= overlapSeeds.size, s"k must be <= ${overlapSeeds.size}")
    // fused tokenize→shingle→hash expression (bit-identical to the HOF
    // pipeline, TextHashSpec) — the corpus scan IS this operator's cost
    val sh = docs.select(col(sourceCol).as("source"),
        explode(array_distinct(
          graft.functions.TextHashFunctions.hashedShingles(col(textCol), n))).as("sh"))
      .distinct()
    val lo = col("sh") % (1L << 24)
    val hi = col("sh") / (1L << 24)
    val mins = (0 until k).map { i =>
      val (a1, a2, b) = overlapSeeds(i)
      min((lit(a1) * lo + lit(a2) * hi + lit(b)) % (1L << 48)).as(s"m$i")
    }
    val sig = sh.groupBy(col("source")).agg(mins.head, mins.tail: _*)
      .select(col("source"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    val a = sig.select(col("source").as("src_a"), col("sig").as("sig_a"))
    val b = sig.select(col("source").as("src_b"), col("sig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("n_match", aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .select(col("src_a"), col("src_b"), col("n_match"),
        (col("n_match") / k).as("est_jaccard"))
  }

  /** Dedup a NEW batch against the EXISTING corpus — no corpus self-join.
    *
    * 100 TB shape: the corpus-side shingle table and its df stats are
    * exactly what a production pipeline keeps as a stored, bucketed table
    * (appended per ingest); here they are derived inline from the same
    * `docs` frame for oracle parity. The batch side is small relative to
    * the corpus, so its shingle set broadcasts — the corpus is scanned
    * once, shuffles once (its own df-cap group), and never pairs with
    * itself. Stop-shingles are capped by CORPUS document frequency (the
    * stat a stored corpus already has).
    */
  def incrementalDedup(docs: DataFrame, textCol: String, idCol: String,
                       isBatch: Column, n: Int = 3, threshold: Double = 0.5,
                       maxShingleDf: Int = 20): DataFrame = {
    def sh(part: DataFrame) = part.select(col(idCol).as("doc"),
      explode(array_distinct(
        graft.functions.TextHashFunctions.hashedShingles(col(textCol), n))).as("sh"))
    val cSh0 = sh(docs.filter(!isBatch))
    val ok = cSh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf).select("sh")
    val cSh = cSh0.join(ok, "sh")
    val bSh = sh(docs.filter(isBatch)).join(ok, "sh")
    val bsz = bSh.groupBy("doc").agg(count(lit(1)).as("bsz"))
    val csz = cSh.groupBy("doc").agg(count(lit(1)).as("csz"))
    val inter = cSh.join(broadcast(bSh.withColumnRenamed("doc", "bdoc")), "sh")
      .groupBy(col("bdoc"), col("doc").as("cdoc"))
      .agg(count(lit(1)).as("i"))
    val dup = inter
      .join(broadcast(bsz.withColumnRenamed("doc", "bdoc")), "bdoc")
      .join(csz.withColumnRenamed("doc", "cdoc"), "cdoc")
      .filter(col("i") / (col("bsz") + col("csz") - col("i")) >= threshold)
      .groupBy("bdoc").agg(min(col("cdoc")).as("dup_of"))
    docs.filter(isBatch).select(col(idCol).as("doc_id"))
      .join(broadcast(dup), col("doc_id") === col("bdoc"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** Exact "is this document new?" for a small batch against a huge corpus,
    * with a Bloom-filter prefilter deciding which batch rows need the
    * corpus at all.
    *
    * The bloom is built distributed (mergeable per-partition sketches,
    * treeAggregated — `DataFrameStatFunctions.bloomFilter`) over the
    * corpus text hashes and broadcast; each batch row probes it map-side.
    * A bloom has NO false negatives, so a probe miss is proof the text is
    * new — those rows never touch the corpus. Only the probe hits (true
    * duplicates + an fpp fraction of the batch) enter the exact verify
    * join, whose inner-join semantics erase the false positives — the
    * output is bit-identical to the plain batch⋈corpus join the oracle
    * runs, at ~(dupRate + fpp) of its join volume.
    *
    * Scale shape (100 TB): the sketch is the persistable index — ~1.2
    * bytes/key at 1% fpp (10⁹ corpus docs ≈ 1.2 GB), built once and
    * mergeable with each day's accepted batch, so steady-state per-batch
    * cost is O(batch) probes + a verify join over only the probe hits;
    * past broadcast size, shard the bloom by key range and probe each
    * shard's rows against its own (same code per shard). The in-engine
    * form here rebuilds it from `isBatch` for oracle determinism.
    */
  def bloomNewDocs(docs: DataFrame, textCol: String, idCol: String,
                   isBatch: Column, expectedItems: Long,
                   fpp: Double = 0.01): DataFrame = {
    val corpus = docs.filter(!isBatch)
      .select(md5(col(textCol)).as("h"), col(idCol).as("cid"))
    val batch = docs.filter(isBatch)
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
    val bf = corpus.stat.bloomFilter("h", expectedItems, fpp)
    val bfB = docs.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: String) => bfB.value.mightContainString(h))
    val verified = batch.filter(mightContain(col("h")))
      .join(corpus, "h")
      .groupBy(col("doc_id")).agg(min(col("cid")).as("dup_of"))
    batch.select(col("doc_id"))
      .join(broadcast(verified), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  /** NEAR-duplicate "is this document new?" for a batch against a corpus,
    * probing a MinHash-LSH band index instead of scanning corpus shingles
    * — the LSH analogue of [[bloomNewDocs]] (exact) and the index-probe
    * upgrade of [[incrementalDedup]] (whose per-batch cost is a full
    * corpus-shingle scan).
    *
    * The corpus side is exactly the [[minhashLshPairs]] artifact set — a
    * band table (band id + the raw signature slots of that band, one row
    * per doc per band) and a per-doc sorted shingle-set table — which is
    * what a production pipeline PERSISTS as the dedup index, bucketed by
    * band key. A new batch computes its own signatures (cost ∝ batch),
    * joins its band rows against the index (hash lookup per band row —
    * with a bucketed index this shuffles only the batch side), and
    * exact-Jaccard-verifies just the candidate pairs against the stored
    * corpus sets. A batch doc whose bands all miss provably has no corpus
    * doc sharing any band — per-pair candidate recall follows the 16×4
    * banding S-curve (~64 % at J = 0.5, ~89 % at 0.6, ~99.8 % at 0.75,
    * see [[MinHashBands]]), and precision is exact.
    *
    * Steady-state 100 TB shape: per batch, O(batch) signature work +
    * O(batch bands) index lookups + a verify join over only the LSH
    * candidates; accepted docs append their band rows and shingle sets to
    * the index (mergeable by construction — both tables are unioned
    * row-sets). Nothing rescans or re-pairs the corpus. Batch shingles
    * are df-capped by CORPUS document frequency (the stat a stored index
    * already has, kept alongside the band table); shingles the corpus has
    * never seen carry no dedup-vs-corpus signal and are dropped, matching
    * [[incrementalDedup]]'s family rule. The in-engine form rebuilds the
    * index from `isBatch` for oracle determinism — `indexFor` is the
    * build step a real pipeline runs once.
    */
  /** The persisted dedup-index artifacts of [[lshIncrementalDedup]]:
    * the df-capped shingle universe (`ok(sh)` — in production the corpus
    * df-stat table, bucketed by `sh`), per-doc sorted shingle sets
    * (`sets(doc, shs)`) and the band table (`bands(doc, band, s0…)` —
    * bucketed by the band key). All three are plain row-sets, so an
    * accepted batch MERGES by append (plus df-stat increments).
    */
  final case class LshIndex(ok: DataFrame, sets: DataFrame, bands: DataFrame)

  private def lshShingles(part: DataFrame, textCol: String, idCol: String,
                          n: Int): DataFrame =
    part.select(col(idCol).as("doc"),
      explode(array_distinct(
        graft.functions.TextHashFunctions.hashedShingles(col(textCol), n))).as("sh"))

  private def lshBandCols: Seq[String] = {
    val rows = MinHashK / MinHashBands
    "band" +: (0 until rows).map(r => s"s$r")
  }

  private def lshBandRows(sets: DataFrame): DataFrame = {
    val rows = MinHashK / MinHashBands
    val sig = sets.select(col("doc"),
      graft.functions.MinHashSigAgg.sigArr(col("shs"), minhashCoeffs, MersenneP).as("sig"))
    sig.select(col("doc"),
      explode(array((0 until MinHashBands).map { i =>
        struct(lit(i).as("band") +: (0 until rows).map(r =>
          element_at(col("sig"), i * rows + r + 1).as(s"s$r")): _*)
      }: _*)).as("bd"))
      .select(col("doc") +: lshBandCols.map(c => col(s"bd.$c")): _*)
  }

  /** Sets + bands of `docs` under a GIVEN (frozen) df-cap universe `ok` —
    * the maintained-index form of [[lshIndexBuild]]: a streamed maintainer
    * ([[graft.streaming.CurationStream]]) computes each arriving batch's
    * artifacts under the bootstrap universe instead of re-deriving df
    * stats per trigger (the [[lshIndexRetract]] frozen-universe
    * convention; corpus churn large enough to shift df statistics is a
    * full rebuild).
    */
  def lshArtifacts(docs: DataFrame, textCol: String, idCol: String,
                   ok: DataFrame, n: Int = 3): LshIndex = {
    val sets = lshShingles(docs, textCol, idCol, n).join(ok, "sh")
      .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("shs"))
    LshIndex(ok.select("sh"), sets, lshBandRows(sets))
  }

  /** Near-dup pairs WITHIN one artifact set (doc_a < doc_b) — the
    * [[minhashLshPairs]] tail over prebuilt sets/bands: band self-join
    * candidates, exact-Jaccard verify. Used for in-batch dominance in the
    * streamed maintainers.
    */
  def lshPairsWithin(index: LshIndex, threshold: Double = 0.5): DataFrame = {
    val keyCols = lshBandCols
    val candidates = index.bands.as("a").join(index.bands.as("b"),
        keyCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    candidates
      .join(index.sets.select(col("doc").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(index.sets.select(col("doc").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("i") / (size(col("shs_a")) + size(col("shs_b")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Build the corpus-side LSH index (run once, then persist/merge). */
  def lshIndexBuild(corpus: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, maxShingleDf: Int = 20): LshIndex = {
    val cSh0 = lshShingles(corpus, textCol, idCol, n)
    val ok = cSh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf).select("sh")
    val cSets = cSh0.join(ok, "sh")
      .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("shs"))
      .cache()
    LshIndex(ok, cSets, lshBandRows(cSets))
  }

  /** Retract documents from the LSH index (retention, takedown): their set
    * and band rows are removed; the df-cap shingle universe (`ok`) stays
    * FROZEN. Freezing is the same contract as IVF's frozen quantizer
    * ([[EmbeddingIndex.retract]]): a doc's stored signature was computed
    * over the build-time `ok`, so only a frozen universe keeps every
    * surviving artifact valid — the result is bit-identical to rebuilding
    * sets/bands from the survivors under the original universe (q150's
    * oracle proves it), and a retracted doc provably never returns as
    * `dup_of`. Corpus churn large enough to shift df statistics is a full
    * rebuild, exactly as re-training the quantizer is for IVF.
    *
    * Scale shape: the drop set is batch-sized and broadcasts; both
    * removals are anti joins keyed on the doc id — with the persisted
    * bucketed layout these rewrite only the touched buckets (the
    * partition-scoped-merge pattern of the replication plane).
    */
  def lshIndexRetract(index: LshIndex, dropDocs: DataFrame): LshIndex = {
    val d = dropDocs.select(col(dropDocs.columns.head).as("_drop"))
    def without(df: DataFrame) =
      df.join(broadcast(d), col("doc") === col("_drop"), "left_anti")
    LshIndex(index.ok, without(index.sets), without(index.bands))
  }

  /** Verified batch↔corpus matches (bdoc, cdoc) — the shared probe body:
    * batch-side signatures over the index's df-capped universe, band-key
    * lookups, exact-Jaccard verify of the candidates only.
    */
  private def lshProbeMatches(index: LshIndex, batch: DataFrame,
                              textCol: String, idCol: String, n: Int,
                              threshold: Double): DataFrame = {
    val keyCols = lshBandCols
    // eager localCheckpoint, not .cache(): the batch set table feeds two
    // plan branches (band keys; Jaccard verify) — checkpointing runs the
    // shingle pass once and the blocks self-release when unreachable
    // (ContextCleaner), so a per-trigger caller (CurationStream) pins
    // nothing across a long-running stream
    val bSets = lshShingles(batch, textCol, idCol, n).join(index.ok, "sh")
      .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("shs"))
      .localCheckpoint()
    val bBands = lshBandRows(bSets).withColumnRenamed("doc", "bdoc")
    val candidates = index.bands.join(broadcast(bBands), keyCols)
      .select(col("bdoc"), col("doc").as("cdoc")).distinct()
    candidates
      .join(broadcast(bSets.select(col("doc").as("bdoc"), col("shs").as("bshs"))), "bdoc")
      .join(index.sets.select(col("doc").as("cdoc"), col("shs").as("cshs")), "cdoc")
      .withColumn("i", size(array_intersect(col("bshs"), col("cshs"))))
      .filter(col("i") / (size(col("bshs")) + size(col("cshs")) - col("i")) >= threshold)
      .select(col("bdoc"), col("cdoc"))
  }

  /** Probe the index with a batch: per-batch cost is O(batch) signature
    * work + index lookups + candidate verifies — nothing corpus-pairing.
    * One row per batch doc: `dup_of` = SMALLEST matching corpus id (the
    * accept/reject contract). For cluster MAINTENANCE use
    * [[lshIndexProbeLinks]] — the min-id aggregation here deliberately
    * loses every match but one.
    */
  def lshIndexProbe(index: LshIndex, batch: DataFrame, textCol: String,
                    idCol: String, n: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val dup = lshProbeMatches(index, batch, textCol, idCol, n, threshold)
      .groupBy("bdoc").agg(min(col("cdoc")).as("dup_of"))
    batch.select(col(idCol).as("doc_id"))
      .join(broadcast(dup), col("doc_id") === col("bdoc"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** ALL verified batch↔corpus near-dup links (doc_a = batch doc,
    * doc_b = corpus doc) — [[lshIndexProbe]] WITHOUT the min-id
    * aggregation. This is the input cluster maintenance
    * ([[graft.operators.Pipeline.incrementalComponents]]) needs: a batch
    * doc that near-dups members of TWO old components must contribute a
    * link to EACH (the probe's min-only `dup_of` would silently leave the
    * components unmerged). These links ∪ [[lshPairsWithin]] over the
    * batch's own artifacts ∪ the pairs already in the label map IS the
    * full pair set over the frozen universe.
    */
  def lshIndexProbeLinks(index: LshIndex, batch: DataFrame, textCol: String,
                         idCol: String, n: Int = 3,
                         threshold: Double = 0.5): DataFrame =
    lshProbeMatches(index, batch, textCol, idCol, n, threshold)
      .select(col("bdoc").as("doc_a"), col("cdoc").as("doc_b"))

  def lshIncrementalDedup(docs: DataFrame, textCol: String, idCol: String,
                          isBatch: Column, n: Int = 3, threshold: Double = 0.5,
                          maxShingleDf: Int = 20): DataFrame = {
    val index = lshIndexBuild(docs.filter(!isBatch), textCol, idCol, n, maxShingleDf)
    lshIndexProbe(index, docs.filter(isBatch), textCol, idCol, n, threshold)
  }

  /** DuckDB twin of [[lshIncrementalDedup]] (machine-generated SQL, the
    * [[minhashLshOracleSql]] pattern split into batch/corpus sides):
    * same hash family, corpus-df shingle cap, banding (candidate = batch
    * × corpus pair agreeing on ALL slots of ≥ 1 band) and exact-Jaccard
    * verify, so the index-probe op hash-matches a full recompute.
    * `batchPred` is the SQL predicate selecting batch rows.
    */
  def lshIncrementalOracleSql(table: String, textCol: String, idCol: String,
                              batchPred: String, n: Int = 3,
                              threshold: Double = 0.5,
                              maxShingleDf: Int = 20,
                              corpusPred: Option[String] = None): String = {
    val rows = MinHashK / MinHashBands
    val mins = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(((sh::HUGEINT*$a+$b)%$MersenneP)::BIGINT) AS m$j" }.mkString(", ")
    val bandCond = (0 until MinHashBands).map { i =>
      (0 until rows).map(r => s"b.m${i * rows + r} = c.m${i * rows + r}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    def shCte(pred: String) =
      s"""SELECT $idCol AS doc,
            unnest(list_distinct(list_transform(
              ${sqlShingles(sqlTokens(textCol), n)}, s -> ${sqlH48("s")}))) AS sh
          FROM $table WHERE $pred"""
    // `corpusPred` narrower than NOT(batchPred) oracles the probe AFTER
    // [[lshIndexRetract]]: the df-cap universe (`ok`) stays FROZEN on the
    // ORIGINAL corpus — the quantizer-freeze convention q151 shares —
    // while sets/signatures rebuild from only the survivors.
    s"""WITH dfsrc AS (${shCte(s"NOT ($batchPred)")}),
        ok AS (SELECT sh FROM dfsrc GROUP BY sh HAVING COUNT(*) <= $maxShingleDf),
        csh0 AS (${corpusPred.map(shCte).getOrElse("SELECT * FROM dfsrc")}),
        csh AS (SELECT doc, csh0.sh FROM csh0 JOIN ok USING (sh)),
        bsh0 AS (${shCte(batchPred)}),
        bsh AS (SELECT doc, bsh0.sh FROM bsh0 JOIN ok USING (sh)),
        csig AS (SELECT doc, $mins FROM csh GROUP BY doc),
        bsig AS (SELECT doc, $mins FROM bsh GROUP BY doc),
        cand AS (SELECT b.doc AS bdoc, c.doc AS cdoc
                 FROM bsig b JOIN csig c ON ($bandCond)),
        bsz AS (SELECT doc, COUNT(*) AS sz FROM bsh GROUP BY doc),
        csz AS (SELECT doc, COUNT(*) AS sz FROM csh GROUP BY doc),
        inter AS (SELECT bdoc, cdoc, COUNT(*) AS i
                  FROM cand
                  JOIN bsh b ON b.doc = bdoc
                  JOIN csh c ON c.doc = cdoc AND b.sh = c.sh
                  GROUP BY 1, 2),
        dup AS (SELECT bdoc, MIN(cdoc) AS dup_of FROM inter
                JOIN bsz ON bsz.doc = bdoc JOIN csz ON csz.doc = cdoc
                WHERE i * 1.0 / (bsz.sz + csz.sz - i) >= $threshold
                GROUP BY bdoc)
        SELECT d.$idCol AS doc_id, dup.dup_of, dup.dup_of IS NULL AS kept
        FROM (SELECT $idCol FROM $table WHERE $batchPred) d
        LEFT JOIN dup ON dup.bdoc = d.$idCol
        ORDER BY doc_id"""
  }
}
