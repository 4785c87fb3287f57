package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: builds an sfN dataset from an existing sf directory
  * by key-shifted replication, so growth benches (BENCH_sf1) can measure
  * the engine at 10× data without touching the driver's read-only testdata.
  *
  * Construction (replica i of R):
  *   - dimension tables `region`/`nation` stay fixed (TPC-H convention);
  *   - every key column shifts by `i * (max_key + 1)`, consistently across
  *     fact/dim references (orders.o_custkey moves with customer.c_custkey,
  *     lineitem's three FKs with their parents), so join fan-outs and
  *     group cardinalities scale exactly linearly and the graph queries see
  *     R disjoint copies;
  *   - `documents.text` is rewritten per replica with a PER-LANGUAGE,
  *     frequency-band-preserving vocabulary permutation (rank r maps to a
  *     rank in the same 8-wide band, rotated by i): within-replica
  *     dup/near-dup structure is EXACTLY preserved (token-wise injective
  *     map), cross-replica shingle similarity collapses to chance, and
  *     language/stopword/length statistics — the signals the quality
  *     filters read — survive, so filter selectivities hold at 10×;
  *   - `embeddings.embedding` rotates its components by `(7·i) mod dim`:
  *     norms and within-replica pairwise cosines are untouched,
  *     cross-replica similarity decorrelates.
  *
  * Usage: GenScale <srcSfDir> <dstDir> [replicas=10]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    // fixed dimensions
    write(read("region"), "region")
    write(read("nation"), "nation")

    /** Union of `reps` key-shifted copies; each (col, base) shifts by
      * i·base with the column's ORIGINAL dtype preserved.
      */
    def replicate(df: DataFrame, shifts: Seq[(String, Long)],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until reps).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, base)) =>
          val dt = df.schema(c).dataType
          d.withColumn(c, (col(c).cast("long") + lit(i * base)).cast(dt))
        }
        extra(shifted, i)
      }.reduce(_ unionByName _)

    val (customer, supplier, part, orders, lineitem, events) =
      (read("customer"), read("supplier"), read("part"),
       read("orders"), read("lineitem"), read("events"))
    val (cBase, sBase, pBase, oBase) =
      (maxKey(customer, "c_custkey"), maxKey(supplier, "s_suppkey"),
       maxKey(part, "p_partkey"), maxKey(orders, "o_orderkey"))

    write(replicate(customer, Seq("c_custkey" -> cBase)), "customer")
    write(replicate(supplier, Seq("s_suppkey" -> sBase)), "supplier")
    write(replicate(part, Seq("p_partkey" -> pBase)), "part")
    write(replicate(orders,
      Seq("o_orderkey" -> oBase, "o_custkey" -> cBase)), "orders")
    write(replicate(lineitem, Seq("l_orderkey" -> oBase,
      "l_partkey" -> pBase, "l_suppkey" -> sBase)), "lineitem")
    write(replicate(events, Seq(
      "event_id" -> maxKey(events, "event_id"),
      "user_id" -> maxKey(events, "user_id"))), "events")

    // documents: per-language frequency-band vocabulary permutation
    val docs = read("documents")
    val vocabByLang: Map[String, Array[String]] = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(r => (-r.getLong(2), r.getString(1))).map(_.getString(1))
      }
    /** Per-(replica, band) FULL permutation of the band's slots — an
      * LCG-seeded Fisher-Yates, NOT a rotation. A rotation has only `bs`
      * distinct values, so replicas with equal `i mod 8` used to get
      * IDENTICAL maps and therefore IDENTICAL texts: at 100 replicas every
      * document had ~12 exact cross-replica copies (measured: max class 13,
      * 239 k exact pairs at 100×), which made near-dup PAIR output grow
      * quadratically in the replica count and bent the q27/q49/q56 study
      * legs to ~3 at the 100× point — a generator artifact, not an
      * operator property. Drawing from the full S_bs (8! = 40 320 per
      * band) keeps maps pairwise distinct at any replica count, so
      * cross-replica shingle similarity really does collapse to chance,
      * as this generator's contract states. i = 0 stays the identity
      * (replica 0 is the original corpus).
      */
    def bandMap(v: Array[String], i: Int): Map[String, String] =
      v.indices.map { r =>
        val b0 = (r / 8) * 8
        val bs = math.min(8, v.length - b0)
        val perm = Array.tabulate(bs)(identity)
        if (i != 0) {
          var s = i.toLong * 2862933555777941757L + b0 * 3037000493L
          var k = bs - 1
          while (k > 0) {
            s = s * 6364136223846793005L + 1442695040888963407L
            val j = math.floorMod(s >>> 33, k + 1).toInt
            val t = perm(k); perm(k) = perm(j); perm(j) = t
            k -= 1
          }
        }
        v(r) -> v(b0 + perm(r - b0))
      }.toMap
    val dBase = maxKey(docs, "doc_id")
    val docReps = (0 until reps).map { i =>
      val shifted = docs.withColumn("doc_id", col("doc_id") + lit(i * dBase))
      if (i == 0) shifted
      else {
        val maps: Map[String, Map[String, String]] =
          vocabByLang.map { case (l, v) => l -> bandMap(v, i) }
        val bc = spark.sparkContext.broadcast(maps)
        // generator-only UDF (not an engine operator): a 2-level map lookup
        // per token over a broadcast vocabulary
        val permute = udf { (lang: String, text: String) =>
          val m = bc.value.getOrElse(lang, Map.empty[String, String])
          text.split(" ").map(w => m.getOrElse(w, w)).mkString(" ")
        }
        shifted.withColumn("text", permute(col("lang"), col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_ unionByName _)
    write(docReps, "documents")

    // embeddings: per-replica component rotation COMPOSED with a
    // per-replica sign pattern. A rotation alone has only `dim` distinct
    // values, so replicas with equal (7·i) mod dim carried byte-identical
    // vectors — the same wrap-around artifact the document rotation had
    // (at 100 replicas over dim=64, replicas 64..99 duplicated 0..35).
    // Flipping a per-replica LCG-chosen sign on each component preserves
    // norms and ALL within-replica pairwise dot products exactly
    // ((a·s)ᵀ(b·s) = Σ aₖbₖsₖ² = aᵀb), while sign patterns are pairwise
    // distinct at any replica count, so cross-replica similarity
    // decorrelates as the contract states. i = 0 stays the identity.
    val embs = read("embeddings")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val elemT = embs.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val eBase = maxKey(embs, "vec_id")
    val embReps = (0 until reps).map { i =>
      val shifted = embs.withColumn("vec_id", col("vec_id") + lit(i * eBase))
      if (i == 0) shifted
      else {
        val rot = (7 * i) % dim
        val signs = {
          var s = i.toLong * 0x9E3779B97F4A7C15L
          Array.fill(dim) {
            s = s * 6364136223846793005L + 1442695040888963407L
            if (((s >>> 40) & 1L) == 1L) -1.0 else 1.0
          }
        }
        val signLit = array(signs.map(lit): _*)
        val rotated =
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, dim - rot),
                      slice(col("embedding"), 1, rot))
        shifted.withColumn("embedding",
          zip_with(rotated, signLit, (x, s) => (x * s).cast(elemT)))
      }
    }.reduce(_ unionByName _)
    write(embReps, "embeddings")

    println(s"""{"gen":"$dst","replicas":$reps,"from":"$src"}""")
    spark.stop()
  }
}
