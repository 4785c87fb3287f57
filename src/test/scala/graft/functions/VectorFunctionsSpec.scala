package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends SparkSpec {

  private lazy val embs = Tables(spark, sf("sf0.001")).embeddings.cache()

  test("codegen dot product equals the higher-order-function fold bit-for-bit") {
    val hof = embs.select(col("vec_id"),
      graft.operators.Dedup.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = embs.select(col("vec_id"),
      cosineFast(toDense(col("embedding")), toDense(col("embedding"))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    hof.foreach { case (id, v) => assert(v == fast(id), s"vec $id: $v != ${fast(id)}") }
  }

  test("dot product participates in whole-stage codegen") {
    val df = embs.select(dotd(toDense(col("embedding")), toDense(col("embedding"))).as("d"))
      .filter(col("d") > 0)
    // the `*(n)` prefix on Project/Filter marks whole-stage-codegen'd nodes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot") || plan.contains("*(1) Filter (graft_dot"), plan)
    // sanity: values are finite and positive for dense random vectors
    assert(df.count() == embs.count())
  }

  test("maxsim equals the composed slice/dot/greatest form bit-for-bit") {
    // composed reference: m² dotd(slice, slice) columns, greatest per i,
    // + across i — the exact arithmetic MaxSimD fuses
    val m = 4
    val sub = 16
    val pairs = embs.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .join(embs.select(col("vec_id").as("did"), col("embedding").as("dv")),
        col("qid") < col("did") && col("did") - col("qid") <= 3)
    def term(i: Int) = greatest((0 until m).map(j =>
      dotd(slice(col("qv"), i * sub + 1, sub).cast("array<double>"),
        slice(col("dv"), j * sub + 1, sub).cast("array<double>"))): _*)
    val composed = (1 until m).foldLeft(term(0))((acc, i) => acc + term(i))
    val rows = pairs.select(col("qid"), col("did"),
        maxsimd(col("qv"), col("dv"), m).as("fused"), composed.as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) == r.getDouble(3),
      s"(${r.getLong(0)},${r.getLong(1)}): ${r.getDouble(2)} != ${r.getDouble(3)}"))
  }

  test("maxsim hand-trace, codegen participation, and null contract") {
    import spark.implicits._
    // m=2, sub=2: q=[1,0, 0,2], d=[0,1, 3,0]
    //   i=0: max(dot([1,0],[0,1])=0, dot([1,0],[3,0])=3) = 3
    //   i=1: max(dot([0,2],[0,1])=2, dot([0,2],[3,0])=0) = 2  → 5
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 2.0), Seq(0.0, 1.0, 3.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 3.0)), // len % m != 0 → null
      (3L, Seq(1.0, 0.0, 0.0, 2.0), Seq(0.0, 1.0))  // len mismatch → null
    ).toDF("id", "q", "d")
    val out = df.select(col("id"), maxsimd(col("q"), col("d"), 2).as("ms"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).contains(5.0))
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty)
    val plan = embs.select(maxsimd(col("embedding"), col("embedding"), 4).as("ms"))
      .filter(col("ms") > 0).queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_maxsim") ||
      plan.contains("*(1) Filter (graft_maxsim"), plan)
  }

  test("null vector yields null; mismatched lengths yield null (zip_with parity)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (2L, Seq(1.0, 2.0, 5.0), Seq(3.0, 4.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), dotd(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    // Same result as the HOF form, where zip_with null-pads the shorter
    // array and the aggregate goes null — not a silent partial sum.
    assert(out(2L).isEmpty)
    val withNull = df.withColumn("c", when(col("id") === 1, col("a")))
      .select(dotd(col("c"), col("b")).as("d")).collect()
    assert(withNull.count(_.isNullAt(0)) == 1)
  }

  test("TopKAggregator equals window top-k") {
    import spark.implicits._
    val agg = new graft.functions.TopKAggregator(3).toColumn
    val data = Seq(
      (1L, 0.9, 10L), (1L, 0.8, 11L), (1L, 0.9, 9L), (1L, 0.1, 12L), (1L, 0.5, 13L),
      (2L, 0.3, 20L), (2L, 0.7, 21L))
      .toDF("q", "score", "id")
    val viaAgg = data.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.name("topk"))
      .collect().toMap
      .map { case (k, v) => k -> v.map(_._2) }
    // expected: score desc, id asc tiebreak
    assert(viaAgg(1L) == Seq(9L, 10L, 11L))
    assert(viaAgg(2L) == Seq(21L, 20L))
  }
}
