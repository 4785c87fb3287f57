package graft.streaming

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PostingsStreamSpec extends SparkSpec {

  private def docs: DataFrame =
    graft.Tables(spark, sf()).documents.select(col("doc_id"), col("text"))

  private def signed(op: String, d: DataFrame): DataFrame =
    d.select(lit(op).as("op"), col("doc_id"), col("text"))

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-poststream-$tag").toString

  test("maintained index == from-scratch rebuild over the live corpus") {
    val dir = freshDir("eq")
    val d = docs
    PostingsStream.applySignedBatchDelta(spark, dir,
      signed("I", d.filter(col("doc_id") % 10 =!= 0)), batchId = 0L)
    PostingsStream.applySignedBatchDelta(spark, dir,
      signed("D", d.filter(col("doc_id") % 7 === 0))
        .unionByName(signed("I", d.filter(col("doc_id") % 10 === 0))),
      batchId = 1L)
    // delete-then-reinsert: %70 ids are both deleted and inserted in
    // batch 1 → present; surviving = NOT(doc_id%7==0 AND doc_id%10!=0)
    val live = d.filter(!(col("doc_id") % 7 === 0 && col("doc_id") % 10 =!= 0))
    val wantPost = d.sparkSession.emptyDataFrame // placeholder, built below
    val got = PostingsStream.readPostingsDelta(spark, dir)
      .select("term", "doc", "dl", "tf")
      .collect().map(_.toString).sorted
    val want = live
      .select(col("doc_id").as("doc"),
        graft.util.TextPrep.tokens(col("text")).as("tk"))
      .select(col("doc"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("term"), col("doc"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .select("term", "doc", "dl", "tf")
      .collect().map(_.toString).sorted
    assert(got.length == want.length && got.sameElements(want))
    val _ = wantPost
    // the docs view carries exact corpus stats
    val stats = PostingsStream.readDocsDelta(spark, dir)
      .agg(count(lit(1)), sum(col("dl"))).head()
    val wantStats = live
      .select(size(graft.util.TextPrep.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(stats == wantStats)
  }

  test("replayed batches no-op; re-used live id rejected; duplicate in-batch id keeps smallest hash") {
    val dir = freshDir("replay")
    val d = docs.limit(50).cache()
    PostingsStream.applySignedBatchDelta(spark, dir, signed("I", d), 0L)
    val v0 = PostingsStream.readPostingsDelta(spark, dir)
      .collect().map(_.toString).sorted
    // replay of batch 0 no-ops
    PostingsStream.applySignedBatchDelta(spark, dir, signed("I", d), 0L)
    // a later batch re-using a live id with DIFFERENT text is rejected
    PostingsStream.applySignedBatchDelta(spark, dir,
      d.limit(1).select(lit("I").as("op"), col("doc_id"),
        lit("totally different text").as("text")), 1L)
    val v1 = PostingsStream.readPostingsDelta(spark, dir)
      .collect().map(_.toString).sorted
    assert(v1.sameElements(v0), "replay or re-used id changed the index")
    // duplicate ids WITHIN one batch: exactly one survives, by smallest md5
    val dir2 = freshDir("dupid")
    val dup = spark.range(1).select(lit(7L).as("doc_id"), lit("b b").as("text"))
      .unionByName(spark.range(1).select(lit(7L).as("doc_id"), lit("a a").as("text")))
    PostingsStream.applySignedBatchDelta(spark, dir2,
      dup.select(lit("I").as("op"), col("doc_id"), col("text")), 0L)
    val rows = PostingsStream.readPostingsDelta(spark, dir2)
      .select("term").collect().map(_.getString(0)).toSet
    val winner = Seq("a a", "b b").minBy(t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(rows == winner.split(" ").toSet)
  }

  test("layout stamp: mismatched bucketing refused on write AND serve") {
    val dir = freshDir("stamp")
    val d = docs.limit(20)
    PostingsStream.applySignedBatchDelta(spark, dir, signed("I", d), 0L,
      nBuckets = 64)
    assert(Stamps.layout(spark, dir).contains(PostingsStream.postingsStamp(64)))
    val before = Stamps.files(dir)
    for (call <- Seq[() => Any](
        () => PostingsStream.applySignedBatchDelta(spark, dir, signed("I", d), 1L,
          nBuckets = 32),
        () => PostingsStream.bm25TopKDelta(spark, dir, TextAnalysis.Bm25Queries,
          nBuckets = 32))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("layout mismatch, rebuild required"), e.getMessage)
    }
    assert(Stamps.files(dir) == before, "a refused call writes nothing")
  }

  test("crash before or after the group commit: replay converges") {
    import graft.util.FaultPoints
    val d = docs.limit(200).cache()
    val batch = signed("I", d)
    def snap(p: String) = PostingsStream.readPostingsDelta(spark, p)
      .select("term", "doc", "dl", "tf").collect().map(_.toString).sorted
    val ref = freshDir("crash-ref")
    PostingsStream.applySignedBatchDelta(spark, ref, batch, 0L)
    for (at <- Seq(FaultPoints.GroupBeforeCommit, FaultPoints.GroupAfterCommit)) {
      val dir = freshDir("crash")
      // abort at the point — an in-process stand-in for the forked-JVM
      // SIGKILL the CurationCrashSpec runs; the on-disk state is the same
      intercept[RuntimeException] {
        FaultPoints.during { (p, label) =>
          if (p == at && label == dir) throw new RuntimeException("boom")
        }(PostingsStream.applySignedBatchDelta(spark, dir, batch, 0L))
      }
      val views = PostingsStream.views(spark, dir).read()
      if (at == FaultPoints.GroupBeforeCommit) {
        assert(PostingsStream.committedDelta(spark, dir).isEmpty, at)
        assert(views.forall(_.isEmpty), at)
      } else {
        assert(PostingsStream.committedDelta(spark, dir).exists(_._1 == 0L), at)
        assert(views.forall(_.nonEmpty), at)
      }
      // ordinary replay converges to the clean sequential reference
      PostingsStream.applySignedBatchDelta(spark, dir, batch, 0L)
      assert(snap(dir).sameElements(snap(ref)), at)
    }
    assert(snap(ref).nonEmpty)
  }

  test("serving scan partition-prunes to the query terms' buckets") {
    val dir = freshDir("prune")
    // enough commits to fold a compacted (tb-partitioned) base: the view
    // compacts when the delta log reaches compactEvery
    val d = docs.limit(400).cache()
    PostingsStream.applySignedBatchDelta(spark, dir,
      signed("I", d.filter(col("doc_id") % 2 === 0)), 0L, compactEvery = 1)
    PostingsStream.applySignedBatchDelta(spark, dir,
      signed("I", d.filter(col("doc_id") % 2 =!= 0)), 1L, compactEvery = 1)
    val served = PostingsStream.bm25TopKDelta(spark, dir,
      TextAnalysis.Bm25Queries)
    served.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case _ => Seq.empty
      }
      (p.children ++ extra).flatMap(leaves) ++ (p match {
        case f: FileSourceScanExec => Seq(f); case _ => Seq.empty
      })
    }
    val scans = leaves(served.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("base_v"))
    assert(scans.nonEmpty, "no base scan found in the served plan")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "base scan is not partition-pruned:\n" +
        served.queryExecution.executedPlan.toString.take(2000))
  }
}
