package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class CurationStreamSpec extends SparkSpec {

  private def docs = graft.Tables(spark, sf()).documents
    .select(col("doc_id"), col("text"), col("source"))

  // frozen df-cap universe from the bootstrap corpus (the quantizer)
  private lazy val frozenOk =
    Dedup.lshIndexBuild(docs, "text", "doc_id").ok.cache()

  /** The sequential batch reference: the same gate stack driven wave by
    * wave with the BATCH primitives and plain Scala state — no views, no
    * stream machinery. What the stream must equal.
    */
  private def batchReference(waves: Seq[DataFrame], capN: Long): Set[Long] = {
    import spark.implicits._
    var acceptedDocs: DataFrame = null // (doc_id, source, text, hash)
    for (wave <- waves) {
      val eligible = wave.filter(
        TextAnalysis.langGuessExpr(col("text")) === "en" &&
        TextAnalysis.qualityKeepExpr(col("text")))
      val keep = Dedup.exact(eligible, col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"))
      val e2 = eligible.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("text"),
          md5(col("text")).as("hash"))
      val art = Dedup.lshArtifacts(e2, "text", "doc_id", frozenOk)
      val inDrop = Dedup.lshPairsWithin(art)
        .select(col("doc_b").as("drop_id")).distinct()
      val reps = e2.join(inDrop, col("doc_id") === col("drop_id"), "left_anti")
      val (exNew, cnts) =
        if (acceptedDocs == null)
          (reps, Seq.empty[(String, Long)].toDF("source", "cnt"))
        else (reps
          .join(acceptedDocs.select(col("hash")), Seq("hash"), "left_anti")
          .join(acceptedDocs.select(col("doc_id")), Seq("doc_id"), "left_anti"),
          acceptedDocs.groupBy(col("source")).agg(count(lit(1)).as("cnt")))
      val index =
        if (acceptedDocs == null)
          Dedup.lshArtifacts(docs.limit(0), "text", "doc_id", frozenOk)
        else Dedup.lshArtifacts(acceptedDocs, "text", "doc_id", frozenOk)
      val kept = Dedup.lshIndexProbe(index, exNew, "text", "doc_id")
        .filter(col("kept")).select("doc_id")
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id")))
      val admitted = exNew.join(kept, "doc_id").withColumn("rn", rn)
        .join(broadcast(cnts), Seq("source"), "left")
        .filter(coalesce(col("cnt"), lit(0L)) + col("rn") <= capN)
        .select(col("doc_id"), col("source"), col("text"), col("hash"))
      acceptedDocs =
        (if (acceptedDocs == null) admitted
         else acceptedDocs.unionByName(admitted)).localCheckpoint()
    }
    acceptedDocs.select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("streamed curation equals the sequential batch reference across three arrival waves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cur").toString
    val waves = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    waves.zipWithIndex.foreach { case (w, i) =>
      CurationStream.applyBatchDelta(spark, dir, frozenOk, w, i.toLong,
        capN = 60L)
    }
    val streamed = CurationStream.readDocsDelta(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = batchReference(waves, capN = 60L)
    assert(streamed == want,
      s"diff=${(streamed diff want) ++ (want diff streamed)}")
    assert(streamed.nonEmpty)
    // the maintained index views cover only accepted docs (a doc whose
    // shingles are all df-capped has no set row — subset, not equality)
    val setDocs = CurationStream.views(spark, dir).read()(1).get
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(setDocs.nonEmpty && setDocs.subsetOf(streamed), setDocs.size)
  }

  test("replayed batches no-op across all three views; the cap binds per source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cur2").toString
    // synthetic English docs that pass the gates; their shingles are not
    // in the bootstrap universe, so the LSH stage is pass-through here —
    // this test exercises cap + replay mechanics
    def doc(id: Long, seed: String) =
      (id, s"the quick brown fox jumps over the lazy dog $seed and then " +
        s"the story about $seed continues with many common words again.",
        "web")
    val w1 = Seq(doc(1, "alpha one"), doc(2, "beta two"), doc(3, "gamma three"))
      .toDF("doc_id", "text", "source")
    val w2 = Seq(doc(10, "delta four"), doc(11, "epsilon five"))
      .toDF("doc_id", "text", "source")
    CurationStream.applyBatchDelta(spark, dir, frozenOk, w1, 0L, capN = 4L)
    CurationStream.applyBatchDelta(spark, dir, frozenOk, w2, 1L, capN = 4L)
    val got = CurationStream.readDocsDelta(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 10L), got) // cap 4: doc 11 refused
    // replay wave 2 with bogus content: every view no-ops
    val bogus = Seq(doc(99, "bogus")).toDF("doc_id", "text", "source")
    CurationStream.applyBatchDelta(spark, dir, frozenOk, bogus, 1L, capN = 4L)
    val after = CurationStream.readDocsDelta(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == got, s"after=$after got=$got")
  }

  test("end-to-end stream: exact and near dups straddling batches never enter the corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cur3").toString
    val base = "the quick brown fox jumps over the lazy dog and then the " +
      "story continues with many common words that score well on quality."
    val other = "completely different subject matter entirely about many " +
      "other things with fresh common words still passing the whole gate."
    val all = Seq((1L, base, "web"), (2L, base + " tail change here.", "web"),
      (20L, base, "web"), (21L, base + " tail change there.", "web"),
      (22L, other, "web")).toDF("doc_id", "text", "source")
    // bootstrap universe built over THIS stream's vocabulary (the frozen
    // quantizer a deployment derives from its own bootstrap corpus)
    val ok3 = Dedup.lshIndexBuild(all, "text", "doc_id", maxShingleDf = 100).ok

    val mem = MemoryStream[(Long, String, String)]
    val q = MicroBatch.start(mem.toDS().toDF("doc_id", "text", "source"),
      s"$dir/ckpt")(CurationStream.applyBatchDelta(spark, dir, ok3, _, _, capN = 10L))
    mem.addData((1L, base, "web"), (2L, base + " tail change here.", "web"))
    q.processAllAvailable()
    // an exact copy of doc 1 and a near-dup of the base arrive later
    mem.addData((20L, base, "web"),
      (21L, base + " tail change there.", "web"), (22L, other, "web"))
    q.processAllAvailable()
    q.stop()
    val got = CurationStream.readDocsDelta(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(1L) && got(22L), got)
    assert(!got(20L), s"exact dup straddling batches entered: $got")
    assert(!got(21L), s"near-dup straddling batches entered: $got")
  }

  test("delta core equals the batch reference across a compaction") {
    val dirD = java.nio.file.Files.createTempDirectory("graft-cur4d").toString
    // four waves crossing a compactEvery=2 boundary on every view
    val waves = (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))
    waves.zipWithIndex.foreach { case (w, i) =>
      CurationStream.applyBatchDelta(spark, dirD, frozenOk, w, i.toLong,
        capN = 60L, compactEvery = 2)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = batchReference(waves, capN = 60L)
    val delta = ids(CurationStream.readDocsDelta(spark, dirD))
    assert(want == delta,
      s"diff=${(want diff delta) ++ (delta diff want)}")
    assert(delta.nonEmpty)
    // a compaction actually happened on the docs view
    assert(CurationStream.committedDelta(spark, dirD).exists(_._3 > 0))
    // replay of the last wave with bogus content no-ops on the delta core
    import spark.implicits._
    val bogus = Seq((12345L, "the quick brown fox jumps over the lazy dog " +
      "with many common words in a fine sentence again.", "web"))
      .toDF("doc_id", "text", "source")
    CurationStream.applyBatchDelta(spark, dirD, frozenOk, bogus, 3L,
      capN = 60L, compactEvery = 2)
    assert(ids(CurationStream.readDocsDelta(spark, dirD)) == delta)
  }

  test("signed stream: takedown retracts all three views, same-batch re-entry works, replayed deletes no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cur5").toString
    // six gate-passing docs sharing a 25-word English prefix (pairwise
    // shingle Jaccard ~0.39 < 0.5 — no near-dup pairs) + unique tails
    val prefix = ("the quick brown fox jumps over a lazy dog and runs with " +
      "great speed to an old mill where it finds many tasty treats")
    def text(i: Int) = prefix + " " + (0 until 15).map(k => s"d${i}u$k").mkString(" ")
    def iRows(ids: (Long, Int)*) =
      ids.map { case (id, t) => ("I", id, text(t), "web") }
        .toDF("op", "doc_id", "text", "source")
    def dRows(ids: Long*) =
      ids.map(id => ("D", id, null: String, null: String))
        .toDF("op", "doc_id", "text", "source")
    val corpus = iRows((1 to 6).map(i => (i.toLong, i)): _*)
    val ok = Dedup.lshIndexBuild(corpus, "text", "doc_id").ok.cache()
    def docIds = CurationStream.readDocsDelta(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def setDocs = CurationStream.views(spark, dir).read()(1).map(_.select("doc").collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty[Long])

    CurationStream.applySignedBatchDelta(spark, dir, ok, corpus, 0L, capN = 100)
    assert(docIds == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // takedown of doc 3 + SAME-BATCH re-entry of its exact content under a
    // new id: deletes apply first, so the copy probes clean and re-enters
    CurationStream.applySignedBatchDelta(spark, dir, ok,
      dRows(3L).unionByName(iRows((103L, 3))), 1L, capN = 100)
    assert(docIds == Set(1L, 2L, 4L, 5L, 6L, 103L))
    assert(setDocs == Set(1L, 2L, 4L, 5L, 6L, 103L),
      "set rows must retract/append in the same commit")
    // a REPLAYED batch id with bogus content no-ops on all views
    CurationStream.applySignedBatchDelta(spark, dir, ok, dRows(1L), 1L,
      capN = 100)
    assert(docIds == Set(1L, 2L, 4L, 5L, 6L, 103L))
    // re-delete of 103 + delete of a never-admitted id (harmless tombstone)
    CurationStream.applySignedBatchDelta(spark, dir, ok, dRows(103L, 42L),
      2L, capN = 100)
    assert(docIds == Set(1L, 2L, 4L, 5L, 6L))
    assert(setDocs == Set(1L, 2L, 4L, 5L, 6L))
    // while the ORIGINAL lives, its exact copy stays blocked
    CurationStream.applySignedBatchDelta(spark, dir, ok, iRows((200L, 1)),
      3L, capN = 100)
    assert(!docIds.contains(200L) && docIds.contains(1L))
    ok.unpersist()
  }

  test("banding stamp: a persisted index under a different LSH config fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cur6").toString
    CurationStream.applyBatchDelta(spark, dir, frozenOk,
      docs.limit(20), 0L, capN = 60L)
    // the stamp is the group manifest's layout, committed with the rows
    assert(Stamps.layout(spark, dir).contains(Dedup.bandingStamp))
    // simulate an engine whose banding/family changed: refused on write
    // and on read, and nothing is written
    Stamps.restamp(spark, dir, "k=64,bands=32,family=deadbeef")
    val before = Stamps.files(dir)
    for (call <- Seq[() => Any](
        () => CurationStream.applyBatchDelta(spark, dir, frozenOk,
          docs.limit(20), 1L, capN = 60L),
        () => CurationStream.readDocsDelta(spark, dir))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("layout mismatch, rebuild required"), e.getMessage)
    }
    assert(Stamps.files(dir) == before)
  }
}
