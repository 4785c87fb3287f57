package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The layout stamp of the four stamped maintainers (curation, media,
  * postings, embeddings) lives in their group manifest: reads and idle
  * triggers write nothing, a manifest from before the field is refused by
  * name where a stamp is required and opens where none is, and a
  * maintainer's dir holds nothing beside its pointer and version dirs.
  */
class LayoutStampSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-stamp-$tag").toString

  private val prefix = "the quick brown fox jumps over a lazy dog and runs with " +
    "great speed to an old mill where it finds many tasty treats"
  private def textDocs(ids: Long*): DataFrame = ids.map(i => ("I", i, prefix + " " +
    (0 until 15).map(k => s"d${i}u$k").mkString(" "), "web"))
    .toDF("op", "doc_id", "text", "source")
  private lazy val ok = graft.operators.Dedup.lshIndexBuild(textDocs(1L, 2L, 3L),
    "text", "doc_id").ok
  private def media(ids: Long*): DataFrame =
    ids.map(i => ("I", i, i * 1000L, 7L, 9L, 11L)).toDF("op", "media_id", "b0", "b1", "b2", "b3")
  private val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
  private def vectors(ids: Long*): DataFrame =
    ids.map(i => ("I", i, if (i % 2 == 0) Seq(0.9, 0.1) else Seq(0.1, 0.9)))
      .toDF("op", "vec_id", "embedding")
  private val queries = Seq((100L, Seq(0.8, 0.6))).toDF("vec_id", "embedding")

  /** One batch of each stamped maintainer, by name: (dir, batchId) => Unit. */
  private val writers: Seq[(String, (String, Long) => Unit)] = Seq(
    "curation" -> ((d, b) => CurationStream.applySignedBatchDelta(spark, d, ok,
      textDocs(10L + b), b, capN = 100)),
    "media" -> ((d, b) => MediaDedupStream.applySignedBatchDelta(spark, d, media(10L + b), b)),
    "postings" -> ((d, b) => PostingsStream.applySignedBatchDelta(spark, d,
      textDocs(10L + b).drop("source"), b)),
    "embeddings" -> ((d, b) => EmbeddingDedupStream.applyBatchDelta(spark, d, cent,
      vectors(10L + b), b, threshold = 0.9999)))

  test("every read, serve and idle trigger on a fresh dir leaves it empty") {
    def consume(df: DataFrame): Unit = { df.collect(); () }
    val reads: Seq[(String, String => Unit)] = Seq(
      "ViewMaintenance.readViewDelta" -> (d => consume(ViewMaintenance.readViewDelta(spark, d))),
      "CurationStream.readDocsDelta" -> (d => consume(CurationStream.readDocsDelta(spark, d))),
      "CurationStream.committedDelta" -> (d => assert(CurationStream.committedDelta(spark, d).isEmpty)),
      "MediaDedupStream.readIndexDelta" -> (d => consume(MediaDedupStream.readIndexDelta(spark, d))),
      "MediaDedupStream.committedDelta" -> (d => assert(MediaDedupStream.committedDelta(spark, d).isEmpty)),
      "PostingsStream.readDocsDelta" -> (d => consume(PostingsStream.readDocsDelta(spark, d))),
      "PostingsStream.readPostingsDelta" -> (d => consume(PostingsStream.readPostingsDelta(spark, d))),
      "PostingsStream.committedDelta" -> (d => assert(PostingsStream.committedDelta(spark, d).isEmpty)),
      "PostingsStream.bm25TopKDelta" -> (d => consume(PostingsStream.bm25TopKDelta(spark, d,
        Seq(1L -> "quick fox")))),
      "EmbeddingDedupStream.readIndexDelta" -> (d => consume(EmbeddingDedupStream.readIndexDelta(spark, d))),
      "EmbeddingDedupStream.committedDelta" -> (d => assert(EmbeddingDedupStream.committedDelta(spark, d).isEmpty)),
      "EmbeddingDedupStream.probeDelta" -> (d => consume(EmbeddingDedupStream.probeDelta(spark, d,
        cent, queries))),
      "EmbeddingDedupStream.annTopKDelta" -> (d => consume(EmbeddingDedupStream.annTopKDelta(spark,
        d, cent, queries, k = 2))),
      // an empty index has nothing to tune against: refused, by name
      "EmbeddingDedupStream.tuneProbeDelta" -> (d => assert(intercept[IllegalArgumentException](
        EmbeddingDedupStream.tuneProbeDelta(spark, d, cent, queries, targetRecall = 0.9))
        .getMessage.contains("no sampled query has a true near-dup"))),
      "EmbeddingDedupStream.monitorDriftDelta" -> (d => assert(EmbeddingDedupStream
        .monitorDriftDelta(spark, d, cent).isEmpty)))
    val idle: Seq[(String, String => Unit)] = Seq(
      "ViewMaintenance idle trigger" -> (d => ViewMaintenance.applyBatchDelta(spark, d,
        Seq.empty[(String, String, Double)].toDF("op", "key", "measure"), 0L)),
      "CurationStream idle trigger" -> (d => CurationStream.applySignedBatchDelta(spark, d, ok,
        textDocs().limit(0), 0L, capN = 100)),
      "MediaDedupStream idle trigger" -> (d => MediaDedupStream.applySignedBatchDelta(spark, d,
        media().limit(0), 0L)),
      "PostingsStream idle trigger" -> (d => PostingsStream.applySignedBatchDelta(spark, d,
        textDocs().limit(0).drop("source"), 0L)),
      "EmbeddingDedupStream idle trigger" -> (d => EmbeddingDedupStream.applyBatchDelta(spark, d,
        cent, vectors().limit(0), 0L)))
    for ((name, call) <- reads ++ idle) {
      val d = tmp("fresh")
      call(d)
      assert(Stamps.files(d).isEmpty, s"$name wrote ${Stamps.files(d)}")
    }
  }

  test("a manifest from before the layout field: refused by name where a stamp is required, opened where none is") {
    for ((name, write) <- writers) {
      val d = tmp(s"old-$name")
      write(d, 0L)
      Stamps.dropLayoutField(spark, d)
      val before = Stamps.files(d)
      val e = intercept[IllegalStateException](write(d, 1L))
      assert(e.getMessage.contains("committed before layout stamps moved into the manifest"),
        s"$name: ${e.getMessage}")
      assert(Stamps.files(d) == before, s"$name: nothing may be written")
    }
    // an unstamped view reads its older manifest as the empty layout
    val v = tmp("old-view")
    def cdc(rows: (String, String, Double)*) = rows.toDF("op", "key", "measure")
    ViewMaintenance.applyBatchDelta(spark, v, cdc(("I", "A", 1.0)), 0L)
    Stamps.dropLayoutField(spark, v)
    ViewMaintenance.applyBatchDelta(spark, v, cdc(("I", "B", 2.0)), 1L)
    assert(ViewMaintenance.readViewDelta(spark, v).select("key").as[String].collect().toSet ==
      Set("A", "B"))
    assert(Stamps.layout(spark, v).contains(""))
    // and so does a file replica's db epoch: its watermark and pins hold
    import graft.repl.{DbCatalog, DbEpochs}
    val cat = DbCatalog(spark, tmp("old-epoch"), epochMode = true)
    cat.createDb("db")
    cat.writeTable("db", "a", Seq((1L, "a1")).toDF("k", "v"))
    val epochs = DbEpochs(spark, cat, "db")
    epochs.commit(10L)
    Stamps.dropLayoutField(spark, s"${cat.dbPath("db")}/_epochs")
    assert(cat.watermark("db").contains(10L))
    assert(epochs.pin().readTable("a").count() == 1)
    epochs.commit(20L)
    assert(cat.watermark("db").contains(20L))
  }

  test("a stamped maintainer's dir holds only its pointer and version dirs") {
    val allowed = Map(
      "curation" -> Set("docs", "sets", "bands"),
      "postings" -> Set("docs", "postings"))
    for ((name, write) <- writers) {
      val d = tmp(s"guard-$name")
      (0L to 2L).foreach(write(d, _))
      if (name == "embeddings") EmbeddingDedupStream.monitorDriftDelta(spark, d, cent,
        threshold = 0.1)
      val top = new java.io.File(d).list().toSet
      val ok = (n: String) => n == "CURRENT" || allowed.get(name).fold(
        n.matches("(base|delta)_v\\d+") || (name == "embeddings" && n == "RECALL"))(_.contains(n))
      assert(top.contains("CURRENT") && top.forall(ok), s"$name: $top")
    }
  }
}
