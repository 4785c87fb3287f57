package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MediaDedupStreamSpec extends SparkSpec {

  private def fp(id: Long, b0: Long, b1: Long = 7L, b2: Long = 9L,
                 b3: Long = 11L) = (id, b0, b1, b2, b3)

  test("streamed ingest dedup: in-batch near-dups collapse, cross-batch copies reject, novel clips append") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds").toString

    val mem = MemoryStream[(Long, Long, Long, Long, Long)]
    val q = MicroBatch.start(mem.toDS().toDF("media_id", "b0", "b1", "b2", "b3")
        .withColumn("op", lit("I")), s"$dir/ckpt")(
      MediaDedupStream.applySignedBatchDelta(spark, s"$dir/index", _, _))

    // batch 1: two fingerprint-identical clips arrive TOGETHER — only the
    // smaller id may enter the index — plus one distinct clip.
    mem.addData(fp(5L, 100L), fp(2L, 100L), fp(9L, 1L << 15, 1L << 14))
    q.processAllAvailable()
    // batch 2: a near-copy of clip 2 (hamming 1) arrives later — reject;
    // a genuinely novel clip — accept.
    mem.addData(fp(20L, 101L), fp(30L, 1L << 9, 1L << 8, 1L << 7, 1L << 6))
    q.processAllAvailable()
    q.stop()

    val got = MediaDedupStream.readIndexDelta(spark, s"$dir/index")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 9L, 30L), got.toString)
  }

  test("replayed micro-batches are no-ops; the index never double-appends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds2").toString
    val idx = s"$dir/index"
    def batch(rows: (Long, Long, Long, Long, Long)*) =
      rows.toDF("media_id", "b0", "b1", "b2", "b3").withColumn("op", lit("I"))

    MediaDedupStream.applySignedBatchDelta(spark, idx, batch(fp(1L, 50L)), 0L)
    // far from clip 1 in every band (hamming >> 3)
    MediaDedupStream.applySignedBatchDelta(spark, idx,
      batch(fp(2L, 1L << 10, 1L << 11, 1L << 12, 1L << 13)), 1L)
    // replay of batch 1 with DIFFERENT (bogus) content must be a no-op
    MediaDedupStream.applySignedBatchDelta(spark, idx,
      batch(fp(99L, 1L << 3, 1L << 4, 1L << 5, 1L << 6)), 1L)

    val got = MediaDedupStream.readIndexDelta(spark, idx)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), got.toString)
    assert(MediaDedupStream.committedDelta(spark, idx).map(_._1).contains(1L))
  }

  test("streamed ingest equals the sequential batch reference on real audio fingerprints") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds3").toString
    val idx = s"$dir/index"
    // real fingerprints: originals + shifted copies, split across two
    // arrival batches so the cross-batch rejection path runs on real data
    val wav = udf((d: Long) => graft.operators.Multimodal.makeWav(
      d, graft.operators.Multimodal.audioN(d)))
    val originals = graft.operators.Multimodal
      .mediaTable(graft.Tables(spark, sf("sf0.001")).documents)
      .filter(col("kind") === "audio")
      .select(col("media_id").cast("long"), col("kind"),
        wav(col("media_id")).as("payload"))
      .orderBy("media_id").limit(12).cache()
    val copies = graft.operators.Multimodal.shiftedAudioCopies(
      spark, originals, offset = 50000L, delta = 1)
    val h1 = graft.operators.Multimodal
      .audioFingerprintHashes(spark, originals).cache()
    val h2 = graft.operators.Multimodal
      .audioFingerprintHashes(spark, copies).cache()

    MediaDedupStream.applySignedBatchDelta(spark, idx,
      h1.withColumn("op", lit("I")), 0L)
    MediaDedupStream.applySignedBatchDelta(spark, idx,
      h2.withColumn("op", lit("I")), 1L)

    val streamed = MediaDedupStream.readIndexDelta(spark, idx)
      .select("media_id").collect().map(_.getLong(0)).toSet
    // sequential reference: batch-1 reps enter; every batch-2 copy whose
    // fingerprint is within dist 3 of an accepted batch-1 rep is rejected
    val reps1 = graft.operators.Multimodal
      .fingerprintDedupClusters(h1, maxDist = 3)
      .filter(col("media_id") === col("cluster"))
      .select("media_id").collect().map(_.getLong(0)).toSet
    val probe2 = graft.operators.Multimodal.fingerprintIndexProbe(
        h1.join(reps1.toSeq.toDF("media_id"), "media_id"),
        h2.join(graft.operators.Multimodal
          .fingerprintDedupClusters(h2, maxDist = 3)
          .filter(col("media_id") === col("cluster")).select("media_id"),
          "media_id"),
        maxDist = 3)
      .filter(col("kept")).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == reps1 ++ probe2, s"streamed=$streamed ref=${reps1 ++ probe2}")
  }

  test("file-ingest stream: WAVs landing in a watched dir dedup into the index end to end") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val watch = s"$root/incoming"; java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(watch))
    def drop(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$watch/$name"), bytes)

    // first wave: two distinct clips, an image, and a sidecar the glob
    // must skip — modalities route to their OWN indexes
    drop("clip_1.wav", graft.operators.Multimodal.makeWav(1L, 200))
    drop("clip_4.wav", graft.operators.Multimodal.makeWav(4L, 300))
    drop("pic_11.png", graft.operators.Multimodal.makePng(11L, 12, 10))
    drop("manifest.txt", "not audio".getBytes)

    val q = MediaDedupStream.ingestFiles(spark, watch, glob = "*.{wav,png}",
      indexDir = s"$root/index", checkpointDir = s"$root/ckpt")
    q.processAllAvailable()

    // second wave: a byte-identical RE-UPLOAD of clip 1 under a new id
    // (must be rejected), a genuinely new clip (must append), and THREE
    // poison objects an always-on stream must shrug off: a name with no
    // parseable id, a corrupt payload under a valid name, and a stale-id
    // overwrite (id 4 re-used with different content — the id-uniqueness
    // invariant must hold, no second id-4 row)
    drop("clip_101.wav", graft.operators.Multimodal.makeWav(1L, 200))
    drop("clip_7.wav", graft.operators.Multimodal.makeWav(7L, 444))
    drop("intro.wav", graft.operators.Multimodal.makeWav(9L, 120))
    drop("clip_66.wav", "definitely not a wav".getBytes)
    drop("remix_4.wav", graft.operators.Multimodal.makeWav(40L, 350))
    // an image RE-UPLOAD under a new name must dedup in the image index
    drop("pic_111.png", graft.operators.Multimodal.makePng(11L, 12, 10))
    q.processAllAvailable()
    q.stop()

    val audioIdx = MediaDedupStream.readIndexDelta(spark, s"$root/index/audio")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(audioIdx == Seq(1L, 4L, 7L), audioIdx.toString)
    val imageIdx = MediaDedupStream.readIndexDelta(spark, s"$root/index/image")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(imageIdx == Seq(11L), imageIdx.toString)
  }

  test("signed stream: deletes retract replay-safely, and a deleted clip's copy can re-enter") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds4").toString
    val idx = s"$dir/index"
    def sb(rows: (String, Long, Long, Long, Long, Long)*) =
      rows.toDF("op", "media_id", "b0", "b1", "b2", "b3")

    val mem = MemoryStream[(String, Long, Long, Long, Long, Long)]
    val q = MicroBatch.start(
      mem.toDS().toDF("op", "media_id", "b0", "b1", "b2", "b3"), s"$dir/ckpt")(
      MediaDedupStream.applySignedBatchDelta(spark, idx, _, _))
    // batch 1: two distinct clips enter
    mem.addData(("I", 1L, 50L, 7L, 9L, 11L),
      ("I", 2L, 1L << 10, 1L << 11, 1L << 12, 1L << 13))
    q.processAllAvailable()
    // batch 2: clip 1 is taken down; a near-copy of it (hamming 1) arrives
    // in the SAME batch and — probing the post-delete index — is accepted
    mem.addData(("D", 1L, 0L, 0L, 0L, 0L), ("I", 10L, 51L, 7L, 9L, 11L))
    q.processAllAvailable()
    q.stop()
    val got = MediaDedupStream.readIndexDelta(spark, idx)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 10L), got.toString)

    // a replayed delete batch must no-op (direct driver, same batchId)
    MediaDedupStream.applySignedBatchDelta(spark, idx,
      sb(("D", 2L, 0L, 0L, 0L, 0L)), 1L)
    val after = MediaDedupStream.readIndexDelta(spark, idx)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(after == Set(2L, 10L), after.toString)
  }

  test("delta core equals the batch reference across a compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds5").toString
    def sb(rows: (String, Long, Long, Long, Long, Long)*) =
      rows.toDF("op", "media_id", "b0", "b1", "b2", "b3")
    // four signed batches crossing a compactEvery=2 boundary: insert,
    // takedown + same-batch near-copy re-entry, novel insert, takedown
    val batches = Seq(
      sb(("I", 1L, 50L, 7L, 9L, 11L),
         ("I", 2L, 1L << 10, 1L << 11, 1L << 12, 1L << 13)),
      sb(("D", 1L, 0L, 0L, 0L, 0L), ("I", 10L, 51L, 7L, 9L, 11L)),
      sb(("I", 30L, 1L << 20, 1L << 21, 1L << 22, 1L << 23)),
      sb(("D", 30L, 0L, 0L, 0L, 0L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      MediaDedupStream.applySignedBatchDelta(spark, s"$dir/delta", b,
        i.toLong, compactEvery = 2)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id").collect().map(_.getLong(0)).toSet
    val delta = ids(MediaDedupStream.readIndexDelta(spark, s"$dir/delta"))
    // sequential reference: 1 and 2 enter, 1 is retracted and its near-copy
    // 10 re-enters against the post-delete index, 30 enters then leaves
    assert(delta == Set(2L, 10L), delta.toString)
    assert(MediaDedupStream.committedDelta(spark, s"$dir/delta")
      .exists(_._3 > 0))
    // replayed delete with bogus content no-ops on the delta core too
    MediaDedupStream.applySignedBatchDelta(spark, s"$dir/delta",
      sb(("D", 2L, 0L, 0L, 0L, 0L)), 3L, compactEvery = 2)
    assert(ids(MediaDedupStream.readIndexDelta(spark, s"$dir/delta"))
      == Set(2L, 10L))
  }

  test("fingerprint-family stamp: retuned family and pre-stamp state are refused loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mds9").toString
    val idx = s"$dir/index"
    def batch(rows: (Long, Long, Long, Long, Long)*) =
      rows.map { case (id, b0, b1, b2, b3) => ("I", id, b0, b1, b2, b3) }
        .toDF("op", "media_id", "b0", "b1", "b2", "b3")
    MediaDedupStream.applySignedBatchDelta(spark, idx,
      batch(fp(1L, 50L)), 0L)
    assert(Stamps.layout(spark, idx).contains(graft.operators.Multimodal.fingerprintStamp))

    // a FUTURE family retune (simulated foreign stamp) must refuse the
    // maintainer and the reader instead of probing wrong emptiness, and
    // write nothing
    Stamps.restamp(spark, idx, "family=phash64,bands=8x8,v=2")
    val before = Stamps.files(idx)
    for (call <- Seq[() => Any](
        () => MediaDedupStream.applySignedBatchDelta(spark, idx, batch(fp(2L, 60L)), 1L),
        () => MediaDedupStream.readIndexDelta(spark, idx))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("layout mismatch, rebuild required"), e.getMessage)
    }
    assert(Stamps.files(idx) == before)

    // committed state WITHOUT a stamp (an unstamped writer)
    val bare = s"$dir/bare"
    graft.util.DeltaView(spark, bare, Seq("media_id")).applyBatch(0L) { _ =>
      (Seq((1L, 50L, 7L, 9L, 11L)).toDF("media_id", "b0", "b1", "b2", "b3"),
       Seq.empty[Long].toDF("media_id"))
    }
    val e2 = intercept[IllegalStateException] {
      MediaDedupStream.applySignedBatchDelta(spark, bare,
        batch(fp(2L, 60L)), 1L)
    }
    assert(e2.getMessage.contains("by an unstamped writer"), e2.getMessage)
  }
}
