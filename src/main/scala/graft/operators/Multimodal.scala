package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with a
  * typed metadata struct, plus the operators a training-data pipeline runs
  * over them — decode, feature-extract, resize, frame-sample.
  *
  * Decode status by kind: IMAGE, AUDIO and VIDEO all decode REAL payloads
  * — PNG via `javax.imageio` ([[ImageCodec]], q36), WAV PCM via
  * `javax.sound.sampled` ([[AudioCodec]], q61), and video via GRFV
  * container demux + per-frame `javax.imageio` decode ([[VideoCodec]],
  * q70; the container is bespoke because the JDK ships no video codec,
  * but every frame is a genuine PNG). All payloads are deterministic
  * generated media whose decoded features have closed-form SQL oracles
  * (the formats are lossless, so decode recovers the exact source data).
  * [[FakeCodec]] (md5-seeded) remains only as the documented baseline for
  * opaque binaries with no decoder, and as q36's audio/video f0 feature.
  *
  * At 100 TB the payload column dominates I/O: the pipeline projects
  * metadata-only columns wherever possible (column pruning keeps the binary
  * out of the scan for metadata-only queries) and repartitions by byte size
  * before decode so one task never gets all the 4K videos.
  */
object Multimodal extends MultimodalFixtures with MultimodalCodecs {

  // ImageIO defaults to a disk-backed stream cache (one temp file per
  // encode/decode); in-memory streams are strictly faster for these small
  // frames and avoid per-row filesystem traffic on executors.
  javax.imageio.ImageIO.setUseCache(false)

  /** Shared DuckDB oracle for the index probe (q144) and its served
    * form (q147): the two queries are SPECIFIED to return the same
    * answer, so they must share one oracle — a fix to one cannot
    * silently diverge the other.
    */
  private val probeOracleSql: String = """
        WITH a AS (SELECT doc_id AS b FROM documents WHERE doc_id % 3 = 1),
        allv AS (SELECT b AS src, b AS d, 0 AS sh, 0 AS is_batch FROM a
                 UNION ALL
                 SELECT b, b + 10000, 1, 1 FROM a WHERE b % 5 = 1
                 UNION ALL
                 SELECT b + 20000, b + 20000, 0, 1 FROM a WHERE b % 5 = 2),
        s AS (SELECT d, is_batch, ((src % 400) + 100)::INT AS n, i,
                ((i*37 + src*11) % 2001 - 1000) + sh AS val
              FROM allv,
                   unnest(range(0, ((src % 400) + 100)::INT)) AS t(i)),
        g AS (SELECT d, is_batch, n, (i * 64 // n) AS f, val * val AS e
              FROM s),
        cells AS (SELECT d, is_batch, f, SUM(e) AS ef, COUNT(*) AS cf
                  FROM g GROUP BY 1, 2, 3),
        tot AS (SELECT d, is_batch, SUM(e) AS et, COUNT(*) AS ct
                FROM g GROUP BY 1, 2),
        bits AS (SELECT d, is_batch, f,
                   CASE WHEN ef::HUGEINT * ct > et::HUGEINT * cf THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d, is_batch)),
        bands AS (SELECT d, is_batch, f // 16 AS k,
                    CAST(SUM(bit * (1 << (f % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2, 3),
        hash4 AS (SELECT d, is_batch,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY 1, 2),
        cand AS (SELECT DISTINCT bb.d AS bid, cb.d AS cid
                 FROM bands bb JOIN bands cb
                   ON bb.k = cb.k AND bb.v = cb.v
                  AND bb.is_batch = 1 AND cb.is_batch = 0),
        dup AS (SELECT bid, MIN(cid) AS dup_of
                FROM cand
                JOIN hash4 hb ON hb.d = bid AND hb.is_batch = 1
                JOIN hash4 hc ON hc.d = cid AND hc.is_batch = 0
                WHERE bit_count(xor(hb.b0, hc.b0)) + bit_count(xor(hb.b1, hc.b1))
                    + bit_count(xor(hb.b2, hc.b2)) + bit_count(xor(hb.b3, hc.b3)) <= 3
                GROUP BY bid)
        SELECT h.d AS media_id, dup.dup_of, dup.dup_of IS NULL AS kept
        FROM hash4 h LEFT JOIN dup ON dup.bid = h.d
        WHERE h.is_batch = 1
        ORDER BY media_id"""


  /** Shared DuckDB oracle for the VIDEO frame-index probe (q152) and its
    * served form (q153) — the two queries are specified to return the
    * same answer (the q144/q147 contract, video modality). Rebuilds both
    * sides' per-frame hashes from the closed-form frame pixel math: the
    * corpus originals, the trimmed re-uploads (surviving frame BYTES are
    * verbatim, so their hashes are the source's at the original frame
    * index), and the genuinely novel clips (fresh pixel math under the
    * new id).
    */
  private val videoProbeOracleSql: String = """
        WITH v0 AS (SELECT doc_id AS b FROM documents WHERE doc_id % 3 = 2),
        allv AS (SELECT b AS src, b AS d, 0 AS cut, 0 AS is_batch FROM v0
                 UNION ALL
                 SELECT b, b + 10000, 1, 1 FROM v0 WHERE b % 5 = 1
                 UNION ALL
                 SELECT b + 20000, b + 20000, 0, 1 FROM v0 WHERE b % 5 = 2),
        frames AS (SELECT src, d, is_batch, f,
                          (src % 12 + 8)::INT AS w, (src % 10 + 8)::INT AS h
                   FROM allv,
                        unnest(generate_series(0, (src % 4 + 2)::INT - 1)) AS t(f)
                   WHERE f >= cut),
        g AS (SELECT d, is_batch, f,
                (x*31 + y*17 + src*7 + f*23) % 256
                  + (x*13 + y*29 + src*3 + f*19) % 256
                  + (x*7 + y*11 + src + f*5) % 256 AS gray,
                (y * 8 // h) * 8 + (x * 8 // w) AS idx
              FROM frames,
                   unnest(generate_series(0, w - 1)) AS t1(x),
                   unnest(generate_series(0, h - 1)) AS t2(y)),
        cells AS (SELECT d, is_batch, f, idx, SUM(gray) AS s_cell,
                         COUNT(*) AS n_cell
                  FROM g GROUP BY 1, 2, 3, 4),
        tot AS (SELECT d, is_batch, f, SUM(gray) AS s_tot, COUNT(*) AS n_tot
                FROM g GROUP BY 1, 2, 3),
        bits AS (SELECT d, is_batch, f, idx,
                   CASE WHEN s_cell::HUGEINT * n_tot > s_tot::HUGEINT * n_cell
                        THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d, is_batch, f)),
        fh AS (SELECT d, is_batch, f,
                 CAST(SUM(CASE WHEN idx // 16 = 0
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b0,
                 CAST(SUM(CASE WHEN idx // 16 = 1
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b1,
                 CAST(SUM(CASE WHEN idx // 16 = 2
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b2,
                 CAST(SUM(CASE WHEN idx // 16 = 3
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b3
               FROM bits GROUP BY 1, 2, 3),
        dup AS (SELECT bb.d AS bid, MIN(cb.d) AS dup_of
                FROM fh bb JOIN fh cb
                  ON bb.b0 = cb.b0 AND bb.b1 = cb.b1
                 AND bb.b2 = cb.b2 AND bb.b3 = cb.b3
                 AND bb.is_batch = 1 AND cb.is_batch = 0
                GROUP BY bid)
        SELECT v.d AS media_id, dup.dup_of, dup.dup_of IS NULL AS kept
        FROM (SELECT DISTINCT d FROM allv WHERE is_batch = 1) v
        LEFT JOIN dup ON dup.bid = v.d
        ORDER BY media_id"""

  val queries: Seq[Query] = Seq(

    // Metadata-only stats per kind — binary column pruned from the scan.
    Query(
      "q35_media_meta_stats",
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
                 (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS kind,
                 n_chars::BIGINT AS size_bytes,
                 ((n_chars % 1920) + 16)::INT AS width,
                 ((n_chars % 1080) + 16)::INT AS height,
                 (n_chars * 40)::BIGINT AS duration_ms
          FROM documents)
        SELECT kind, COUNT(*) AS n,
               CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
               MAX(width) AS max_w, MAX(height) AS max_h,
               CAST(SUM(duration_ms) AS BIGINT) AS total_ms
        FROM media GROUP BY kind ORDER BY kind"""))((spark, dir) => {
      val m = mediaTable(Tables(spark, dir).documents)
      m.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("meta.size_bytes")).as("total_bytes"),
          max(col("meta.width")).as("max_w"),
          max(col("meta.height")).as("max_h"),
          sum(col("meta.duration_ms")).as("total_ms"))
        .orderBy(col("kind"))
    }),

    // Decode + feature extraction. Image rows run a REAL javax.imageio PNG
    // decode in the once-per-partition codec batch path; the oracle
    // recomputes the expected pixel statistics from the same closed-form
    // pixel function in SQL (PNG losslessness makes them equal). Audio /
    // video rows stay on the md5 stub (no JDK codecs exist for them).
    Query(
      "q36_media_decode_features",
      Some("""
        WITH img AS (
          SELECT doc_id AS media_id,
                 ((doc_id % 24) + 8)::INT AS w, ((doc_id % 16) + 8)::INT AS h
          FROM documents WHERE doc_id % 3 = 0),
        px AS (
          SELECT media_id, w, h, x, unnest(range(0, h)) AS y
          FROM (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM img)),
        means AS (
          SELECT media_id, w, h,
                 avg((x*31 + y*17 + media_id*7) % 256) AS mr,
                 avg((x*13 + y*29 + media_id*3) % 256) AS mg,
                 avg((x*7 + y*11 + media_id) % 256) AS mb
          FROM px GROUP BY media_id, w, h)
        SELECT media_id, 'image' AS kind, NULL::DOUBLE AS f0,
               w AS img_w, h AS img_h,
               round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
               round(mb, 6) AS mean_b
        FROM means
        UNION ALL
        SELECT doc_id AS media_id,
               (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS kind,
               round((('0x' || substr(md5(text), 1, 4))::BIGINT) / 65535.0, 6) AS f0,
               NULL::INT AS img_w, NULL::INT AS img_h,
               NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g,
               NULL::DOUBLE AS mean_b
        FROM documents WHERE doc_id % 3 <> 0
        ORDER BY media_id"""))((spark, dir) => {
      val m = mediaTableWithImages(Tables(spark, dir).documents)
      val images = decodeImages(spark, m)
        .select(col("media_id"), lit("image").as("kind"),
          lit(null).cast("double").as("f0"),
          col("img_w"), col("img_h"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
      val av = m.filter(col("kind") =!= "image")
        .select(col("media_id"), col("kind"),
          round(element_at(fakeDecodeFeatures(col("payload")), 1), 6).as("f0"),
          lit(null).cast("int").as("img_w"), lit(null).cast("int").as("img_h"),
          lit(null).cast("double").as("mean_r"),
          lit(null).cast("double").as("mean_g"),
          lit(null).cast("double").as("mean_b"))
      images.unionByName(av).orderBy(col("media_id"))
    }),

    // Aspect-preserving resize metadata.
    Query(
      "q37_media_resize",
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
                 ((n_chars % 1920) + 16)::INT AS width,
                 ((n_chars % 1080) + 16)::INT AS height
          FROM documents),
        s AS (SELECT media_id, width, height,
                least(256.0 / width, 256.0 / height, 1.0) AS scale
              FROM media)
        SELECT media_id, CAST(floor(width * scale) AS INT) AS new_w,
               CAST(floor(height * scale) AS INT) AS new_h
        FROM s ORDER BY media_id"""))((spark, dir) => {
      val m = resizeMeta(mediaTable(Tables(spark, dir).documents), 256, 256)
      m.select(col("media_id"), col("resized.width").as("new_w"),
        col("resized.height").as("new_h"))
        .orderBy(col("media_id"))
    }),

    // REAL audio decode: WAV payloads (deterministic PCM) through the
    // once-per-partition javax.sound codec; oracle recomputes the sample
    // closed form and its RMS in SQL.
    Query(
      "q61_media_audio_decode",
      Some("""
        WITH a AS (SELECT doc_id AS media_id, ((doc_id % 400) + 100)::INT AS n
                   FROM documents WHERE doc_id % 3 = 1),
        s AS (SELECT media_id, n, unnest(range(0, n)) AS i FROM a),
        v AS (SELECT media_id, n, (i*37 + media_id*11) % 2001 - 1000 AS val FROM s)
        SELECT media_id, 8000 AS sample_rate, n AS n_samples,
               round(sqrt(SUM(val*val) * 1.0 / n), 6) AS rms
        FROM v GROUP BY media_id, n
        ORDER BY media_id"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val m = mediaTable(docs).filter(col("kind") === "audio")
        .withColumn("payload", wav(col("media_id")))
      decodeAudio(spark, m)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 6).as("rms"))
        .orderBy(col("media_id"))
    }),

    // REAL video decode: GRFV container demux + per-frame javax.imageio
    // PNG decode in the once-per-partition codec path; the oracle
    // recomputes each frame's closed-form pixel means in SQL (PNG
    // losslessness makes them equal). One row per (video, frame).
    Query(
      "q70_media_video_decode",
      Some("""
        WITH v AS (
          SELECT doc_id AS media_id, ((doc_id % 4) + 2)::INT AS nf,
                 ((doc_id % 12) + 8)::INT AS w, ((doc_id % 10) + 8)::INT AS h
          FROM documents WHERE doc_id % 3 = 2),
        fr AS (SELECT media_id, w, h, unnest(range(0, nf)) AS f FROM v),
        px AS (
          SELECT media_id, f, w, h, x, unnest(range(0, h)) AS y
          FROM (SELECT media_id, f, w, h, unnest(range(0, w)) AS x FROM fr)),
        m AS (
          SELECT media_id, f, w, h,
                 avg((x*31 + y*17 + media_id*7 + f*23) % 256) AS mr,
                 avg((x*13 + y*29 + media_id*3 + f*19) % 256) AS mg,
                 avg((x*7 + y*11 + media_id + f*5) % 256) AS mb
          FROM px GROUP BY media_id, f, w, h)
        SELECT media_id, f::INT AS frame_idx, w AS fr_w, h AS fr_h,
               round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
               round(mb, 6) AS mean_b
        FROM m ORDER BY media_id, frame_idx"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val vid = udf((d: Long) => makeVideo(d))
      val m = mediaTable(docs).filter(col("kind") === "video")
        .withColumn("payload", vid(col("media_id")))
      decodeVideo(spark, m)
        .select(col("media_id"), col("frame_idx"), col("fr_w"), col("fr_h"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Frame sampling: one row per sampled frame of each video.
    Query(
      "q38_media_frame_sample",
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
                 (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS kind,
                 (n_chars * 40)::BIGINT AS duration_ms
          FROM documents)
        SELECT media_id, unnest(range(0, duration_ms, 5000)) AS frame_ts_ms
        FROM media WHERE kind = 'video'
        ORDER BY media_id, frame_ts_ms"""))((spark, dir) => {
      sampleFrames(mediaTable(Tables(spark, dir).documents), 5000)
        .orderBy(col("media_id"), col("frame_ts_ms"))
    }),

    // Image near-duplicate pairs by perceptual hash: REAL PNG decodes →
    // 8×8 aHash → banded candidate join → hamming verify. The fixture
    // plants the near-dups a byte-level dedup CANNOT see: every image
    // gets a re-encoded copy with a +1 brightness shift (clipped at 255)
    // under media_id + 10000 — different bytes, different pixels,
    // near-identical perceptual content. The oracle recomputes both
    // variants' hashes from the closed-form pixel math (PNG losslessness)
    // and must agree on every pair AND every distance.
    Query(
      "q140_image_phash",
      Some("""
        WITH base AS (SELECT doc_id AS b FROM documents WHERE doc_id % 3 = 0),
        variants AS (SELECT b, b AS d, 0 AS bright FROM base
                     UNION ALL SELECT b, b + 10000, 1 FROM base),
        g AS (SELECT d,
                CASE WHEN bright = 0 THEN
                  (x*31 + y*17 + b*7) % 256 + (x*13 + y*29 + b*3) % 256
                    + (x*7 + y*11 + b) % 256
                ELSE
                  least((x*31 + y*17 + b*7) % 256 + 1, 255)
                    + least((x*13 + y*29 + b*3) % 256 + 1, 255)
                    + least((x*7 + y*11 + b) % 256 + 1, 255)
                END AS gray,
                (y * 8 // (b % 16 + 8)) * 8 + (x * 8 // (b % 24 + 8)) AS idx
              FROM variants,
                   unnest(generate_series(0, b % 24 + 7)) AS t1(x),
                   unnest(generate_series(0, b % 16 + 7)) AS t2(y)),
        cells AS (SELECT d, idx, SUM(gray) AS s_cell, COUNT(*) AS n_cell
                  FROM g GROUP BY 1, 2),
        tot AS (SELECT d, SUM(gray) AS s_tot, COUNT(*) AS n_tot
                FROM g GROUP BY 1),
        bits AS (SELECT d, idx,
                   CASE WHEN s_cell::HUGEINT * n_tot > s_tot::HUGEINT * n_cell
                        THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d)),
        bands AS (SELECT d, idx // 16 AS k,
                    CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2),
        hash4 AS (SELECT d,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY d),
        cand AS (SELECT DISTINCT a.d AS da, b.d AS db
                 FROM bands a JOIN bands b
                   ON a.k = b.k AND a.v = b.v AND a.d < b.d)
        SELECT da AS media_a, db AS media_b,
               CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
                  + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
                 AS BIGINT) AS dist
        FROM cand JOIN hash4 ha ON ha.d = da JOIN hash4 hb ON hb.d = db
        WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
            + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3
        ORDER BY media_a, media_b"""))((spark, dir) => {
      // cache: the originals feed BOTH union branches (hash pass + copy
      // synthesis) — uncached, every payload would encode twice
      val originals = mediaTableWithImages(Tables(spark, dir).documents)
        .filter(col("kind") === "image")
        .select(col("media_id").cast("long"), col("kind"), col("payload"))
        .cache()
      val corpus = originals.unionByName(
        brightenedCopies(spark, originals, offset = 10000L, delta = 1))
      imagePHashPairs(spark, corpus, maxDist = 3)
        .orderBy(col("media_a"), col("media_b"))
    }),

    // Audio near-dup pairs by 64-frame energy fingerprint over REAL WAV
    // decodes — q140's modality twin, sharing the banded-hamming tail.
    // The fixture plants a +1-sample-shifted re-encode of every clip
    // (different bytes, same sound; measured dists 0–1); the oracle
    // recomputes both variants' fingerprints from the closed-form sample
    // math (WAV PCM losslessness) and must agree on every pair and
    // distance.
    Query(
      "q141_audio_fingerprint",
      Some("""
        WITH a AS (SELECT doc_id AS b, ((doc_id % 400) + 100)::INT AS n
                   FROM documents WHERE doc_id % 3 = 1),
        variants AS (SELECT b, b AS d, 0 AS sh, n FROM a
                     UNION ALL SELECT b, b + 10000, 1, n FROM a),
        s AS (SELECT d, n, i,
                ((i*37 + b*11) % 2001 - 1000) + sh AS val
              FROM variants, unnest(range(0, n)) AS t(i)),
        g AS (SELECT d, n, (i * 64 // n) AS f, val * val AS e FROM s),
        cells AS (SELECT d, f, SUM(e) AS ef, COUNT(*) AS cf
                  FROM g GROUP BY 1, 2),
        tot AS (SELECT d, SUM(e) AS et, COUNT(*) AS ct FROM g GROUP BY 1),
        bits AS (SELECT d, f,
                   CASE WHEN ef::HUGEINT * ct > et::HUGEINT * cf THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d)),
        bands AS (SELECT d, f // 16 AS k,
                    CAST(SUM(bit * (1 << (f % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2),
        hash4 AS (SELECT d,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY d),
        cand AS (SELECT DISTINCT a2.d AS da, b2.d AS db
                 FROM bands a2 JOIN bands b2
                   ON a2.k = b2.k AND a2.v = b2.v AND a2.d < b2.d)
        SELECT da AS media_a, db AS media_b,
               CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
                  + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
                 AS BIGINT) AS dist
        FROM cand JOIN hash4 ha ON ha.d = da JOIN hash4 hb ON hb.d = db
        WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
            + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3
        ORDER BY media_a, media_b"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
        .cache() // both union branches read the synthesized payloads
      val corpus = originals.unionByName(
        shiftedAudioCopies(spark, originals, offset = 10000L, delta = 1))
      audioFingerprintPairs(spark, corpus, maxDist = 3)
        .orderBy(col("media_a"), col("media_b"))
    }),

    // Video near-dup pairs by shared frame fingerprints — the third
    // modality of the q140/q141 family. The fixture plants a TRIMMED
    // re-container of every clip (first frame cut, surviving frame bytes
    // verbatim): whole-file hashing sees an unrelated blob, the frame
    // hashes see every surviving frame. The oracle rebuilds both
    // variants' per-frame hashes from the closed-form frame pixel math.
    Query(
      "q142_video_shingle",
      Some("""
        WITH v0 AS (SELECT doc_id AS b, (doc_id % 4 + 2)::INT AS nf,
                           (doc_id % 12 + 8)::INT AS w,
                           (doc_id % 10 + 8)::INT AS h
                    FROM documents WHERE doc_id % 3 = 2),
        variants AS (SELECT b, b AS d, 0 AS cut, nf, w, h FROM v0
                     UNION ALL SELECT b, b + 10000, 1, nf, w, h FROM v0),
        frames AS (SELECT b, d, f, w, h
                   FROM variants, unnest(generate_series(0, nf - 1)) AS t(f)
                   WHERE f >= cut),
        g AS (SELECT d, f,
                (x*31 + y*17 + b*7 + f*23) % 256
                  + (x*13 + y*29 + b*3 + f*19) % 256
                  + (x*7 + y*11 + b + f*5) % 256 AS gray,
                (y * 8 // h) * 8 + (x * 8 // w) AS idx
              FROM frames,
                   unnest(generate_series(0, w - 1)) AS t1(x),
                   unnest(generate_series(0, h - 1)) AS t2(y)),
        cells AS (SELECT d, f, idx, SUM(gray) AS s_cell, COUNT(*) AS n_cell
                  FROM g GROUP BY 1, 2, 3),
        tot AS (SELECT d, f, SUM(gray) AS s_tot, COUNT(*) AS n_tot
                FROM g GROUP BY 1, 2),
        bits AS (SELECT d, f, idx,
                   CASE WHEN s_cell::HUGEINT * n_tot > s_tot::HUGEINT * n_cell
                        THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d, f)),
        fh AS (SELECT d, f,
                 CAST(SUM(CASE WHEN idx // 16 = 0
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b0,
                 CAST(SUM(CASE WHEN idx // 16 = 1
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b1,
                 CAST(SUM(CASE WHEN idx // 16 = 2
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b2,
                 CAST(SUM(CASE WHEN idx // 16 = 3
                               THEN bit * (1 << (idx % 16)) ELSE 0 END)
                   AS BIGINT) AS b3
               FROM bits GROUP BY 1, 2)
        SELECT a2.d AS media_a, b2.d AS media_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fh a2 JOIN fh b2
          ON a2.b0 = b2.b0 AND a2.b1 = b2.b1 AND a2.b2 = b2.b2
         AND a2.b3 = b2.b3 AND a2.d < b2.d
        GROUP BY 1, 2
        ORDER BY media_a, media_b"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val vid = udf((d: Long) => makeVideo(d))
      val originals = mediaTable(docs).filter(col("kind") === "video")
        .select(col("media_id").cast("long"), col("kind"),
          vid(col("media_id")).as("payload"))
        .cache() // both union branches read the synthesized payloads
      val corpus = originals.unionByName(
        trimmedVideoCopies(spark, originals, offset = 10000L, cut = 1))
      videoSharedFramePairs(spark, corpus)
        .orderBy(col("media_a"), col("media_b"))
    }),

    // Fingerprint dedup with CLUSTER output — the scale-correct contract
    // the three-point study demanded after q141's pair enumeration went
    // super-linear (duplicate classes grow with this corpus, so pair
    // output is quadratic BY CONTRACT). Same corpus as q141; output is
    // each clip's near-dup cluster label: identical fingerprints group,
    // distinct fingerprints link through the banded stage, components
    // close over the links.
    Query(
      "q143_audio_dedup_clusters",
      Some("""
        WITH RECURSIVE a AS (SELECT doc_id AS b, ((doc_id % 400) + 100)::INT AS n
                   FROM documents WHERE doc_id % 3 = 1),
        variants AS (SELECT b, b AS d, 0 AS sh, n FROM a
                     UNION ALL SELECT b, b + 10000, 1, n FROM a),
        s AS (SELECT d, n, i,
                ((i*37 + b*11) % 2001 - 1000) + sh AS val
              FROM variants, unnest(range(0, n)) AS t(i)),
        g AS (SELECT d, n, (i * 64 // n) AS f, val * val AS e FROM s),
        cells AS (SELECT d, f, SUM(e) AS ef, COUNT(*) AS cf
                  FROM g GROUP BY 1, 2),
        tot AS (SELECT d, SUM(e) AS et, COUNT(*) AS ct FROM g GROUP BY 1),
        bits AS (SELECT d, f,
                   CASE WHEN ef::HUGEINT * ct > et::HUGEINT * cf THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d)),
        bands AS (SELECT d, f // 16 AS k,
                    CAST(SUM(bit * (1 << (f % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2),
        hash4 AS (SELECT d,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY d),
        grp AS (SELECT b0, b1, b2, b3, MIN(d) AS rep
                FROM hash4 GROUP BY 1, 2, 3, 4),
        members AS (SELECT h.d, g2.rep
                    FROM hash4 h JOIN grp g2 USING (b0, b1, b2, b3)),
        repfp AS (SELECT rep AS d, b0, b1, b2, b3 FROM grp),
        bands2 AS (SELECT d, 0 AS k, b0 AS v FROM repfp
                   UNION ALL SELECT d, 1, b1 FROM repfp
                   UNION ALL SELECT d, 2, b2 FROM repfp
                   UNION ALL SELECT d, 3, b3 FROM repfp),
        cand AS (SELECT DISTINCT a2.d AS da, b2.d AS db
                 FROM bands2 a2 JOIN bands2 b2
                   ON a2.k = b2.k AND a2.v = b2.v AND a2.d < b2.d),
        near AS (SELECT da, db
                 FROM cand JOIN repfp ha ON ha.d = da
                           JOIN repfp hb ON hb.d = db
                 WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
                     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3),
        edges AS (SELECT da AS src, db AS dst FROM near
                  UNION SELECT db, da FROM near),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        cc AS (SELECT doc, least(doc, MIN(dst)) AS lbl
               FROM (SELECT src AS doc, dst FROM reach)
               GROUP BY doc)
        SELECT m.d AS media_id, COALESCE(c.lbl, m.rep) AS cluster
        FROM members m LEFT JOIN cc c ON c.doc = m.rep
        ORDER BY media_id"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
        .cache() // both union branches read the synthesized payloads
      val corpus = originals.unionByName(
        shiftedAudioCopies(spark, originals, offset = 10000L, delta = 1))
      fingerprintDedupClusters(
          audioFingerprintHashes(spark, corpus), maxDist = 3)
        .orderBy(col("media_id"))
    }),

    // Steady-state ingest probe: a batch of re-encoded copies (every 5th
    // clip, +1 shift, id + 10000) and genuinely NEW clips (fresh sounds
    // under id + 20000) probes the corpus fingerprint index — copies
    // must resolve to a corpus dup_of, novel clips must be kept (unless
    // a corpus clip genuinely shares their fingerprint — decided
    // identically by both engines).
    Query(
      "q144_media_index_probe",
      Some(probeOracleSql))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
        .cache()
      val copies = shiftedAudioCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        delta = 1)
      val novel = docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("audio").as("kind"),
          wav(col("doc_id") + 20000L).as("payload"))
      fingerprintIndexProbe(
          audioFingerprintHashes(spark, originals),
          audioFingerprintHashes(spark, copies.unionByName(novel)),
          maxDist = 3)
        .orderBy(col("media_id"))
    }),

    // The SERVED form of q144: the same probe answered from the PERSISTED
    // band-bucketed index with the scan partition-pruned to the batch's
    // buckets (PlanSpec-gated) — same oracle, bit-identical answer.
    Query(
      "q147_media_index_serve",
      Some(probeOracleSql))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      // no cache here: unlike q144, `originals` feeds ONLY the copy
      // synthesis (the index side rebuilds inside mediaFpIndexFor)
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
      val copies = shiftedAudioCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        delta = 1)
      val novel = docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("audio").as("kind"),
          wav(col("doc_id") + 20000L).as("payload"))
      mediaIndexServe(spark, dir,
          audioFingerprintHashes(spark, copies.unionByName(novel)),
          maxDist = 3)
        .orderBy(col("media_id"))
    }),

    // The IMAGE side of the ingest probe (q144's modality twin,
    // completing the per-modality incremental matrix): a batch of
    // brightness-shifted re-encodes (every 5th image) and genuinely new
    // images probes the corpus image-fingerprint index. The oracle
    // rebuilds both sides' aHashes from the closed-form pixel math.
    Query(
      "q148_image_index_probe",
      Some("""
        WITH a AS (SELECT doc_id AS b FROM documents WHERE doc_id % 3 = 0),
        allv AS (SELECT b AS src, b AS d, 0 AS bright, 0 AS is_batch FROM a
                 UNION ALL
                 SELECT b, b + 10000, 1, 1 FROM a WHERE b % 5 = 1
                 UNION ALL
                 SELECT b + 20000, b + 20000, 0, 1 FROM a WHERE b % 5 = 2),
        g AS (SELECT d, is_batch,
                CASE WHEN bright = 0 THEN
                  (x*31 + y*17 + src*7) % 256 + (x*13 + y*29 + src*3) % 256
                    + (x*7 + y*11 + src) % 256
                ELSE
                  least((x*31 + y*17 + src*7) % 256 + 1, 255)
                    + least((x*13 + y*29 + src*3) % 256 + 1, 255)
                    + least((x*7 + y*11 + src) % 256 + 1, 255)
                END AS gray,
                (y * 8 // (src % 16 + 8)) * 8 + (x * 8 // (src % 24 + 8))
                  AS idx
              FROM allv,
                   unnest(generate_series(0, src % 24 + 7)) AS t1(x),
                   unnest(generate_series(0, src % 16 + 7)) AS t2(y)),
        cells AS (SELECT d, is_batch, idx, SUM(gray) AS s_cell,
                         COUNT(*) AS n_cell
                  FROM g GROUP BY 1, 2, 3),
        tot AS (SELECT d, is_batch, SUM(gray) AS s_tot, COUNT(*) AS n_tot
                FROM g GROUP BY 1, 2),
        bits AS (SELECT d, is_batch, idx,
                   CASE WHEN s_cell::HUGEINT * n_tot > s_tot::HUGEINT * n_cell
                        THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d, is_batch)),
        bands AS (SELECT d, is_batch, idx // 16 AS k,
                    CAST(SUM(bit * (1 << (idx % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2, 3),
        hash4 AS (SELECT d, is_batch,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY 1, 2),
        cand AS (SELECT DISTINCT bb.d AS bid, cb.d AS cid
                 FROM bands bb JOIN bands cb
                   ON bb.k = cb.k AND bb.v = cb.v
                  AND bb.is_batch = 1 AND cb.is_batch = 0),
        dup AS (SELECT bid, MIN(cid) AS dup_of
                FROM cand
                JOIN hash4 hb ON hb.d = bid AND hb.is_batch = 1
                JOIN hash4 hc ON hc.d = cid AND hc.is_batch = 0
                WHERE bit_count(xor(hb.b0, hc.b0)) + bit_count(xor(hb.b1, hc.b1))
                    + bit_count(xor(hb.b2, hc.b2)) + bit_count(xor(hb.b3, hc.b3)) <= 3
                GROUP BY bid)
        SELECT h.d AS media_id, dup.dup_of, dup.dup_of IS NULL AS kept
        FROM hash4 h LEFT JOIN dup ON dup.bid = h.d
        WHERE h.is_batch = 1
        ORDER BY media_id"""))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val originals = mediaTableWithImages(docs)
        .filter(col("kind") === "image")
        .select(col("media_id").cast("long"), col("kind"), col("payload"))
        .cache() // feeds the index side AND the copy synthesis
      val copies = brightenedCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        delta = 1)
      val png = udf((d: Long) => makePng(d, imgW(d), imgH(d)))
      val novel = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("image").as("kind"),
          png(col("doc_id") + 20000L).as("payload"))
      fingerprintIndexProbe(
          imageHashes(spark, originals),
          imageHashes(spark, copies.unionByName(novel)),
          maxDist = 3)
        .orderBy(col("media_id"))
    }),

    // Video completes the probe matrix (audio q144/q147, image q148): a
    // batch of TRIMMED re-uploads (first frame cut, every 5th clip, id +
    // 10000) and genuinely novel clips (id + 20000) probes the corpus
    // per-frame-hash index — re-uploads resolve to their source through
    // the surviving frames, novels are kept (unless a corpus frame
    // genuinely collides — decided identically by both engines).
    Query(
      "q152_video_index_probe",
      Some(videoProbeOracleSql))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val vid = udf((d: Long) => makeVideo(d))
      val originals = mediaTable(docs).filter(col("kind") === "video")
        .select(col("media_id").cast("long"), col("kind"),
          vid(col("media_id")).as("payload"))
        .cache() // feeds the index side AND the copy synthesis
      val copies = trimmedVideoCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        cut = 1)
      val novel = docs.filter(col("doc_id") % 3 === 2 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("video").as("kind"),
          vid(col("doc_id") + 20000L).as("payload"))
      videoFrameIndexProbe(
          videoFrameHashes(spark, originals),
          videoFrameHashes(spark, copies.unionByName(novel)))
        .orderBy(col("media_id"))
    }),

    // The SERVED form of q152: the same probe answered from the PERSISTED
    // frame-bucketed index with the scan partition-pruned to the batch
    // frames' buckets (PlanSpec-gated) — same oracle, bit-identical
    // answer.
    Query(
      "q153_video_index_serve",
      Some(videoProbeOracleSql))((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val vid = udf((d: Long) => makeVideo(d))
      // no cache: `originals` feeds ONLY the copy synthesis (the index
      // side rebuilds inside videoFpIndexFor)
      val originals = mediaTable(docs).filter(col("kind") === "video")
        .select(col("media_id").cast("long"), col("kind"),
          vid(col("media_id")).as("payload"))
      val copies = trimmedVideoCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        cut = 1)
      val novel = docs.filter(col("doc_id") % 3 === 2 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("video").as("kind"),
          vid(col("doc_id") + 20000L).as("payload"))
      videoIndexServe(spark, dir,
          videoFrameHashes(spark, copies.unionByName(novel)))
        .orderBy(col("media_id"))
    }),

    // The STREAMED media maintainer end-to-end, in the main bench corpus
    // (previously study-only, so the plan/volume tripwire never guarded
    // it — the q158 convention on the media modality): direct index
    // bootstrap (corpus fingerprints → one DeltaView commit), then one
    // SIGNED I-batch (q144's copies + novel clips) through
    // [[graft.streaming.MediaDedupStream.applySignedBatchDelta]] —
    // in-batch cluster dedup, banded-hamming probe, O(batch) delta
    // commit — then the final index reads back. The oracle replays the
    // whole lifecycle from the closed-form fixture math: corpus hash4,
    // the batch's identical-fp collapse + connected-component reps,
    // band-candidate probe with hamming ≤ 3 verify, id-uniqueness.
    Query(
      "q159_media_stream_commit",
      Some("""
        WITH RECURSIVE a AS (SELECT doc_id AS b FROM documents WHERE doc_id % 3 = 1),
        allv AS (SELECT b AS src, b AS d, 0 AS sh, 0 AS is_batch FROM a
                 UNION ALL
                 SELECT b, b + 10000, 1, 1 FROM a WHERE b % 5 = 1
                 UNION ALL
                 SELECT b + 20000, b + 20000, 0, 1 FROM a WHERE b % 5 = 2),
        s AS (SELECT d, is_batch, ((src % 400) + 100)::INT AS n, i,
                ((i*37 + src*11) % 2001 - 1000) + sh AS val
              FROM allv,
                   unnest(range(0, ((src % 400) + 100)::INT)) AS t(i)),
        g AS (SELECT d, is_batch, n, (i * 64 // n) AS f, val * val AS e
              FROM s),
        cells AS (SELECT d, is_batch, f, SUM(e) AS ef, COUNT(*) AS cf
                  FROM g GROUP BY 1, 2, 3),
        tot AS (SELECT d, is_batch, SUM(e) AS et, COUNT(*) AS ct
                FROM g GROUP BY 1, 2),
        bits AS (SELECT d, is_batch, f,
                   CASE WHEN ef::HUGEINT * ct > et::HUGEINT * cf THEN 1 ELSE 0 END AS bit
                 FROM cells JOIN tot USING (d, is_batch)),
        bands AS (SELECT d, is_batch, f // 16 AS k,
                    CAST(SUM(bit * (1 << (f % 16))) AS BIGINT) AS v
                  FROM bits GROUP BY 1, 2, 3),
        hash4 AS (SELECT d, is_batch,
                    MAX(CASE WHEN k = 0 THEN v END) AS b0,
                    MAX(CASE WHEN k = 1 THEN v END) AS b1,
                    MAX(CASE WHEN k = 2 THEN v END) AS b2,
                    MAX(CASE WHEN k = 3 THEN v END) AS b3
                  FROM bands GROUP BY 1, 2),
        bgrp AS (SELECT b0, b1, b2, b3, MIN(d) AS rep
                 FROM hash4 WHERE is_batch = 1 GROUP BY 1, 2, 3, 4),
        bmem AS (SELECT h.d, g2.rep
                 FROM hash4 h JOIN bgrp g2 USING (b0, b1, b2, b3)
                 WHERE h.is_batch = 1),
        repfp AS (SELECT rep AS d, b0, b1, b2, b3 FROM bgrp),
        bands2 AS (SELECT d, 0 AS k, b0 AS v FROM repfp
                   UNION ALL SELECT d, 1, b1 FROM repfp
                   UNION ALL SELECT d, 2, b2 FROM repfp
                   UNION ALL SELECT d, 3, b3 FROM repfp),
        cand AS (SELECT DISTINCT a2.d AS da, b2.d AS db
                 FROM bands2 a2 JOIN bands2 b2
                   ON a2.k = b2.k AND a2.v = b2.v AND a2.d < b2.d),
        near AS (SELECT da, db
                 FROM cand JOIN repfp ha ON ha.d = da
                           JOIN repfp hb ON hb.d = db
                 WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
                     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) <= 3),
        edges AS (SELECT da AS src, db AS dst FROM near
                  UNION SELECT db, da FROM near),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        cc AS (SELECT doc, least(doc, MIN(dst)) AS lbl
               FROM (SELECT src AS doc, dst FROM reach)
               GROUP BY doc),
        bcl AS (SELECT m.d AS media_id, COALESCE(c.lbl, m.rep) AS cluster
                FROM bmem m LEFT JOIN cc c ON c.doc = m.rep),
        reps AS (SELECT h.d, h.b0, h.b1, h.b2, h.b3
                 FROM hash4 h JOIN bcl ON bcl.media_id = h.d
                 WHERE h.is_batch = 1 AND bcl.cluster = h.d),
        pcand AS (SELECT DISTINCT rb.d AS bid, cb.d AS cid
                  FROM bands rb JOIN bands cb
                    ON rb.k = cb.k AND rb.v = cb.v
                   AND rb.is_batch = 1 AND cb.is_batch = 0
                  WHERE rb.d IN (SELECT d FROM reps)),
        dup AS (SELECT bid FROM pcand
                JOIN reps hb ON hb.d = bid
                JOIN hash4 hc ON hc.d = cid AND hc.is_batch = 0
                WHERE bit_count(xor(hb.b0, hc.b0)) + bit_count(xor(hb.b1, hc.b1))
                    + bit_count(xor(hb.b2, hc.b2)) + bit_count(xor(hb.b3, hc.b3)) <= 3
                GROUP BY bid),
        acc AS (SELECT d, b0, b1, b2, b3 FROM reps
                WHERE d NOT IN (SELECT bid FROM dup)
                  AND d NOT IN (SELECT d FROM hash4 WHERE is_batch = 0))
        SELECT d AS media_id, b0, b1, b2, b3 FROM hash4 WHERE is_batch = 0
        UNION ALL
        SELECT d AS media_id, b0, b1, b2, b3 FROM acc
        ORDER BY media_id"""))((spark, dir) => {
      import graft.streaming.MediaDedupStream
      val docs = Tables(spark, dir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
        .cache()
      val copies = shiftedAudioCopies(spark,
        originals.filter(col("media_id") % 5 === 1), offset = 10000L,
        delta = 1)
      val novel = docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 2)
        .select((col("doc_id") + 20000L).as("media_id"),
          lit("audio").as("kind"),
          wav(col("doc_id") + 20000L).as("payload"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-q159").toString
      MediaDedupStream.bootstrapDelta(spark, root,
        audioFingerprintHashes(spark, originals))
      MediaDedupStream.applySignedBatchDelta(spark, root,
        audioFingerprintHashes(spark, copies.unionByName(novel))
          .select(lit("I").as("op"), col("media_id"), col("b0"),
            col("b1"), col("b2"), col("b3")),
        batchId = 1L, maxDist = 3)
      MediaDedupStream.readIndexDelta(spark, root).orderBy(col("media_id"))
    })
  )
}
