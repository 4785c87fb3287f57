package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

// ------- codec classes at package level: mapPartitions closures
// instantiate them per partition, and a package-level class captures no
// outer reference

  /** REAL audio decode through `javax.sound.sampled`: sample rate, frame
    * count, and RMS amplitude. The squared-sample sum accumulates in Long
    * (exact), so the RMS is one double division + sqrt — bit-identical to
    * the oracle's integer aggregation.
    */
  final class AudioCodec {
    def decode(payload: Array[Byte]): (Int, Int, Double) = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val rate = ais.getFormat.getSampleRate.toInt
      val samples = Multimodal.pcm16(ais.readAllBytes())
      ais.close()
      val n = samples.length
      var ss = 0L
      var i = 0
      while (i < n) { ss += samples(i).toLong * samples(i); i += 1 }
      (rate, n, math.sqrt(ss.toDouble / n))
    }
  }

  /** REAL video decode: parses the GRFV container and runs every frame
    * through `javax.imageio` — container demux + per-frame pixel decode,
    * the actual work a video feature-extraction pass does (modulo the
    * bespoke container). One codec per partition, one output row per frame.
    */
  final class VideoCodec {
    private val img = new ImageCodec
    def decode(payload: Array[Byte]): Seq[(Int, Int, Int, Double, Double, Double)] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(payload))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GRFV", "bad video magic")
      val nf = in.readInt()
      (0 until nf).map { f =>
        val len = in.readInt()
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        val (w, h, r, g, b) = img.decode(bytes)
        (f, w, h, r, g, b)
      }
    }
  }

  /** REAL image decode through JDK `javax.imageio` (PNG/BMP/JPEG readers
    * ship with the JDK — no new dependency): width/height + per-channel
    * means. Channel sums accumulate in Long (exact), so the mean is one
    * double division — bit-identical to the oracle's integer-avg.
    */
  final class ImageCodec {
    // executors construct codecs without touching the Multimodal object,
    // so repeat the (idempotent) cache opt-out here
    javax.imageio.ImageIO.setUseCache(false)
    def decode(payload: Array[Byte]): (Int, Int, Double, Double, Double) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "undecodable image payload")
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      (w, h, sr / n, sg / n, sb / n)
    }
  }

  /** Deterministic stand-in for a codec library (md5-seeded, matches the
    * SQL/Column path bit-for-bit).
    */
  final class FakeCodec {
    private val md = java.security.MessageDigest.getInstance("MD5")
    def decode(payload: Array[Byte]): Array[Double] = {
      md.reset()
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      (0 until 8).map { i =>
        java.lang.Long.parseLong(hex.substring(i * 4, i * 4 + 4), 16).toDouble / 65535.0
      }.toArray
    }
  }

/** CODECS and hash/fingerprint/index OPERATORS of the multimodal family —
  * see [[MultimodalFixtures]] for the file-layout contract.
  */
private[graft] trait MultimodalCodecs extends Serializable {
  self: MultimodalFixtures =>

  /** Batch decode of audio rows — once-per-partition [[AudioCodec]]. */
  def decodeAudio(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        val codec = new AudioCodec
        it.map { m =>
          val (rate, n, rms) = codec.decode(m.payload)
          AudioFeatures(m.media_id, rate, n, rms)
        }
      }.toDF()
  }

  /** STUB decode: pseudo image features from the payload hash — stands in
    * for a real `decode(bytes) → (width, height, channels, hist…)`.
    */
  def fakeDecodeFeatures(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = md5(payload)
    array((0 until 8).map { i =>
      (conv(substring(h, i * 4 + 1, 4), 16, 10).cast("double") / 65535.0)
    }: _*)
  }

  /** Metadata-only resize: recompute width/height to fit a bounding box.
    * A real implementation would also transform pixels inside the batch
    * decode; the metadata algebra (aspect-preserving fit) is the tested part.
    */
  def resizeMeta(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(lit(maxW) / col("meta.width"), lit(maxH) / col("meta.height"), lit(1.0))
    df.withColumn("resized", struct(
      floor(col("meta.width") * scale).cast("int").as("width"),
      floor(col("meta.height") * scale).cast("int").as("height")))
  }

  /** Frame sampling for video rows: one frame index every `everyMs`. */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame =
    df.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs))).as("frame_ts_ms"))


  /** The real-codec integration shape: one decoder instance per partition
    * (codec init is expensive), rows streamed through it lazily. `FakeCodec`
    * is the stub; its output matches [[fakeDecodeFeatures]] exactly, which
    * MultimodalSpec asserts — so the expression path (codegen-friendly, used
    * in queries) and the batch path (library integration) are interchangeable.
    */
  def decodeViaMapPartitions(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val ds = media.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
    ds.mapPartitions { it =>
      val codec = new FakeCodec // once per partition, as a real codec lib requires
      it.map(m => DecodedRow(m.media_id, codec.decode(m.payload)))
    }.toDF()
  }

  /** Batch decode of video rows — once-per-partition [[VideoCodec]],
    * flatMap: one row per decoded frame.
    */
  def decodeVideo(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        val codec = new VideoCodec
        it.flatMap { m =>
          codec.decode(m.payload).map { case (f, w, h, r, g, b) =>
            VideoFrameFeatures(m.media_id, f, w, h, r, g, b)
          }
        }
      }.toDF()
  }

  /** Corrupt-tolerant batch decode: a payload the codec rejects yields a
    * `decode_ok = false` row with null features instead of failing the
    * task. At 100 TB some fraction of a crawled corpus IS corrupt, and a
    * codec exception that kills the stage (and, after 4 retries, the whole
    * job) is the wrong policy for one bad file; the flag keeps the failure
    * observable (count, quarantine, re-fetch) instead of silent.
    * [[decodeImages]] remains the strict form for trusted inputs.
    */
  def decodeImagesSafe(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        val codec = new ImageCodec
        it.map { m =>
          try {
            val (w, h, r, g, b) = codec.decode(m.payload)
            SafeImageFeatures(m.media_id, decode_ok = true,
              Some(w), Some(h), Some(r), Some(g), Some(b))
          } catch { case _: Exception =>
            SafeImageFeatures(m.media_id, decode_ok = false,
              None, None, None, None, None)
          }
        }
      }.toDF()
  }

  /** Batch decode of image rows — the same once-per-partition codec shape
    * as [[decodeViaMapPartitions]], but with the REAL [[ImageCodec]].
    */
  def decodeImages(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        val codec = new ImageCodec // once per partition: codec init is the expensive part
        it.map { m =>
          val (w, h, r, g, b) = codec.decode(m.payload)
          ImageFeatures(m.media_id, w, h, r, g, b)
        }
      }.toDF()
  }

  /** Image near-duplicate pairs by 8×8 average-hash over REAL decoded
    * pixels: each image's PNG decodes once per partition batch
    * ([[ImageCodec]] shape), its pixels pool into an 8×8 grid of cell
    * sums, and bit(cell) = 1 iff the cell's mean gray (r+g+b) exceeds the
    * image's global mean — compared by integer CROSS-MULTIPLICATION
    * (`s_cell·N > S·n_cell`), so the hash is bit-exact on any engine with
    * no float thresholds. The 64 bits split into four 16-bit bands;
    * candidate pairs equi-join on (band index, band value) and verify
    * exact hamming ≤ `maxDist` via bit_count(xor).
    *
    * For `maxDist ≤ 3` the banding is EXACT by pigeonhole (3 flipped bits
    * cannot touch all 4 bands), so the band join loses nothing vs the
    * all-pairs scan — the [[Dedup.simhashPairs]] argument, applied to
    * pixels instead of tokens.
    *
    * 100 TB shape: decode + hash is one payload scan with per-partition
    * codec reuse and NO shuffle (64 longs of state per image, never pixel
    * rows); candidates are an equi-join on band keys (skewed flat-color
    * bands are the df-cap analogue — cap band buckets upstream if a
    * corpus is dominated by one template); the hamming verify joins the
    * hashes table (4 longs per image) twice by id, broadcast when dims
    * allow. Pixel volume never shuffles anywhere.
    */
  def imagePHashPairs(spark: SparkSession, media: DataFrame,
                      maxDist: Int): DataFrame =
    bandedHammingPairs(imageHashes(spark, media), maxDist)

  /** Per-image aHash fingerprints as (media_id, b0..b3) — the strict
    * front of the pair/probe outputs ([[audioFingerprintHashes]]' image
    * twin); an undecodable payload is an ERROR here (trusted-table
    * contract), [[imageHashesSafe]] is the ingest form.
    */
  def imageHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        // executor-side, idempotent: in-memory streams, not temp files
        javax.imageio.ImageIO.setUseCache(false)
        it.map { m =>
          val bands = tryAHash(m.payload)
            .getOrElse(sys.error(s"undecodable image payload ${m.media_id}"))
          PHashRow(m.media_id, bands(0), bands(1), bands(2), bands(3))
        }
      }.toDF()
  }

  /** Sign of `a·b − c·d` for NON-NEGATIVE longs without overflow
    * (128-bit compare via multiplyHigh): the threshold comparison of the
    * fingerprint hashes. A plain `a*b > c*d` wraps once a long clip's
    * energy sum (or a gigapixel image's gray sum) crosses 2⁶³ and
    * silently corrupts fingerprint bits; the DuckDB oracles compute the
    * same products in 128-bit HUGEINT, so this keeps engine and oracle
    * exact over the full input range.
    */
  private def prodCompare(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  /** Little-endian 16-bit mono PCM → samples. THE byte-to-sample decode,
    * shared by [[AudioCodec]], the audio fingerprint and the fixture
    * transcoder — a format change lands in one place or the fingerprint
    * and fixture silently diverge.
    */
  private[operators] def pcm16(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = ((bytes(i * 2) & 0xff) | (bytes(i * 2 + 1) << 8)).toShort.toInt
      i += 1
    }
    out
  }

  /** 8×8 average-hash of one decoded image as four 16-bit bands:
    * bit(cell) = 1 iff the cell's mean gray (r+g+b) exceeds the global
    * mean, compared by integer cross-multiplication (no float
    * thresholds). Shared by the image, and per-frame video, fingerprints.
    */
  private def aHashBands(img: java.awt.image.BufferedImage): Array[Long] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val cellSum = new Array[Long](64)
    val cellN = new Array[Long](64)
    var sTot = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val gray = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        val idx = (y * 8 / h) * 8 + (x * 8 / w)
        cellSum(idx) += gray; cellN(idx) += 1; sTot += gray
        x += 1
      }
      y += 1
    }
    val nTot = w.toLong * h
    val bands = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (prodCompare(cellSum(i), nTot, sTot, cellN(i)) > 0)
        bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** Shared banded-hamming tail for all 64-bit perceptual fingerprints
    * (image aHash, audio energy hash): `hashes` carries
    * (media_id, b0..b3) 16-bit bands; candidates equi-join on
    * (band index, band value) — EXACT by pigeonhole for `maxDist ≤ 3` —
    * then verify hamming via bit_count(xor) over the four bands.
    *
    * 100 TB shape: the band join is the LSH-band shape (hash-partitioned
    * on small keys, never the payloads); the verify joins the hashes
    * table (4 longs per item) twice by id. A corpus dominated by one
    * flat-content template concentrates one band bucket — cap band
    * buckets upstream (the shingle-df-cap analogue) if that happens.
    */
  def bandedHammingPairs(hashesRaw: DataFrame, maxDist: Int,
                         maxCandEstimate: Long = 4000000000L): DataFrame = {
    require(maxDist <= 3, "4x16 banding is only pigeonhole-exact to dist 3")
    // The hash table (5 longs per item) feeds TWO independent plan
    // branches (band candidates; hamming verify sides) — without a
    // barrier each branch would re-run the upstream payload decode, the
    // dominant cost. An EAGER localCheckpoint (not .cache()) is the
    // barrier: decode runs exactly once here, the tiny hash rows
    // materialize to executor block storage with lineage truncated, and
    // the blocks free automatically when the frame becomes unreachable
    // (ContextCleaner) — long batch sessions accumulate no pinned cache
    // entries and need no session-wide clearCache.
    val hashes = hashesRaw.localCheckpoint()
    val bands = hashes.select(col("media_id"), explode(array(
        struct(lit(0).as("k"), col("b0").as("v")),
        struct(lit(1).as("k"), col("b1").as("v")),
        struct(lit(2).as("k"), col("b2").as("v")),
        struct(lit(3).as("k"), col("b3").as("v")))).as("b"))
      .select(col("media_id"), col("b.k").as("k"), col("b.v").as("v"))
    // Scale contract (the Dedup.simhashPairs pattern, shared by every
    // 64-bit fingerprint family through this tail): 16-bit bands carry a
    // structural chance-collision term (~n²·4/2^16) plus whatever
    // flat-content template classes the corpus really has; the band-bucket
    // candidate volume Σ (df choose 2) is one tiny aggregate over the
    // checkpointed hash rows (no payload ever decodes for it). Past the
    // bound the operator refuses, naming the upstream bucket cap and the
    // persisted per-modality band-bucket indexes as the scale paths.
    val candEst = bands.groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(((col("c") * (col("c") - 1)) / 2).cast("long")),
        lit(0L)).as("cand"))
      .head().getLong(0)
    if (candEst > maxCandEstimate)
      throw new graft.util.ContractRefusal(
        s"bandedHammingPairs: estimated band-bucket candidate volume " +
        s"$candEst exceeds the bound $maxCandEstimate (16-bit bands put " +
        "chance collisions at ~n²·4/2^16, and flat-content template " +
        "classes concentrate buckets further); cap band buckets upstream " +
        "(the shingle-df-cap analogue) or probe new items against the " +
        "persisted per-modality band-bucket index instead of self-joining " +
        "the corpus")
    val cand = bands.as("a").join(bands.as("c"),
        col("a.k") === col("c.k") && col("a.v") === col("c.v") &&
          col("a.media_id") < col("c.media_id"))
      .select(col("a.media_id").as("da"), col("c.media_id").as("db"))
      .distinct()
    val ha = hashes.select(col("media_id").as("da"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val hb = hashes.select(col("media_id").as("db"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val dist = bit_count(col("a0").bitwiseXOR(col("c0"))) +
      bit_count(col("a1").bitwiseXOR(col("c1"))) +
      bit_count(col("a2").bitwiseXOR(col("c2"))) +
      bit_count(col("a3").bitwiseXOR(col("c3")))
    cand.join(ha, "da").join(hb, "db")
      .withColumn("dist", dist.cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("da").as("media_a"), col("db").as("media_b"), col("dist"))
  }

  /** Audio near-duplicate pairs by 64-frame energy fingerprint over REAL
    * WAV decodes: samples split into 64 contiguous frames, bit(frame) = 1
    * iff the frame's mean energy (v²) exceeds the clip's global mean
    * energy — the same integer cross-multiplication as the image hash
    * (`e_f·n > E·c_f`), so the fingerprint is bit-exact on any engine.
    * Candidates and verification share [[bandedHammingPairs]]. This is
    * the energy-profile core of audio fingerprinting (Chromaprint-style
    * systems add a filterbank; the Spark plumbing — one payload scan,
    * constant per-clip state, banded join — is identical).
    */
  def audioFingerprintPairs(spark: SparkSession, media: DataFrame,
                            maxDist: Int): DataFrame =
    bandedHammingPairs(audioFingerprintHashes(spark, media), maxDist)

  /** Fingerprint-FAMILY stamp of a persisted media index: the perceptual
    * hash family (64-cell aHash / 64-frame energy profile) and the band
    * layout (4×16) the stored `(b0..b3)` rows were computed under.
    * Changing either — a pHash migration, a band retune — silently
    * invalidates every stored fingerprint: band keys stop colliding and
    * probes return wrong emptiness instead of an error. Same recipe as
    * [[graft.operators.Dedup.bandingStamp]] (text LSH) and
    * [[EmbeddingIndex.indexStamp]] (embedding quantizer/router): the
    * maintainer commits it as its group manifest's layout, and every
    * commit refuses another. There are no tunable coefficients here (the
    * family is compile-time code), so the stamp is an explicit version
    * string —
    * bump it WITH any change to [[audioFingerprintHashes]]' family or
    * the 4×16 banding.
    */
  val fingerprintStamp: String = "family=ahash64-energy64,bands=4x16,v=1"

  /** Per-clip 64-frame energy fingerprints (see [[audioFingerprintPairs]])
    * as (media_id, b0..b3) — the shared front of the pair and cluster
    * outputs. */
  def audioFingerprintHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val samples = pcm16(ais.readAllBytes()); ais.close()
          val n = samples.length
          val eF = new Array[Long](64); val cF = new Array[Long](64)
          var eTot = 0L
          var i = 0
          while (i < n) {
            val v = samples(i)
            val e = v.toLong * v
            val f = (i.toLong * 64 / n).toInt
            eF(f) += e; cF(f) += 1; eTot += e
            i += 1
          }
          val bands = new Array[Long](4)
          var f = 0
          while (f < 64) {
            if (prodCompare(eF(f), n, eTot, cF(f)) > 0)
              bands(f / 16) |= 1L << (f % 16)
            f += 1
          }
          PHashRow(m.media_id, bands(0), bands(1), bands(2), bands(3))
        }
      }.toDF()
  }

  /** THE image decode+aHash step, shared by the strict batch path
    * ([[imagePHashPairs]], which refuses undecodable payloads) and the
    * corrupt-tolerant ingest path ([[imageHashesSafe]]): one body, so
    * the streaming index and the batch dedup can never silently disagree
    * on fingerprints. None ⇔ the payload does not decode.
    */
  private def tryAHash(payload: Array[Byte]): Option[Array[Long]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None else Some(aHashBands(img))
    } catch { case _: Exception => None }

  /** Corrupt-tolerant image aHash for untrusted ingest bytes — the
    * [[audioFingerprintHashesSafe]] twin: payloads ImageIO rejects are
    * SKIPPED instead of failing the batch (the poison-file contract).
    */
  def imageHashesSafe(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { m =>
          tryAHash(m.payload).map(b =>
            PHashRow(m.media_id, b(0), b(1), b(2), b(3)))
        }
      }.toDF()
  }

  /** Corrupt-tolerant variant of [[audioFingerprintHashes]] for ingest
    * paths that read UNTRUSTED bytes (a watched bucket directory):
    * payloads the WAV decoder rejects — corrupt uploads, files listed
    * mid-write — are SKIPPED instead of failing the batch. In a
    * checkpointed stream a throwing payload would replay forever (a
    * poison-file crash loop); skipping is the only always-on-safe
    * contract. Producers should write-then-rename: a partially-written
    * file skipped here is never re-listed by the file source.
    */
  def audioFingerprintHashesSafe(spark: SparkSession,
                                 media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.flatMap { m =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(m.payload))
            val samples = pcm16(ais.readAllBytes()); ais.close()
            val n = samples.length
            if (n == 0) None
            else {
              val eF = new Array[Long](64); val cF = new Array[Long](64)
              var eTot = 0L
              var i = 0
              while (i < n) {
                val v = samples(i)
                val e = v.toLong * v
                val f = (i.toLong * 64 / n).toInt
                eF(f) += e; cF(f) += 1; eTot += e
                i += 1
              }
              val bands = new Array[Long](4)
              var f = 0
              while (f < 64) {
                if (prodCompare(eF(f), n, eTot, cF(f)) > 0)
                  bands(f / 16) |= 1L << (f % 16)
                f += 1
              }
              Some(PHashRow(m.media_id, bands(0), bands(1), bands(2),
                bands(3)))
            }
          } catch { case _: Exception => None }
        }
      }.toDF()
  }

  /** Fingerprint dedup with CLUSTER output — the scale-correct contract
    * when duplicate classes grow with the corpus. The three-point study
    * caught [[audioFingerprintPairs]] going super-linear at 30×
    * (leg 1.32) and the root cause is the OUTPUT: this corpus carries
    * duplicate classes ∝ scale, so enumerating media-level pairs is
    * Ω(n²/classes) BY CONTRACT — no join strategy fixes an output that
    * big. The dedup a pipeline actually needs is the cluster map:
    *
    *  1. group identical fingerprints (one map-side-combinable aggregate,
    *     linear) — rep = min media id per fingerprint;
    *  2. run the banded near-dup pair stage over DISTINCT fingerprints
    *     only (12 k rows where the corpus has 100 k clips at 30×);
    *  3. connected components over the rep pair graph (tiny), then the
    *     membership join carries every clip to its cluster label.
    *
    * Output: (media_id, cluster) — cluster = smallest media id reachable
    * through identical-fingerprint groups and ≤ maxDist near-dup links.
    * Cost is linear in clips + quadratic ONLY in distinct fingerprints —
    * the exact-dedup-then-near-dup layering of [[Dedup]]'s text family,
    * applied to perceptual hashes.
    */
  def fingerprintDedupClusters(hashesRaw: DataFrame, maxDist: Int): DataFrame = {
    // eager localCheckpoint, not .cache(): same one-decode barrier and
    // self-releasing lifetime as [[bandedHammingPairs]]
    val h = hashesRaw.localCheckpoint()
    val fpCols = Seq("b0", "b1", "b2", "b3").map(col)
    val groups = h.groupBy(fpCols: _*).agg(min(col("media_id")).as("rep"))
    val members = h.join(groups, Seq("b0", "b1", "b2", "b3"))
      .select(col("media_id"), col("rep"))
    val repFps = groups.select(col("rep").as("media_id"),
      col("b0"), col("b1"), col("b2"), col("b3"))
    // dist-0 pairs cannot occur here (identical fingerprints share a
    // group), so every pair is a genuine near-link between distinct
    // fingerprints
    val near = bandedHammingPairs(repFps, maxDist)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val cc = Pipeline.connectedComponents(near)
      .select(col("doc").as("cc_rep"), col("label"))
    members.join(cc, col("rep") === col("cc_rep"), "left")
      .select(col("media_id"),
        coalesce(col("label"), col("rep")).as("cluster"))
  }

  /** Steady-state media-ingest dedup: an arriving batch's fingerprints
    * probe the CORPUS fingerprint index instead of re-pairing the corpus —
    * the perceptual-hash twin of [[Dedup.lshIndexProbe]] (q123). Each
    * batch clip reports its smallest matching corpus id within `maxDist`
    * (`dup_of`, null ⇒ `kept`). Per-batch cost is O(batch) hashing +
    * index lookups on the batch's band keys + candidate verifies — never
    * corpus-pairing. The index is 4 longs per corpus item; persisted
    * bucketed by band key, the probe join prunes to the batch's buckets
    * (the q91 partition-pruned-serving shape). Accepted clips APPEND
    * their fingerprint rows — the index is a mergeable row set.
    */
  def fingerprintIndexProbe(index: DataFrame, batch: DataFrame,
                            maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4x16 banding is only pigeonhole-exact to dist 3")
    // eager localCheckpoints, not .cache(): each side feeds two plan
    // branches (candidates; verify). Checkpointing also never aliases a
    // CALLER's cache of the same frame — an unpersist-based variant here
    // would silently drop, e.g., the prebuilt index a serving loop keeps
    // hot. Blocks self-release when unreachable (ContextCleaner).
    val idx = index.localCheckpoint()
    val b = batch.localCheckpoint()
    def bandify(h: DataFrame, idAs: String): DataFrame =
      h.select(col("media_id").as(idAs), explode(array(
          struct(lit(0).as("k"), col("b0").as("v")),
          struct(lit(1).as("k"), col("b1").as("v")),
          struct(lit(2).as("k"), col("b2").as("v")),
          struct(lit(3).as("k"), col("b3").as("v")))).as("bd"))
        .select(col(idAs), col("bd.k").as("k"), col("bd.v").as("v"))
    val cand = bandify(idx, "cid")
      .join(broadcast(bandify(b, "bid")), Seq("k", "v"))
      .select(col("bid"), col("cid")).distinct()
    val ha = b.select(col("media_id").as("bid"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val hc = idx.select(col("media_id").as("cid"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val dist = bit_count(col("a0").bitwiseXOR(col("c0"))) +
      bit_count(col("a1").bitwiseXOR(col("c1"))) +
      bit_count(col("a2").bitwiseXOR(col("c2"))) +
      bit_count(col("a3").bitwiseXOR(col("c3")))
    val dup = cand.join(broadcast(ha), "bid").join(hc, "cid")
      .filter(dist.cast("long") <= maxDist)
      .groupBy(col("bid")).agg(min(col("cid")).as("dup_of"))
    b.select(col("media_id"))
      .join(broadcast(dup), col("media_id") === col("bid"), "left")
      .select(col("media_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Persisted band-bucketed fingerprint index + partition-pruned probe —
    * the serving-tier layout [[fingerprintIndexProbe]]'s docstring names:
    * band rows (one per fingerprint per band, carrying the full hash)
    * written ONCE as a parquet table partitioned by `pk = band·64 + v%64`
    * (256 partitions), so a probe reads ONLY the batch's band buckets:
    * the batch's distinct pk values are control-plane sized and prune the
    * scan STATICALLY (`PartitionFilters: pk IN (…)`, gated in PlanSpec) —
    * the q91 ANN-serving shape applied to perceptual hashes. Serving cost
    * is O(probed buckets), not O(index).
    *
    * Same per-JVM memoized temp-dir contract as the IVF index: rebuilds
    * within a JVM are memoized, concurrent JVMs never clobber each other.
    */
  private def bandRows(hashes: DataFrame, idAs: String): DataFrame =
    hashes.select(col("media_id").as(idAs), col("b0"), col("b1"),
        col("b2"), col("b3"),
        explode(array(
          struct(lit(0).as("k"), col("b0").as("v")),
          struct(lit(1).as("k"), col("b1").as("v")),
          struct(lit(2).as("k"), col("b2").as("v")),
          struct(lit(3).as("k"), col("b3").as("v")))).as("bd"))
      .select(col(idAs), col("b0"), col("b1"), col("b2"), col("b3"),
        col("bd.k").as("k"), col("bd.v").as("v"),
        (col("bd.k") * 64 + pmod(col("bd.v"), lit(64L))).cast("int").as("pk"))

  def mediaFpIndexFor(spark: SparkSession, sfDir: String): String =
    graft.PartitionedWrites.memoizedIndex(s"fp#$sfDir") { path =>
      val docs = Tables(spark, sfDir).documents
      val wav = udf((d: Long) => makeWav(d, audioN(d)))
      val originals = mediaTable(docs).filter(col("kind") === "audio")
        .select(col("media_id").cast("long"), col("kind"),
          wav(col("media_id")).as("payload"))
      val bands = bandRows(
        audioFingerprintHashes(spark, originals), "media_id")
      graft.PartitionedWrites.cluster(bands, "pk")
        .write.mode("overwrite").partitionBy("pk").parquet(path)
    }

  /** Probe the PERSISTED index with a batch of fingerprints: identical
    * answer to [[fingerprintIndexProbe]] over the same corpus, but the
    * index scan is partition-pruned to the batch's band buckets.
    */
  /** NOTE on caching: the serve path holds NO internal caches — a
    * serving loop calling it per batch must not accumulate pinned frames
    * (the leak class two review rounds removed elsewhere). The batch
    * subtree evaluates at most three times (driver pk collect, candidate
    * join, output ids); the batch is small BY CONTRACT, and a caller
    * with an expensive batch lineage caches it upstream.
    */
  def mediaIndexServe(spark: SparkSession, sfDir: String,
                      batchHashes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4x16 banding is only pigeonhole-exact to dist 3")
    val idx = spark.read.parquet(mediaFpIndexFor(spark, sfDir))
    val bBands = bandRows(batchHashes, "bid")
      .select(col("bid"), col("k"), col("v"), col("pk"),
        col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"),
        col("b3").as("a3"))
    // control-plane round-trip: ≤ 256 ints prune the partitioned scan
    val probedPks = bBands.select(col("pk")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val dist = bit_count(col("a0").bitwiseXOR(col("b0"))) +
      bit_count(col("a1").bitwiseXOR(col("b1"))) +
      bit_count(col("a2").bitwiseXOR(col("b2"))) +
      bit_count(col("a3").bitwiseXOR(col("b3")))
    // dedup (batch, corpus) pairs BEFORE the hamming verify — a near-dup
    // pair agrees on up to 4 bands and would otherwise verify 4× (the
    // in-memory probe's .distinct(), applied after the pruned join)
    val dup = idx.filter(col("pk").isin(probedPks: _*))
      .join(broadcast(bBands), Seq("k", "v"))
      .select(col("bid"), col("media_id"), col("a0"), col("a1"), col("a2"),
        col("a3"), col("b0"), col("b1"), col("b2"), col("b3"))
      .distinct()
      .filter(dist.cast("long") <= maxDist)
      .groupBy(col("bid")).agg(min(col("media_id")).as("dup_of"))
    batchHashes.select(col("media_id"))
      .join(broadcast(dup), col("media_id") === col("bid"), "left")
      .select(col("media_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Video near-duplicate pairs by SHARED FRAME fingerprints: every clip's
    * frames demux (real GRFV container parse) and decode (real per-frame
    * PNG), each frame hashes to the 64-bit [[aHashBands]] fingerprint, and
    * two clips pair when any frames collide on the FULL 64-bit hash —
    * reported with the number of matching frame pairs. This is the
    * shared-scene detector of video dedup: a trimmed or re-containered
    * re-upload shares every surviving frame with its source while
    * whole-file hashing sees two unrelated blobs.
    *
    * 100 TB shape: demux+hash is one payload scan emitting 4 longs per
    * FRAME (pixels never leave the task); the pair stage is an equi-join
    * on the 64-bit hash (hash-partitioned, candidate volume ∝ genuinely
    * colliding frames) + one count aggregate. A corpus full of one static
    * frame (black slates) concentrates a hash bucket — cap frame-hash
    * buckets upstream, the df-cap analogue, before pairing.
    */
  def videoSharedFramePairs(spark: SparkSession, media: DataFrame): DataFrame = {
    // eager localCheckpoint for the same two-branch reason (and with the
    // same self-releasing lifetime) as [[bandedHammingPairs]]
    val fh = videoFrameHashes(spark, media).localCheckpoint()
    val a = fh.select(col("media_id").as("da"), col("b0"), col("b1"),
      col("b2"), col("b3"))
    val b = fh.select(col("media_id").as("db"), col("b0"), col("b1"),
      col("b2"), col("b3"))
    a.join(b, Seq("b0", "b1", "b2", "b3"))
      .filter(col("da") < col("db"))
      .groupBy(col("da").as("media_a"), col("db").as("media_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-frame 64-bit aHash fingerprints of every video row: demux the
    * GRFV container, decode each PNG frame, hash — one payload scan,
    * constant state per frame. */
  def videoFrameHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { m =>
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(m.payload))
          val magic = new Array[Byte](4)
          in.readFully(magic)
          require(new String(magic, "US-ASCII") == "GRFV", "bad video magic")
          val nf = in.readInt()
          (0 until nf).map { f =>
            val len = in.readInt()
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, "undecodable frame payload")
            val bands = aHashBands(img)
            FrameHashRow(m.media_id, f, bands(0), bands(1), bands(2),
              bands(3))
          }
        }
      }.toDF()
  }

  /** Video ingest probe: an arriving clip's PER-FRAME hashes probe the
    * corpus FRAME index — the video member of the per-modality probe
    * matrix (audio [[fingerprintIndexProbe]]/q144, image q148). A batch
    * clip resolves to the SMALLEST corpus clip sharing at least one full
    * 64-bit frame hash (the q142 rule): a trimmed or re-containered
    * re-upload shares every surviving frame with its source, so one
    * shared frame is the detection contract at ingest; `dup_of` null ⇒
    * `kept`.
    *
    * Per-batch cost: O(batch frames) hashing upstream + an equi-join on
    * the 64-bit frame hash (the index side prunes to matching hashes;
    * persisted bucketed, [[videoIndexServe]] prunes the SCAN too) + a
    * per-clip min aggregate. A corpus dominated by one static frame
    * (black slates) concentrates a hash bucket — cap frame-hash buckets
    * upstream, the df-cap analogue, as [[videoSharedFramePairs]] notes.
    */
  def videoFrameIndexProbe(index: DataFrame, batch: DataFrame): DataFrame = {
    val fpCols = Seq("b0", "b1", "b2", "b3")
    val dup = index.select(col("media_id").as("cid") +: fpCols.map(col): _*)
      .join(broadcast(batch
        .select(col("media_id").as("bid") +: fpCols.map(col): _*)
        .distinct()), fpCols)
      .groupBy(col("bid")).agg(min(col("cid")).as("dup_of"))
    batch.select(col("media_id")).distinct()
      .join(broadcast(dup), col("media_id") === col("bid"), "left")
      .select(col("media_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** Deterministic frame-hash bucket for the persisted video index: a
    * mix of the four 16-bit bands mod 256. Identical on index and probe
    * sides BY CONSTRUCTION (computed from the hash columns), so full-hash
    * equality implies bucket equality and pruning loses nothing. Products
    * stay < 2^23 — no overflow.
    */
  private def framePk: org.apache.spark.sql.Column =
    pmod(col("b0") * 31 + col("b1") * 37 + col("b2") * 41 + col("b3") * 43,
      lit(256L)).cast("int")

  /** Persisted video FRAME index (the q91/q147 serving layout applied to
    * frame hashes): one row per corpus frame, partitioned by [[framePk]],
    * built once per (JVM, corpus dir) through the shared memoized-index
    * contract.
    */
  def videoFpIndexFor(spark: SparkSession, sfDir: String): String =
    graft.PartitionedWrites.memoizedIndex(s"vfp#$sfDir") { path =>
      val docs = Tables(spark, sfDir).documents
      val vid = udf((d: Long) => makeVideo(d))
      val originals = mediaTable(docs).filter(col("kind") === "video")
        .select(col("media_id").cast("long"), col("kind"),
          vid(col("media_id")).as("payload"))
      val rows = videoFrameHashes(spark, originals).withColumn("pk", framePk)
      graft.PartitionedWrites.cluster(rows, "pk")
        .write.mode("overwrite").partitionBy("pk").parquet(path)
    }

  /** Probe the PERSISTED video frame index: identical answer to
    * [[videoFrameIndexProbe]] over the same corpus, with the index scan
    * partition-pruned to the batch frames' buckets (PlanSpec-gated) —
    * serving cost is O(probed buckets), not O(index frames).
    */
  def videoIndexServe(spark: SparkSession, sfDir: String,
                      batchFrameHashes: DataFrame): DataFrame = {
    val fpCols = Seq("b0", "b1", "b2", "b3")
    val idx = spark.read.parquet(videoFpIndexFor(spark, sfDir))
    val bf = batchFrameHashes
      .select(col("media_id").as("bid") +: fpCols.map(col): _*)
      .distinct().withColumn("pk", framePk)
    // control-plane round-trip: <= 256 ints prune the partitioned scan
    val probedPks = bf.select(col("pk")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val dup = idx.filter(col("pk").isin(probedPks: _*))
      .join(broadcast(bf), fpCols)
      .groupBy(col("bid")).agg(min(col("media_id")).as("dup_of"))
    batchFrameHashes.select(col("media_id")).distinct()
      .join(broadcast(dup), col("media_id") === col("bid"), "left")
      .select(col("media_id"), col("dup_of"), col("dup_of").isNull.as("kept"))
  }
}
