package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2.3): media payloads are opaque
  * `binary` columns with a typed metadata struct, processed in partition-
  * sized batches.
  *
  * The IMAGE path (`mm02`) is a real codec round trip: payloads are
  * grayscale PNGs (synthesized deterministically from document bytes,
  * encoded with `javax.imageio` — the JDK's own codec, headless-safe) and
  * the decode step is a genuine `ImageIO.read` producing decoded width /
  * height / pixel statistics. The oracle checks exactly those DECODED
  * properties, which are pure functions of the source text, so a DuckDB
  * query can predict them without a PNG codec. The VIDEO frame path
  * (`mm03`) is a real multi-frame container round trip too: each doc's
  * bytes become an ANIMATED GIF (one 8×8 grayscale frame per 64-byte
  * chunk, encoded with the JDK's own `GIFImageWriter` — the only
  * multi-frame codec the JDK ships), frames are decoded back one by one
  * through `ImageIO`'s GIF `ImageReader`, and each sampled frame is
  * RESIZED by exact 2×2 average pooling to a 4×4 thumbnail. GIF is
  * lossless for ≤256-value grayscale, so every decoded property is a pure
  * function of the source text and the oracle stays hash-exact.
  */
object Multimodal {

  /** Typed result of the PNG decoder — decoded properties only. */
  case class MediaFeatures(doc_id: Long, width: Int, height: Int, pix_sum: Long)

  /** Typed result of the (stubbed) frame sampler. */
  case class Frame(doc_id: Long, source: String, frame_idx: Int, thumb: Long)

  /** Typed result of the WAV decoder — decoded properties only. */
  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Long,
      sample_sum: Long, peak: Int)

  /** Synthesize a real PCM WAV clip from content bytes: 8-bit unsigned
    * mono at 8 kHz, samples are the content bytes repeated cyclically to
    * a length derived from the byte count. Encoded with
    * `javax.sound.sampled.AudioSystem` — the JDK's own codec. */
  private[graft] def encodeWav(content: Array[Byte]): Array[Byte] = {
    val n = content.length
    val k = (n % 2000) + 100
    val pcm = new Array[Byte](k)
    var i = 0
    while (i < k) { pcm(i) = if (n > 0) content(i % n) else 0; i += 1 }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, k.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL decode: parse the WAV container, read the PCM frames back and
    * extract decoded sample statistics. */
  private[graft] def decodeWav(docId: Long, payload: Array[Byte]): AudioFeatures = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    val buf = ais.readAllBytes()
    var sum = 0L
    var peak = 0
    var i = 0
    while (i < buf.length) {
      val v = buf(i) & 0xff
      sum += v
      if (v > peak) peak = v
      i += 1
    }
    AudioFeatures(docId, fmt.getSampleRate.toInt, buf.length.toLong, sum, peak)
  }

  /** Frames per synthesized clip are capped so payload size stays bounded
    * for arbitrarily long documents (the cap is mirrored in the oracle). */
  private[graft] val MaxFrames = 16

  // The staged MEDIA TABLE (the dd12 build-once/serve-many precedent):
  // all three synthetic codec payloads encode ONCE per documents content
  // into one columnar parquet table (doc_id, source, gif, png, wav); each
  // consumer reads ONLY its codec's column (parquet is columnar — mm02
  // never deserializes the GIF bytes). Encoding per query would
  // double-bill the synthetic encode onto the decode path that is the
  // actual workload (a media corpus arrives encoded; the pipeline's job
  // is the decode side). Build cost rides the first access like dd12's
  // cluster table.
  private[graft] def mediaDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "mm-media", Tables.path(d, "documents")) { dir =>
      import s.implicits._
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text").cast("binary").as("raw"))
        .as[(Long, String, Array[Byte])].mapPartitions { batch =>
          batch.map { case (id, source, content) =>
            (id, source, encodeGif(content), encodePng(content),
              encodeWav(content)) }
        }.toDF("doc_id", "source", "gif", "png", "wav")
        .write.mode("overwrite").parquet(dir)
    }

  private def media(s: SparkSession, d: String, cols: Column*): DataFrame =
    s.read.parquet(mediaDir(s, d)).select(cols: _*)

  /** Synthesize a real multi-frame "video": an animated GIF with one 8×8
    * grayscale frame per 64-byte chunk of the content (row-major pixels),
    * at most [[MaxFrames]] frames. Encoded with `javax.imageio`'s GIF
    * sequence writer — a genuine multi-frame container, and lossless for
    * the ASCII fixtures' 0-127 sample range. */
  private[graft] def encodeGif(content: Array[Byte]): Array[Byte] = {
    val nFrames = math.min(content.length / 64, MaxFrames)
    // a zero-frame sequence is not a valid GIF stream (the writer emits a
    // bare header the reader EOFs on) — represent "no video" as no bytes
    if (nFrames == 0) return Array.emptyByteArray
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < 64) {
          raster.setSample(i % 8, i / 8, 0, content(f * 64 + i) & 0xff)
          i += 1
        }
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      wr.endWriteSequence()
    } finally {
      wr.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL frame extraction: open the GIF container with `ImageIO`'s
    * reader, decode every 4th frame, and downscale it by exact 2×2
    * average pooling (floor division — bit-exact across engines) to a
    * 4×4 thumbnail; `thumb` is the thumbnail's pixel sum mod 256. */
  private[graft] def decodeGifFrames(docId: Long, source: String,
      payload: Array[Byte]): Iterator[Frame] = {
    if (payload.isEmpty) return Iterator.empty
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      rd.setInput(iis)
      val n = rd.getNumImages(true)
      (0 until n by 4).iterator.map { f =>
        val img = rd.read(f)
        require(img.getWidth == 8 && img.getHeight == 8,
          s"unexpected frame geometry for doc $docId frame $f")
        var thumb = 0L
        var by = 0
        while (by < 4) {
          var bx = 0
          while (bx < 4) {
            // decoded gray value via the color model (palette-safe), one
            // channel of the ARGB int; 2×2 block floor-average
            val p = (img.getRGB(2 * bx, 2 * by) & 0xff) +
              (img.getRGB(2 * bx + 1, 2 * by) & 0xff) +
              (img.getRGB(2 * bx, 2 * by + 1) & 0xff) +
              (img.getRGB(2 * bx + 1, 2 * by + 1) & 0xff)
            thumb += p / 4
            bx += 1
          }
          by += 1
        }
        Frame(docId, source, f, thumb % 256)
      }.toVector.iterator // materialize before the reader is disposed
    } finally {
      rd.dispose()
      iis.close()
    }
  }

  /** Decode EVERY frame of the GIF container and return its exact pixel
    * sum (64 decoded gray samples, integer) — mm06's per-frame luminance
    * signal. Same reader discipline as [[decodeGifFrames]]. */
  private[graft] def decodeGifFrameSums(docId: Long, source: String,
      payload: Array[Byte]): Iterator[(Long, String, Int, Long)] = {
    if (payload.isEmpty) return Iterator.empty
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      rd.setInput(iis)
      val n = rd.getNumImages(true)
      (0 until n).map { f =>
        val img = rd.read(f)
        require(img.getWidth == 8 && img.getHeight == 8,
          s"unexpected frame geometry for doc $docId frame $f")
        var sum = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            sum += (img.getRGB(x, y) & 0xff)
            x += 1
          }
          y += 1
        }
        (docId, source, f, sum)
      }.iterator // the map above is strict (Range.map), reader-safe
    } finally {
      rd.dispose()
      iis.close()
    }
  }

  /** Synthesize a real grayscale PNG from content bytes: dimensions are a
    * deterministic function of the byte count, pixels are the content
    * bytes written row-major and repeated cyclically. ASCII fixtures give
    * sample values 0-127, which 8-bit gray PNG round-trips losslessly. */
  private[graft] def encodePng(content: Array[Byte]): Array[Byte] = {
    val n = content.length
    val w = (n % 64) + 1
    val h = (n % 48) + 2
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0, if (n > 0) content(i % n) & 0xff else 0)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL decode: `ImageIO.read` the PNG payload and extract decoded
    * metadata + a pixel checksum. Runs on executors inside the
    * `mapPartitions` batch (headless JVM — no display needed). */
  private[graft] def decodePng(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    // ImageIO.read returns null (not an exception) for unrecognizable
    // payloads — turn that into a diagnosable failure naming the doc
    require(img != null, s"not a decodable image for doc $docId")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    MediaFeatures(docId, w, h, sum)
  }

  /** Synthesize mm05's 8×8 binary-pattern grayscale PNG: pixel i is 200
    * where bit i of the 64-bit pattern is set, else 20, plus a small
    * per-doc noise bump on one pixel — so byte-identical CONTENT classes
    * produce byte-DIFFERENT payloads whose perceptual hash still
    * collapses (the property mm05 exists to demonstrate). */
  private[graft] def encodePatternPng(bits: Long, noisePos: Int,
      noiseAmt: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < 64) {
      val v = if (((bits >>> (63 - i)) & 1L) == 1L) 200 else 20
      raster.setSample(i % 8, i / 8, 0, v)
      i += 1
    }
    raster.setSample(noisePos % 8, noisePos / 8, 0,
      math.min(255, raster.getSample(noisePos % 8, noisePos / 8, 0) + noiseAmt))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Average-hash (aHash) of a DECODED 8×8 grayscale image: threshold
    * every pixel at the image mean, pack the 64 bits MSB-first, and
    * render as 16 hex chars (the md5-hex-prefix bit order, so the oracle
    * can predict the hash without a codec). Noise of < 180 gray levels on
    * one pixel never crosses the mean, which is what makes the hash
    * perceptual rather than exact. */
  private[graft] def ahashHex(docId: Long, payload: Array[Byte]): String = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"not a decodable image for doc $docId")
    require(img.getWidth == 8 && img.getHeight == 8,
      s"unexpected geometry for doc $docId")
    val raster = img.getRaster
    val px = new Array[Int](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      px(i) = raster.getSample(i % 8, i / 8, 0)
      sum += px(i)
      i += 1
    }
    val mean = sum.toDouble / 64
    var bits = 0L
    i = 0
    while (i < 64) {
      if (px(i) > mean) bits |= 1L << (63 - i)
      i += 1
    }
    f"$bits%016x"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IMAGE PERCEPTUAL-HASH dedup — the multimodal analogue of dd11:
    // byte-level hashing misses re-encoded/noised copies of the same
    // image, so pipelines dedup on a perceptual hash instead. Each doc's
    // canonical token set synthesizes an 8×8 binary-pattern PNG (bits =
    // the md5-hex prefix of the canonical text) with a per-doc noise
    // pixel — payload BYTES are unique per doc, but the decoded aHash
    // (mean-threshold, noise-invariant by construction) collapses exactly
    // the canonical classes. The oracle predicts the hash from text alone
    // (it equals the md5 prefix unless a pattern has < 2 set bits —
    // probability ~1e-15 on real md5 output), so a hash-exact DuckDB
    // check gates a genuine encode→decode→perceptual-hash chain. Scale:
    // encode/decode/hash are pure map work; the dedup is one hash shuffle
    // of 8-byte keys (dd01's shape).
    "mm05_phash_dedup" -> ((s, d) => {
      import s.implicits._
      val canon = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextOps.canonFingerprint(col("text")).as("canon_hex"))
      val media = canon.as[(Long, String)].mapPartitions { batch =>
        batch.map { case (id, hex) =>
          val bits = java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16)
          (id, encodePatternPng(bits, (id % 64).toInt, (id % 5).toInt + 1))
        }
      }.toDF("doc_id", "payload")
      val hashed = media.as[(Long, Array[Byte])].mapPartitions { batch =>
        batch.map { case (id, payload) => (id, ahashHex(id, payload)) }
      }.toDF("doc_id", "ahash_hex")
      hashed.groupBy(col("ahash_hex"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_images"))
    }),

    // Binary payload + metadata struct round trip: text → utf-8 bytes as
    // the opaque payload, content hash + size as metadata; per-source stats.
    "mm01_binary_metadata" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .select(col("source"),
          col("text").cast("binary").as("payload"))
        .select(col("source"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("content_hash"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"),
          countDistinct(col("content_hash")).as("n_distinct"),
          max(col("n_bytes")).as("max_bytes"))
    }),

    // mapPartitions feature extraction over binary payloads — the batch
    // shape a pandas-UDF/mapInPandas pipeline would use, with typed output
    // Encoders. Two real codec stages: synthesize a grayscale PNG per doc
    // (javax.imageio encode), then ImageIO.read it back and extract the
    // DECODED width/height/pixel checksum. The oracle predicts exactly the
    // decoded properties (pure functions of the text), so a hash-exact
    // DuckDB check gates a genuine image decode.
    "mm02_feature_extract" -> ((s, d) => {
      import s.implicits._
      val features = media(s, d, col("doc_id"), col("png"))
        .as[(Long, Array[Byte])].mapPartitions { batch =>
          batch.map { case (id, payload) => decodePng(id, payload) }
        }
      features.toDF()
        .groupBy((col("pix_sum") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("pix_sum")).as("sum_pix"),
          min(col("width")).as("min_width"),
          max(col("height")).as("max_height"))
    }),

    // The AUDIO path: same two-stage real-codec shape as mm02 — synthesize
    // a PCM WAV clip per doc (AudioSystem encode), decode it back through
    // the WAV parser, and roll up DECODED properties (sample rate, frame
    // count, amplitude sum/peak) per source. The oracle predicts those
    // from the text alone.
    "mm04_audio_features" -> ((s, d) => {
      import s.implicits._
      val features = media(s, d, col("doc_id"), col("source"), col("wav"))
        .as[(Long, String, Array[Byte])].mapPartitions { batch =>
          batch.map { case (id, source, payload) =>
            (source, decodeWav(id, payload)) }
        }.toDF("source", "f")
      features.select(col("source"), col("f.*"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_clips"),
          min(col("sample_rate")).as("min_rate"),
          sum(col("n_samples")).as("total_samples"),
          sum(col("sample_sum")).as("total_amplitude"),
          max(col("peak")).as("max_peak"))
    }),

    // VIDEO frame sampling — a real multi-frame codec round trip (r4: the
    // byte-arithmetic stub is gone). The animated GIFs (one 8×8 grayscale
    // frame per 64-byte chunk, ≤ MaxFrames) are STAGED once per fixture
    // ([[mediaDir]] — r13); the query opens each container with ImageIO's
    // GIF reader, DECODES every 4th frame, and downscales it by exact
    // 2×2 average pooling to a 4×4 thumbnail. One input row fans out to
    // many frame rows inside the same mapPartitions batch (the
    // flatMap/UDTF batch shape of a mapInPandas frame extractor), then a
    // per-source rollup. GIF grayscale is lossless, so the oracle
    // predicts the DECODED thumbnails from text.
    // VIDEO scene-change detection — the shot-boundary pass a video
    // corpus pipeline runs before sampling training clips: decode EVERY
    // frame (real GIF reader, not byte peeking), reduce each to its
    // exact integer luminance sum, and cut where consecutive frames
    // jump by >= 300 (frame sums are Σ of 64 decoded gray samples; the
    // threshold splits the fixture's inter-frame deltas ~48 cuts /
    // ~2000 frames). Per-doc frame counts are <= MaxFrames, so the lag
    // window partitions by doc_id with bounded partitions; the rollup
    // is one source-keyed agg. All counts and deltas exact integers —
    // GIF grayscale is lossless for the ASCII fixtures, so the oracle
    // predicts the DECODED sums straight from text bytes.
    "mm06_scene_change" -> ((s, d) => {
      import s.implicits._
      val sums = media(s, d, col("doc_id"), col("source"), col("gif"))
        .as[(Long, String, Array[Byte])].mapPartitions { batch =>
        batch.flatMap { case (id, source, payload) =>
          decodeGifFrameSums(id, source, payload)
        }
      }.toDF("doc_id", "source", "frame", "fsum")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame"))
      sums.withColumn("delta", col("fsum") - lag(col("fsum"), 1).over(w))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_videos"),
          count(lit(1)).as("n_frames"),
          sum(when(abs(col("delta")) >= 300, 1L).otherwise(0L)).as("n_cuts"),
          max(abs(col("delta"))).as("max_delta"))
        .withColumn("n_scenes", col("n_videos") + col("n_cuts"))
    }),

    "mm03_frame_sample" -> ((s, d) => {
      import s.implicits._
      val frames = media(s, d, col("doc_id"), col("source"), col("gif"))
        .as[(Long, String, Array[Byte])].mapPartitions { batch =>
        batch.flatMap { case (id, source, payload) =>
          decodeGifFrames(id, source, payload)
        }
      }
      frames.toDF().groupBy(col("source"))
        .agg(count(lit(1)).as("n_frames_sampled"),
          countDistinct(col("doc_id")).as("n_docs_with_frames"),
          sum(col("thumb")).as("sum_thumbs"),
          max(col("thumb")).as("max_thumb"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the aHash of the synthesized pattern equals the canonical md5-hex
    // prefix (see mm05's Scaladoc) — the oracle needs no codec
    "mm05_phash_dedup" -> """
      WITH c AS (
        SELECT doc_id,
               SUBSTRING(md5(array_to_string(
                 list_sort(list_distinct(string_split(text, ' '))), ' ')),
                 1, 16) AS ahash_hex
        FROM documents)
      SELECT ahash_hex, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_images
      FROM c GROUP BY 1""",

    "mm01_binary_metadata" -> """
      SELECT source, COUNT(*) AS n_media,
             CAST(SUM(OCTET_LENGTH(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
             COUNT(DISTINCT md5(text)) AS n_distinct,
             MAX(OCTET_LENGTH(CAST(text AS BLOB))) AS max_bytes
      FROM documents
      GROUP BY source""",

    // decoded-WAV properties predicted from the text: k = (n % 2000) + 100
    // samples of the content bytes repeated cyclically at 8 kHz
    "mm04_audio_features" -> """
      WITH g AS (
        SELECT doc_id, source, text,
               OCTET_LENGTH(CAST(text AS BLOB)) AS n,
               (OCTET_LENGTH(CAST(text AS BLOB)) % 2000) + 100 AS k
        FROM documents),
      f AS (
        SELECT doc_id, source, k,
               CASE WHEN n = 0 THEN 0 ELSE
                 LIST_SUM(LIST_TRANSFORM(RANGE(0, k),
                   i -> ORD(SUBSTRING(text, (i % n) + 1, 1)))) END AS sample_sum,
               CASE WHEN n = 0 THEN 0 ELSE
                 LIST_MAX(LIST_TRANSFORM(RANGE(0, LEAST(k, n)),
                   i -> ORD(SUBSTRING(text, i + 1, 1)))) END AS peak
        FROM g)
      SELECT source, COUNT(*) AS n_clips,
             8000 AS min_rate,
             CAST(SUM(k) AS BIGINT) AS total_samples,
             CAST(SUM(sample_sum) AS BIGINT) AS total_amplitude,
             CAST(MAX(peak) AS INT) AS max_peak
      FROM f
      GROUP BY source""",

    // predicts the DECODED thumbnails: frame f's 8×8 pixels are text bytes
    // f*64 + y*8 + x (GIF grayscale is lossless); thumbnail block b
    // (bx=b%4, by=b//4) floor-averages the 2×2 pixel block at
    // (2bx, 2by) — byte offsets by*16 + bx*2 + {0,1,8,9}; frame count is
    // capped at 16 (Multimodal.MaxFrames) and every 4th frame is sampled
    // predicts the DECODED frame sums from text (lossless grayscale):
    // frame f's luminance = Σ ORD(text[f·64 + i]), i in 1..64; cuts at
    // |Δ| >= 300 over the per-doc frame order
    "mm06_scene_change" -> """
      WITH fr AS (
        SELECT doc_id, source, u.f AS frame,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i ->
                 ORD(SUBSTRING(text, u.f*64 + i, 1)))) AS BIGINT) AS fsum
        FROM documents,
             LATERAL (SELECT UNNEST(RANGE(0, LEAST(LENGTH(text)//64, 16))) AS f) u),
      dl AS (
        SELECT doc_id, source, fsum,
               fsum - LAG(fsum) OVER (PARTITION BY doc_id ORDER BY frame)
                 AS delta
        FROM fr)
      SELECT source, COUNT(DISTINCT doc_id) AS n_videos,
             COUNT(*) AS n_frames,
             CAST(SUM(CASE WHEN ABS(delta) >= 300 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cuts,
             MAX(ABS(delta)) AS max_delta,
             COUNT(DISTINCT doc_id)
               + CAST(SUM(CASE WHEN ABS(delta) >= 300 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_scenes
      FROM dl GROUP BY source""",

    "mm03_frame_sample" -> """
      WITH fr AS (
        SELECT doc_id, source,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 16), b ->
                 ( ORD(SUBSTRING(text, u.f*64 + (b//4)*16 + (b%4)*2 + 1, 1))
                 + ORD(SUBSTRING(text, u.f*64 + (b//4)*16 + (b%4)*2 + 2, 1))
                 + ORD(SUBSTRING(text, u.f*64 + (b//4)*16 + (b%4)*2 + 9, 1))
                 + ORD(SUBSTRING(text, u.f*64 + (b//4)*16 + (b%4)*2 + 10, 1))
                 ) // 4)) % 256 AS BIGINT) AS thumb
        FROM documents,
             LATERAL (SELECT UNNEST(RANGE(0, LEAST(LENGTH(text)//64, 16))) AS f) u
        WHERE u.f % 4 = 0)
      SELECT source, COUNT(*) AS n_frames_sampled,
             COUNT(DISTINCT doc_id) AS n_docs_with_frames,
             CAST(SUM(thumb) AS BIGINT) AS sum_thumbs,
             MAX(thumb) AS max_thumb
      FROM fr GROUP BY source""",

    // the oracle predicts the DECODED properties of the synthesized PNG —
    // dims from the byte count, pixel sum from content bytes written
    // row-major and repeated cyclically (fixture text is ASCII:
    // codepoint == byte value == gray sample)
    "mm02_feature_extract" -> """
      WITH g AS (
        SELECT doc_id, text,
               OCTET_LENGTH(CAST(text AS BLOB)) AS n,
               (OCTET_LENGTH(CAST(text AS BLOB)) % 64) + 1 AS w,
               (OCTET_LENGTH(CAST(text AS BLOB)) % 48) + 2 AS h
        FROM documents),
           p AS (
        SELECT doc_id, w, h,
               CASE WHEN n = 0 THEN 0 ELSE
                 LIST_SUM(LIST_TRANSFORM(RANGE(0, w * h),
                   i -> ORD(SUBSTRING(text, (i % n) + 1, 1)))) END AS pix_sum
        FROM g)
      SELECT CAST(pix_sum % 10 AS BIGINT) AS bucket, COUNT(*) AS n_media,
             CAST(SUM(pix_sum) AS BIGINT) AS sum_pix,
             MIN(w) AS min_width,
             MAX(h) AS max_height
      FROM p
      GROUP BY 1"""
  )
}
