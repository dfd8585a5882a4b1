package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: media payloads are opaque `binary` columns
  * with typed metadata alongside. The Spark-side machinery — schema,
  * batch-oriented per-partition processing, partition sizing — is real and
  * tested. Decode is REAL for BMP/PPM/PGM/WAV (pure-JVM parsers), for
  * PNG/JPEG (the JDK's public `javax.imageio` plugins — no external
  * library), and for IMA-ADPCM compressed audio (pure integer table
  * arithmetic, [[MediaCodecs.decodeWavAdpcm]], oracled end to end in
  * q119); only the entropy-coded audio formats the JDK ships no codec
  * for (FLAC/MP3/...) remain stubbed with a deterministic fake.
  *
  * Scale posture: payload bytes travel inside the row (Parquet binary
  * column), so partition sizing is governed by
  * `spark.sql.files.maxPartitionBytes`, and decode is a mapPartitions
  * batch per task — the Scala analogue of `mapInPandas`, one
  * buffer-reuse loop per partition rather than a per-row UDF boundary.
  */
object Multimodal {

  /** Decoded-media feature record: the schema a real codec would fill. */
  case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      channels: Int,
      frame_count: Int)

  /** Build a binary payload column from the documents table (the test
    * corpus has no real media; UTF-8 bytes stand in for the blob). */
  def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"))

  /** Typed metadata over the opaque payload — digest, size, prefix —
    * all codegen'd built-ins. SQL-expressible, oracled. */
  def payloadDigest(spark: SparkSession, dir: String): DataFrame =
    payloads(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        hex(substring(col("payload"), 1, 8)).as("prefix_hex"))
      .orderBy(col("doc_id"))

  val payloadDigestOracle: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest,
       upper(substring(hex(encode(text)), 1, 16)) AS prefix_hex
       FROM documents ORDER BY doc_id"""

  /** Decode one payload: real container-header parsing via
    * [[MediaHeaders]] (PNG/JPEG/GIF/WAV magic + dimensions, pure JVM);
    * pixel/sample decode itself is STUBBED — no codec libraries ship in
    * this environment, so unrecognized payloads get deterministic fake
    * dimensions derived from the bytes, keeping the downstream plumbing
    * (schema, batching, partition parallelism) honestly exercised. */
  private def decodeOne(id: Long, payload: Array[Byte]): MediaFeatures =
    MediaHeaders.parse(payload) match {
      case Some(h) =>
        MediaFeatures(id, payload.length, h.format, h.width, h.height,
          h.channels, frame_count = 1)
      case None =>
        val h = graft.functions.Fingerprint64.hashBytes(payload)
        val fmt = (math.floorMod(h, 3).toInt) match {
          case 0 => "img"
          case 1 => "audio"
          case _ => "video"
        }
        MediaFeatures(id, payload.length, fmt,
          width = 16 + math.floorMod(h >> 8, 64).toInt,
          height = 16 + math.floorMod(h >> 16, 64).toInt,
          channels = 1 + math.floorMod(h >> 24, 3).toInt,
          frame_count =
            if (fmt == "video") 1 + math.floorMod(h >> 32, 120).toInt else 1)
    }

  /** Per-partition batch decode over any (doc_id, payload) frame — the
    * mapInPandas-shaped hot path (codec state would be allocated once
    * per task, outside the row loop). */
  def decodeFeaturesOf(payloadDf: DataFrame): Dataset[MediaFeatures] = {
    import payloadDf.sparkSession.implicits._
    payloadDf
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeOne(id, payload) })
  }

  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] =
    decodeFeaturesOf(payloads(spark, dir))

  /** Resized-media record: same payload contract, new dimensions. */
  case class ResizedMedia(
      doc_id: Long, format: String,
      width: Int, height: Int, payload: Array[Byte])

  /** Resize: the Spark-side plumbing (schema, per-partition batch loop,
    * payload round-trip) is real; the pixel resample itself is STUBBED —
    * a real codec would decode, resample, and re-encode where the
    * deterministic byte-fold sits. Aspect-ratio-preserving target box. */
  def resize(features: Dataset[MediaFeatures], payloadDf: DataFrame,
      maxSide: Int): Dataset[ResizedMedia] = {
    import features.sparkSession.implicits._
    val withPayload = features.toDF()
      .join(payloadDf.select(col("doc_id"), col("payload")), "doc_id")
      .as[(Long, Int, String, Int, Int, Int, Int, Array[Byte])]
    withPayload.mapPartitions(_.map {
      case (id, _, fmt, w, h, _, _, payload) =>
        val scale =
          if (math.max(w, h) <= maxSide || math.max(w, h) == 0) 1.0
          else maxSide.toDouble / math.max(w, h)
        val nw = math.max(1, (w * scale).toInt)
        val nh = math.max(1, (h * scale).toInt)
        // STUB re-encode: deterministic byte fold standing in for the codec
        val out =
          if (payload.isEmpty) Array.emptyByteArray
          else {
            val o = new Array[Byte](math.max(1, (payload.length * scale).toInt))
            var i = 0
            while (i < o.length) { o(i) = payload(i % payload.length); i += 1 }
            o
          }
        ResizedMedia(id, fmt, nw, nh, out)
    })
  }

  /** Frame descriptor emitted by sampling (one row per kept frame). */
  case class Frame(doc_id: Long, frame_idx: Int, offset_bytes: Long)

  /** Frame sampling: every nth frame of video payloads becomes its own
    * row (the explode-shaped transform a video pipeline needs before
    * per-frame feature extraction). Container demuxing is STUBBED as
    * fixed-size frame strides; the row shape and partition parallelism
    * are real. */
  def sampleFrames(features: Dataset[MediaFeatures],
      everyNth: Int): Dataset[Frame] = {
    import features.sparkSession.implicits._
    features.flatMap { f =>
      if (f.format != "video" || f.frame_count <= 0) Iterator.empty
      else {
        val stride = math.max(1L, f.n_bytes.toLong / f.frame_count)
        (0 until f.frame_count by everyNth).iterator
          .map(i => Frame(f.doc_id, i, i * stride))
      }
    }
  }

  /** q33: per-format feature summary of the REAL decoded corpus —
    * files, decoded geometry extrema, and total content units (pixels
    * for rasters — including JPEG, whose GEOMETRY decode is exact even
    * though its pixel values are codec-approximate — and PCM frames
    * for audio). Every number comes off [[MediaCodecs]]' real decoders
    * over the synthesized corpus, and every number is an integer the
    * oracle re-derives from `documents.text` alone (the q110
    * byte-replay idiom), so a corrupted header field anywhere in any
    * codec flips the rollup. Narrow decode map + one tiny hash
    * aggregate. */
  def featureSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (_, p) =>
        MediaCodecs.decodeImage(p) match {
          case Some(img) =>
            Iterator((img.format, "image", Some(img.width),
              Some(img.height),
              img.width.toLong * img.height * img.channels))
          case None => MediaCodecs.decodeWav(p).iterator.map { a =>
            ("wav", "audio", Option.empty[Int], Option.empty[Int],
              a.nFrames.toLong * a.channels)
          }
        }
      })
      .toDF("format", "kind", "w", "h", "units")
      .groupBy(col("format"), col("kind"))
      .agg(count(lit(1)).as("n"),
        max(col("w")).as("max_width"),
        max(col("h")).as("max_height"),
        sum(col("units")).as("total_units"))
      .orderBy(col("format"))
  }

  /** Oracle for q33 [[featureSummary]]: the synthesis arithmetic
    * (geometry from text length, mod-6 format arm, WAV sample count)
    * replayed from `documents.text`. */
  val featureSummaryOracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 6 AS m,
         CASE WHEN octet_length(encode(text)) = 0 THEN 1
              ELSE octet_length(encode(text)) END AS len
       FROM documents),
       u AS (SELECT
           CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'pgm'
             WHEN 3 THEN 'wav' WHEN 4 THEN 'png' ELSE 'jpeg' END AS format,
           CASE WHEN m = 3 THEN 'audio' ELSE 'image' END AS kind,
           CASE WHEN m = 3 THEN NULL ELSE 8 + len % 9 END AS w,
           CASE WHEN m = 3 THEN NULL ELSE 6 + len % 7 END AS h,
           CASE WHEN m = 3 THEN least(2048, len * 4)
                ELSE (8 + len % 9) * (6 + len % 7) *
                  (CASE WHEN m = 2 THEN 1 ELSE 3 END) END AS units
         FROM d)
       SELECT format, kind, CAST(count(*) AS BIGINT) AS n,
         CAST(max(w) AS INT) AS max_width,
         CAST(max(h) AS INT) AS max_height,
         CAST(sum(units) AS BIGINT) AS total_units
       FROM u GROUP BY 1, 2 ORDER BY format"""

  // ------------------------------------------------- real content decode

  /** Deterministically synthesize a standards-compliant media payload
    * from a document row (the corpus ships no real media): BMP / PPM /
    * PGM / PNG / JPEG rasters whose pixels are the text bytes, or a
    * 16-bit PCM WAV whose samples are derived from them. Synthesis goes
    * through [[MediaCodecs]]' ENCODERS only; the decode queries below go
    * through its DECODERS only — separate code paths (and for PNG/JPEG
    * a real entropy codec in between), so the round trip is a genuine
    * codec exercise, not an echo. */
  def synthesizeMedia(id: Long, text: Array[Byte]): Array[Byte] = {
    val src = if (text.isEmpty) Array[Byte](42) else text
    def raster(format: String, channels: Int): MediaCodecs.ImagePixels = {
      val w = 8 + src.length % 9
      val h = 6 + src.length % 7
      val px = new Array[Byte](w * h * channels)
      var i = 0
      while (i < px.length) { px(i) = src(i % src.length); i += 1 }
      MediaCodecs.ImagePixels(format, w, h, channels, px)
    }
    math.floorMod(id, 6) match {
      case 0 => MediaCodecs.encodeBmp(raster("bmp", 3))
      case 1 => MediaCodecs.encodePnm(raster("ppm", 3))
      case 2 => MediaCodecs.encodePnm(raster("pgm", 1))
      case 4 => MediaCodecs.encodePng(raster("png", 3))
      case 5 => MediaCodecs.encodeJpeg(raster("jpeg", 3))
      case _ =>
        val n = math.min(2048, src.length * 4)
        val samples = new Array[Double](n)
        var i = 0
        while (i < n) {
          samples(i) = ((src(i % src.length) & 0xff) - 128) / 128.0
          i += 1
        }
        MediaCodecs.encodeWav16(rate = 8000, channels = 1, samples)
    }
  }

  /** (doc_id, payload) frame of real synthesized media files,
    * materialized once per session: the synthesized corpus STANDS IN
    * for the media table a production pipeline reads from storage, so
    * every registered consumer (q71/q72/q101/q109/q110/q119 decode
    * paths, the q127/q134 fingerprints, q33's feature summary)
    * re-running the PNG/JPEG/WAV encoders per query was test-harness
    * overhead, not engine work — the memo makes the corpus what it
    * models: a table read. Results are identical either way (synthesis
    * is deterministic; the oracles replay the byte recipe from
    * `documents.text` independently). */
  def mediaPayloads(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"media-payloads:$dir") {
      import spark.implicits._
      // NOT spread: with MediaCodecs' in-memory ImageIO cache the whole
      // corpus decodes in ~0.3 s single-task, below the ~2× stage price
      // a 32-task exchange must clear — an interleaved A/B rejected the
      // spread build on every decode consumer (OPTIMIZATION_r16 §4).
      // The single-partition checkpoint also
      // lets every consumer's trailing orderBy(doc_id) plan WITHOUT a
      // range exchange (SinglePartition satisfies OrderedDistribution).
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("bytes"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, text) =>
          (id, synthesizeMedia(id, text))
        })
        .toDF("doc_id", "payload")
        .localCheckpoint()
    }

  /** Content-level media features — REAL pixel/sample decode for the
    * uncompressed formats (images: dimensions + pixel mean/std; audio:
    * sample rate, duration, RMS, peak). Rounded to 6 dp for stable
    * cross-run output. Null columns where the modality doesn't apply. */
  case class ContentStats(
      doc_id: Long, format: String, kind: String,
      width: Option[Int], height: Option[Int], channels: Option[Int],
      px_mean: Option[Double], px_std: Option[Double],
      sample_rate: Option[Int], duration_s: Option[Double],
      rms: Option[Double], peak: Option[Double])

  private def r6(v: Double): Double = math.rint(v * 1e6) / 1e6

  /** Decode one payload into content stats; None when no real decoder
    * applies (compressed audio stays with the header-only stub path;
    * rasters — including PNG/JPEG via ImageIO — decode for real). */
  def contentStatsOne(id: Long, payload: Array[Byte]): Option[ContentStats] =
    MediaCodecs.decodeImage(payload) match {
      case Some(img) =>
        val (mean, std) = MediaCodecs.pixelStats(img)
        Some(ContentStats(id, img.format, "image",
          Some(img.width), Some(img.height), Some(img.channels),
          Some(r6(mean)), Some(r6(std)), None, None, None, None))
      case None =>
        MediaCodecs.decodeWav(payload).map { a =>
          val (rms, peak) = MediaCodecs.pcmStats(a)
          ContentStats(id, "wav", "audio", None, None,
            Some(a.channels), None, None, Some(a.sampleRate),
            Some(r6(a.durationSec)), Some(r6(rms)), Some(r6(peak)))
        }
    }

  /** Per-partition batch content decode over any (doc_id, payload)
    * frame. Narrow map — embarrassingly parallel, payload bytes never
    * cross a shuffle. */
  def contentStatsOf(payloadDf: DataFrame): Dataset[ContentStats] = {
    import payloadDf.sparkSession.implicits._
    payloadDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => contentStatsOne(id, p) })
  }

  /** q71: content stats over the synthesized media corpus, ordered for
    * the driver dump. Rows-only (binary synthesis + float pixel stats
    * are not DuckDB-expressible); value-level checks live in
    * MultimodalSpec against hand-built fixtures with known statistics. */
  def contentStats(spark: SparkSession, dir: String): DataFrame =
    contentStatsOf(mediaPayloads(spark, dir))
      .toDF()
      .orderBy(col("doc_id"))

  /** q72: REAL resize — decode, box-filter resample to fit maxSide,
    * re-encode, and report both geometries plus resampled pixel stats.
    * The resample is [[MediaCodecs.resizeImage]] (area average), not the
    * byte-fold stub, for every uncompressed raster. */
  def resizeStats(spark: SparkSession, dir: String,
      maxSide: Int = 8): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeImage(p).map { img =>
          val scale =
            if (math.max(img.width, img.height) <= maxSide) 1.0
            else maxSide.toDouble / math.max(img.width, img.height)
          val nw = math.max(1, (img.width * scale).toInt)
          val nh = math.max(1, (img.height * scale).toInt)
          val resized = MediaCodecs.resizeImage(img, nw, nh)
          val bytes = MediaCodecs.encodeImage(resized)
          val (mean, std) = MediaCodecs.pixelStats(resized)
          (id, img.format, img.width, img.height, nw, nh,
            bytes.length, r6(mean), r6(std))
        }
      })
      .toDF("doc_id", "format", "src_width", "src_height", "width",
        "height", "n_bytes", "px_mean", "px_std")
      .orderBy(col("doc_id"))
  }

  /** q101: REAL audio sample-rate normalization — decode every WAV
    * payload, [[MediaCodecs.resamplePcm]] it to `dstRate` (the
    * every-clip-to-one-rate step before featurization), re-encode, and
    * report both geometries plus post-resample RMS/peak. Same
    * mapPartitions batch shape as the image path (q72); rounded to
    * 6 dp for cross-run stability. */
  def resampleAudioStats(spark: SparkSession, dir: String,
      dstRate: Int = 4000): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeWav(p).map { a =>
          val r = MediaCodecs.resamplePcm(a, dstRate)
          val bytes = MediaCodecs.encodeWav16(r.sampleRate, r.channels,
            r.samples)
          val (rms, peak) = MediaCodecs.pcmStats(r)
          (id, a.sampleRate, r.sampleRate, a.nFrames, r.nFrames,
            bytes.length, r6(r.durationSec), r6(rms), r6(peak))
        }
      })
      .toDF("doc_id", "src_rate", "rate", "src_frames", "frames",
        "n_bytes", "duration_s", "rms", "peak")
      .orderBy(col("doc_id"))
  }

  /** q109: integer-exact ORACLED twin of q101 (the q70-twin pattern) —
    * the same synthesize → WAV-encode → decode → resample pipeline, but
    * reporting integer sufficient statistics of the resampled signal:
    * Σ|s16| and max|s16| of the 16-bit sample values, plus frame
    * counts. At the 8000→4000 contract rate every output frame is an
    * EXACT copy of source frame 2j (even frame count, integral step),
    * the encoder's quantizer round((v−128)·32767/128) is
    * integer-computable, and decode's /2^15 normalization is exact in
    * doubles — so a DuckDB oracle recomputes the identical integers
    * from `documents.text` alone (hex-string byte extraction), turning
    * the previously rows-only audio path into a hash-gated one. */
  def resampleAudioExact(spark: SparkSession, dir: String,
      dstRate: Int = 4000): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeWav(p).map { a =>
          val r = MediaCodecs.resamplePcm(a, dstRate)
          // s·2^15 recovers the stored 16-bit int exactly (s = s16/2^15)
          var sumAbs = 0L
          var peak = 0L
          var i = 0
          while (i < r.samples.length) {
            val s = math.abs(math.round(r.samples(i) * 32768.0))
            sumAbs += s
            if (s > peak) peak = s
            i += 1
          }
          (id, a.nFrames.toLong, r.nFrames.toLong, sumAbs, peak.toInt)
        }
      })
      .toDF("doc_id", "src_frames", "frames", "sum_abs", "peak_i")
      .orderBy(col("doc_id"))
  }

  /** q110: integer-exact ORACLED twin of q71 for the LOSSLESS raster
    * formats (bmp/ppm/pgm/png) — decode every synthesized image through
    * the REAL codecs (including ImageIO's PNG entropy decoder) and
    * report exact integer pixel statistics: Σ pixel bytes and the pixel
    * count, plus geometry. Because the synthesis raster tiles the
    * document's UTF-8 bytes and every decoder on this list is lossless,
    * a DuckDB oracle recomputes the identical integers from
    * `documents.text` alone — a cross-engine gate that fails if any
    * codec (a header field, a stride, a color conversion, PNG's inflate
    * path) corrupts even one pixel. JPEG is excluded by design: its
    * decode is codec-approximate, gated by tolerance in MultimodalSpec
    * instead. Narrow map + per-doc sums — no shuffle until the final
    * doc-count-sized sort. */
  def imageStatsExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeImage(p)
          .filter(_.format != "jpeg")
          .map { img =>
            var s = 0L
            var i = 0
            while (i < img.pixels.length) { s += img.pixels(i) & 0xff; i += 1 }
            (id, img.format, img.width, img.height, img.channels, s,
              img.pixels.length.toLong)
          }
      })
      .toDF("doc_id", "format", "width", "height", "channels", "px_sum",
        "n_px")
      .orderBy(col("doc_id"))
  }

  val imageStatsExactOracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 6 AS m,
         CASE WHEN octet_length(encode(text)) = 0 THEN '2A'
              ELSE hex(encode(text)) END AS hx,
         CASE WHEN octet_length(encode(text)) = 0 THEN 1
              ELSE octet_length(encode(text)) END AS len
       FROM documents WHERE doc_id % 6 IN (0, 1, 2, 4)),
       geo AS (SELECT doc_id, hx, len,
           8 + len % 9 AS w, 6 + len % 7 AS h,
           CASE WHEN m = 2 THEN 1 ELSE 3 END AS ch,
           CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'pgm'
             ELSE 'png' END AS format
         FROM d),
       px AS (SELECT doc_id, format, w, h, ch, len, hx,
           unnest(range(0, w * h * ch)) AS i
         FROM geo),
       b AS (SELECT doc_id, format, w, h, ch,
           CAST(('0x' || substr(hx, ((i % len) * 2) + 1, 2))::INTEGER
             AS BIGINT) AS v
         FROM px)
       SELECT doc_id, format, CAST(w AS INT) AS width,
         CAST(h AS INT) AS height, CAST(ch AS INT) AS channels,
         CAST(sum(v) AS BIGINT) AS px_sum, CAST(count(*) AS BIGINT) AS n_px
       FROM b GROUP BY doc_id, format, w, h, ch ORDER BY doc_id"""

  /** q192: integer-exact ORACLED twin of q72 (resize) for the LOSSLESS
    * raster formats — the last decode-family operator that had no
    * oracled twin. The resample kernel is the REAL
    * [[MediaCodecs.resizeImage]] q72 executes: pure integer box-filter
    * arithmetic (floor-division box edges `x·W div nw`, rounded
    * integer division `(sum + n div 2) div n` per output sample), so a
    * DuckDB oracle replays every resized pixel from `documents.text`
    * alone and the output reports exact integer sufficient statistics
    * (Σ resized pixel bytes + count) plus both geometries. The one
    * deliberate difference from q72: the TARGET geometry here is
    * integer floor division (`w·maxSide div max(w,h)`) instead of
    * q72's float scale-and-truncate, so the gate never rests on
    * cross-engine IEEE rounding at scale boundaries — q72 remains the
    * production form, and MultimodalSpec pins the two geometries equal
    * on the synthesized corpus. JPEG stays excluded (codec-approximate
    * decode, the q110 rule).
    *
    * Scale: narrow mapPartitions batch decode+resample, no shuffle
    * before the doc-count-sized final sort — the q109/q110 posture. */
  def resizeStatsExact(spark: SparkSession, dir: String,
      maxSide: Int = 8): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeImage(p)
          .filter(_.format != "jpeg")
          .map { img =>
            val md = math.max(img.width, img.height)
            val (nw, nh) =
              if (md <= maxSide) (img.width, img.height)
              else (math.max(1, img.width * maxSide / md),
                math.max(1, img.height * maxSide / md))
            val r = MediaCodecs.resizeImage(img, nw, nh)
            var s = 0L
            var i = 0
            while (i < r.pixels.length) { s += r.pixels(i) & 0xff; i += 1 }
            (id, img.format, img.width, img.height, nw, nh,
              img.channels, s, r.pixels.length.toLong)
          }
      })
      .toDF("doc_id", "format", "src_width", "src_height", "width",
        "height", "channels", "px_sum", "n_px")
      .orderBy(col("doc_id"))
  }

  val resizeStatsExactOracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 6 AS m,
         CASE WHEN octet_length(encode(text)) = 0 THEN '2A'
              ELSE hex(encode(text)) END AS hx,
         CASE WHEN octet_length(encode(text)) = 0 THEN 1
              ELSE octet_length(encode(text)) END AS len
       FROM documents WHERE doc_id % 6 IN (0, 1, 2, 4)),
       geo AS (SELECT doc_id, hx, len,
           8 + len % 9 AS w, 6 + len % 7 AS h,
           CASE WHEN m = 2 THEN 1 ELSE 3 END AS ch,
           CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'pgm'
             ELSE 'png' END AS format,
           greatest(8 + len % 9, 6 + len % 7) AS md
         FROM d),
       g2 AS (SELECT doc_id, hx, len, w, h, ch, format,
           CASE WHEN md <= 8 THEN w ELSE greatest(1, w * 8 // md) END
             AS nw,
           CASE WHEN md <= 8 THEN h ELSE greatest(1, h * 8 // md) END
             AS nh
         FROM geo),
       opx AS (SELECT doc_id, hx, len, w, h, ch, nw, nh,
           i // (nw * ch) AS y, (i // ch) % nw AS x, i % ch AS c
         FROM g2, unnest(range(0, nw * nh * ch)) AS t(i)),
       box AS (SELECT doc_id, hx, len, w, ch, y, x, c,
           y * h // nh AS y0,
           greatest(y * h // nh + 1, (y + 1) * h // nh) AS y1,
           x * w // nw AS x0,
           greatest(x * w // nw + 1, (x + 1) * w // nw) AS x1
         FROM opx),
       sv AS (SELECT doc_id, y, x, c,
           (y1 - y0) * (x1 - x0) AS n,
           CAST(('0x' || substr(hx,
             ((((sy * w + sx) * ch + c) % len) * 2) + 1, 2))::INTEGER
             AS BIGINT) AS v
         FROM box, unnest(range(y0, y1)) AS a(sy),
           unnest(range(x0, x1)) AS b(sx)),
       o AS (SELECT doc_id, y, x, c, (sum(v) + n // 2) // n AS ov
         FROM sv GROUP BY doc_id, y, x, c, n),
       agg AS (SELECT doc_id, CAST(sum(ov) AS BIGINT) AS px_sum,
           CAST(count(*) AS BIGINT) AS n_px
         FROM o GROUP BY doc_id)
       SELECT g2.doc_id, format, CAST(w AS INT) AS src_width,
         CAST(h AS INT) AS src_height, CAST(nw AS INT) AS width,
         CAST(nh AS INT) AS height, CAST(ch AS INT) AS channels,
         px_sum, n_px
       FROM g2 JOIN agg ON agg.doc_id = g2.doc_id
       ORDER BY g2.doc_id"""

  /** q119: IMA-ADPCM round trip, integer-exact and ORACLED — the
    * compressed-audio path that replaces the last codec stub. Each WAV
    * document's decoded 16-bit PCM is encoded through the real
    * [[MediaCodecs.encodeWavAdpcm]] 4-bit quantizer (4:1 compression)
    * and decoded back by the separate [[MediaCodecs.decodeWavAdpcm]]
    * path; the output reports integer sufficient statistics of the
    * RECONSTRUCTED signal (Σ|ŝ|, max|ŝ|, final predictor) plus the
    * compressed byte size. Because the IMA quantizer is pure integer
    * table arithmetic, a DuckDB oracle replays the identical
    * encoder/decoder state machine with a recursive CTE over the
    * sample index — any drift in either path (a table entry, a clamp,
    * a nibble order) flips Σ|ŝ| with overwhelming probability.
    *
    * Scale: narrow mapPartitions batch decode, no shuffle before the
    * doc-count-sized final sort — same posture as q109/q110. */
  def adpcmRoundtripExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaPayloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeWav(p).flatMap { a =>
          // s·2^15 recovers the stored 16-bit int exactly (q109 rule)
          val s16 = new Array[Int](a.samples.length)
          var i = 0
          while (i < s16.length) {
            s16(i) = math.round(a.samples(i) * 32768.0).toInt
            i += 1
          }
          val enc = MediaCodecs.encodeWavAdpcm(a.sampleRate, s16)
          MediaCodecs.decodeWavAdpcm(enc).map { case (_, dec) =>
            var sumAbs = 0L
            var peak = 0
            var j = 0
            while (j < dec.length) {
              val v = math.abs(dec(j))
              sumAbs += v
              if (v > peak) peak = v
              j += 1
            }
            (id, dec.length.toLong, enc.length.toLong, sumAbs, peak,
              dec(dec.length - 1))
          }
        }
      })
      .toDF("doc_id", "n_samples", "n_bytes", "sum_abs", "peak_i",
        "end_pred")
      .orderBy(col("doc_id"))
  }

  /** Oracle for q119 [[adpcmRoundtripExact]]: source s16 from hex-string
    * byte extraction (q109's recipe), then the IMA encoder+decoder state
    * machine — whose reconstruction states ARE the decoded samples —
    * replayed by a recursive CTE with the step/index tables inlined as
    * VALUES. */
  def adpcmRoundtripOracle: String = {
    val steps = MediaCodecs.AdpcmStepTable.zipWithIndex
      .map { case (s, i) => s"($i, $s)" }.mkString(", ")
    val itab = MediaCodecs.AdpcmIndexTable.zipWithIndex
      .map { case (inc, d) => s"($d, $inc)" }.mkString(", ")
    s"""WITH RECURSIVE
       wavdocs AS (SELECT doc_id,
           CASE WHEN octet_length(encode(text)) = 0 THEN '2A'
                ELSE hex(encode(text)) END AS hx,
           CASE WHEN octet_length(encode(text)) = 0 THEN 1
                ELSE octet_length(encode(text)) END AS len
         FROM documents WHERE doc_id % 6 = 3),
       par AS (SELECT doc_id, hx, len, least(2048, len * 4) AS n
               FROM wavdocs),
       pos AS (SELECT doc_id, hx, len, n, unnest(range(0, n)) AS i
               FROM par),
       smp AS (SELECT doc_id, n, CAST(i + 1 AS BIGINT) AS i,
           CAST(floor((CAST(('0x' || substr(hx, ((i % len) * 2) + 1, 2))::INTEGER
             AS BIGINT) - 128) * 32767 / 128.0 + 0.5) AS BIGINT) AS s
         FROM pos),
       steps(si, step) AS (VALUES $steps),
       itab(dd, inc) AS (VALUES $itab),
       rec AS (
         SELECT doc_id, n, CAST(1 AS BIGINT) AS i, CAST(s AS INT) AS pred,
                CAST(0 AS INT) AS sidx, CAST(abs(s) AS BIGINT) AS sum_abs,
                CAST(abs(s) AS INT) AS peak
         FROM smp WHERE i = 1
         UNION ALL
         SELECT z.doc_id, z.n, z.i + 1,
           CAST(z.predn AS INT),
           CAST(greatest(0, least(88, z.sidx + it.inc)) AS INT),
           z.sum_abs + abs(z.predn),
           CAST(greatest(z.peak, abs(z.predn)) AS INT)
         FROM (
           SELECT y.*,
             CASE WHEN y.sgn = 1
               THEN greatest(-32768, least(32767, y.pred - y.diffq))
               ELSE greatest(-32768, least(32767, y.pred + y.diffq))
             END AS predn,
             y.b2 * 4 + y.b1 * 2 + y.b0 AS dd
           FROM (
             SELECT x.*, (x.step // 8) + x.b2 * x.step
               + x.b1 * (x.step // 2) + x.b0 * (x.step // 4) AS diffq
             FROM (
               SELECT w.*,
                 CASE WHEN w.ad2 - CASE WHEN w.b1 = 1 THEN w.step // 2
                          ELSE 0 END >= w.step // 4
                      THEN 1 ELSE 0 END AS b0
               FROM (
                 SELECT v.*,
                   CASE WHEN v.ad2 >= v.step // 2 THEN 1 ELSE 0 END AS b1
                 FROM (
                   SELECT u.*,
                     u.ad - CASE WHEN u.b2 = 1 THEN u.step ELSE 0 END AS ad2
                   FROM (
                     SELECT r.doc_id, r.n, r.i, r.pred, r.sidx, r.sum_abs,
                       r.peak, st.step, m.s,
                       CASE WHEN m.s < r.pred THEN 1 ELSE 0 END AS sgn,
                       abs(m.s - r.pred) AS ad,
                       CASE WHEN abs(m.s - r.pred) >= st.step
                            THEN 1 ELSE 0 END AS b2
                     FROM rec r
                       JOIN smp m ON m.doc_id = r.doc_id AND m.i = r.i + 1
                       JOIN steps st ON st.si = r.sidx
                     WHERE r.i < r.n
                   ) u
                 ) v
               ) w
             ) x
           ) y
         ) z JOIN itab it ON it.dd = z.dd
       ),
       fin AS (SELECT doc_id, n, sum_abs, peak, pred
               FROM rec WHERE i = n)
       SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
         CAST(64 + n // 2 AS BIGINT) AS n_bytes,
         sum_abs, peak AS peak_i, CAST(pred AS INT) AS end_pred
       FROM fin ORDER BY doc_id"""
  }

  val resampleAudioExactOracle: String =
    """WITH wavdocs AS (SELECT doc_id,
         CASE WHEN octet_length(encode(text)) = 0 THEN '2A'
              ELSE hex(encode(text)) END AS hx,
         CASE WHEN octet_length(encode(text)) = 0 THEN 1
              ELSE octet_length(encode(text)) END AS len
       FROM documents WHERE doc_id % 6 = 3),
       par AS (SELECT doc_id, hx, len, least(2048, len * 4) AS n
               FROM wavdocs),
       idx AS (SELECT doc_id, hx, len, n, unnest(range(0, n, 2)) AS i
               FROM par),
       samp AS (SELECT doc_id, n,
           CAST(('0x' || substr(hx, ((i % len) * 2) + 1, 2))::INTEGER
             AS BIGINT) AS v
         FROM idx),
       s16 AS (SELECT doc_id, n,
           CAST(floor((v - 128) * 32767 / 128.0 + 0.5) AS BIGINT) AS s
         FROM samp)
       SELECT doc_id, CAST(n AS BIGINT) AS src_frames,
         CAST(n // 2 AS BIGINT) AS frames,
         CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         CAST(max(abs(s)) AS INT) AS peak_i
       FROM s16 GROUP BY doc_id, n ORDER BY doc_id"""
}
