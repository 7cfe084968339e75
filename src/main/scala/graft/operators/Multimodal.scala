package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing (driver brief): media payloads as opaque
 * `binary` columns with typed metadata, and batch feature-extraction over
 * them. The CONTAINER layer is real — image payloads are spec-correct
 * PNG/JPEG byte streams and the read side parses actual chunk/marker
 * structure ([[MediaCodec]], plus the codegen'd `image_dims` expression in
 * [[graft.plans.ImageDims]] for DataFrame plans). The PNG PIXEL path is
 * real as well: payloads carry zlib-wrapped scanlines and the decode path
 * runs the real `java.util.zip.Inflater` + five-filter defilter
 * ([[MediaCodec.pngPixels]]), so PNG features derive from genuinely
 * decompressed pixel data. Audio payloads are real PCM-16 WAV containers
 * decoded by a genuine RIFF chunk walk ([[MediaCodec.wavInfo]] /
 * [[MediaCodec.wavDataBytes]]); video payloads are real YUV4MPEG2 streams
 * decoded by a header parse + per-FRAME block walk ([[MediaCodec.y4mInfo]]
 * / [[MediaCodec.y4mFrames]]). The JPEG PIXEL path is real too: the JDK's
 * built-in baseline-DCT codec ([[MediaCodec.jpegPixels]] /
 * [[MediaCodec.encodeJpegPixels]], `javax.imageio`) decodes genuine scan
 * data, through the same [[FeatureKernel]].
 *
 * Scala-side equivalent of a Python `mapInPandas` batch UDF: a typed
 * `Dataset.mapPartitions` that processes records streamingly per partition
 * (constant memory, codec init amortized once per partition — the same
 * reason mapInPandas batches).
 */
object Multimodal {

  /** A media record: opaque bytes + typed metadata. */
  final case class MediaRecord(
      media_id: Long,
      kind: String,            // "image" | "audio" | "video"
      payload: Array[Byte],    // encoded container bytes (PNG/JPEG for images)
      width: Int, height: Int, // image/video metadata (0 when n/a)
      sample_rate: Int,        // audio metadata (0 when n/a)
      n_frames: Int)           // video/audio frames

  /** Extracted features for one media record. `container`/`width`/`height`
    * are PARSED from the payload bytes (real PNG-IHDR / JPEG-SOF headers),
    * not copied from metadata — "raw"/0/0 for non-container payloads. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,           // container size (the stored blob)
      n_inner_bytes: Long,     // embedded-data size (what the decoder reads)
      checksum: Long,
      feature: Array[Float],   // fixed-dim embedding-like vector
      container: String,       // "png" | "jpeg" | "raw" (parsed, not metadata)
      width: Int,              // parsed from the header; 0 for raw
      height: Int)

  /**
   * Byte-stream feature kernel — the REAL feature math shared by every
   * decode path: folded byte histogram (L2-normalized, the fixed-dim
   * embedding-like vector) and a rolling checksum. What varies per format
   * is the INPUT: PNG feeds genuinely decompressed + defiltered pixel
   * bytes ([[MediaCodec.pngPixels]]); JPEG feeds genuinely DCT-decoded
   * pixels ([[MediaCodec.jpegPixels]], the JDK's baseline codec); raw
   * payloads feed themselves.
   */
  object FeatureKernel {
    val FeatureDim = 16
    def histogram(data: Array[Byte]): Array[Float] = {
      val h = new Array[Float](FeatureDim)
      var i = 0
      while (i < data.length) { h((data(i) & 0xff) % FeatureDim) += 1f; i += 1 }
      val n = math.sqrt(h.map(x => x * x.toDouble).sum).toFloat
      if (n > 0) h.map(_ / n) else h
    }
    def checksum(data: Array[Byte]): Long = {
      var c = 1125899906842597L
      var i = 0
      while (i < data.length) { c = 31 * c + (data(i) & 0xff); i += 1 }
      c
    }
  }

  /** Pixel bytes for a synthetic w×h image: the document's UTF-8 text
    * cycled to fill the 3·w·h RGB samples (zeros for an empty text) —
    * every pixel a deterministic, DuckDB-replayable function of the row. */
  private def cyclePixels(text: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](3 * w * h)
    if (text.nonEmpty) {
      var i = 0
      while (i < out.length) { out(i) = text(i % text.length); i += 1 }
    }
    out
  }

  /** Deterministic PCM-16 samples for a synthetic audio record: each
    * sample mixes a cycled text byte with the sample index
    * (`v_i = (b_{i mod L}·251 + 7i + 17) mod 2^16`) — varies per position,
    * yet every little-endian byte is DuckDB-replayable arithmetic. */
  private def synthSamples(text: Array[Byte], n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      val b = if (text.isEmpty) 0 else text(i % text.length) & 0xff
      out(i) = ((b * 251 + i * 7 + 17) % 65536).toShort
      i += 1
    }
    out
  }

  /** Synthesize a deterministic media table from `documents` — lets every
    * sf dir drive the pipeline. Image-kind records carry REAL container
    * bytes: even ids a spec-correct PNG whose IDAT holds genuine
    * zlib-wrapped scanlines of [[cyclePixels]] pixel data (decodable by any
    * compliant reader), odd ids a REAL baseline JPEG of the same
    * [[cyclePixels]] grid ([[MediaCodec.encodeJpegPixels]] — genuine DCT
    * scan data, decodable by any compliant reader; dims replay in the
    * oracle, pixels are gated by the roundtrip audit since DCT output is
    * not SQL arithmetic). Image dims are SMALL on purpose
    * (`w = n%24+1`, `h = n%8+1`, never zero) so the pixel stream stays
    * bounded per row. Audio-kind records carry REAL PCM-16 mono WAV
    * containers ([[MediaCodec.encodeWav]], `n%200+50` [[synthSamples]] at
    * 16 kHz); video-kind records REAL Y4M streams
    * ([[MediaCodec.encodeY4m]], `n%100` C444 frames of `(n%16+1)×(n%8+1)`
    * cycled-text planes). Every byte is a deterministic function of the
    * document row, so the DuckDB oracle replays features (jpeg rows gated
    * by their own audit) and (via the generator formulas) the parsed dims
    * / audio / video info. */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Long)]
      .map { case (id, text, n) =>
        val kind = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        val inner = text.getBytes("UTF-8")
        // dims computed ONCE per kind (the oracle pins these formulas —
        // a second copy could drift); audio has no spatial dims → 0/0
        val (w, h) = kind match {
          case "image" => (((n % 24) + 1).toInt, ((n % 8) + 1).toInt)
          case "video" => (((n % 16) + 1).toInt, ((n % 8) + 1).toInt)
          case _       => (0, 0)
        }
        val nf = (n % 100).toInt
        val payload = kind match {
          case "image" if id % 2 == 0 => MediaCodec.encodePng(cyclePixels(inner, w, h), w, h)
          case "image"                => MediaCodec.encodeJpegPixels(cyclePixels(inner, w, h), w, h)
          case "audio" =>
            MediaCodec.encodeWav(synthSamples(inner, ((n % 200) + 50).toInt), 16000)
          case _ => // video: real Y4M, nf C444 frames
            MediaCodec.encodeY4m(cyclePixels(inner, w * nf, h), w, h, nf)
        }
        MediaRecord(id, kind, payload, width = w, height = h,
          sample_rate = 16000, n_frames = nf)
      }
  }

  /**
   * Batched per-partition feature extraction (the mapInPandas analogue):
   * iterator-in/iterator-out keeps memory flat; decoder state would be
   * initialized once per partition here.
   */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (codec contexts, etc.)
      it.map { r =>
        // container parse is real (PNG IHDR / JPEG SOF / WAV RIFF walk);
        // pixel/PCM decode is real on EVERY container path — PNG via
        // Inflater + defilter, JPEG via the JDK's baseline-DCT codec
        // (jpegPixels), WAV over the real PCM byte stream — a corrupt
        // stream decodes to an empty array (data, not an exception)
        val dims = MediaCodec.imageDims(r.payload)
        val wav = if (dims.isEmpty) MediaCodec.wavInfo(r.payload) else None
        val y4m = if (dims.isEmpty && wav.isEmpty) MediaCodec.y4mInfo(r.payload) else None
        val inner = dims match {
          case Some(("png", _, _)) =>
            MediaCodec.pngPixels(r.payload).getOrElse(Array.emptyByteArray)
          case Some(("jpeg", _, _)) =>
            MediaCodec.jpegPixels(r.payload).getOrElse(Array.emptyByteArray)
          case _ if wav.isDefined =>
            MediaCodec.wavDataBytes(r.payload).getOrElse(Array.emptyByteArray)
          case _ if y4m.isDefined =>
            MediaCodec.y4mFrames(r.payload).getOrElse(Array.emptyByteArray)
          case _ => MediaCodec.innerPayload(r.payload)
        }
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, inner.length.toLong,
          FeatureKernel.checksum(inner), FeatureKernel.histogram(inner),
          container = dims.map(_._1).orElse(wav.map(_ => "wav"))
            .orElse(y4m.map(_ => "y4m")).getOrElse("raw"),
          width = dims.map(_._2).orElse(y4m.map(_._1)).getOrElse(0),
          height = dims.map(_._3).orElse(y4m.map(_._2)).getOrElse(0))
      }
    }
  }

  /** Audio info parsed from the REAL WAV headers of audio-kind records —
    * the audio twin of the `image_dims` roundtrip gate: (media_id,
    * sample_rate, n_samples) from [[MediaCodec.wavInfo]]'s RIFF chunk walk,
    * which the oracle cross-checks against the generator formulas. */
  def audioInfo(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").map { r =>
      val info = MediaCodec.wavInfo(r.payload)
      (r.media_id, info.map(_._1).getOrElse(0), info.map(_._2).getOrElse(0))
    }.toDF("media_id", "sample_rate", "n_samples")
  }

  /** Video info parsed from the REAL Y4M headers + frame walk of
    * video-kind records: (media_id, width, height, n_frames) from
    * [[MediaCodec.y4mInfo]], oracle-checked against the generator
    * formulas — n_frames comes from counting actual FRAME blocks, so a
    * truncated container fails the gate rather than rounding down. */
  def videoInfo(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").map { r =>
      val info = MediaCodec.y4mInfo(r.payload)
      (r.media_id, info.map(_._1).getOrElse(0), info.map(_._2).getOrElse(0),
        info.map(_._3).getOrElse(0))
    }.toDF("media_id", "width", "height", "n_frames")
  }

  /**
   * REAL audio resampling for audio-kind records: decode the PCM samples
   * out of the WAV container, keep every `factor`-th sample (plain
   * decimation — a production resampler would low-pass first; the
   * container round-trip and sample arithmetic are the real part), and
   * re-encode a valid WAV at `rate/factor`. Non-audio records and corrupt
   * containers pass through untouched (data, not exceptions).
   */
  def resampleAudio(media: Dataset[MediaRecord], factor: Int): Dataset[MediaRecord] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (r.kind != "audio" || factor == 1) r
        else MediaCodec.wavInfo(r.payload) match {
          case Some((rate, _)) =>
            val s = MediaCodec.wavSamples(r.payload).getOrElse(Array.empty[Short])
            if (s.isEmpty) r
            else {
              val out = new Array[Short]((s.length + factor - 1) / factor)
              var i = 0
              while (i < out.length) { out(i) = s(i * factor); i += 1 }
              val newRate = math.max(1, rate / factor)
              r.copy(payload = MediaCodec.encodeWav(out, newRate), sample_rate = newRate)
            }
          case None => r
        }
      }
    }
  }

  /** Parsed header + PCM checksum of [[resampleAudio]]'s output containers —
    * the resample roundtrip gate: every value re-derived from the
    * RE-ENCODED WAV bytes, which the oracle replays from the generator's
    * decimated-sample formulas. */
  def resampledAudioInfo(media: Dataset[MediaRecord], factor: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    resampleAudio(media, factor).filter(_.kind == "audio").map { r =>
      val info = MediaCodec.wavInfo(r.payload)
      val data = MediaCodec.wavDataBytes(r.payload).getOrElse(Array.emptyByteArray)
      (r.media_id, info.map(_._1).getOrElse(0), info.map(_._2).getOrElse(0),
        FeatureKernel.checksum(data))
    }.toDF("media_id", "sample_rate", "n_samples", "pcm_checksum")
  }

  /** REAL frame sampling: decode every `stride`-th frame's PAYLOAD from the
    * Y4M container of each video record — the frame bytes come out of the
    * actual FRAME blocks ([[MediaCodec.y4mFrames]]), not metadata math —
    * and fingerprint each. This is the shape a frame-level training
    * pipeline needs (sample → decode → feature); the per-frame checksum
    * stands where a vision encoder would run. Corrupt containers yield no
    * rows (data, not exceptions). */
  def sampleFrameData(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      MediaCodec.y4mInfo(r.payload) match {
        case Some((w, h, n)) =>
          val frames = MediaCodec.y4mFrames(r.payload)
            .getOrElse(Array.emptyByteArray)
          val fsz = 3 * w * h
          (0 until n by stride).map { f =>
            val fb = java.util.Arrays.copyOfRange(frames, f * fsz, (f + 1) * fsz)
            (r.media_id, f, fsz.toLong, FeatureKernel.checksum(fb))
          }
        case None => Seq.empty
      }
    }.toDF("media_id", "frame_idx", "n_frame_bytes", "frame_checksum")
  }

  /** Frame sampling for video-kind records: every `stride`-th frame index —
    * pure metadata math (the real per-frame payload walk lives in
    * [[sampleFrameData]] / [[MediaCodec.y4mFrames]]). */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): DataFrame =
    media.toDF().select(col("media_id"), col("n_frames"),
      when(col("n_frames") > 0,
        sequence(lit(0), col("n_frames") - 1, lit(stride)))
        .otherwise(array().cast("array<int>")).as("frame_idx"))

  /** Nearest-neighbor resample of a row-major RGB grid: source pixel
    * `(x·factor, y·factor)` for each target `(x, y)` on a
    * `ceil(w/factor) × ceil(h/factor)` grid (ceil — floor would zero the
    * generator's 1..8 heights and emit degenerate headers). Shared by the
    * PNG and JPEG resize branches — the kernel is format-independent; only
    * the codec wrapping it differs. */
  private def nnResample(pix: Array[Byte], w: Int, h: Int,
                         factor: Int): (Array[Byte], Int, Int) = {
    val w2 = (w + factor - 1) / factor
    val h2 = (h + factor - 1) / factor
    val out = new Array[Byte](3 * w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val src = (y * factor * w + x * factor) * 3
        val dst = (y * w2 + x) * 3
        out(dst) = pix(src); out(dst + 1) = pix(src + 1); out(dst + 2) = pix(src + 2)
        x += 1
      }
      y += 1
    }
    (out, w2, h2)
  }

  /**
   * Resize for image-kind records — a REAL nearest-neighbor resample on
   * BOTH container paths: decode the pixel grid ([[MediaCodec.pngPixels]] —
   * Inflater + defilter; [[MediaCodec.jpegPixels]] — the JDK's baseline-DCT
   * codec), [[nnResample]] it, and re-encode with the matching writer — the
   * resized image is a valid container any reader decodes to those pixels
   * (exactly for PNG; within DCT quantization for JPEG). Dims come from the
   * PARSED header on both branches, never from record metadata — a record
   * whose metadata disagrees with its container must not re-encode a
   * container that disagrees with itself. Non-image records pass through
   * untouched.
   */
  def resize(media: Dataset[MediaRecord], factor: Int): Dataset[MediaRecord] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (r.kind != "image" || factor == 1) r
        else MediaCodec.imageDims(r.payload) match {
          case Some(("png", w, h)) =>
            val pix = MediaCodec.pngPixels(r.payload).getOrElse(Array.emptyByteArray)
            if (pix.isEmpty) r // corrupt stream: pass through as data
            else {
              val (out, w2, h2) = nnResample(pix, w, h, factor)
              r.copy(payload = MediaCodec.encodePng(out, w2, h2), width = w2, height = h2)
            }
          case Some(("jpeg", w, h)) =>
            val pix = MediaCodec.jpegPixels(r.payload).getOrElse(Array.emptyByteArray)
            if (pix.isEmpty) r // corrupt stream: pass through as data
            else {
              val (out, w2, h2) = nnResample(pix, w, h, factor)
              r.copy(payload = MediaCodec.encodeJpegPixels(out, w2, h2),
                width = w2, height = h2)
            }
          case _ => r
        }
      }
    }
  }

  /**
   * JPEG decode audit — the gate frame behind `multimodal_jpeg_roundtrip`.
   * For every jpeg-kind record the generator would synthesize, runs the
   * full encode→parse→decode roundtrip (the same [[MediaCodec
   * .encodeJpegPixels]] call [[syntheticMedia]] makes, the same
   * [[MediaCodec.jpegPixels]] decode [[extractFeatures]] consumes) and
   * emits what each side of the oracle CAN check exactly:
   *  - `width`/`height`: parsed from the written SOF header (DuckDB replays
   *    the generator formulas);
   *  - `n_pixel_bytes`: decoded raster size, must be exactly 3·w·h;
   *  - `luma_err_ok`: max per-pixel LUMA error vs the source pixels ≤ 48.
   *    Baseline DCT at quality 0.9 measures ≤ ~21 even on uniform noise
   *    (chroma is subsampled, luma is not — per-channel error is the wrong
   *    thing to bound); a garbage decode blows far past 48;
   *  - `redecode_ok`: a second decode is byte-identical (determinism).
   * The decoded-pixel checksum itself is DCT output — not SQL arithmetic —
   * so it rides the rows-only `multimodal_jpeg_checksums` companion.
   */
  def jpegDecodeAudit(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Long)]
      .filter(t => t._1 % 3 == 0 && t._1 % 2 == 1)
      .map { case (id, text, n) =>
        val (w, h) = (((n % 24) + 1).toInt, ((n % 8) + 1).toInt)
        val src = cyclePixels(text.getBytes("UTF-8"), w, h)
        val payload = MediaCodec.encodeJpegPixels(src, w, h)
        val dims = MediaCodec.imageDims(payload)
        val dec = MediaCodec.jpegPixels(payload).getOrElse(Array.emptyByteArray)
        val dec2 = MediaCodec.jpegPixels(payload).getOrElse(Array.emptyByteArray)
        def luma(a: Array[Byte], p: Int): Double =
          0.299 * (a(3 * p) & 0xff) + 0.587 * (a(3 * p + 1) & 0xff) +
            0.114 * (a(3 * p + 2) & 0xff)
        var maxLumaErr = 0.0
        if (dec.length == src.length) {
          var p = 0
          while (p < w * h) {
            val e = math.abs(luma(dec, p) - luma(src, p))
            if (e > maxLumaErr) maxLumaErr = e
            p += 1
          }
        } else maxLumaErr = Double.MaxValue
        (id,
          dims.map(_._2).getOrElse(0), dims.map(_._3).getOrElse(0),
          dec.length.toLong,
          maxLumaErr <= 48.0,
          java.util.Arrays.equals(dec, dec2) && dec.nonEmpty)
      }
      .toDF("media_id", "width", "height", "n_pixel_bytes", "luma_err_ok", "redecode_ok")
  }

  /** Decoded-pixel checksums for the jpeg records — deterministic DCT
    * output, pinned rows-only (the exact-arithmetic companions live in
    * [[jpegDecodeAudit]]). */
  def jpegChecksums(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(r => r.kind == "image" && r.media_id % 2 == 1)
      .map { r =>
        val dec = MediaCodec.jpegPixels(r.payload).getOrElse(Array.emptyByteArray)
        (r.media_id, FeatureKernel.checksum(dec), dec.length.toLong)
      }
      .toDF("media_id", "checksum", "n_pixel_bytes")
  }

  /**
   * Difference hash (dHash) over a decoded row-major RGB grid — the
   * classic perceptual image fingerprint: sample the luma plane on a 9×8
   * nearest-neighbor grid and set bit `y·8+x` when the right neighbor is
   * strictly brighter. All INTEGER arithmetic (luma scaled ×1000:
   * `299·r + 587·g + 114·b`; NN indices `x·w/9`, `y·h/8` in integer
   * division), so for losslessly-decoded containers the hash is exact,
   * engine-replayable math — small shifts/re-encodes/noise move few bits,
   * which is what makes Hamming distance a near-duplicate signal.
   */
  def dHash64(pix: Array[Byte], w: Int, h: Int): Long = {
    require(w >= 1 && h >= 1 && pix.length >= 3 * w * h,
      s"dHash64: need a full 3*w*h RGB grid, got ${pix.length} bytes for ${w}x$h")
    def luma(px: Int, py: Int): Long = {
      val p = (py * w + px) * 3
      299L * (pix(p) & 0xff) + 587L * (pix(p + 1) & 0xff) + 114L * (pix(p + 2) & 0xff)
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      val sy = y * h / 8
      var x = 0
      while (x < 8) {
        if (luma((x + 1) * w / 9, sy) > luma(x * w / 9, sy))
          hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /**
   * Perceptual hashes for image-kind records: decode the pixel grid (PNG
   * via Inflater + defilter, JPEG via the JDK baseline-DCT codec — both
   * REAL decodes) and [[dHash64]] it. One narrow per-partition scan, no
   * shuffle; corrupt containers yield no rows (data, not exceptions).
   * Feed the output to [[Dedup.hamming64Pairs]] for banded near-duplicate
   * detection — the "dedup × multimodal" composition.
   */
  def imagePerceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").flatMap { r =>
      MediaCodec.imageDims(r.payload).flatMap { case (container, w, h) =>
        val pix = (container match {
          case "png"  => MediaCodec.pngPixels(r.payload)
          case "jpeg" => MediaCodec.jpegPixels(r.payload)
          case _      => None
        }).getOrElse(Array.emptyByteArray)
        if (pix.length >= 3 * w * h && w >= 1 && h >= 1)
          Some((r.media_id, container, dHash64(pix, w, h)))
        else None
      }
    }.toDF("media_id", "container", "phash")
  }

  /**
   * Planted near-identical images for the phash gate: each PNG record
   * re-encoded with its FIRST pixel byte nudged by +1 (mod 256) — a
   * one-sub-pixel change, the canonical near-duplicate a perceptual hash
   * must keep close (and an exact byte hash must miss). Planted ids are
   * offset so originals and copies coexist; dims come from the PARSED
   * header, and the re-encode is a real container any reader decodes.
   */
  def plantImageNearDups(media: Dataset[MediaRecord],
                         idOffset: Long = 600000L): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(r => r.kind == "image").flatMap { r =>
      MediaCodec.imageDims(r.payload) match {
        case Some(("png", w, h)) =>
          val pix = MediaCodec.pngPixels(r.payload).getOrElse(Array.emptyByteArray)
          if (pix.isEmpty) None
          else {
            pix(0) = ((pix(0) + 1) & 0xff).toByte
            Some(r.copy(media_id = r.media_id + idOffset,
              payload = MediaCodec.encodePng(pix, w, h)))
          }
        case _ => None
      }
    }
  }

  /**
   * Audio perceptual hash — [[dHash64]]'s idea on the time axis: split
   * the PCM stream into 65 equal windows (integer boundaries `w·n/65`),
   * sum each window's UNSIGNED sample values (exact integer energy), and
   * set bit `w` when window `w+1` is strictly louder than window `w`.
   * Robust to gain-preserving re-encodes and single-sample noise, all
   * integer arithmetic — SQL-replayable for the generator's synthetic
   * PCM. Streams shorter than 65 samples make SOME windows empty (the
   * integer boundaries `w·n/65` collapse, so empty windows interleave
   * among non-empty ones rather than trailing) — still deterministic.
   */
  def aHash64(samples: Array[Short]): Long = {
    require(samples.length >= 1, "aHash64: empty PCM stream")
    deltaHash64(samples.map(s => (s & 0xffff).toLong))
  }

  /**
   * The shared windowed-delta kernel beneath [[aHash64]] (PCM sample
   * values) and [[videoPerceptualHashes]] (per-frame energies): 65
   * integer-boundary windows over any non-negative sequence, exact
   * window sums, bit `w` = window `w+1` strictly greater. Sequences
   * shorter than 65 make some windows empty (sum 0): the integer
   * boundaries collapse, interleaving empty windows among non-empty ones
   * (not a trailing-zeros layout) — still deterministic.
   */
  def deltaHash64(values: Array[Long]): Long = {
    val n = values.length
    require(n >= 1, "deltaHash64: empty sequence")
    val e = new Array[Long](65)
    var w = 0
    while (w < 65) {
      val lo = w * n / 65
      val hi = (w + 1) * n / 65
      var s = 0L
      var i = lo
      while (i < hi) { s += values(i); i += 1 }
      e(w) = s
      w += 1
    }
    var h = 0L
    w = 0
    while (w < 64) {
      if (e(w + 1) > e(w)) h |= 1L << w
      w += 1
    }
    h
  }

  /** Perceptual hashes for video-kind records: [[deltaHash64]] over the
    * per-frame energy sequence (Σ unsigned plane bytes of each REAL
    * decoded FRAME block) — a temporal fingerprint robust to
    * re-containerization; zero-frame or corrupt streams yield no rows.
    * The video member of the shared [[Dedup.hamming64Pairs]] family. */
  def videoPerceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      MediaCodec.y4mInfo(r.payload) match {
        case Some((w, h, n)) if n >= 1 =>
          MediaCodec.y4mFrames(r.payload).flatMap { frames =>
            val fsz = 3 * w * h
            if (frames.length < n.toLong * fsz) None
            else {
              val e = Array.tabulate(n) { f =>
                var s = 0L
                var i = f * fsz
                val end = (f + 1) * fsz
                while (i < end) { s += (frames(i) & 0xff); i += 1 }
                s
              }
              Some((r.media_id, deltaHash64(e)))
            }
          }
        case _ => None
      }
    }.toDF("media_id", "phash")
  }

  /** Planted near-identical videos: the Y4M re-encoded with the FIRST
    * byte of frame 0's plane bumped +1 (mod 256) — one sub-pixel of one
    * frame, moving at most the two comparisons around frame 0's window.
    * Planted ids offset by 800000. */
  def plantVideoNearDups(media: Dataset[MediaRecord],
                         idOffset: Long = 800000L): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      MediaCodec.y4mInfo(r.payload) match {
        case Some((w, h, n)) if n >= 1 =>
          MediaCodec.y4mFrames(r.payload).flatMap { frames =>
            if (frames.isEmpty) None
            else {
              frames(0) = ((frames(0) + 1) & 0xff).toByte
              Some(r.copy(media_id = r.media_id + idOffset,
                payload = MediaCodec.encodeY4m(frames, w, h, n)))
            }
          }
        case _ => None
      }
    }
  }

  /** Perceptual hashes for audio-kind records: decode the REAL PCM out of
    * the WAV container ([[MediaCodec.wavSamples]]) and [[aHash64]] it —
    * the audio twin of [[imagePerceptualHashes]]; feed the output to
    * [[Dedup.hamming64Pairs]]. Corrupt/empty containers yield no rows. */
  def audioPerceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").flatMap { r =>
      MediaCodec.wavSamples(r.payload) match {
        case Some(s) if s.nonEmpty => Some((r.media_id, aHash64(s)))
        case _ => None
      }
    }.toDF("media_id", "phash")
  }

  /** Planted near-identical audio for the aHash gate: each WAV re-encoded
    * with its FIRST sample bumped +1 (mod 2¹⁶) — one LSB of one sample,
    * the canonical near-duplicate. Planted ids offset by 700000. */
  def plantAudioNearDups(media: Dataset[MediaRecord],
                         idOffset: Long = 700000L): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").flatMap { r =>
      MediaCodec.wavInfo(r.payload) match {
        case Some((rate, _)) =>
          val s = MediaCodec.wavSamples(r.payload).getOrElse(Array.empty[Short])
          if (s.isEmpty) None
          else {
            s(0) = (((s(0) & 0xffff) + 1) & 0xffff).toShort
            Some(r.copy(media_id = r.media_id + idOffset,
              payload = MediaCodec.encodeWav(s, rate)))
          }
        case None => None
      }
    }
  }
}
