package pipeline.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import pipeline.expr.{ImageDimsExpr, Mp4EncodeExpr, Mp4HeaderExpr, PngEncodeExpr, WavHeaderExpr}

/**
 * Multimodal-column plumbing: image/audio/video ride as opaque `binary`
 * columns with typed metadata. The Spark-side machinery (schema,
 * partition-friendly batch shape, per-partition decoder lifecycle) is real
 * and tested. Codecs:
 *
 *  - image: REAL — the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP ship with
 *    the JDK; header-only dimension reads, full decode for resize) via
 *    pipeline.expr.ImageExprs — no external jar;
 *  - audio: REAL for WAV/AIFF/AU — the JDK's `javax.sound.sampled` parses
 *    uncompressed-audio headers (rate/channels/frames) via
 *    pipeline.expr.AudioExprs; compressed formats (mp3/ogg/aac) have no
 *    JDK reader and fall through to not-ok;
 *  - video: REAL for the CONTAINER HEADER — a pure-byte ISO-BMFF (MP4)
 *    box walk (pipeline.expr.Mp4Exprs) reads moov/mvhd duration and
 *    trak/tkhd dims, no codec library involved; FRAME pixel decode stays
 *    a documented stub ([[sampleFrames]] slices bytes) — that genuinely
 *    needs a codec binding (e.g. JavaCV) on a cluster.
 */
object Multimodal {

  /** One media asset row. `bytes` is the opaque payload. */
  final case class MediaAsset(asset_id: Long, kind: String, bytes: Array[Byte])

  /** Typed decode result. */
  final case class MediaMeta(asset_id: Long, kind: String, n_bytes: Long,
                             width: Int, height: Int, duration_ms: Long, ok: Boolean)

  /** Per-kind codec dispatch: image = real JDK ImageIO header parse;
    * audio = real JDK javax.sound.sampled header parse (WAV/AIFF/AU);
    * video = real ISO-BMFF box walk (MP4 container header). */
  object Codecs {
    def decode(kind: String, bytes: Array[Byte]): (Int, Int, Long, Boolean) = {
      if (bytes == null || bytes.isEmpty) return (0, 0, 0L, false)
      kind match {
        case "image" =>
          // REAL: header-only ImageIO read; unrecognized bytes → not ok
          ImageDimsExpr.dims(bytes) match {
            case Some((w, h, _)) => (w, h, 0L, true)
            case None => (0, 0, 0L, false)
          }
        case "audio" =>
          // REAL: header-only javax.sound.sampled read; duration from
          // frames/rate; compressed/unrecognized payloads → not ok.
          // frames >= 0 too: getFrameLength is NOT_SPECIFIED (-1) for some
          // recognized streams, which would yield ok with negative duration
          WavHeaderExpr.header(bytes) match {
            case Some((rate, _, frames, _)) if rate > 0 && frames >= 0 =>
              (0, 0, frames * 1000L / rate, true)
            case _ => (0, 0, 0L, false)
          }
        case "video" =>
          // REAL: ISO-BMFF container-header box walk — duration from
          // mvhd ticks/timescale, dims from tkhd; non-MP4/corrupt → not ok
          Mp4HeaderExpr.header(bytes) match {
            case Some((_, ts, dur, w, h)) => (w, h, dur * 1000L / ts, true)
            case None => (0, 0, 0L, false)
          }
        case _ => (0, 0, 0L, false)
      }
    }
  }

  /**
   * Decode/feature-extract over binary payloads. `mapPartitions` so a
   * heavyweight codec is initialized once per partition (the per-partition
   * decoder-lifecycle pattern), with rows streamed through — the Scala
   * analog of `mapInPandas` batch decoding.
   */
  def decodeMeta(assets: Dataset[MediaAsset]): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // a stateful codec would be opened here, closed via CompletionIterator
      it.map { a =>
        val (w, h, d, ok) = Codecs.decode(a.kind, a.bytes)
        MediaMeta(a.asset_id, a.kind,
          if (a.bytes == null) 0L else a.bytes.length.toLong, w, h, d, ok)
      }
    }
  }

  /**
   * Frame sampling plumbing: 1 video row → N frame rows (the UDTF/explode
   * shape). Frame payloads are stubbed as byte slices (no video codec in
   * this container); the row explosion, schema and ordering are the real
   * contract.
   */
  def sampleFrames(assets: Dataset[MediaAsset], everyMs: Long): DataFrame = {
    require(everyMs > 0, s"everyMs must be positive, got $everyMs")
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").flatMap { a =>
      val (_, _, dur, ok) = Codecs.decode(a.kind, a.bytes)
      if (!ok) Iterator.empty
      else (0L until dur by everyMs).iterator.map { t =>
        val off = (t % math.max(a.bytes.length, 1)).toInt
        (a.asset_id, t, a.bytes.slice(off, math.min(off + 16, a.bytes.length)))
      }
    }.toDF("asset_id", "frame_ts_ms", "frame_bytes")
  }

  /**
   * REAL image resize: decode via ImageIO, scale to fit (maxW, maxH)
   * preserving aspect (never upscales), re-encode as PNG. Per-partition
   * codec lifecycle; undecodable payloads are skipped (they belong to the
   * deadletter path, not this operator's output).
   */
  def resize(assets: Dataset[MediaAsset], maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, s"bad resize bounds ${maxW}x$maxH")
    import assets.sparkSession.implicits._
    val maxPixels = 64L * 1024 * 1024 // decode bound: ~256 MB ARGB
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap { a =>
        // header-only pre-check FIRST: (a) skips null/empty/unrecognized
        // payloads the way the old stub path did (decodeMeta's ok=false
        // shape), (b) bounds the full decode — a crafted header declaring
        // 60000x60000 would otherwise make ImageIO.read allocate ~14 GB
        val headerOk = ImageDimsExpr.dims(a.bytes)
          .exists { case (w, h, _) => w.toLong * h <= maxPixels }
        val img =
          if (!headerOk) null
          else try {
            // MemoryCacheImageInputStream: ImageIO.read(InputStream) would
            // spool every payload through a disk-backed temp file
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(a.bytes))
            // ImageIO.read(ImageInputStream) closes the stream on success;
            // the close here only covers the throw path (double-close raises)
            try javax.imageio.ImageIO.read(iis)
            finally { try iis.close() catch { case _: java.io.IOException => () } }
            // malformed pixel data in JDK readers can throw unchecked
            // (ArrayIndexOutOfBounds etc.), not just IOException — a corrupt
            // payload must skip the row, never kill the task
          } catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Iterator.empty
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
          val (nw, nh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
          val scaled = new java.awt.image.BufferedImage(
            nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = scaled.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, nw, nh, null)
          } finally g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
          try javax.imageio.ImageIO.write(scaled, "png", ios) finally ios.close()
          Iterator((a.asset_id, nw, nh, out.toByteArray))
        }
      }
    }.toDF("asset_id", "width", "height", "bytes")
  }

  /** Deterministic real-PNG asset fixture (pure function of the id). */
  def pngAsset(id: Long, w: Int, h: Int): MediaAsset =
    MediaAsset(id, "image", PngEncodeExpr.encode(w, h))

  /** Deterministic real-WAV asset fixture (pure function of the id). */
  def wavAsset(id: Long, rate: Int, channels: Int, frames: Int): MediaAsset =
    MediaAsset(id, "audio",
      pipeline.expr.WavEncodeExpr.encode(rate, channels, frames))

  /** Deterministic real-MP4 asset fixture (pure function of the id). */
  def mp4Asset(id: Long, timescale: Int, durationTicks: Long,
               w: Int, h: Int): MediaAsset =
    MediaAsset(id, "video", Mp4EncodeExpr.encode(timescale, durationTicks, w, h))
}
