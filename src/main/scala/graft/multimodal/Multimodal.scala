package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * IMAGE decode and resize are REAL: `javax.imageio.ImageIO` (PNG / JPEG /
  * BMP / GIF / WBMP readers ship in the JDK — zero extra jars) decodes the
  * blob, features are block-averaged luma grids over the raster, and resize
  * is a bilinear `java.awt.Graphics2D` downscale re-encoded as lossless
  * PNG. Bytes that do NOT decode as an image (synthetic fixtures, audio /
  * video codecs the JDK lacks) fall back to the deterministic byte-level
  * stand-ins [[fakeDecode]]/[[fakeResize]], so every asset flows end-to-end
  * regardless of media type — swap the fallback for a JNI codec / Arrow
  * worker without touching the pipeline shape.
  *
  * Scale design: assets are repartitioned by a hash shard key before the
  * decode stage so a 100 TB corpus spreads evenly across executors, and the
  * decode runs once per partition iterator (mapPartitions) so per-batch
  * model/codec init amortizes — the same topology as an Arrow-batched
  * `mapInPandas` decode.
  */
object Multimodal {

  /** Asset metadata carried alongside the blob. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("n_bytes", IntegerType),
    StructField("checksum", StringType)))

  /** Wrap a binary-bearing column as (asset_id, blob, meta) — the canonical
    * multimodal frame. `media_type` is caller-declared (content sniffing
    * would live here). */
  def toAssets(df: DataFrame, idCol: String, blobCol: String,
               mediaType: String): DataFrame =
    df.select(
      col(idCol).as("asset_id"),
      col(blobCol).cast("binary").as("blob"),
      struct(
        lit(mediaType).as("media_type"),
        length(col(blobCol).cast("binary")).as("n_bytes"),
        md5(col(blobCol).cast("binary")).as("checksum")).as("meta"))

  /** Deterministic byte-level fallback decoder for NON-IMAGE media
    * (audio/video codecs the JDK lacks, synthetic fixtures): derives a
    * fixed-size float "feature vector" from the raw bytes. Images take the
    * real [[imageFeatures]] path via [[imageOrHashDecode]]. */
  private[multimodal] def fakeDecode(blob: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < blob.length) { h = 31 * h + blob(i); i += 1 }
    var j = 0
    while (j < dim) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(j) = ((h % 1000003L).toFloat / 1000003.0f)
      j += 1
    }
    out
  }

  /** REAL image decode via the JDK's ImageIO. None when the bytes are not
    * a decodable image (wrong magic, truncated stream, unsupported codec)
    * — the caller falls back to the byte-level stand-in. */
  private[multimodal] def decodeImage(blob: Array[Byte]): Option[BufferedImage] =
    if (blob == null || blob.isEmpty) None
    else Option(
      try ImageIO.read(new ByteArrayInputStream(blob))
      catch { case _: Exception => null })

  /** Feature vector from a decoded raster: Rec.601 luma, block-averaged
    * onto a ⌈√dim⌉² cell grid (each pixel lands in exactly one cell —
    * deterministic integer bucketing, no resampling filter), normalized to
    * [0,1] and truncated to `dim`. A real, content-sensitive embedding
    * stand-in: two images differing anywhere in brightness layout get
    * different vectors, identical images identical ones. */
  private[multimodal] def imageFeatures(img: BufferedImage, dim: Int): Array[Float] = {
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](g * g)
    val counts = new Array[Long](g * g)
    var y = 0
    while (y < h) {
      val gy = (y.toLong * g / h).toInt
      var x = 0
      while (x < w) {
        val gx = (x.toLong * g / w).toInt
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L +
          (rgb & 0xff) * 114L) / 1000.0
        val cell = gy * g + gx
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      out(j) = if (j < g * g && counts(j) > 0) (sums(j) / counts(j) / 255.0).toFloat else 0f
      j += 1
    }
    out
  }

  /** Decoded PCM/WAV audio: format metadata + the mono-mixed samples
    * normalized to [-1, 1]. */
  private[multimodal] final case class WavAudio(sampleRate: Int, channels: Int,
                                                bitsPerSample: Int,
                                                samples: Array[Double])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL PCM/WAV decode: manual RIFF chunk walk (`RIFF…WAVE`, `fmt `,
    * `data`) for uncompressed PCM at 8 or 16 bits — deterministic,
    * dependency-free, and tolerant of extra chunks (`LIST`, `fact`) between
    * `fmt ` and `data`. Multi-channel frames are mono-mixed by plain
    * average. None for anything that is not a well-formed PCM WAV
    * (compressed codecs, truncated streams) — the caller falls back, same
    * contract as [[decodeImage]]. */
  private[multimodal] def decodeWav(blob: Array[Byte]): Option[WavAudio] = {
    if (blob == null || blob.length < 44 ||
        tag(blob, 0) != "RIFF" || tag(blob, 8) != "WAVE") return None
    var fmt: Option[(Int, Int, Int)] = None // (channels, sampleRate, bits)
    var pos = 12
    try {
      while (pos + 8 <= blob.length) {
        val id = tag(blob, pos)
        val sz = le32(blob, pos + 4)
        if (sz < 0 || pos + 8 + sz > blob.length) return None
        if (id == "fmt ") {
          if (sz < 16 || le16(blob, pos + 8) != 1) return None // PCM only
          fmt = Some((le16(blob, pos + 10), le32(blob, pos + 12),
            le16(blob, pos + 22)))
        } else if (id == "data") {
          val (ch, rate, bits) = fmt.getOrElse(return None)
          if (ch < 1 || rate < 1 || (bits != 8 && bits != 16)) return None
          val bytesPerSample = bits / 8
          val frameBytes = ch * bytesPerSample
          val nFrames = sz / frameBytes
          val out = new Array[Double](nFrames)
          var f = 0
          while (f < nFrames) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val o = pos + 8 + f * frameBytes + c * bytesPerSample
              acc += (if (bits == 8) ((blob(o) & 0xff) - 128) / 128.0
                      else le16(blob, o).toShort / 32768.0)
              c += 1
            }
            out(f) = acc / ch
            f += 1
          }
          return Some(WavAudio(rate, ch, bits, out))
        }
        pos += 8 + sz + (sz & 1) // RIFF chunks are 2-byte aligned
      }
      None
    } catch { case _: Exception => None }
  }

  /** Feature vector from decoded audio: mean-|amplitude| envelope over
    * `dim` equal sample windows (each sample lands in exactly one window —
    * the audio analog of [[imageFeatures]]'s integer cell bucketing).
    * Content-sensitive and deterministic; silence → zeros. */
  private[multimodal] def audioFeatures(w: WavAudio, dim: Int): Array[Float] = {
    val n = w.samples.length
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var i = 0
    while (i < n) {
      val cell = (i.toLong * dim / n).toInt
      sums(cell) += math.abs(w.samples(i))
      counts(cell) += 1
      i += 1
    }
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      out(j) = if (counts(j) > 0) (sums(j) / counts(j)).toFloat else 0f
      j += 1
    }
    out
  }

  /** Default decode kernel: cheap WAV magic check first (REAL PCM envelope
    * features), then REAL ImageIO luma-grid features (PNG / JPEG / BMP /
    * GIF), then the [[fakeDecode]] byte-level stand-in — every asset flows,
    * real codecs where the JDK has them. */
  private[multimodal] def imageOrHashDecode(blob: Array[Byte], dim: Int): Array[Float] =
    decodeWav(blob).map(audioFeatures(_, dim))
      .orElse(decodeImage(blob).map(imageFeatures(_, dim)))
      .getOrElse(fakeDecode(blob, dim))

  private val audioInfoSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("is_wav", BooleanType),
    StructField("sample_rate", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("duration_ms", LongType)))

  /** Audio metadata stage: per-asset PCM/WAV header fields (null-safe
    * `is_wav = false` row when the bytes are not PCM WAV) — same
    * mapPartitions topology as [[extractFeatures]]. */
  def audioInfo(assets: DataFrame): DataFrame = {
    val enc = Encoders.row(audioInfoSchema)
    assets.select(col("asset_id"), col("blob")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeWav(r.getAs[Array[Byte]](1)) match {
          case Some(w) => Row(id, true, w.sampleRate, w.channels,
            w.bitsPerSample, w.samples.length,
            w.samples.length.toLong * 1000L / w.sampleRate)
          case None => Row(id, false, null, null, null, null, null)
        }
      }
    }(enc)
  }

  private val featuresSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("n_bytes", IntegerType)))

  /** Decode + feature-extract stage: one decoder instance per partition,
    * rows streamed through it (the mapPartitions ≙ mapInPandas batch
    * topology). Output: (asset_id, features: array<float>, n_bytes).
    * `decoder` defaults to the real-image-or-fallback kernel
    * ([[imageOrHashDecode]]); inject a custom kernel (audio FFT, video
    * keyframe embed) without changing the stage. */
  def extractFeatures(assets: DataFrame, dim: Int = 64,
                      decoder: (Array[Byte], Int) => Array[Float] = imageOrHashDecode)
      : DataFrame = {
    val enc = Encoders.row(featuresSchema)
    assets.select(col("asset_id"), col("blob")).mapPartitions { rows =>
      // per-partition init happens HERE (codec/model load in a real impl)
      rows.map { r =>
        val id = r.getLong(0)
        val blob = r.getAs[Array[Byte]](1)
        Row(id, decoder(blob, dim).toSeq, blob.length)
      }
    }(enc)
  }

  /** Frame sampling: k evenly spaced byte-range "frames" per asset —
    * expression-level (posexplode + binary substring), no UDF; stands in
    * for video frame-sampling with identical output shape
    * (asset_id, frame_idx, frame_bytes). */
  def sampleFrames(assets: DataFrame, k: Int = 4, frameLen: Int = 256): DataFrame =
    assets
      .select(col("asset_id"), col("blob"), col("meta.n_bytes").as("n"))
      .select(col("asset_id"), col("blob"), col("n"),
        posexplode(sequence(lit(0), lit(k - 1))).as(Seq("frame_idx", "i")))
      .select(col("asset_id"), col("frame_idx"),
        expr(s"substring(blob, cast(frame_idx * greatest(n - $frameLen, 1) / $k as int) + 1, $frameLen)")
          .as("frame_bytes"))

  /** Deterministic byte-level "resize" kernel, consistent with
    * [[fakeDecode]]: the blob is treated as a square raster of side ⌈√n⌉
    * and nearest-neighbor-sampled down to maxEdge × maxEdge bytes; blobs
    * already within budget pass through untouched. A real image decoder
    * slots in here without changing the stage's shape. */
  private[multimodal] def fakeResize(blob: Array[Byte], maxEdge: Int): Array[Byte] = {
    val side = math.ceil(math.sqrt(blob.length.toDouble)).toInt
    if (blob.isEmpty || side <= maxEdge) blob
    else {
      val out = new Array[Byte](maxEdge * maxEdge)
      var y = 0
      while (y < maxEdge) {
        val sy = (y.toLong * side / maxEdge).toInt
        var x = 0
        while (x < maxEdge) {
          val idx = sy * side + (x.toLong * side / maxEdge).toInt
          out(y * maxEdge + x) = if (idx < blob.length) blob(idx) else 0
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** REAL raster resize: bilinear Graphics2D downscale preserving aspect
    * ratio so max(w, h) == maxEdge; images already within budget are
    * returned as-is (reference equality signals pass-through upstream). */
  private[multimodal] def resizeRaster(img: BufferedImage, maxEdge: Int): BufferedImage = {
    val w = img.getWidth
    val h = img.getHeight
    if (w <= maxEdge && h <= maxEdge) img
    else {
      val scale = maxEdge.toDouble / math.max(w, h)
      val nw = math.max(1, math.round(w * scale).toInt)
      val nh = math.max(1, math.round(h * scale).toInt)
      val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
      val g2 = out.createGraphics()
      try {
        g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(img, 0, 0, nw, nh, null)
      } finally g2.dispose()
      out
    }
  }

  /** Lossless, deterministic re-encode of a resized raster. */
  private[multimodal] def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val resizedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("blob", BinaryType),
    StructField("media_type", StringType)))

  /** Resize stage for image assets: same mapPartitions topology as
    * [[extractFeatures]] (per-partition codec init point). Decodable
    * images get a REAL bilinear downscale to max-edge ≤ maxEdge,
    * re-encoded as PNG (media_type updated accordingly); within-budget
    * images pass through byte-identical; non-image bytes take the
    * [[fakeResize]] byte-raster fallback. Meta is recomputed (n_bytes +
    * checksum) — same (asset_id, blob, meta) schema out as [[toAssets]]. */
  def resizeImages(assets: DataFrame, maxEdge: Int): DataFrame = {
    require(maxEdge > 0, s"maxEdge must be positive, got $maxEdge")
    val enc = Encoders.row(resizedSchema)
    assets
      .select(col("asset_id"), col("blob"), col("meta.media_type").as("media_type"))
      .mapPartitions { rows =>
        rows.map { r =>
          val blob = r.getAs[Array[Byte]](1)
          val (out, mt) = decodeImage(blob) match {
            case Some(img) =>
              val scaled = resizeRaster(img, maxEdge)
              if (scaled eq img) (blob, r.getString(2))
              else (encodePng(scaled), "image/png")
            case None => (fakeResize(blob, maxEdge), r.getString(2))
          }
          Row(r.getLong(0), out, mt)
        }
      }(enc)
      .select(col("asset_id"), col("blob"),
        struct(col("media_type"),
          length(col("blob")).as("n_bytes"),
          md5(col("blob")).as("checksum")).as("meta"))
  }
}
