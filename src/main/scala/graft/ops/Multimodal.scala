package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Path

import javax.imageio.{IIOImage, ImageIO}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Multimodal-column support: media as opaque `binary` columns + typed
  * metadata, decoded with REAL JDK codecs batched per partition.
  *
  * Decode is `javax.imageio` (PNG/JPEG/GIF/BMP — [[JdkCodec.decode]] reads
  * actual image headers and rasters) and `javax.sound.sampled` (WAV/AIFF
  * audio headers). No external codec libraries are required; both APIs ship
  * with the JDK. "video" is modeled as an animated GIF container — the one
  * multi-frame format the JDK decodes natively — which exercises the real
  * at-scale shape: a container whose frame count is unknown until decode,
  * with per-frame raster access ([[sampleFrames]] decodes the actual pixels
  * of every sampled frame, not a synthesized fingerprint).
  *
  * Dataflow contract (the part that matters at 100 TB): media bytes stay in
  * a `binary` column of a parquet table; decode is a typed `mapPartitions`
  * with codec state initialized once per partition (here:
  * `ImageIO.setUseCache(false)` so the JDK never spools to disk per image);
  * frame fan-out happens inside the same partition pass, so neither decode
  * nor frame sampling shuffles. This mirrors a Python `mapInPandas` batch
  * layout; the Scala-idiomatic equivalent is the iterator-of-case-class
  * `mapPartitions` used here.
  *
  * [[Fixtures]] generates deterministic corpora whose decoded properties
  * (dims, frame counts, per-frame solid color, audio rate/channels/frames)
  * are closed-form in `media_id` — so a SQL oracle can assert what the
  * codec must read back from the real bytes.
  */
object Multimodal {

  case class MediaRow(media_id: Long, media_type: String, content: Array[Byte])
  case class DecodedRow(media_id: Long, media_type: String, byte_len: Long,
      width: Int, height: Int, n_frames: Int, sample_rate: Int, channels: Int,
      ok: Boolean)
  case class FrameStatRow(media_id: Long, frame_idx: Long, width: Int,
      height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  case class FrameRow(media_id: Long, frame_idx: Long, width: Int, height: Int,
      px_rgb: Long)

  /** Real JDK decode kernel. Null policy: null/empty/undecodable bytes (no
    * registered reader claims them, or the claimed decode throws) yield
    * `ok=false` with zeroed metadata — corrupt media must never kill a
    * 100 TB job, it must land in a quarantine-able partition of the output.
    */
  object JdkCodec {
    case class Meta(width: Int, height: Int, nFrames: Int, sampleRate: Int,
        channels: Int, ok: Boolean)
    val failed: Meta = Meta(0, 0, 0, 0, 0, ok = false)

    def decode(bytes: Array[Byte], mediaType: String): Meta =
      if (bytes == null || bytes.isEmpty) failed
      else try {
        mediaType match {
          case "audio" =>
            // header-only parse: WAV frame count = data size / frame size
            val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
            val fmt = aff.getFormat
            Meta(0, 0, aff.getFrameLength, fmt.getSampleRate.toInt,
              fmt.getChannels, ok = aff.getFrameLength > 0)
          case _ => // image / video(gif): real raster container
            val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
            try {
              val readers = ImageIO.getImageReaders(iis)
              if (!readers.hasNext) failed
              else {
                val r = readers.next()
                try {
                  r.setInput(iis)
                  val n = r.getNumImages(true) // full scan: trailer-truncated files fail here
                  Meta(r.getWidth(0), r.getHeight(0), n, 0, 0, ok = n > 0)
                } finally r.dispose()
              }
            } finally iis.close()
        }
      } catch { case NonFatal(_) => failed }

    /** Decode frames `0, stride, 2·stride, …` of a multi-frame container,
      * returning each frame's real dimensions and its top-left pixel
      * (0xRRGGBB). Frames are materialized before the reader is disposed.
      */
    def sampleFrames(bytes: Array[Byte], stride: Int): Vector[(Int, Int, Int, Int)] =
      if (bytes == null || bytes.isEmpty) Vector.empty
      else try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Vector.empty
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val n = r.getNumImages(true)
              (0 until n by stride).map { f =>
                val img = r.read(f)
                (f, img.getWidth, img.getHeight, img.getRGB(0, 0) & 0xFFFFFF)
              }.toVector
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case NonFatal(_) => Vector.empty }

    /** Decode EVERY frame and reduce its full raster to per-channel
      * sums — the shot-boundary signal. Real pixel loop, not header
      * math; a wrong palette lookup or row stride shows up in the sums.
      */
    def frameChannelSums(bytes: Array[Byte]): Vector[(Int, Int, Int, Long, Long, Long)] =
      if (bytes == null || bytes.isEmpty) Vector.empty
      else try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Vector.empty
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val n = r.getNumImages(true)
              (0 until n).map { f =>
                val img = r.read(f)
                val (w, h) = (img.getWidth, img.getHeight)
                var (sr, sg, sb) = (0L, 0L, 0L)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val p = img.getRGB(x, y)
                    sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                    x += 1
                  }
                  y += 1
                }
                (f, w, h, sr, sg, sb)
              }.toVector
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case NonFatal(_) => Vector.empty }
  }

  /** Batched decode: one `mapPartitions` pass, codec state per partition
    * (in-memory ImageIO streams — the JDK default spools every image
    * through a temp FILE, a per-row disk round-trip that would dominate at
    * scale). Narrow: no shuffle.
    */
  def decodeBatched(spark: SparkSession, media: DataFrame): Dataset[DecodedRow] = {
    import spark.implicits._
    media.select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // per-partition codec init
        rows.map { r =>
          val m = JdkCodec.decode(r.content, r.media_type)
          DecodedRow(r.media_id, r.media_type,
            Option(r.content).map(_.length.toLong).getOrElse(0L),
            m.width, m.height, m.nFrames, m.sampleRate, m.channels, m.ok)
        }
      }
  }

  /** Frame sampling over raw video containers: every `stride`-th frame is
    * REALLY decoded (raster read, not header math) and emitted as its own
    * row with the frame's dimensions and top-left pixel. The fan-out
    * happens inside the partition pass — a narrow generator, no shuffle;
    * undecodable containers contribute zero rows (same quarantine-friendly
    * policy as [[JdkCodec.decode]]).
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Int = 5): Dataset[FrameRow] = {
    require(stride > 0, "stride must be positive")
    import spark.implicits._
    media.filter(col("media_type") === "video")
      .select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.flatMap { r =>
          JdkCodec.sampleFrames(r.content, stride).map { case (f, w, h, rgb) =>
            FrameRow(r.media_id, f.toLong, w, h, rgb.toLong)
          }
        }
      }
  }

  /** Keyframe (shot-boundary) selection over video containers: every
    * frame is really decoded and reduced to per-channel sums
    * ([[JdkCodec.frameChannelSums]] — a narrow `mapPartitions`
    * generator), then a per-container `lag` window keeps frame 0 plus
    * every frame whose mean-color L1 distance from its PREDECESSOR
    * exceeds `thresholdPerPx` — the classic cheap cut detector, and the
    * frame-subset selector a multimodal training pipeline runs before
    * expensive captioning. All-integer compare: channel-sum deltas
    * against `threshold · n_px` (same dims within a container), so both
    * engines decide every boundary identically. Returns
    * `(media_id, frame_idx, width, height, dist_l1)` for kept frames,
    * `dist_l1 = 0` for the mandatory first frame.
    */
  def keyframes(spark: SparkSession, media: DataFrame,
      thresholdPerPx: Int = 100): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val stats = media.filter(col("media_type") === "video")
      .select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.flatMap { r =>
          JdkCodec.frameChannelSums(r.content).map {
            case (f, w, h, sr, sg, sb) =>
              FrameStatRow(r.media_id, f.toLong, w, h, sr, sg, sb)
          }
        }
      }.toDF()
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    stats
      .withColumn("dist_l1",
        abs(col("sum_r") - lag("sum_r", 1).over(w))
          + abs(col("sum_g") - lag("sum_g", 1).over(w))
          + abs(col("sum_b") - lag("sum_b", 1).over(w)))
      .where(col("dist_l1").isNull ||
        col("dist_l1") > lit(thresholdPerPx.toLong)
          * col("width").cast("long") * col("height").cast("long"))
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        coalesce(col("dist_l1"), lit(0L)).as("dist_l1"))
  }

  case class ImageHashRow(media_id: Long, width: Int, height: Int,
      ahash: String, ok: Boolean)

  /** Perceptual hash (aHash) over REAL decoded rasters — the image-side
    * near-duplicate fingerprint (re-encoded/brightness-shifted copies
    * hash identically; the hamming radius over these is the image
    * analogue of simhash text dedup). Definition, chosen for exact
    * integer cross-engine reproducibility: gray = (r+g+b)/3 (integer
    * div) per pixel; an 8×8 grid samples (u·W/8, v·H/8); bit(u,v) =
    * gray·W·H > Σgray (the multiply avoids a rounded mean). Emitted as
    * a 64-char '0'/'1' string in v-major order — no sign-bit traps.
    * Undecodable bytes → ("", ok=false), never a task failure. One
    * `mapPartitions` pass, no shuffle.
    */
  def imageHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHashRow] = {
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null) ImageHashRow(id, 0, 0, "", ok = false)
          else {
            val w = img.getWidth; val h = img.getHeight
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sum += (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            val sb = new java.lang.StringBuilder(64)
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                val p = img.getRGB(u * w / 8, v * h / 8)
                val gray = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
                sb.append(if (gray * n > sum) '1' else '0')
                u += 1
              }
              v += 1
            }
            ImageHashRow(id, w, h, sb.toString, ok = true)
          }
        }
      }
  }

  case class ImagePhashRow(media_id: Long, width: Int, height: Int,
      phash: String, ok: Boolean)

  /** Fixed-point cosine table shared VERBATIM by the Scala kernel and
    * every SQL oracle: `C(k,n) = round(cos(π(2n+1)k/64)·2¹⁵)`. The
    * doubles exist only here, once, at class load — the oracle SQL
    * interpolates these exact integers as literals, so no engine ever
    * takes a cosine on data and the downstream DCT algebra is pure
    * BIGINT on both sides.
    */
  val DctC: Array[Array[Long]] = Array.tabulate(32, 32)((k, n) =>
    Math.round(Math.cos(Math.PI * (2 * n + 1) * k / 64.0) * 32768.0))

  /** Perceptual hash (DCT pHash) beside [[imageHashes]]'s aHash: 32×32
    * integer-luma grid sample (the aHash sampling rule) → exact
    * fixed-point 2-D DCT-II over [[DctC]] → top-left 8×8 coefficient
    * block → bit = coefficient > median of the 63 AC coefficients (the
    * 32nd smallest, an exact integer select; the DC bit is pinned '0').
    * Catches the brightness/contrast near-dups aHash misses: an affine
    * luma shift moves every AC coefficient by (almost) a common scale
    * while clipping and gamma barely disturb the low-frequency
    * STRUCTURE the 8×8 block encodes — where aHash's mean threshold
    * drifts with the clipped mass. Emitted as a 64-char '0'/'1' string
    * in v-major order; undecodable bytes → ("", ok=false). One
    * `mapPartitions` pass, no shuffle; 64·1024 multiply-adds per image,
    * all Long (peak |term|·1024 ≈ 2.8e17 < 2⁶³).
    */
  def imagePhashes(spark: SparkSession, media: DataFrame): Dataset[ImagePhashRow] = {
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null) ImagePhashRow(id, 0, 0, "", ok = false)
          else {
            val w = img.getWidth; val h = img.getHeight
            val lum = Array.ofDim[Long](32, 32)
            var y = 0
            while (y < 32) {
              var x = 0
              while (x < 32) {
                val p = img.getRGB(x * w / 32, y * h / 32)
                lum(y)(x) =
                  (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
                x += 1
              }
              y += 1
            }
            val coef = Array.ofDim[Long](8, 8)
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                var s = 0L
                var yy = 0
                while (yy < 32) {
                  val cv = DctC(v)(yy)
                  var xx = 0
                  while (xx < 32) {
                    s += lum(yy)(xx) * DctC(u)(xx) * cv
                    xx += 1
                  }
                  yy += 1
                }
                coef(v)(u) = s
                u += 1
              }
              v += 1
            }
            val ac = new Array[Long](63)
            var i = 0
            v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                if (u != 0 || v != 0) { ac(i) = coef(v)(u); i += 1 }
                u += 1
              }
              v += 1
            }
            java.util.Arrays.sort(ac)
            val med = ac(31)
            val sb = new java.lang.StringBuilder(64)
            v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                sb.append(
                  if ((u == 0 && v == 0) || coef(v)(u) <= med) '0' else '1')
                u += 1
              }
              v += 1
            }
            ImagePhashRow(id, w, h, sb.toString, ok = true)
          }
        }
      }
  }

  case class ImageDhashRow(media_id: Long, width: Int, height: Int,
      dhash: String, ok: Boolean)

  /** Difference hash (dHash) completing the perceptual-hash family
    * beside [[imageHashes]] (aHash) and [[imagePhashes]] (pHash): a
    * 9×8 luma grid sample — x = u·W/9 for u ∈ 0..8, y = v·H/8, the
    * aHash sampling rule widened one column — and
    * `bit(v,u) = gray(u+1, v) > gray(u, v)`, the horizontal gradient
    * sign. Because only ORDER between adjacent samples matters, dHash
    * is exactly invariant under ANY strictly monotone luma map
    * (brightness shifts, unclipped contrast/gamma) — stronger than
    * aHash's mean threshold and cheaper than pHash's DCT; its blind
    * spot is mirror flips (every gradient sign reverses). All-integer
    * compare, 64-char '0'/'1' string v-major; undecodable bytes →
    * ("", ok=false). One `mapPartitions` pass, no shuffle.
    */
  def imageDhashes(spark: SparkSession, media: DataFrame): Dataset[ImageDhashRow] = {
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null) ImageDhashRow(id, 0, 0, "", ok = false)
          else {
            val w = img.getWidth; val h = img.getHeight
            def gray(x: Int, y: Int): Int = {
              val p = img.getRGB(x, y)
              (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
            }
            val sb = new java.lang.StringBuilder(64)
            var v = 0
            while (v < 8) {
              val y = v * h / 8
              var u = 0
              while (u < 8) {
                val g0 = gray(u * w / 9, y)
                val g1 = gray((u + 1) * w / 9, y)
                sb.append(if (g1 > g0) '1' else '0')
                u += 1
              }
              v += 1
            }
            ImageDhashRow(id, w, h, sb.toString, ok = true)
          }
        }
      }
  }

  /** Image near-duplicate pairs over [[imageHashes]] — simhash-style
    * banding applied to the 64-bit perceptual hash: the hash splits into
    * four 16-bit slices; candidates share at least one exact slice
    * (pigeonhole: Hamming distance ≤ 3 guarantees a matching band, the
    * same recall argument as `Dedup.simhashNearDupPairs64`), then exact
    * Hamming over the slice integers (`bit_count(xor)`) verifies.
    * Returns (id_a, id_b, hamming ≤ maxHamming), undecodable images
    * excluded up front.
    *
    * Scale: candidate cost is Σ bucket² over 4 × 65536 band buckets;
    * `maxBucket` drops degenerate buckets whole (flat-color corpora
    * collapse to few hashes — the explicit-recall-loss-over-OOM
    * discipline of the dedup family). Only (id, 4×16-bit) rows ride the
    * shuffles — never rasters, never the media bytes.
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 3, maxBucket: Long = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole guarantees recall only for maxHamming <= 3")
    val slices = imageHashes(spark, media).toDF().where(col("ok"))
      .select(col("media_id") +: (0 until 4).map(i =>
        conv(substring(col("ahash"), 1 + 16 * i, 16), 2, 10)
          .cast("long").as(s"s$i")): _*)
      .localCheckpoint() // decode once: feeds band rows + both pair sides
    val bands = slices.select(col("media_id"),
      posexplode(array(col("s0"), col("s1"), col("s2"), col("s3")))
        .as(Seq("band", "sig")))
    val kept = bands.groupBy("band", "sig")
      .agg(count(lit(1)).as("_n")).where(col("_n") <= maxBucket)
      .select("band", "sig")
    val bounded = bands.join(kept, Seq("band", "sig"))
    val cand = bounded.as("x").join(bounded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    val l = slices.select(col("media_id").as("id_a"), col("s0").as("x0"),
      col("s1").as("x1"), col("s2").as("x2"), col("s3").as("x3"))
    val r = slices.select(col("media_id").as("id_b"), col("s0").as("y0"),
      col("s1").as("y1"), col("s2").as("y2"), col("s3").as("y3"))
    cand.join(l, "id_a").join(r, "id_b")
      .select(col("id_a"), col("id_b"),
        (0 until 4).map(i => bit_count(col(s"x$i").bitwiseXOR(col(s"y$i"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** RESIZE to a fixed thumbnail raster by exact integer box-filter
    * (area average): output pixel (x′, y′) averages the input box
    * `[x′·w div W, (x′+1)·w div W) × [y′·h div H, (y′+1)·h div H)` per
    * channel with floor division — no float kernel, no engine-specific
    * interpolation, so a SQL oracle can re-derive every output pixel
    * from a closed-form fixture. The thumbnail is then round-tripped
    * through the REAL JDK PNG codec (encode → decode) before its
    * pixels are emitted, so the emitted rows prove the full
    * resize→encode→decode chain, not just the arithmetic (PNG is
    * lossless — any disagreement is a codec bug, not rounding).
    * Returns one row per output pixel: `(media_id, x, y, r, g, b)`;
    * undecodable inputs contribute no rows (quarantine policy).
    * One `mapPartitions` pass, no shuffle; memory per image is the
    * input raster + a W×H thumbnail.
    */
  def resizedPixels(spark: SparkSession, media: DataFrame,
      outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    require(outW >= 1 && outH >= 1)
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null || img.getWidth < outW || img.getHeight < outH)
            Iterator.empty
          else {
            val w = img.getWidth; val h = img.getHeight
            val thumb = new BufferedImage(outW, outH,
              BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < outH) {
              val y0 = y * h / outH; val y1 = (y + 1) * h / outH
              var x = 0
              while (x < outW) {
                val x0 = x * w / outW; val x1 = (x + 1) * w / outW
                var (sr, sg, sb) = (0L, 0L, 0L)
                var yy = y0
                while (yy < y1) {
                  var xx = x0
                  while (xx < x1) {
                    val p = img.getRGB(xx, yy)
                    sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                    xx += 1
                  }
                  yy += 1
                }
                val n = (x1 - x0).toLong * (y1 - y0)
                thumb.setRGB(x, y, (((sr / n).toInt) << 16) |
                  (((sg / n).toInt) << 8) | (sb / n).toInt)
                x += 1
              }
              y += 1
            }
            // round-trip through the real codec before emitting
            val bos = new ByteArrayOutputStream()
            ImageIO.write(thumb, "png", bos)
            val back = ImageIO.read(new ByteArrayInputStream(bos.toByteArray))
            for (y <- 0 until outH; x <- 0 until outW) yield {
              val p = back.getRGB(x, y)
              (id, x.toLong, y.toLong, ((p >> 16) & 0xFF).toLong,
                ((p >> 8) & 0xFF).toLong, (p & 0xFF).toLong)
            }
          }
        }
      }.toDF("media_id", "x", "y", "r", "g", "b")
  }

  /** Transcode rasters to another container format (the corpus
    * normalization step of a mixed-format ingest: decode whatever
    * arrives, re-encode once, store one format). Real codecs both ways —
    * `ImageIO.read` then an explicit-quality writer (JPEG defaults to
    * ~0.75 otherwise; alpha sources are flattened onto an RGB canvas
    * first because the JDK JPEG writer rejects ARGB). Narrow
    * `mapPartitions`, bytes→bytes, no shuffle; undecodable inputs
    * contribute no row (quarantine policy — a transcode must never kill
    * the job, and silently passing the original bytes through would
    * poison a format-partitioned sink).
    */
  def reEncodeImages(spark: SparkSession, media: DataFrame,
      format: String = "jpg", quality: Float = 0.9f): Dataset[MediaRow] = {
    require(quality > 0f && quality <= 1f, s"quality in (0, 1], got $quality")
    import spark.implicits._
    media.select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.flatMap { r =>
          try {
            if (r.content == null || r.content.isEmpty) None
            else {
              val img = ImageIO.read(new ByteArrayInputStream(r.content))
              if (img == null) None
              else {
                val rgb =
                  if (img.getType == BufferedImage.TYPE_INT_RGB) img
                  else {
                    val c = new BufferedImage(img.getWidth, img.getHeight,
                      BufferedImage.TYPE_INT_RGB)
                    val g = c.createGraphics()
                    try g.drawImage(img, 0, 0, null) finally g.dispose()
                    c
                  }
                val writer = ImageIO.getImageWritersByFormatName(format).next()
                val bos = new ByteArrayOutputStream()
                val ios = new MemoryCacheImageOutputStream(bos)
                try {
                  val p = writer.getDefaultWriteParam
                  if (p.canWriteCompressed) {
                    p.setCompressionMode(
                      javax.imageio.ImageWriteParam.MODE_EXPLICIT)
                    p.setCompressionQuality(quality)
                  }
                  writer.setOutput(ios)
                  writer.write(null, new IIOImage(rgb, null, null), p)
                } finally { writer.dispose(); ios.close() }
                Some(MediaRow(r.media_id, r.media_type, bos.toByteArray))
              }
            }
          } catch { case NonFatal(_) => None }
        }
      }
  }

  case class AudioStatsRow(media_id: Long, n_samples: Long, peak: Int,
      mean: Double, rms: Double)

  /** Real audio DSP over the raw containers: every audio payload is
    * decoded to its 16-bit PCM samples (`AudioSystem.getAudioInputStream`
    * consumes the WAV header, so the kernel never hand-parses offsets)
    * and reduced to per-media signal statistics — sample count, peak
    * amplitude, mean, RMS. Little-endian signed 16-bit assembly is
    * explicit (`(hi << 8) | (lo & 0xFF)` with `hi` sign-extended).
    * Narrow `mapPartitions`, no shuffle; undecodable/empty audio
    * contributes no row (same quarantine policy as decode). Sums
    * accumulate in integer space (exact, order-free) and divide once at
    * the end, so any engine reproduces the same doubles.
    */
  def audioStats(spark: SparkSession, media: DataFrame): Dataset[AudioStatsRow] = {
    import spark.implicits._
    media.filter(col("media_type") === "audio")
      .select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.content == null || r.content.isEmpty) None
          else try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(r.content))
            try {
              val data = ais.readAllBytes()
              val n = data.length / 2
              var i = 0; var sum = 0L; var sq = 0L; var peak = 0
              while (i < n) {
                val s = (data(2 * i + 1) << 8) | (data(2 * i) & 0xFF)
                sum += s; sq += s.toLong * s
                val a = math.abs(s); if (a > peak) peak = a
                i += 1
              }
              if (n == 0) None
              else Some(AudioStatsRow(r.media_id, n.toLong, peak,
                sum.toDouble / n, math.sqrt(sq.toDouble / n)))
            } finally ais.close()
          } catch { case NonFatal(_) => None }
        }
      }
  }

  case class AudioWindowRow(media_id: Long, win_idx: Long, n_samples: Long,
    energy: Long)

  /** Voice-activity / silence segmentation — the audio-curation verb
    * that decides which clip spans are worth transcribing or training
    * on. Two stages, split exactly where the execution model wants it:
    *
    *   1. NARROW decode (`mapPartitions`, same codec path and
    *      quarantine policy as [[audioStats]]): each clip's interleaved
    *      16-bit samples reduce to per-window `(n, Σs²)` rows — window
    *      = `winSize` consecutive samples in decode order, energy an
    *      exact BIGINT (≤ winSize·32768², no overflow).
    *   2. DECLARATIVE segmentation: a window is "speech" iff its mean
    *      square strictly exceeds the clip's overall mean square —
    *      cross-multiplied so the compare is pure BIGINT
    *      (`energy·n_total > total_energy·n_win`), never a float
    *      threshold an oracle can't replay. Consecutive speech windows
    *      merge into segments by the interval-island algebra (lag +
    *      prefix sum — [[TimeSeries.mergeIntervals]]' shape on a
    *      dense integer axis).
    *
    * Per-clip state after stage 1 is O(windows), windows are
    * clip-bounded, and both windows' partitioning key is `media_id` —
    * one shuffle, clip-parallel at any corpus size. Emits
    * `(media_id, seg_id, start_win, end_win, n_windows, seg_energy)`.
    * Clips with no above-average window emit nothing (an all-silence
    * clip has no speech segment, not a zero-length one).
    */
  def speechSegments(spark: SparkSession, media: DataFrame,
      winSize: Int = 50): DataFrame = {
    require(winSize > 0, "winSize must be positive")
    import spark.implicits._
    val wins = media.filter(col("media_type") === "audio")
      .select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.content == null || r.content.isEmpty) Iterator.empty
          else try {
            val ais = AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(r.content))
            try {
              val data = ais.readAllBytes()
              val n = data.length / 2
              (0 until n).iterator.map { i =>
                val s = (data(2 * i + 1) << 8) | (data(2 * i) & 0xFF)
                (i / winSize, s.toLong * s)
              }.toSeq.groupBy(_._1).iterator.map { case (w, ss) =>
                AudioWindowRow(r.media_id, w.toLong, ss.size.toLong,
                  ss.map(_._2).sum)
              }
            } finally ais.close()
          } catch { case NonFatal(_) => Iterator.empty }
        }
      }.toDF()
    val totals = wins.groupBy("media_id")
      .agg(sum("n_samples").as("n_total"), sum("energy").as("total_energy"))
    val loud = wins.join(totals, Seq("media_id"))
      .where(col("energy") * col("n_total") >
        col("total_energy") * col("n_samples"))
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("win_idx")
    val islands = loud
      .withColumn("new_seg",
        when(col("win_idx") - coalesce(lag("win_idx", 1).over(wLag),
          lit(-2L)) =!= 1L, 1L).otherwise(0L))
      .withColumn("seg_id", sum("new_seg").over(
        wLag.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
    islands.groupBy("media_id", "seg_id")
      .agg(min("win_idx").as("start_win"), max("win_idx").as("end_win"),
        count(lit(1)).as("n_windows"), sum("energy").as("seg_energy"))
  }

  case class ClipEnergyRow(media_id: Long, n_samples: Long, sumsq: Long)

  /** Loudness-normalization gain — the audio-preprocessing verb that
    * computes, per clip, the multiplier bringing its mean-square energy
    * to a target level (the RMS-normalize step before feature
    * extraction, expressed in the POWER domain so no square root ever
    * runs on data). Narrow decode to one `(n, Σs²)` row per clip, then
    * pure integer algebra: `ms_milli = (1000·Σs²) div n` and
    * `gain_ppm = (1e6·targetMsMilli) div ms_milli` — both truncating
    * divisions any engine replays. A digitally-silent clip (Σs² = 0)
    * emits a null gain, never a divide-by-zero or a fake multiplier.
    */
  def loudnessGain(spark: SparkSession, media: DataFrame,
      targetMsMilli: Long): DataFrame = {
    require(targetMsMilli > 0, "targetMsMilli must be positive")
    import spark.implicits._
    media.filter(col("media_type") === "audio")
      .select("media_id", "media_type", "content").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.content == null || r.content.isEmpty) None
          else try {
            val ais = AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(r.content))
            try {
              val data = ais.readAllBytes()
              val n = data.length / 2
              var i = 0; var sq = 0L
              while (i < n) {
                val s = (data(2 * i + 1) << 8) | (data(2 * i) & 0xFF)
                sq += s.toLong * s
                i += 1
              }
              if (n == 0) None
              else Some(ClipEnergyRow(r.media_id, n.toLong, sq))
            } finally ais.close()
          } catch { case NonFatal(_) => None }
        }
      }.toDF()
      .withColumn("ms_milli", expr("(1000 * sumsq) div n_samples"))
      .select(col("media_id"), col("n_samples"), col("ms_milli"),
        when(col("ms_milli") === 0, lit(null).cast("long"))
          .otherwise(expr(s"(1000000 * ${targetMsMilli}L) div ms_milli"))
          .as("gain_ppm"))
  }

  /** Deterministic real-media corpus whose decoded metadata is closed-form
    * in `media_id` (so a SQL oracle over the staged bytes can assert what
    * the codec must read):
    *   - `media_id % 3`: 0 → PNG image, 1 → WAV audio, 2 → animated GIF
    *   - image dims: `(1 + id % 64) × (1 + 7·id % 48)`
    *   - gif dims `(1 + id % 32) × (1 + 7·id % 24)`, frames `1 + id % 30`,
    *     frame `f` filled solid with rgb
    *     `((31·id+17·f) % 256, (7·id+3·f) % 256, (13·id+5·f) % 256)` — a
    *     single-color frame palettizes exactly, so GIF encode→decode is
    *     lossless on it and the oracle can assert the pixel
    *   - audio: 16-bit PCM WAV, rate 8000, channels `1 + id % 2`,
    *     `100 + id % 400` sample frames
    *   - corruption: `id % 23 == 7` replaces the payload with 8 junk bytes
    *     no registered codec claims (the malformed-decode policy row)
    */
  /** Letterbox/pillarbox margin detection — the crop step of an image
    * ingest (solid bars around real content waste tokens in any
    * vision encoder and poison near-dup hashes with bar-colored bits).
    * The reference color is the (0,0) pixel; a margin row/column is
    * one whose pixels ALL equal it, and the four margins are the
    * leading/trailing counts of such rows/columns — a pinned,
    * oracle-replayable definition with no heuristics. Real JDK codec
    * decode, narrow per-row `mapPartitions`, undecodable rows
    * quarantine (no output row). Emits the crop box and the content
    * fraction in truncating ppm.
    */
  def letterboxDetect(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null) Iterator.empty
          else {
            val w = img.getWidth; val h = img.getHeight
            val c00 = img.getRGB(0, 0) & 0xFFFFFF
            def rowBg(y: Int): Boolean = {
              var x = 0
              while (x < w) {
                if ((img.getRGB(x, y) & 0xFFFFFF) != c00) return false
                x += 1
              }
              true
            }
            def colBg(x: Int): Boolean = {
              var y = 0
              while (y < h) {
                if ((img.getRGB(x, y) & 0xFFFFFF) != c00) return false
                y += 1
              }
              true
            }
            var top = 0
            while (top < h && rowBg(top)) top += 1
            var bottom = 0
            while (bottom < h - top && rowBg(h - 1 - bottom)) bottom += 1
            var left = 0
            while (left < w && colBg(left)) left += 1
            var right = 0
            while (right < w - left && colBg(w - 1 - right)) right += 1
            val cw = math.max(0, w - left - right)
            val ch = math.max(0, h - top - bottom)
            Iterator.single((id, w.toLong, h.toLong, top.toLong,
              bottom.toLong, left.toLong, right.toLong,
              1000000L * (cw.toLong * ch) / (w.toLong * h)))
          }
        }
      }.toDF("media_id", "w", "h", "top_margin", "bottom_margin",
        "left_margin", "right_margin", "content_ppm")
  }

  /** Color-octant histogram near-dup — the color-signature member of
    * the perceptual family (aHash/dHash/pHash see LUMA STRUCTURE; a
    * global recolor slips past them, a histogram does not). Per image:
    * the exact count of pixels in each of the 8 RGB octants (channel
    * high bit), normalized to truncating ppm; candidate pairs are
    * BLOCKED on the dominant octant (argmax, lowest index on ties —
    * pinned) so the pair join is bucket-local, never all-pairs; a pair
    * matches when the L1 distance of the two ppm vectors is within
    * `l1ThresholdPpm`. Decode is one narrow pass; everything after
    * operates on 8 longs per image.
    */
  def colorHistNearDup(spark: SparkSession, media: DataFrame,
      l1ThresholdPpm: Long = 100000L): DataFrame = {
    import spark.implicits._
    require(l1ThresholdPpm >= 0, s"negative threshold: $l1ThresholdPpm")
    val hist = media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val img =
            try {
              if (bytes == null || bytes.isEmpty) null
              else ImageIO.read(new ByteArrayInputStream(bytes))
            } catch { case NonFatal(_) => null }
          if (img == null) Iterator.empty
          else {
            val w = img.getWidth; val h = img.getHeight
            val counts = new Array[Long](8)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                val oct = ((((p >> 16) & 0xFF) >> 7) << 2) |
                  ((((p >> 8) & 0xFF) >> 7) << 1) | ((p & 0xFF) >> 7)
                counts(oct) += 1L
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            val ppm = counts.map(c => 1000000L * c / n)
            var dom = 0
            var i = 1
            while (i < 8) { if (ppm(i) > ppm(dom)) dom = i; i += 1 }
            Iterator.single((id, dom.toLong, ppm.toSeq))
          }
        }
      }.toDF("media_id", "dom", "ppm")
    val a = hist.select(col("media_id").as("a"), col("dom"),
      col("ppm").as("pa"))
    val b = hist.select(col("media_id").as("b"), col("dom").as("domb"),
      col("ppm").as("pb"))
    a.join(b, col("dom") === col("domb") && col("a") < col("b"))
      .select(col("a"), col("b"),
        aggregate(zip_with(col("pa"), col("pb"), (x, y) => abs(x - y)),
          lit(0L), (acc, v) => acc + v).as("l1_ppm"))
      .where(col("l1_ppm") <= l1ThresholdPpm)
  }

  object Fixtures {
    val corruptMod = 23
    val corruptRem = 7
    private val junk = Array[Byte](0x00, 0x7F, 0x3A, -0x22, -0x53, 0x11, 0x42, -0x11)

    def frameRgb(id: Long, f: Long): Int = {
      val r = ((31 * id + 17 * f) % 256).toInt
      val g = ((7 * id + 3 * f) % 256).toInt
      val b = ((13 * id + 5 * f) % 256).toInt
      (r << 16) | (g << 8) | b
    }

    private def solidImage(w: Int, h: Int, rgb: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      try { gfx.setColor(new java.awt.Color(rgb)); gfx.fillRect(0, 0, w, h) }
      finally gfx.dispose()
      img
    }

    def pngBytes(id: Long): Array[Byte] = {
      val w = (1 + id % 64).toInt; val h = (1 + (id * 7) % 48).toInt
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try ImageIO.write(solidImage(w, h, frameRgb(id, 0)), "png", ios)
      finally ios.close()
      bos.toByteArray
    }

    def gifBytes(id: Long): Array[Byte] = {
      val w = (1 + id % 32).toInt; val h = (1 + (id * 7) % 24).toInt
      val frames = (1 + id % 30).toInt
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        (0 until frames).foreach { f =>
          writer.writeToSequence(
            new IIOImage(solidImage(w, h, frameRgb(id, f)), null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

    def wavBytes(id: Long): Array[Byte] = {
      val channels = (1 + id % 2).toInt
      val nFrames = (100 + id % 400).toInt
      val fmt = new AudioFormat(8000f, 16, channels, true, false)
      val data = new Array[Byte](nFrames * fmt.getFrameSize)
      var i = 0
      while (i < data.length) { data(i) = ((id + i) % 251).toByte; i += 1 }
      val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, nFrames.toLong)
      val bos = new ByteArrayOutputStream()
      try AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos) finally ais.close()
      bos.toByteArray
    }

    /** Gradient corpus for the perceptual-hash ops: every pixel is a
      * closed-form function of (id, x, y), so the oracle can re-derive
      * the full raster — and therefore the hash — in SQL. Ids 32..63
      * repeat ids 0..31's gradient at exactly +1 brightness per
      * channel (mod 255 keeps the +1 from wrapping): a brightness
      * shift moves every pixel AND the mean by the same amount, so a
      * correct aHash is IDENTICAL across each pair — the classic
      * perceptual-hash invariance, and the property the near-dup spec
      * pins. `id % 17 == 5` rows carry junk bytes (null policy).
      */
    def gradientPixel(id: Long, x: Int, y: Int): Int = {
      val base = id % 32
      val off = if (id >= 32) 1 else 0
      val r = ((31 * base + 7 * x + 3 * y) % 255 + off).toInt
      val g = ((7 * base + 5 * x + 11 * y) % 255 + off).toInt
      val b = ((13 * base + 3 * x + 5 * y) % 255 + off).toInt
      (r << 16) | (g << 8) | b
    }
    def gradientDims(id: Long): (Int, Int) = {
      val base = id % 32
      ((8 + base % 9).toInt, (8 + (base * 5) % 9).toInt)
    }
    def gradientPngBytes(id: Long): Array[Byte] = {
      val (w, h) = gradientDims(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, gradientPixel(id, x, y)); x += 1 }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }
    val gradientRows = 64
    def gradientMediaFor(id: Long): MediaRow =
      MediaRow(id, "image",
        if (id % 17 == 5) junk else gradientPngBytes(id))
    def gradientDirFor: Path =
      graft.Staging.path(s"graft-synth-gradient-$gradientRows-v1")
    def gradientParquetPath: String =
      gradientDirFor.resolve("media.parquet").toString
    def gradientDataset(spark: SparkSession): String = {
      graft.Staging.once(gradientParquetPath) {
        import spark.implicits._
        spark.range(gradientRows).repartition(4)
          .mapPartitions { it =>
            ImageIO.setUseCache(false); it.map(i => gradientMediaFor(i.toLong))
          }
          .write.mode("overwrite").parquet(gradientParquetPath)
      }
      gradientParquetPath
    }

    /** JPEG-stable checker corpus for the cross-format hash queries:
      * 64×64 rasters of 8×8-PIXEL black/white cells, cell (u, v) white
      * iff the first md5 byte of "id|u|v" is even — closed-form in SQL
      * (`('0x' || substr(md5(...), 1, 2))::INT % 2`). Each cell aligns
      * exactly with one JPEG 8×8 DCT block, so a quality-0.9 re-encode
      * is DC-only per block and decodes within ±3 gray of the original,
      * while every aHash decision margin is ≥ 255·64 in the scaled
      * space (`gray·n − Σgray` for a wrong bit needs nw = 64 white
      * cells, probability 2⁻⁶⁴) — PNG and JPEG twins hash IDENTICALLY
      * by construction, not by luck. `id % 13 == 3` rows carry junk
      * bytes (quarantine-policy row).
      */
    def checkerWhite(id: Long, u: Int, v: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|$u|$v".getBytes("UTF-8"))
      (d(0) & 0xFF) % 2 == 0
    }
    def checkerPngBytes(id: Long): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      try {
        (0 until 8).foreach { v =>
          (0 until 8).foreach { u =>
            gfx.setColor(
              if (checkerWhite(id, u, v)) java.awt.Color.WHITE
              else java.awt.Color.BLACK)
            gfx.fillRect(u * 8, v * 8, 8, 8)
          }
        }
      } finally gfx.dispose()
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }
    val checkerRows = 48
    def checkerMediaFor(id: Long): MediaRow =
      MediaRow(id, "image", if (id % 13 == 3) junk else checkerPngBytes(id))
    def checkerDirFor: Path =
      graft.Staging.path(s"graft-synth-checker-$checkerRows-v1")
    def checkerParquetPath: String =
      checkerDirFor.resolve("media.parquet").toString
    def checkerDataset(spark: SparkSession): String = {
      graft.Staging.once(checkerParquetPath) {
        import spark.implicits._
        spark.range(checkerRows).repartition(4)
          .mapPartitions { it =>
            ImageIO.setUseCache(false); it.map(i => checkerMediaFor(i.toLong))
          }
          .write.mode("overwrite").parquet(checkerParquetPath)
      }
      checkerParquetPath
    }

    /** Letterbox corpus for the crop-detection op: 24×16 rasters with a
      * PLANTED black frame — vertical bars `id % 4` rows thick, horizontal
      * bars `(id div 4) % 4` columns thick — around an interior whose
      * pixel (x, y) is white when the first md5 byte of `"lb|id|x|y"` is
      * even, gray 128 otherwise (NEVER black, so the detector can never
      * over-extend into content). Closed-form per pixel → the oracle
      * re-derives every margin in SQL. `id % 13 == 3` rows carry junk.
      */
    def letterboxInteriorWhite(id: Long, x: Int, y: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lb|$id|$x|$y".getBytes("UTF-8"))
      (d(0) & 0xFF) % 2 == 0
    }
    def letterboxPngBytes(id: Long): Array[Byte] = {
      val w = 24; val h = 16
      val tV = (id % 4).toInt; val tH = ((id / 4) % 4).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val border = y < tV || y >= h - tV || x < tH || x >= w - tH
          img.setRGB(x, y,
            if (border) 0x000000
            else if (letterboxInteriorWhite(id, x, y)) 0xFFFFFF
            else 0x808080)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }
    val letterboxRows = 48
    def letterboxMediaFor(id: Long): MediaRow =
      MediaRow(id, "image", if (id % 13 == 3) junk else letterboxPngBytes(id))
    def letterboxDirFor: Path =
      graft.Staging.path(s"graft-synth-letterbox-$letterboxRows-v1")
    def letterboxParquetPath: String =
      letterboxDirFor.resolve("media.parquet").toString
    def letterboxDataset(spark: SparkSession): String = {
      graft.Staging.once(letterboxParquetPath) {
        import spark.implicits._
        spark.range(letterboxRows).repartition(4)
          .mapPartitions { it =>
            ImageIO.setUseCache(false)
            it.map(i => letterboxMediaFor(i.toLong))
          }
          .write.mode("overwrite").parquet(letterboxParquetPath)
      }
      letterboxParquetPath
    }

    def mediaFor(id: Long): MediaRow = {
      val tpe = (id % 3).toInt match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val bytes =
        if (id % corruptMod == corruptRem) junk
        else tpe match {
          case "image" => pngBytes(id)
          case "audio" => wavBytes(id)
          case _       => gifBytes(id)
        }
      MediaRow(id, tpe, bytes)
    }

    /** Fixture corpus size: 600 media (≈200/type, ≈26 corrupt) — big enough
      * that every (type, corrupt) cell and every dim/frame-count residue is
      * populated, small enough to stage in well under a second.
      */
    val rows = 600

    /** Deterministic staging dir, shared with the DuckDB oracle. The name
      * encodes the generator version — bump `v1` if any formula changes so
      * a stale corpus from an older layout can never be picked up.
      */
    def dirFor: Path = graft.Staging.path(s"graft-synth-media-$rows-v1")
    def parquetPath: String = dirFor.resolve("media.parquet").toString

    /** Stage the corpus as parquet (binary `content` column) once per JVM
      * ([[graft.Staging.once]]); generation is distributed (`spark.range`
      * → codec encode per row).
      */
    def dataset(spark: SparkSession): String = {
      graft.Staging.once(parquetPath) {
        import spark.implicits._
        spark.range(rows).repartition(8)
          .mapPartitions { it =>
            ImageIO.setUseCache(false); it.map(i => mediaFor(i.toLong))
          }
          .write.mode("overwrite").parquet(parquetPath)
      }
      parquetPath
    }
  }
}
