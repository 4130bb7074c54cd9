package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.geo.GridSpec

/** The engine's primary input row (BASELINE.json `input_hint` schema plus the
  * grid-metadata columns that stand in for the GDAL geotransform/SRS —
  * `geolib.py:1216-1270`):
  * gt = [ulx, res, 0, uly, 0, -res] (`warplib.py:139`), sentinel NDV
  * (`iolib.py:442-482`), acquisition timestamp parsed from the id
  * (`timelib.py:87-143`). */
final case class ImageRow(
  image_id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String,
  caption: String, phash: Long,
  ulx: Double, uly: Double, res: Double, crs: String, ndv: Double,
  ts: java.sql.Timestamp)

/** Deterministic synthetic image+caption table (FIXTURES.md F1) — seeded by
  * image index only, identical at any parallelism level. Pixel surfaces are
  * affine v = a_i + b·X + c·Y in MAP coordinates (so any correct resampling
  * of them is exact and stack stats have closed forms), with per-image
  * temporal offset a_i = A0 + SLOPE·t_days driving known trends, optional
  * ripple, and NDV margins on every 5th image to exercise masks
  * (`malib.py:1440-1462`). */
object ImageTable {
  val Crs = "EPSG:32610"
  /** The engine's tile NDV: every tile payload is NDV-filled with it, and
    * the twin SQL embeds it as the literal -9999. */
  final val Ndv = -9999.0f
  val B = 0.01   // map-x gradient per meter
  val C = -0.005 // map-y gradient per meter
  val A0 = 120.0
  val SlopePerDay = 0.05  // drives the stack trend closed form
  val Epoch0Days = 19723L // 2024-01-01 in days since epoch

  val X0 = 500000.0   // region origin (ULs scatter just east/south of it)
  val Y0 = 5300000.0

  /** Surface value at map coords for image index i, affine in region-local
    * offsets so 8-bit payloads stay in range (pure; ripple only on images
    * i%3==2, which keeps the others exactly resampling-invariant). */
  def surface(i: Int, mx: Double, my: Double): Double = {
    val a = A0 + SlopePerDay * dayOfImage(i)
    val base = a + B * (mx - X0) + C * (Y0 - my)
    if (i % 3 == 2) base + 2.0 * math.sin((mx - X0) / 40.0) * math.cos((Y0 - my) / 40.0)
    else base
  }

  /** Acquisition day offset (days since 2024-01-01): one image every 3 days
    * cycling within a year. */
  def dayOfImage(i: Int): Int = (i * 3) % 360

  def tsMicrosOf(i: Int): Long =
    (Epoch0Days + dayOfImage(i)) * 86400L * 1000000L + (i % 24) * 3600L * 1000000L

  def imageIdOf(i: Int): String = {
    val days = Epoch0Days + dayOfImage(i)
    val d = java.time.LocalDate.ofEpochDay(days)
    f"img_$i%08d_${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d_${i % 24}%02d00"
  }

  /** Per-image grid: scattered ULs on a 2 km region, res cycling {2,3,4} m,
    * dims cycling so extents overlap but differ (drives warp_multi's
    * union/intersection and elision paths). */
  def gridOf(i: Int): GridSpec = {
    val res = Seq(2.0, 3.0, 4.0)(i % 3)
    val w = 48 + (i % 4) * 8
    val h = 40 + (i % 5) * 8
    // UL scatter stays on the res-2 lattice and small enough that ALL image
    // extents share a common intersection (min extent is 96 m × 80 m)
    val ulx = X0 + (i % 7) * 10.0
    val uly = Y0 - (i % 5) * 8.0
    GridSpec(ulx, uly, res, Crs, w, h)
  }

  /** Bench-scale layout: images arrive in clusters of `ClusterSize`; each
    * cluster overlaps internally (stack semantics preserved per cluster) but
    * clusters scatter over a wide region — realistic tiling spread, so the
    * later keyed exchange on tile_id (`StackOps.keyedRuns`) has real
    * parallelism instead of 9 hot tiles. */
  val ClusterSize = 20
  val ClusterCols = 32

  def spreadGridOf(i: Int): GridSpec = spreadGridOf(i, 1)

  /** dimScale multiplies pixel dims (not res) — the heavy fixture for
    * scaling benchmarks, where per-task compute must dominate scheduling. */
  def spreadGridOf(i: Int, dimScale: Int): GridSpec = {
    val g = gridOf(i)
    val c = i / ClusterSize
    val dx = (c % ClusterCols) * 256.0
    val dy = (c / ClusterCols) * 256.0
    g.copy(ulx = g.ulx + dx, uly = g.uly - dy,
           w = g.w * dimScale, h = g.h * dimScale)
  }

  // decoupled from the res cycle (i % 3) so every res occurs in every fmt
  def fmtOf(i: Int): String = Seq("raw", "png", "bmp")((i / 3) % 3)

  /** Render the pixel grid (row-major, NDV margins on every 5th image). */
  def renderPixels(i: Int): Array[Float] = renderPixels(i, gridOf(i))

  def renderPixels(i: Int, g: GridSpec): Array[Float] = {
    val px = new Array[Float](g.w * g.h)
    val margin = if (i % 5 == 0) 3 else 0
    var y = 0
    while (y < g.h) {
      var x = 0
      while (x < g.w) {
        val idx = y * g.w + x
        if (x < margin || y < margin || x >= g.w - margin || y >= g.h - margin) {
          px(idx) = Ndv
        } else {
          val (mx, my) = g.pixelToMap(x, y)
          val v = surface(i, mx, my)
          // png/bmp carry 8-bit quantized payloads (1..255; 0 is the NDV
          // byte); raw carries float32
          px(idx) = if (fmtOf(i) == "raw") v.toFloat
                    else math.max(1, math.min(255, math.rint(v).toInt)).toFloat
        }
        x += 1
      }
      y += 1
    }
    px
  }

  def captionOf(i: Int): String =
    s"synthetic scene $i over utm10 res=${gridOf(i).res} day=${dayOfImage(i)}"

  /** Average-hash (aHash): mean-threshold bits of an 8×8 block-mean
    * downsample — the standard public perceptual-hash construction. */
  def aHash(px: Array[Float], w: Int, h: Int): Long = {
    val cells = new Array[Double](64)
    val counts = new Array[Int](64)
    var y = 0
    while (y < h) {
      val cy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val cx = math.min(7, x * 8 / w)
        val v = px(y * w + x)
        if (v != Ndv) { cells(cy * 8 + cx) += v; counts(cy * 8 + cx) += 1 }
        x += 1
      }
      y += 1
    }
    var i = 0
    var mean = 0.0; var n = 0
    while (i < 64) { if (counts(i) > 0) { cells(i) /= counts(i); mean += cells(i); n += 1 }; i += 1 }
    if (n > 0) mean /= n
    var bits = 0L
    i = 0
    while (i < 64) { if (counts(i) > 0 && cells(i) >= mean) bits |= (1L << i); i += 1 }
    bits
  }

  def row(i: Int): ImageRow = row(i, spread = false)

  def row(i: Int, spread: Boolean): ImageRow = row(i, spread, 1)

  def row(i: Int, spread: Boolean, dimScale: Int): ImageRow = {
    val g = if (spread) spreadGridOf(i, dimScale) else gridOf(i)
    val px = renderPixels(i, g)
    val fmt = fmtOf(i)
    ImageRow(imageIdOf(i), Codec.encode(px, g.w, g.h, fmt), g.w, g.h, fmt,
      captionOf(i), aHash(px, g.w, g.h), g.ulx, g.uly, g.res, g.crs, Ndv,
      new java.sql.Timestamp(tsMicrosOf(i) / 1000))
  }

  /** Distributed generation: `spark.range` → map. Seeded by index only, so
    * output is identical at any partitioning/parallelism (FIXTURES.md F7
    * determinism requirement). The default partitioning follows the session
    * (`defaultParallelism`, see [[indices]]); a positive `partitions` fixes
    * the count. */
  def generate(spark: SparkSession, n: Int, partitions: Int = 0,
               spread: Boolean = false, dimScale: Int = 1): DataFrame = {
    import spark.implicits._
    indices(spark, n, partitions).map(i => row(i.toInt, spread, dimScale)).toDF()
  }

  /** The row indices 0 until n of a synthetic source, in `partitions`
    * partitions, or in the session's `defaultParallelism` (what
    * `spark.range` picks when given no count) when `partitions` ≤ 0 — the
    * generators' default, so a source is as wide as the session's cores
    * rather than a count sized for one host. */
  private[sources] def indices(spark: SparkSession, n: Int,
                               partitions: Int): Dataset[java.lang.Long] =
    spark.range(0, n, 1,
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism)
}

/** Pure-JVM image codecs. `raw` = float32 LE row-major (the masked-array
  * analog, lossless); `png`/`bmp` = 8-bit gray via javax.imageio (lossless
  * for the quantized payloads the generator produces, satisfying the
  * PSNR ≥ 40 dB / allclose decode invariant). NDV inside png/bmp is packed
  * as the reserved byte 0 with value bytes shifted to 1..255? No — kept
  * simple: NDV encodes as byte 0 and decode restores NDV where 0 (the
  * value-encoded nullability rule of `iolib.py:349-350`).
  *
  * `jpg` is the LOSSY leg (the reference opens any GDAL format,
  * `iolib.py:93-101`, and a real image+caption corpus is overwhelmingly
  * JPEG): 8-bit gray via the JDK's ImageIO JPEG plugin at an explicit
  * quality, under the BASELINE re-encode invariant PSNR ≥ 40 dB. A lossy
  * codec CANNOT carry a value-encoded sentinel — DCT ringing smears any
  * reserved byte both ways — so, following the public GDAL practice of
  * pairing JPEG with a mask band, validity rides EXTERNALLY: encode fills
  * NDV pixels by nearest-valid replication (keeps the luma field smooth so
  * ringing at mask edges doesn't wreck the PSNR budget), decode returns
  * every sample as a value and the caller applies its own mask. */
object Codec {
  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import java.nio.{ByteBuffer, ByteOrder}
  import javax.imageio.ImageIO

  // ImageIO's default file-backed stream cache serializes every decode on
  // temp-file IO — catastrophic for 32 concurrent decode tasks
  ImageIO.setUseCache(false)

  val NdvByte = 0

  def encode(px: Array[Float], w: Int, h: Int, fmt: String): Array[Byte] = fmt match {
    case "raw" =>
      val bb = ByteBuffer.allocate(px.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      px.foreach(bb.putFloat)
      bb.array()
    case "png" | "bmp" =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < px.length) {
        val v = if (px(i) == ImageTable.Ndv) NdvByte
                else math.max(1, math.min(255, math.rint(px(i)).toInt))
        raster.setSample(i % w, i / w, 0, v)
        i += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, bos)
      bos.toByteArray
    case "jpg" | "jpeg" => encodeJpeg(px, w, h, ImageTable.Ndv, JpegQuality)
    case other => throw new IllegalArgumentException(s"unknown fmt $other")
  }

  /** Explicit JPEG quality: deterministic (the quantization tables derive
    * from it), and high enough that the smooth fixture surfaces re-encode
    * well above the 40 dB invariant with headroom for mask-edge ringing. */
  val JpegQuality = 0.95f

  /** Lossy 8-bit gray JPEG encode. NDV pixels are filled by nearest-valid
    * replication before the DCT (validity is EXTERNAL for lossy formats —
    * see the object doc); values round to 0..255. */
  def encodeJpeg(px: Array[Float], w: Int, h: Int, ndv: Float,
                 quality: Float): Array[Byte] = {
    val filled = fillNdvForLossy(px, w, h, ndv)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < filled.length) {
      raster.setSample(i % w, i / w, 0,
        math.max(0, math.min(255, math.rint(filled(i)).toInt)))
      i += 1
    }
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** Nearest-valid fill for lossy encode: per-row nearest valid value
    * (ties to the left), then fully-empty rows copy the nearest valid row;
    * an all-NDV image flattens to mid-gray. Deterministic, O(w·h). */
  private[graft] def fillNdvForLossy(px: Array[Float], w: Int, h: Int,
                                     ndv: Float): Array[Float] = {
    var any = false; var k = 0
    while (k < px.length && !any) { any = px(k) == ndv; k += 1 }
    if (!any) return px
    val out = px.clone()
    val rowHasValid = new Array[Boolean](h)
    val leftV = new Array[Float](w); val leftD = new Array[Int](w)
    var y = 0
    while (y < h) {
      val b = y * w
      var lv = ndv; var ld = Int.MaxValue
      var x = 0
      while (x < w) {
        if (px(b + x) != ndv) { lv = px(b + x); ld = 0; rowHasValid(y) = true }
        else if (ld != Int.MaxValue) ld += 1
        leftV(x) = lv; leftD(x) = ld
        x += 1
      }
      var rv = ndv; var rd = Int.MaxValue
      x = w - 1
      while (x >= 0) {
        if (px(b + x) != ndv) { rv = px(b + x); rd = 0 }
        else {
          if (rd != Int.MaxValue) rd += 1
          out(b + x) =
            if (leftD(x) != Int.MaxValue && (rd == Int.MaxValue || leftD(x) <= rd))
              leftV(x)
            else if (rd != Int.MaxValue) rv
            else ndv // fully-empty row: pass 2
        }
        x -= 1
      }
      y += 1
    }
    y = 0
    while (y < h) {
      if (!rowHasValid(y)) {
        var d = 1; var src = -1
        while (src < 0 && (y - d >= 0 || y + d < h)) {
          if (y - d >= 0 && rowHasValid(y - d)) src = y - d
          else if (y + d < h && rowHasValid(y + d)) src = y + d
          else d += 1
        }
        if (src >= 0) System.arraycopy(out, src * w, out, y * w, w)
        else java.util.Arrays.fill(out, y * w, y * w + w, 128f)
      }
      y += 1
    }
    out
  }

  /** Decode to float32 with NDV restored — the `b_getma` analog
    * (`iolib.py:145-162`): sentinel → mask. */
  def decode(bytes: Array[Byte], w: Int, h: Int, fmt: String, ndv: Float): Array[Float] = fmt match {
    case "raw" =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val px = new Array[Float](w * h)
      var i = 0
      while (i < px.length) { px(i) = bb.getFloat(); i += 1 }
      px
    case "png" | "bmp" =>
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, s"undecodable $fmt payload")
      val raster = img.getRaster
      val px = new Array[Float](w * h)
      var i = 0
      while (i < px.length) {
        val v = raster.getSample(i % w, i / w, 0)
        px(i) = if (v == NdvByte) ndv else v.toFloat
        i += 1
      }
      px
    case "jpg" | "jpeg" =>
      // lossy: every sample is a VALUE (no sentinel restore — ringing
      // makes any byte reachable); validity is the caller's external mask
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, "undecodable jpg payload")
      val raster = img.getRaster
      val px = new Array[Float](w * h)
      var i = 0
      while (i < px.length) {
        px(i) = raster.getSample(i % w, i / w, 0).toFloat
        i += 1
      }
      px
    case other => throw new IllegalArgumentException(s"unknown fmt $other")
  }

  /** One band's bytes out of a band-sequential (BSQ) multi-band payload —
    * the `b_getma(ds, band)` analog (`iolib.py:126-142`; the reference's
    * warp loops `ds.RasterCount` bands of ONE dataset, `warplib.py:
    * 146-153`). Multi-band is raw-float only: the grayscale PNG/BMP codecs
    * are single-band by construction, so asking them for band > 0 is a
    * loud error, not a silent replication. Zero-copy would alias the
    * shared buffer across tasks; a bounded copyOfRange (w·h·4 B) keeps
    * band slices independent. */
  def bandSlice(bytes: Array[Byte], w: Int, h: Int, fmt: String,
                band: Int, nBands: Int): Array[Byte] = {
    require(band >= 0 && band < nBands, s"band $band of $nBands")
    if (nBands == 1) return bytes
    require(fmt == "raw", s"multi-band payloads are raw BSQ; fmt '$fmt' is single-band")
    val len = w * h * 4
    require(bytes.length == len * nBands,
      s"BSQ payload is ${bytes.length} B, expected $nBands × $len B")
    java.util.Arrays.copyOfRange(bytes, band * len, (band + 1) * len)
  }

  /** PSNR between two decoded grids over jointly-valid pixels (the
    * BASELINE.json re-encode invariant; ∞ for lossless → returned as
    * Double.PositiveInfinity). */
  def psnr(a: Array[Float], b: Array[Float], ndv: Float, peak: Double = 255.0): Double = {
    var se = 0.0; var n = 0
    var i = 0
    while (i < a.length) {
      if (a(i) != ndv && b(i) != ndv) {
        val d = a(i).toDouble - b(i).toDouble
        se += d * d; n += 1
      }
      i += 1
    }
    if (n == 0) Double.NaN
    else if (se == 0) Double.PositiveInfinity
    else 10.0 * math.log10(peak * peak / (se / n))
  }
}
