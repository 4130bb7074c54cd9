package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Extent, GridSpec, Proj}
import graft.sources.{Codec, ImageRow, ImageTable}

/** One aligned tile of one image on the common target grid — the engine's
  * unit of work (the reference's unit is a whole warped raster;
  * `warplib.py:39-210`). `payload` is row-major `Warp.TileSize`²,
  * `ImageTable.Ndv`-filled outside the image footprint
  * (`warplib.py:146-153`). */
final case class TileRow(
  image_id: String, ts_us: Long, tile_id: Long, tx: Int, ty: Int,
  payload: Array[Float], n_valid: Int, elided: Boolean)

/** One aligned tile of one BAND of one multi-band image — `band` is part
  * of the tile key, so per-band pipelines (stack stats, diffs) group on
  * (band, tile_id) and bands never mix (the reference warps and NDV-fills
  * every band of a dataset: the `ds.RasterCount` loop `warplib.py:146-153`
  * over `b_getma(ds, band)` `iolib.py:126-142`). */
final case class BandTileRow(
  image_id: String, band: Int, ts_us: Long, tile_id: Long, tx: Int, ty: Int,
  payload: Array[Float], n_valid: Int, elided: Boolean)

/** The warp operator family — grid alignment, re-expressed Spark-first:
  *
  *   stage A (analyze):  one metadata aggregation over (res, extent) →
  *                       driver-side `GridSpec` (parse_srs/res/extent,
  *                       `warplib.py:238-419`); broadcast as a plan literal.
  *   stage B (optimize): per-image no-op elision — srs same ∧ res equal ∧
  *                       extent aligned within precision (`warplib.py:479-515`)
  *                       → pixels copy 1:1 with integer offset, no kernel.
  *   stage C (execute):  narrow map stage — decode, resample each overlapping
  *                       target tile (`gdal.ReprojectImage` analog,
  *                       `warplib.py:196`).
  *
  * Scale shape: A is a partial-agg reduce of ~32 B/row; C is map-only (no
  * shuffle — each image's tiles derive from that image alone). The only wide
  * stage in a warp→stack pipeline is the later keyed exchange on tile_id
  * (`StackOps.keyedRuns`). */
object Warp {
  /** The engine's tile edge in pixels: every tile operator, `TileCells` and
    * the twin SQL (`// 64`, 4096-long buffers) assume it. */
  final val TileSize = 64

  /** Tile columns and rows (ntx, nty) that cover `target`. */
  private[graft] def tileGrid(target: GridSpec): (Int, Int) =
    ((target.w + TileSize - 1) / TileSize, (target.h + TileSize - 1) / TileSize)

  /** Stage A. Strategies follow `parse_res`/`parse_extent` (`warplib.py:
    * 312-419`); 'first' = lowest image_id (the reference's list order).
    * `tSrs` resolves the TARGET CRS (`parse_srs` `warplib.py:264-310`):
    * "first" = the first image's CRS (the reference default), or an
    * explicit CRS id. Images in other CRSs contribute their PROJECTED
    * footprint (densified-boundary bbox) and projected center-pixel step
    * to the extent/res strategies — the `gdal.ReprojectImage` analog over
    * the deterministic spherical projections in [[graft.geo.Proj]]. The
    * single-CRS fast path is bit-identical to the pre-cross-CRS analyze
    * (the q40/q63 oracle arithmetic). */
  def analyze(images: DataFrame, resStrategy: String = "min",
              extentStrategy: String = "union", tSrs: String = "first",
              datum: String = Proj.Wgs84): GridSpec = {
    val m = images.agg(
      min(col("res")).as("rmin"), max(col("res")).as("rmax"),
      avg(col("res")).as("rmean"), expr("percentile(res, 0.5)").as("rmed"),
      min(col("ulx")).as("u_xmin"), min(col("uly") - col("h") * col("res")).as("u_ymin"),
      max(col("ulx") + col("w") * col("res")).as("u_xmax"), max(col("uly")).as("u_ymax"),
      max(col("ulx")).as("i_xmin"), max(col("uly") - col("h") * col("res")).as("i_ymin"),
      min(col("ulx") + col("w") * col("res")).as("i_xmax"), min(col("uly")).as("i_ymax"),
      min_by(struct(col("ulx"), col("uly"), col("res"), col("w"), col("h"), col("crs")),
             col("image_id")).as("first"),
      collect_set(col("crs")).as("crs_set"),
      max_by(col("crs"), col("image_id")).as("last_crs")
    ).head()
    // CRS resolution rides the SAME single metadata agg (stage A stays one
    // job); the cross-CRS path re-aggregates projected metadata — the rare
    // branch pays, the uniform fast path does not. tSrs: "first"/"last"
    // (parse_srs list order, warplib.py:264-310) or an explicit CRS id.
    val targetCrs = tSrs match {
      case "first" => m.getStruct(12).getString(5)
      case "last"  => m.getString(14)
      case s => s
    }
    if (m.getSeq[String](13).exists(_ != targetCrs))
      return analyzeCross(images, resStrategy, extentStrategy, targetCrs, datum)

    val first = m.getStruct(12)
    resolveGrid(m, resStrategy, extentStrategy, first.getDouble(2),
      GridSpec(first.getDouble(0), first.getDouble(1), first.getDouble(2), first.getString(5),
        first.getInt(3), first.getInt(4)).extent, first.getString(5))
  }

  /** Cross-CRS stage A: one narrow pass projects each image's metadata
    * (never the payload) into the target CRS — footprint by densified
    * boundary, res by center-pixel step — then the SAME strategy
    * aggregation. Distributed (no per-image driver collect): the metadata
    * row is ~50 B, so this scales to any image count. */
  private def analyzeCross(images: DataFrame, resStrategy: String,
                           extentStrategy: String, targetCrs: String,
                           datum: String): GridSpec = {
    val spark = images.sparkSession
    val projRdd = images.select(col("image_id"), col("ulx"), col("uly"),
        col("res"), col("w"), col("h"), col("crs")).rdd
      .map { r =>
        val g = GridSpec(r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getString(6), r.getInt(4), r.getInt(5))
        val e = Proj.projectExtent(g.extent, g.crs, targetCrs, datum = datum)
        (r.getString(0), Proj.resIn(g, targetCrs, datum), e.xmin, e.ymin, e.xmax, e.ymax)
      }
    val proj = spark.createDataFrame(projRdd)
      .toDF("image_id", "res", "xmin", "ymin", "xmax", "ymax")
    val m = proj.agg(
      min(col("res")).as("rmin"), max(col("res")).as("rmax"),
      avg(col("res")).as("rmean"), expr("percentile(res, 0.5)").as("rmed"),
      min(col("xmin")), min(col("ymin")), max(col("xmax")), max(col("ymax")),
      max(col("xmin")), max(col("ymin")), min(col("xmax")), min(col("ymax")),
      min_by(struct(col("xmin"), col("ymin"), col("xmax"), col("ymax"), col("res")),
             col("image_id")).as("first")
    ).head()
    val first = m.getStruct(12)
    resolveGrid(m, resStrategy, extentStrategy, first.getDouble(4),
      Extent(first.getDouble(0), first.getDouble(1), first.getDouble(2), first.getDouble(3)),
      targetCrs)
  }

  /** The res and extent strategies over one metadata aggregate row (fields
    * 0-3: res min/max/mean/median; 4-7: union extent; 8-11: intersection
    * extent), given the first image's res and extent in the target CRS. */
  private def resolveGrid(m: Row, resStrategy: String, extentStrategy: String,
                          firstRes: => Double, firstExtent: => Extent,
                          crs: String): GridSpec = {
    val res = resStrategy match {
      case "first" => firstRes
      case "min"   => m.getDouble(0)
      case "max"   => m.getDouble(1)
      case "mean"  => m.getDouble(2)
      case "med"   => m.getDouble(3)
      case "common_scale_factor" => math.sqrt(m.getDouble(1) / m.getDouble(0)) * m.getDouble(0)
      case s => s.toDouble
    }
    val extent = extentStrategy match {
      case "union" => Extent(m.getDouble(4), m.getDouble(5), m.getDouble(6), m.getDouble(7))
      case "intersection" =>
        val e = Extent(m.getDouble(8), m.getDouble(9), m.getDouble(10), m.getDouble(11))
        require(!e.isEmpty, "Input extents do not intersect") // warplib.py:404-405
        e
      case "first" => firstExtent
      case s =>
        val p = s.split("[ ,]+").map(_.toDouble); Extent(p(0), p(1), p(2), p(3))
    }
    GridSpec.fromExtentRes(extent, res, crs)
  }

  /** No-op elision test for one image grid vs the target —
    * `warp_multi` `warplib.py:479-515`: same srs, res equal and extent
    * corners aligned within precision (1e-3 projected / 1e-8 geographic),
    * AND the image grid lies on the target lattice. */
  def isAligned(g: GridSpec, target: GridSpec): Boolean = {
    val prec = GridSpec.comparePrecision(target.crs)
    def onLattice(delta: Double): Boolean =
      math.abs(delta - math.rint(delta / target.res) * target.res) < prec
    g.crs == target.crs &&
      Extent.resCompare(g.res, target.res, prec) &&
      onLattice(g.ulx - target.ulx) && onLattice(target.uly - g.uly)
  }

  /** Stages B+C: align every image to `target`, emitting per-tile rows.
    * Narrow (map-only); tiles without a single valid pixel are dropped. */
  def warpToTiles(spark: SparkSession, images: DataFrame, target: GridSpec,
                  kernel: String = "near",
                  datum: String = Proj.Wgs84): Dataset[TileRow] = {
    import spark.implicits._
    images.as[ImageRow].flatMap(img => warpOne(img, target, kernel, datum))
  }

  /** Multi-band stages B+C: align every band of every image to `target`.
    * Input rows carry band-sequential raw-float payloads (`bytes` =
    * nBands × w × h float32); each band slices out and runs the SAME
    * per-tile kernel loop as the single-band path — the distributed form
    * of the reference's per-band warp loop (`warplib.py:146-153`), with
    * per-band NDV fill falling out of the shared kernel. Still one narrow
    * map stage (images × bands fan out inside the flatMap; no shuffle);
    * at 10¹²-image scale bands multiply rows, not shuffle width, and the
    * later keyed exchanges on (band, tile_id) shuffle each band
    * independently. */
  def warpToTilesBands(spark: SparkSession, images: DataFrame, target: GridSpec,
                       nBands: Int, kernel: String = "near",
                       datum: String = Proj.Wgs84): Dataset[BandTileRow] = {
    import spark.implicits._
    require(nBands >= 1, s"nBands $nBands")
    images.as[ImageRow].flatMap { img =>
      (0 until nBands).iterator.flatMap { b =>
        val bandImg = img.copy(
          bytes = Codec.bandSlice(img.bytes, img.w, img.h, img.fmt, b, nBands))
        warpOne(bandImg, target, kernel, datum).map(t =>
          BandTileRow(t.image_id, b, t.ts_us, t.tile_id, t.tx, t.ty,
            t.payload, t.n_valid, t.elided))
      }
    }
  }

  /** `source` res/extent strategies (`parse_res` warplib.py:330-333,
    * `parse_extent` warplib.py:390-393): 'source' = each image KEEPS its
    * own value for that axis and only the axes the caller fixed are
    * normalized — warp_multi's res=None / extent=None passthrough. The
    * target grid is therefore PER-IMAGE (the reference returns a list of
    * differently-shaped datasets); `tile_id`/`tx`/`ty` index each image's
    * own grid, not a shared lattice. res='source'+extent='source' on a
    * same-CRS input is a FULL no-op: every image is grid-aligned with
    * itself, so every tile comes out `elided`. Still one narrow map stage:
    * the fixed axes resolve through the same single metadata aggregation
    * as [[analyze]] (driver scalars, broadcast as plan literals), and the
    * per-image grid is derived inside the flatMap — no extra shuffle, no
    * per-image driver loop. */
  def warpToTilesSource(spark: SparkSession, images: DataFrame,
                        resStrategy: String, extentStrategy: String,
                        tSrs: String = "first", kernel: String = "near",
                        datum: String = Proj.Wgs84): Dataset[TileRow] = {
    import spark.implicits._
    require(resStrategy == "source" || extentStrategy == "source",
      "use warpToTiles(analyze(...)) when no axis is 'source'")
    // one analyze pass resolves every NON-source axis + the target CRS;
    // 'source' axes borrow a placeholder strategy whose result is unused
    val g0 = analyze(images,
      if (resStrategy == "source") "min" else resStrategy,
      if (extentStrategy == "source") "union" else extentStrategy, tSrs, datum)
    val fixedRes = if (resStrategy == "source") None else Some(g0.res)
    val fixedExtent = if (extentStrategy == "source") None else Some(g0.extent)
    val crs = g0.crs
    images.as[ImageRow].flatMap { img =>
      val g = GridSpec(img.ulx, img.uly, img.res, img.crs, img.w, img.h)
      val sameCrs = g.crs == crs
      val res = fixedRes.getOrElse(if (sameCrs) g.res else Proj.resIn(g, crs, datum))
      val ext = fixedExtent.getOrElse(
        if (sameCrs) g.extent else Proj.projectExtent(g.extent, g.crs, crs, datum = datum))
      warpOne(img, GridSpec.fromExtentRes(ext, res, crs), kernel, datum)
    }
  }

  /** Target-pixel bounds of an image grid's overlap with the target
    * (clamped), or None when disjoint — the tile-assignment arithmetic of
    * warpOne, exposed for the SQL-twinned assignment oracle (q63). The
    * source footprint is projected into the target CRS first (identity
    * short-circuit keeps the same-CRS arithmetic byte-stable). */
  def pixelBounds(g: GridSpec, target: GridSpec,
                  datum: String = Proj.Wgs84): Option[(Int, Int, Int, Int)] = {
    val srcExt =
      if (g.crs == target.crs) g.extent
      else Proj.projectExtent(g.extent, g.crs, target.crs, datum = datum)
    val inter = srcExt.intersection(target.extent).getOrElse(return None)
    val px0 = math.max(0, math.floor((inter.xmin - target.ulx) / target.res).toInt)
    val px1 = math.min(target.w - 1, math.ceil((inter.xmax - target.ulx) / target.res).toInt - 1)
    val py0 = math.max(0, math.floor((target.uly - inter.ymax) / target.res).toInt)
    val py1 = math.min(target.h - 1, math.ceil((target.uly - inter.ymin) / target.res).toInt - 1)
    if (px1 < px0 || py1 < py0) None else Some((px0, px1, py0, py1))
  }

  /** Warp one image onto the target grid, cut into tiles. The image
    * decodes with its own `ndv`; the tiles are `ImageTable.Ndv`-filled. */
  def warpOne(img: ImageRow, target: GridSpec, kernel: String,
              datum: String = Proj.Wgs84): Iterator[TileRow] = {
    val g = GridSpec(img.ulx, img.uly, img.res, img.crs, img.w, img.h)
    val (px0, px1, py0, py1) =
      pixelBounds(g, target, datum).getOrElse(return Iterator.empty)
    val src = Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
    val ndv = img.ndv.toFloat
    val ntx = tileGrid(target)._1
    val aligned = isAligned(g, target)
    // cross-CRS resample: inverse-project each target pixel-center map
    // coordinate into the source CRS, then sample as usual (ReprojectImage
    // parity, warplib.py:196); same-CRS keeps the identity fast path
    val cross = g.crs != target.crs
    val toSrc = if (cross) Proj.transform(target.crs, g.crs, datum) else null
    val pooledKernel = kernel == "average" || kernel == "mode"
    val tsUs = img.ts.getTime * 1000L

    val tx0 = px0 / TileSize; val tx1 = px1 / TileSize
    val ty0 = py0 / TileSize; val ty1 = py1 / TileSize

    // integer offsets for the elided fast path (pixel-for-pixel copy):
    // source px = target px + off, from equating pixel-center map coords
    val offX = math.rint((target.ulx - g.ulx) / target.res).toInt
    val offY = math.rint((g.uly - target.uly) / target.res).toInt

    (for {
      ty <- (ty0 to ty1).iterator
      tx <- (tx0 to tx1).iterator
    } yield {
      val payload = Pixels.filled(TileSize * TileSize, ImageTable.Ndv)
      var nValid = 0
      var py = math.max(py0, ty * TileSize)
      val pyEnd = math.min(py1, (ty + 1) * TileSize - 1)
      while (py <= pyEnd) {
        var px = math.max(px0, tx * TileSize)
        val pxEnd = math.min(px1, (tx + 1) * TileSize - 1)
        while (px <= pxEnd) {
          val v: Float =
            if (aligned) {
              val sx = px + offX; val sy = py + offY
              if (sx >= 0 && sx < img.w && sy >= 0 && sy < img.h) src(sy * img.w + sx) else ndv
            } else {
              val (tx0m, ty0m) = target.pixelToMap(px, py)
              val (mx, my) = if (cross) toSrc(tx0m, ty0m) else (tx0m, ty0m)
              // pooled kernels need the target footprint in SOURCE units:
              // local step = distance to the next target center, projected
              val tRes =
                if (!cross || !pooledKernel) target.res
                else {
                  val (nx, ny) = toSrc(tx0m + target.res, ty0m)
                  math.hypot(nx - mx, ny - my)
                }
              Resample.sample(src, img.w, img.h, g, mx, my, kernel, ndv, tRes)
            }
          if (v != ndv) {
            payload((py - ty * TileSize) * TileSize + (px - tx * TileSize)) = v
            nValid += 1
          }
          px += 1
        }
        py += 1
      }
      TileRow(img.image_id, tsUs, ty.toLong * ntx + tx, tx, ty, payload, nValid, aligned)
    }).filter(_.n_valid > 0)
  }
}

/** Resampling kernels — `parse_rs_alg` `warplib.py:238-262` (near, bilinear,
  * cubic, cubicspline, lanczos, average, mode), NDV-aware. Bilinear
  * renormalizes over valid neighbors; cubic is Catmull-Rom a=-0.5 falling
  * back to bilinear when the 4×4 support has gaps; cubicspline is the cubic
  * B-spline approximator (4×4, non-negative weights); lanczos is the a=3
  * windowed sinc (6×6); average/mode pool source pixels whose centers land
  * in the target pixel footprint (the downsampling semantics). */
object Resample {
  def sample(src: Array[Float], w: Int, h: Int, g: GridSpec,
             mx: Double, my: Double, kernel: String, ndv: Float,
             targetRes: Double): Float = kernel match {
    case "near"        => near(src, w, h, g, mx, my, ndv)
    case "bilinear"    => bilinear(src, w, h, g, mx, my, ndv)
    case "cubic"       => cubic(src, w, h, g, mx, my, ndv)
    case "cubicspline" => separable(src, w, h, g, mx, my, ndv, 2, bsplineWeight)
    case "lanczos"     => separable(src, w, h, g, mx, my, ndv, 3, lanczosWeight)
    case "average"     => pooled(src, w, h, g, mx, my, ndv, targetRes, mode = false)
    case "mode"        => pooled(src, w, h, g, mx, my, ndv, targetRes, mode = true)
    case k => throw new IllegalArgumentException(s"unknown kernel $k")
  }

  def near(src: Array[Float], w: Int, h: Int, g: GridSpec,
           mx: Double, my: Double, ndv: Float): Float = {
    val (cx, cy) = g.mapToCell(mx, my)
    if (cx < 0 || cx >= w || cy < 0 || cy >= h) ndv else src(cy * w + cx)
  }

  def bilinear(src: Array[Float], w: Int, h: Int, g: GridSpec,
               mx: Double, my: Double, ndv: Float): Float = {
    val (pxf, pyf) = g.mapToPixel(mx, my)   // fractional, center-based
    val x0 = math.floor(pxf).toInt; val y0 = math.floor(pyf).toInt
    val fx = pxf - x0; val fy = pyf - y0
    var sum = 0.0; var wsum = 0.0
    var dy = 0
    while (dy <= 1) {
      var dx = 0
      while (dx <= 1) {
        val x = x0 + dx; val y = y0 + dy
        if (x >= 0 && x < w && y >= 0 && y < h) {
          val v = src(y * w + x)
          if (v != ndv) {
            val wt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
            sum += v * wt; wsum += wt
          }
        }
        dx += 1
      }
      dy += 1
    }
    if (wsum <= 0) ndv else (sum / wsum).toFloat
  }

  private def cubicWeight(t: Double): Double = {
    val a = -0.5
    val at = math.abs(t)
    if (at <= 1) (a + 2) * at * at * at - (a + 3) * at * at + 1
    else if (at < 2) a * at * at * at - 5 * a * at * at + 8 * a * at - 4 * a
    else 0.0
  }

  def cubic(src: Array[Float], w: Int, h: Int, g: GridSpec,
            mx: Double, my: Double, ndv: Float): Float = {
    val (pxf, pyf) = g.mapToPixel(mx, my)
    val x0 = math.floor(pxf).toInt; val y0 = math.floor(pyf).toInt
    var sum = 0.0; var wsum = 0.0; var gap = false
    var dy = -1
    while (dy <= 2) {
      var dx = -1
      while (dx <= 2) {
        val x = x0 + dx; val y = y0 + dy
        val wt = cubicWeight(pxf - x) * cubicWeight(pyf - y)
        if (x >= 0 && x < w && y >= 0 && y < h && src(y * w + x) != ndv) {
          sum += src(y * w + x) * wt; wsum += wt
        } else if (wt != 0.0) gap = true
        dx += 1
      }
      dy += 1
    }
    if (gap || wsum == 0) bilinear(src, w, h, g, mx, my, ndv)
    else (sum / wsum).toFloat
  }

  /** Cubic B-spline basis — the `cubicspline` alg (`warplib.py:238-262`
    * lists GDAL's GRA_CubicSpline): smoothing approximator, weights ≥ 0,
    * support radius 2. */
  def bsplineWeight(t: Double): Double = {
    val at = math.abs(t)
    if (at <= 1) (4.0 - 6.0 * at * at + 3.0 * at * at * at) / 6.0
    else if (at < 2) { val u = 2.0 - at; u * u * u / 6.0 }
    else 0.0
  }

  /** Lanczos a=3 windowed sinc (`GRA_Lanczos`): support radius 3, negative
    * lobes (sharpening). */
  def lanczosWeight(t: Double): Double = {
    val at = math.abs(t)
    if (at < 1e-12) 1.0
    else if (at >= 3.0) 0.0
    else {
      val pt = math.Pi * t
      3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt)
    }
  }

  /** Generic separable kernel of support radius r over the (2r)² neighborhood
    * around the fractional source pixel; same gap policy as `cubic`: any
    * missing support pixel with nonzero weight → fall back to bilinear
    * (mask-safe: a negative-lobe kernel must never interpolate across NDV). */
  def separable(src: Array[Float], w: Int, h: Int, g: GridSpec,
                mx: Double, my: Double, ndv: Float, r: Int,
                weight: Double => Double): Float = {
    val (pxf, pyf) = g.mapToPixel(mx, my)
    val x0 = math.floor(pxf).toInt; val y0 = math.floor(pyf).toInt
    var sum = 0.0; var wsum = 0.0; var gap = false
    var dy = 1 - r
    while (dy <= r) {
      var dx = 1 - r
      while (dx <= r) {
        val x = x0 + dx; val y = y0 + dy
        val wt = weight(pxf - x) * weight(pyf - y)
        if (x >= 0 && x < w && y >= 0 && y < h && src(y * w + x) != ndv) {
          sum += src(y * w + x) * wt; wsum += wt
        } else if (wt != 0.0) gap = true
        dx += 1
      }
      dy += 1
    }
    if (gap || wsum == 0) bilinear(src, w, h, g, mx, my, ndv)
    else (sum / wsum).toFloat
  }

  /** Pool all source pixels whose centers fall inside the target pixel
    * footprint [mx±res/2, my±res/2]; mean (average) or plurality value with
    * smallest-value tie-break (mode; `GRA_Mode` precedent `warplib.py:256-258`). */
  def pooled(src: Array[Float], w: Int, h: Int, g: GridSpec,
             mx: Double, my: Double, ndv: Float, targetRes: Double,
             mode: Boolean): Float = {
    val (px0, py1) = g.mapToPixel(mx - targetRes / 2, my - targetRes / 2)
    val (px1, py0) = g.mapToPixel(mx + targetRes / 2, my + targetRes / 2)
    val x0 = math.max(0, math.ceil(px0 - 0.5).toInt)
    val x1 = math.min(w - 1, math.floor(px1 + 0.5).toInt)
    val y0 = math.max(0, math.ceil(py0 - 0.5).toInt)
    val y1 = math.min(h - 1, math.floor(py1 + 0.5).toInt)
    if (x1 < x0 || y1 < y0) return near(src, w, h, g, mx, my, ndv)
    if (!mode) {
      var sum = 0.0; var n = 0
      var y = y0
      while (y <= y1) {
        var x = x0
        while (x <= x1) {
          val v = src(y * w + x); if (v != ndv) { sum += v; n += 1 }; x += 1
        }
        y += 1
      }
      if (n == 0) ndv else (sum / n).toFloat
    } else {
      val counts = scala.collection.mutable.HashMap.empty[Float, Int]
      var y = y0
      while (y <= y1) {
        var x = x0
        while (x <= x1) {
          val v = src(y * w + x); if (v != ndv) counts(v) = counts.getOrElse(v, 0) + 1
          x += 1
        }
        y += 1
      }
      if (counts.isEmpty) ndv
      else counts.toSeq.sortBy { case (v, n) => (-n, v) }.head._1
    }
  }
}
