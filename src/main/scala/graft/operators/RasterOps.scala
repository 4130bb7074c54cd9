package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Extent, GridSpec, Polygon, Ring, Wkb}
import graft.sources.{Codec, ImageRow}
import graft.sources.ImageTable.Ndv

/** Per-image / pairwise raster operators. */
object RasterOps {

  /** Pixelwise difference of two aligned layers — the README flagship
    * ("warp two rasters → difference → stats"): one keyed exchange on
    * tile_id over both sides (`StackOps.taggedUnion`), mask-OR null
    * propagation (`common_mask` `malib.py:1295-1313`). Each side must
    * hold ONE layer per tile_id (enforced) — diffing raw stacks would emit
    * an |A|×|B| cross product per tile, not raster−raster semantics; reduce
    * stacks first (e.g. StackOps.compositeMean). */
  def tileDiff(a: Dataset[TileRow], b: Dataset[TileRow]): Dataset[TileRow] = {
    val spark = a.sparkSession
    import spark.implicits._
    val union = StackOps.taggedUnion[(Long, TileRow, TileRow)]("tile_id",
      a.toDF() -> 0, b.toDF() -> 1)
    StackOps.keyedRuns(union, StackOps.foldWidth(spark), "_1")(_._1) { (tid, run) =>
      val rows = run.toSeq
      val as = rows.flatMap(r => Option(r._2)); val bs = rows.flatMap(r => Option(r._3))
      if (as.isEmpty || bs.isEmpty) Iterator.empty
      else {
        val ta = as.head; val tb = bs.head
        require(as.size == 1 && bs.size == 1,
          s"tileDiff: multiple layers per side for tile_id $tid — reduce each " +
          "side to one composite layer first (StackOps.compositeMean)")
        val out = new Array[Float](ta.payload.length)
        var n = 0
        var i = 0
        while (i < out.length) {
          val va = ta.payload(i); val vb = tb.payload(i)
          if (va != Ndv && vb != Ndv) { out(i) = va - vb; n += 1 } else out(i) = Ndv
          i += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single(TileRow(s"${ta.image_id}-${tb.image_id}", ta.ts_us,
          ta.tile_id, ta.tx, ta.ty, out, n, elided = false))
      }
    }
  }

  /** Global stats of a tile set (the reference's post-diff `print_stats`):
    * one-row count/mean/std/min/max/med/nmad via the explode path. */
  def tileStats(tiles: Dataset[TileRow]): DataFrame = {
    val cells = StackOps.toCells(tiles)
    val med = cells.agg(expr("percentile(v, 0.5)").as("med"))
    cells.crossJoin(med).agg(
      count(lit(1)).as("cnt"),
      round(avg(col("v")), 6).as("vmean"),
      round(stddev_pop(col("v")), 6).as("vstd"),
      round(min(col("v")), 6).as("vmin"),
      round(max(col("v")), 6).as("vmax"),
      round(first(col("med")), 6).as("vmed"),
      round(expr("1.4826 * percentile(abs(v - med), 0.5)"), 6).as("vnmad"))
  }

  /** NDV-margin trim — `edgefind2`/`ndv_trim` `malib.py:1440-1462`: min/max
    * valid row/col, crop payload, shift the geotransform UL
    * (`trim_ndv.py:41-47`). Returns None for fully-masked images. */
  def ndvTrim(img: ImageRow): Option[ImageRow] = {
    val px = Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
    val ndv = img.ndv.toFloat
    var x0 = img.w; var x1 = -1; var y0 = img.h; var y1 = -1
    var y = 0
    while (y < img.h) {
      var x = 0
      while (x < img.w) {
        if (px(y * img.w + x) != ndv) {
          if (x < x0) x0 = x; if (x > x1) x1 = x
          if (y < y0) y0 = y; if (y > y1) y1 = y
        }
        x += 1
      }
      y += 1
    }
    if (x1 < 0) return None
    val nw = x1 - x0 + 1; val nh = y1 - y0 + 1
    val out = new Array[Float](nw * nh)
    y = 0
    while (y < nh) {
      System.arraycopy(px, (y0 + y) * img.w + x0, out, y * nw, nw)
      y += 1
    }
    Some(img.copy(
      bytes = Codec.encode(out, nw, nh, "raw"), w = nw, h = nh, fmt = "raw",
      ulx = img.ulx + x0 * img.res, uly = img.uly - y0 * img.res))
  }

  /** 2-D FFT of a (pow2 × pow2) real field, in place: row FFTs then column
    * FFTs (separability), via the radix-2 kernel shared with the audio
    * modality. `inverse = true` runs the conjugate trick x̄ → FFT → x̄/N. */
  def fft2(re: Array[Double], im: Array[Double], w: Int, h: Int,
           inverse: Boolean = false): Unit = {
    require(re.length == w * h && im.length == w * h)
    if (inverse) { var i = 0; while (i < im.length) { im(i) = -im(i); i += 1 } }
    val rowR = new Array[Double](w); val rowI = new Array[Double](w)
    var y = 0
    while (y < h) {
      System.arraycopy(re, y * w, rowR, 0, w); System.arraycopy(im, y * w, rowI, 0, w)
      Audio.fft(rowR, rowI)
      System.arraycopy(rowR, 0, re, y * w, w); System.arraycopy(rowI, 0, im, y * w, w)
      y += 1
    }
    val colR = new Array[Double](h); val colI = new Array[Double](h)
    var x = 0
    while (x < w) {
      var yy = 0
      while (yy < h) { colR(yy) = re(yy * w + x); colI(yy) = im(yy * w + x); yy += 1 }
      Audio.fft(colR, colI)
      yy = 0
      while (yy < h) { re(yy * w + x) = colR(yy); im(yy * w + x) = colI(yy); yy += 1 }
      x += 1
    }
    if (inverse) {
      val n = (w * h).toDouble
      var i = 0
      while (i < re.length) { im(i) = -im(i) / n; re(i) = re(i) / n; i += 1 }
    }
  }

  /** Frequency-domain filter — `freq_filt` `filtlib.py:565-614`, the
    * reference's explicitly UNFINISHED 2-D FFT framework ("might be a dead
    * end"), finished here: gaps take the valid mean (the deterministic
    * stand-in for `malib.randomfill`, filtlib.py:580), forward 2-D FFT,
    * multiply by a radial mask in centered frequency space (`keepBelow` =
    * low-pass radius in cycles, the "remove the CCD artifact band" use),
    * inverse FFT, restore the original mask. Whole-raster by nature (a
    * global basis change): at 100 TB this runs per image/window like the
    * other typed map stages, NOT per tile — spatial-domain stencils are the
    * tiled path. Dims must be powers of 2 (callers window or pad). */
  def freqFilter(px: Array[Float], w: Int, h: Int, ndv: Float,
                 keepBelow: Double): Array[Float] = {
    var sum = 0.0; var n = 0
    var i = 0
    while (i < px.length) { if (px(i) != ndv) { sum += px(i); n += 1 }; i += 1 }
    if (n == 0) return px.clone()
    val mean = sum / n
    val re = new Array[Double](w * h); val im = new Array[Double](w * h)
    i = 0
    while (i < re.length) { re(i) = if (px(i) != ndv) px(i) else mean; i += 1 }
    fft2(re, im, w, h)
    var y = 0
    while (y < h) {
      val fy = if (y <= h / 2) y else y - h   // centered frequency coords
      var x = 0
      while (x < w) {
        val fx = if (x <= w / 2) x else x - w
        val r = math.sqrt(fx.toDouble * fx + fy.toDouble * fy)
        if (r > keepBelow) { re(y * w + x) = 0.0; im(y * w + x) = 0.0 }
        x += 1
      }
      y += 1
    }
    fft2(re, im, w, h, inverse = true)
    val out = new Array[Float](w * h)
    i = 0
    while (i < out.length) { out(i) = if (px(i) != ndv) re(i).toFloat else ndv; i += 1 }
    out
  }

  /** Dominant non-DC spatial frequency of a pow2 window, restricted to the
    * canonical half-plane (ky in 1..h/2−1 full kx, plus ky=0 with kx in
    * 1..w/2−1): real input has exact conjugate symmetry |X[k]| =
    * |X[−k mod N]|, so an unrestricted argmax would tie every peak with its
    * mirror and flip between engines on 1-ulp differences. Integer output —
    * the q85 robustness argument, in 2-D. */
  def freqDominant(px: Array[Float], w: Int, h: Int, ndv: Float): (Int, Int) = {
    var sum = 0.0; var n = 0
    var i = 0
    while (i < px.length) { if (px(i) != ndv) { sum += px(i); n += 1 }; i += 1 }
    val mean = if (n > 0) sum / n else 0.0
    val re = new Array[Double](w * h); val im = new Array[Double](w * h)
    i = 0
    while (i < re.length) { re(i) = if (px(i) != ndv) px(i) else mean; i += 1 }
    fft2(re, im, w, h)
    var best = (1, 0); var bestMag = -1.0
    var ky = 0
    while (ky < h / 2) {
      var kx = if (ky == 0) 1 else 0
      val kxEnd = if (ky == 0) w / 2 else w
      while (kx < kxEnd) {
        val m = re(ky * w + kx) * re(ky * w + kx) + im(ky * w + kx) * im(ky * w + kx)
        if (m > bestMag) { bestMag = m; best = (kx, ky) }
        kx += 1
      }
      ky += 1
    }
    best
  }

  /** Edge-envelope mask — `get_edges`/`get_edgemask`/`apply_edgemask`
    * (`malib.py:752-831`): a pixel belongs to the envelope iff it lies
    * between the first and last valid pixel of its COLUMN and of its ROW
    * (`newmask = colmask OR rowmask` — masked when outside either span).
    * `apply_edgemask` semantics: interior holes inside both spans are
    * re-included (the reference unmasks them; with a sentinel payload their
    * data is gone, so here they carry `fillValue`, default ndv — callers
    * that want filled holes chain `Stencil.fillGaps`). Returns
    * (payload with envelope applied, n_envelope). */
  def edgeEnvelope(img: ImageRow, fillValue: Option[Float] = None): (Array[Float], Int) = {
    val px = Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
    val ndv = img.ndv.toFloat
    val w = img.w; val h = img.h
    val rFirst = Array.fill(h)(w); val rLast = Array.fill(h)(-1)
    val cFirst = Array.fill(w)(h); val cLast = Array.fill(w)(-1)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (px(y * w + x) != ndv) {
          if (x < rFirst(y)) rFirst(y) = x; if (x > rLast(y)) rLast(y) = x
          if (y < cFirst(x)) cFirst(x) = y; if (y > cLast(x)) cLast(x) = y
        }
        x += 1
      }
      y += 1
    }
    val out = Pixels.filled(w * h, ndv)
    var n = 0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (x >= rFirst(y) && x <= rLast(y) && y >= cFirst(x) && y <= cLast(x)) {
          val v = px(y * w + x)
          out(y * w + x) = if (v != ndv) v else fillValue.getOrElse(ndv)
          n += 1
        }
        x += 1
      }
      y += 1
    }
    (out, n)
  }

  /** Valid-data outline (raster → vector) — `get_outline` `geolib.py:828-894`
    * via the notmasked-edges-along-axis-0 construction (`geolib.py:862-873`):
    * per column, first and last valid row; top edge walked left→right at the
    * first-valid boundary, bottom edge right→left, closed into a polygon in
    * map coordinates (pixel centers, like the reference's pixelToMap call). */
  def outline(img: ImageRow, simplify: Boolean = false,
              convex: Boolean = false): Option[Array[Byte]] = {
    val px = Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
    val ndv = img.ndv.toFloat
    val g = GridSpec(img.ulx, img.uly, img.res, img.crs, img.w, img.h)
    val top = new Array[Int](img.w); val bot = new Array[Int](img.w)
    java.util.Arrays.fill(top, -1)
    var x = 0
    while (x < img.w) {
      var y = 0
      while (y < img.h) {
        if (px(y * img.w + x) != ndv) {
          if (top(x) < 0) top(x) = y
          bot(x) = y
        }
        y += 1
      }
      x += 1
    }
    val cols = (0 until img.w).filter(top(_) >= 0)
    if (cols.isEmpty) return None
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ys = scala.collection.mutable.ArrayBuffer.empty[Double]
    cols.foreach { c =>
      val (mx, my) = g.pixelToMap(c.toDouble, top(c).toDouble)
      xs += mx; ys += my
    }
    cols.reverse.foreach { c =>
      val (mx, my) = g.pixelToMap(c.toDouble, bot(c).toDouble)
      xs += mx; ys += my
    }
    xs += xs.head; ys += ys.head
    var geom = graft.geo.MultiPolygon(Seq(Polygon(Ring(xs.toArray, ys.toArray), Nil)))
    // 2-px simplify tolerance / convex hull, geolib.py:884-891
    if (simplify) geom = graft.geo.Geom.simplify(geom, 2.0 * img.res)
    if (convex) geom = graft.geo.MultiPolygon(Seq(graft.geo.Geom.convexHull(geom)))
    Some(Wkb.writePolygon(geom.polys.head))
  }

  /** 2-D polynomial surface fit — `polyfit2d`/`ma_fitpoly`
    * `geolib.py:1839-1914`: least squares over the monomial basis
    * {x^i·y^j : i+j ≤ degree} via normal-equation sums aggregated
    * distributed, solved on the driver (Gaussian elimination with partial
    * pivoting), coefficients broadcast back for the residual column — the
    * plan SURVEY §2.9 prescribes. Returns (coeffs, residual DataFrame). */
  def fitPoly2D(pts: DataFrame, degree: Int = 2): (Array[Double], DataFrame) = {
    import org.apache.spark.sql.Row
    val terms = for { i <- 0 to degree; j <- 0 to degree - i } yield (i, j)
    val nT = terms.length
    // Center/scale coordinates before building the monomial basis: with
    // map-scale inputs (UTM x ~ 5e5, y ~ 5e6) raw degree-2 monomials reach
    // ~1e26 and the normal equations are numerically singular. The fit runs
    // in u = (x−mx)/sx, v = (y−my)/sy; coefficients are expanded back to the
    // raw x^i·y^j basis afterwards (binomial shift + power scale).
    val st: Row = pts.agg(avg(col("x")), stddev_pop(col("x")),
                          avg(col("y")), stddev_pop(col("y"))).head()
    val mx = st.getDouble(0); val sx = if (st.getDouble(1) > 0) st.getDouble(1) else 1.0
    val my = st.getDouble(2); val sy = if (st.getDouble(3) > 0) st.getDouble(3) else 1.0
    val u = (col("x") - mx) / sx
    val v = (col("y") - my) / sy
    def term(i: Int, j: Int) = pow(u, i) * pow(v, j)
    // A^T A (nT x nT) and A^T z (nT) as one aggregation row
    val prods =
      (for (a <- 0 until nT; b <- a until nT) yield {
        val (i1, j1) = terms(a); val (i2, j2) = terms(b)
        sum(term(i1 + i2, j1 + j2)).as(s"m_${a}_$b")
      }) ++
      (for (a <- 0 until nT) yield {
        val (i, j) = terms(a)
        sum(term(i, j) * col("z")).as(s"v_$a")
      })
    val row: Row = pts.agg(prods.head, prods.tail: _*).head()
    val m = Array.ofDim[Double](nT, nT + 1)
    var idx = 0
    for (a <- 0 until nT; b <- a until nT) {
      m(a)(b) = row.getDouble(idx); m(b)(a) = m(a)(b); idx += 1
    }
    for (a <- 0 until nT) { m(a)(nT) = row.getDouble(idx); idx += 1 }
    val normInf = (0 until nT).map(a => (0 until nT).map(b => math.abs(m(a)(b))).sum).max
    // Gaussian elimination with partial pivoting; singularity threshold
    // relative to the matrix norm, not absolute
    for (c <- 0 until nT) {
      var piv = c
      for (r <- c + 1 until nT) if (math.abs(m(r)(c)) > math.abs(m(piv)(c))) piv = r
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      require(math.abs(m(c)(c)) > 1e-12 * math.max(1.0, normInf),
        "singular normal equations (degenerate inputs)")
      for (r <- 0 until nT if r != c) {
        val f = m(r)(c) / m(c)(c)
        for (k <- c to nT) m(r)(k) -= f * m(c)(k)
      }
    }
    val cScaled = Array.tabulate(nT)(a => m(a)(nT) / m(a)(a))
    // expand Σ c_ij·u^i·v^j back to raw x^k·y^l coefficients:
    // u^i = Σ_k C(i,k)·x^k·(−mx)^(i−k) / sx^i (and likewise v^j)
    def binom(n: Int, k: Int): Double =
      (1 to k).foldLeft(1.0)((acc, t) => acc * (n - t + 1) / t)
    val termIdx = terms.zipWithIndex.toMap
    val coef = new Array[Double](nT)
    for (((i, j), a) <- terms.zipWithIndex; k <- 0 to i; l <- 0 to j) {
      coef(termIdx((k, l))) +=
        cScaled(a) * binom(i, k) * math.pow(-mx, i - k) / math.pow(sx, i) *
                     binom(j, l) * math.pow(-my, j - l) / math.pow(sy, j)
    }
    // fit/residual evaluated in the scaled basis (the stable form)
    val fitted = terms.zipWithIndex.map { case ((i, j), a) =>
      term(i, j) * lit(cScaled(a))
    }.reduce(_ + _)
    (coef, pts.withColumn("fit", fitted).withColumn("resid", col("z") - col("fit")))
  }

  /** Subsampled read — `ds_getma_sub`/`get_sub_dim` `iolib.py:164-247`:
    * decimate so max(w, h) ≤ maxdim (scale = max(w, h)/maxdim, output dims
    * rounded like the reference), res scaled accordingly. The cheap-scan
    * path for stats over large rasters — pair with `statsStride` for the
    * reference's full bounded-stats flow. */
  def subsample(img: ImageRow, maxdim: Int = 1024): ImageRow = {
    if (math.max(img.w, img.h) <= maxdim) return img
    val scale = math.max(img.w.toDouble / maxdim, img.h.toDouble / maxdim)
    val nw = math.rint(img.w / scale).toInt
    val nh = math.rint(img.h / scale).toInt
    val px = Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
    val out = new Array[Float](nw * nh)
    var y = 0
    while (y < nh) {
      val sy = math.min(img.h - 1, (y * scale).toInt)
      var x = 0
      while (x < nw) {
        out(y * nw + x) = px(sy * img.w + math.min(img.w - 1, (x * scale).toInt))
        x += 1
      }
      y += 1
    }
    img.copy(bytes = Codec.encode(out, nw, nh, "raw"), w = nw, h = nh, fmt = "raw",
             res = img.res * scale)
  }

  /** The reference's bounded-stats stride — `get_stats` `malib.py:1612-1624`:
    * above `thresh` valid values, stats run on every-`stride`-th value with
    * stride = round(count/thresh). Returns the stride to APPLY (1 = exact);
    * the deterministic q61 stride-sample query is the relational twin. */
  def statsStride(validCount: Long, thresh: Long = 4000000L): Int =
    if (validCount < thresh) 1 else math.max(1, math.rint(validCount.toDouble / thresh).toInt)

  /** `maskfill` — `malib.py:1352-1375` (binary_fill_holes): invalid regions
    * NOT connected to the image border are interior holes. Returns the
    * edge-connected invalid mask (true = outside the filled footprint) —
    * exactly the mask the reference applies after inpainting so interior
    * fills survive but the outer margin stays masked. BFS flood fill from
    * every border invalid pixel (4-connectivity, scipy's default). */
  def maskFillHoles(px: Array[Float], w: Int, h: Int, ndv: Float): Array[Boolean] = {
    val outside = new Array[Boolean](w * h)
    val queue = new java.util.ArrayDeque[Int]()
    def push(i: Int): Unit =
      if (!outside(i) && px(i) == ndv) { outside(i) = true; queue.add(i) }
    var x = 0
    while (x < w) { push(x); push((h - 1) * w + x); x += 1 }
    var y = 0
    while (y < h) { push(y * w); push(y * w + w - 1); y += 1 }
    while (!queue.isEmpty) {
      val i = queue.poll()
      val cx = i % w; val cy = i / w
      if (cx > 0) push(i - 1)
      if (cx < w - 1) push(i + 1)
      if (cy > 0) push(i - w)
      if (cy < h - 1) push(i + w)
    }
    outside
  }

  /** `maskfill_edgeinclude` — `malib.py:1377-1391`: morphological OPENING of
    * the invalid mask (erode then dilate, k iterations, box structuring):
    * thin invalid intrusions vanish, bulk invalid regions keep their shape.
    * Returns the opened invalid mask (true = masked). */
  def maskfillEdgeInclude(px: Array[Float], w: Int, h: Int, ndv: Float,
                          iterations: Int = 1): Array[Boolean] = {
    var cur = Array.tabulate(w * h)(i => px(i) == ndv)
    def pass(src: Array[Boolean], erode: Boolean): Array[Boolean] = {
      val out = new Array[Boolean](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var acc = erode // erode: AND over window; dilate: OR
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              val xx = x + dx; val yy = y + dy
              // out-of-image counts as invalid (scipy pads with False for
              // erosion of the mask? the reference erodes the INVALID mask;
              // border behavior: treat outside as invalid = true)
              val v = if (xx < 0 || xx >= w || yy < 0 || yy >= h) true
                      else src(yy * w + xx)
              if (erode) acc &= v else acc |= v
              dx += 1
            }
            dy += 1
          }
          out(y * w + x) = acc
          x += 1
        }
        y += 1
      }
      out
    }
    for (_ <- 0 until iterations) cur = pass(cur, erode = true)
    for (_ <- 0 until iterations) cur = pass(cur, erode = false)
    cur
  }

  /** dz filter — `dz_fltr_ma` `filtlib.py:411-441`: mask src pixels where
    * |src − ref| is outside [lo, hi]; join on tile_id. */
  def dzFilter(src: Dataset[TileRow], ref: Dataset[TileRow], lo: Double,
               hi: Double): Dataset[TileRow] = {
    val spark = src.sparkSession
    import spark.implicits._
    src.joinWith(ref, src("tile_id") === ref("tile_id"), "inner").map { case (ts, tr) =>
      val out = ts.payload.clone()
      var n = 0
      var i = 0
      while (i < out.length) {
        if (out(i) != Ndv) {
          val r = tr.payload(i)
          val dz = if (r == Ndv) Double.NaN else math.abs(out(i) - r)
          if (dz.isNaN || dz < lo || dz > hi) out(i) = Ndv else n += 1
        }
        i += 1
      }
      ts.copy(payload = out, n_valid = n)
    }.filter(_.n_valid > 0)
  }
}
