package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Extent, GridSpec, PlanarCell}
import graft.sources.{Codec, ImageRow, ImageTable}

/** Point sampling of rasters — `sample` `geolib.py:914-1016`: map the point
  * into each overlapping image, read a (2·pad+1)² window, aggregate it by
  * median + NMAD, and null the sample when the window's valid fraction is
  * below `minSampPerc` (`geolib.py:953-954`, default 50 %) or holds no
  * valid pixel at all (the reference masks such samples).
  *
  * Join shape: images flatMap to covering cells of their extent — METADATA
  * ONLY, (cell_id, image_id) — points map to one cell, equi join on cell,
  * then the matched (point, image) pairs and the images meet in one keyed
  * exchange on image_id (`StackOps.taggedUnion`). The binary payload is
  * shuffled exactly once per image (never per covering cell, never per
  * matched point). Each image's run holds its points until the image row
  * arrives, then refines them (`pt_within_extent` `geolib.py:1332-1335`)
  * and decodes the image at most once, only when a point falls inside. */
object Sampling {
  final case class Probe(pt_id: String, x: Double, y: Double)

  def pointSample(spark: SparkSession, points: DataFrame, images: DataFrame,
                  cellSize: Double = 256.0, pad: Int = 1,
                  minSampPerc: Double = 0.5): DataFrame = {
    import spark.implicits._
    val imgCells = images
      .select("image_id", "w", "h", "ulx", "uly", "res")
      .flatMap { r =>
        val w = r.getInt(1); val h = r.getInt(2)
        val ulx = r.getDouble(3); val uly = r.getDouble(4); val res = r.getDouble(5)
        val e = Extent(ulx, uly - h * res, ulx + w * res, uly)
        PlanarCell.cover(e, cellSize).map(c => (c, r.getString(0)))
      }
      .toDF("cell_id", "image_id")

    val pts = points.withColumn("cell_id",
      graft.functions.GraftFunctions.planarCell(col("x"), col("y"), lit(cellSize)))

    // a point lies in exactly one cell and an image covers a cell at most
    // once, so the pair set is duplicate-free by construction
    val pairs = pts.join(imgCells, Seq("cell_id"))

    val union = StackOps.taggedUnion[(String, ImageRow, Probe)]("image_id", images -> 0, pairs -> 1)
    StackOps.keyedRuns(union, StackOps.foldWidth(spark), "_1")(_._1) { (_, run) =>
      var img: ImageRow = null
      val held = scala.collection.mutable.ArrayBuffer.empty[Probe]
      run.foreach { case (_, i, p) => if (i != null) img = i else held += p }
      if (img == null) Iterator.empty
      else {
        val w = img.w; val h = img.h
        val ndv = img.ndv
        val g = GridSpec(img.ulx, img.uly, img.res, "", w, h)
        var px: Array[Float] = null // decoded lazily, once per image run
        held.iterator.flatMap { case Probe(ptId, x, y) =>
          if (!g.extent.containsPoint(x, y)) None
          else {
            if (px == null) px = Codec.decode(img.bytes, w, h, img.fmt, ndv.toFloat)
            val (cx, cy) = g.mapToCell(x, y)
            val vals = scala.collection.mutable.ArrayBuffer.empty[Float]
            var total = 0
            var dy = -pad
            while (dy <= pad) {
              var dx = -pad
              while (dx <= pad) {
                total += 1
                val xx = cx + dx; val yy = cy + dy
                if (xx >= 0 && xx < w && yy >= 0 && yy < h) {
                  val v = px(yy * w + xx)
                  if (v != ndv.toFloat) vals += v
                }
                dx += 1
              }
              dy += 1
            }
            if (vals.isEmpty || vals.size < minSampPerc * total) None
            else {
              val sorted = vals.sorted
              val n = sorted.size
              val med = if (n % 2 == 1) sorted(n / 2).toDouble
                        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
              val devs = vals.map(v => math.abs(v - med)).sorted
              val mad = if (n % 2 == 1) devs(n / 2).toDouble
                        else (devs(n / 2 - 1) + devs(n / 2)) / 2.0
              Some((ptId, img.image_id, x, y, med, 1.4826 * mad, n))
            }
          }
        }
      }
    }.toDF("pt_id", "image_id", "x", "y", "samp_med", "samp_nmad", "samp_count")
  }

  /** Profile extraction — `line2pts` + `extract_profile` `geolib.py:1018-1098`:
    * densify a segment list at interval `dl` (remainder-carrying walk), then
    * run the sampling join on the generated points. */
  def line2pts(xs: Seq[Double], ys: Seq[Double], dl: Double): Seq[(Double, Double, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var carried = 0.0
    var dist = 0.0
    for (i <- 0 until xs.length - 1) {
      val dx = xs(i + 1) - xs(i); val dy = ys(i + 1) - ys(i)
      val segLen = math.sqrt(dx * dx + dy * dy)
      var t = carried
      while (t < segLen) {
        out += ((xs(i) + dx * t / segLen, ys(i) + dy * t / segLen, dist + t))
        t += dl
      }
      carried = t - segLen   // remainder carry, geolib.py:1048-1085
      dist += segLen
    }
    out.toSeq
  }

  def profile(spark: SparkSession, images: DataFrame,
              xs: Seq[Double], ys: Seq[Double], dl: Double): DataFrame = {
    import spark.implicits._
    val pts = line2pts(xs, ys, dl).zipWithIndex
      .map { case ((x, y, d), i) => (f"prof_$i%06d", x, y, d) }
      .toDF("pt_id", "x", "y", "dist_along")
    pointSample(spark, pts, images)
      .join(pts.select("pt_id", "dist_along"), Seq("pt_id"))
  }
}

/** Filename/id → datetime extraction — the `fn_getdatetime_list` regex
  * cascade (`timelib.py:77-143`): try patterns from most to least specific. */
object TimeParse {
  private val patterns = Seq(
    // YYYYMMDD_HHMM (the generator's token; reference's standard form).
    // digit-boundary anchors: without them a long numeric id prefix consumes
    // the scan window (matches are non-overlapping) and the hour is lost
    ("""(?<!\d)(\d{4})(\d{2})(\d{2})_(\d{2})(\d{2})(?!\d)""".r, true),
    // YYYY-MM-DD
    ("""(\d{4})-(\d{2})-(\d{2})""".r, false),
    // bare YYYYMMDD
    ("""(?<!\d)(\d{4})(\d{2})(\d{2})(?!\d)""".r, false))

  /** Epoch microseconds parsed from an id/filename, or None. Every match
    * position of every pattern is tried (the reference cascade also skips
    * candidate substrings that fail date validation). */
  def parse(s: String): Option[Long] = {
    patterns.view.flatMap { case (re, hasTime) =>
      re.findAllMatchIn(s).flatMap { m =>
        try {
          val y = m.group(1).toInt; val mo = m.group(2).toInt; val dd = m.group(3).toInt
          if (y < 1900 || y > 2200 || mo < 1 || mo > 12 || dd < 1 || dd > 31) None
          else {
            val (hh, mi) = if (hasTime) (m.group(4).toInt, m.group(5).toInt) else (0, 0)
            if (hh > 23 || mi > 59) None
            else {
              val days = java.time.LocalDate.of(y, mo, dd).toEpochDay
              Some((days * 86400L + hh * 3600L + mi * 60L) * 1000000L)
            }
          }
        } catch { case _: Exception => None }
      }
    }.headOption
  }
}
