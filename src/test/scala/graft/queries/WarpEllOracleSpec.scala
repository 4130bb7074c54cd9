package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TestSpark, Warp}
import graft.geo.Proj

/** q105 decision-margin certification — the ellipsoidal twin of
  * WarpCrossOracleSpec: the oracle recomputes the Krüger TM and Snyder
  * polar-stereo series with DuckDB's OWN transcendentals, so every integer
  * decision (pixel bounds, nearest cell, bilinear neighbor floor, value
  * quantization) must be stable under last-ulp cross-libm differences.
  * Re-derives all decisions in pure Scala with a ±1e-9 perturbation after
  * every transcendental-derived intermediate (≫ the observed ~1e-12
  * cross-engine drift) and asserts equality with the engine query. */
class WarpEllOracleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def decisions(eps: Double): Set[(Int, String, Int, Int, Long)] = {
    def p(x: Double) = x + eps * (1.0 + math.abs(x))
    val t = EngineOracle.weTarget
    val text = t.extent
    val out = scala.collection.mutable.Set.empty[(Int, String, Int, Int, Long)]
    for ((g, i) <- EngineOracle.weGrids.zipWithIndex) {
      val inv = Proj.transform(g.crs, t.crs)       // default datum = wgs84
      val fwd = Proj.transform(t.crs, g.crs)
      var bxmin = Double.MaxValue; var bymin = Double.MaxValue
      var bxmax = -Double.MaxValue; var bymax = -Double.MaxValue
      val e = g.extent
      for (k <- 0 to 21) {
        val f = k.toDouble / 21
        for ((bx, by) <- Seq(
            (e.xmin + f * (e.xmax - e.xmin), e.ymin),
            (e.xmin + f * (e.xmax - e.xmin), e.ymax),
            (e.xmin, e.ymin + f * (e.ymax - e.ymin)),
            (e.xmax, e.ymin + f * (e.ymax - e.ymin)))) {
          val (lon0, lat0) = inv(bx, by)
          val lon = p(lon0); val lat = p(lat0)
          if (lon < bxmin) bxmin = lon; if (lon > bxmax) bxmax = lon
          if (lat < bymin) bymin = lat; if (lat > bymax) bymax = lat
        }
      }
      val ixmin = math.max(bxmin, text.xmin); val ixmax = math.min(bxmax, text.xmax)
      val iymin = math.max(bymin, text.ymin); val iymax = math.min(bymax, text.ymax)
      val px0 = math.max(0, math.floor((ixmin - t.ulx) / t.res).toInt)
      val px1 = math.min(t.w - 1, math.ceil((ixmax - t.ulx) / t.res).toInt - 1)
      val py0 = math.max(0, math.floor((t.uly - iymax) / t.res).toInt)
      val py1 = math.min(t.h - 1, math.ceil((t.uly - iymin) / t.res).toInt - 1)
      for (py <- py0 to py1; px <- px0 to px1) {
        val (mx, my) = t.pixelToMap(px, py)
        val (sx, sy) = fwd(mx, my)
        val pxf = p((sx - g.ulx) / g.res - 0.5)
        val pyf = p((g.uly - sy) / g.res - 0.5)
        val cx = math.floor(pxf + 0.5).toInt; val cy = math.floor(pyf + 0.5).toInt
        if (cx >= 0 && cx < g.w && cy >= 0 && cy < g.h)
          out += ((i, "near", px, py, EngineOracle.wcValue(i, cx, cy).toLong))
        val x0 = math.floor(pxf).toInt; val y0 = math.floor(pyf).toInt
        val fx = pxf - x0; val fy = pyf - y0
        var sum = 0.0; var wsum = 0.0
        var dy = 0
        while (dy <= 1) {
          var dx = 0
          while (dx <= 1) {
            val x = x0 + dx; val y = y0 + dy
            if (x >= 0 && x < g.w && y >= 0 && y < g.h) {
              val wt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
              sum += EngineOracle.wcValue(i, x, y) * wt; wsum += wt
            }
            dx += 1
          }
          dy += 1
        }
        if (wsum > 0) {
          val vf = p(sum / wsum).toFloat
          out += ((i, "bil", px, py,
            math.floor(vf.toDouble * EngineOracle.WcQ + 0.5).toLong))
        }
      }
    }
    out.toSet
  }

  test("embedded ellipsoidal target grid equals the Spark analyze exactly") {
    val t = Warp.analyze(EngineOracle.weImages(spark), "min", "union",
      tSrs = "EPSG:4326")
    assert(t == EngineOracle.weTarget)
  }

  test("every q105 decision is stable under ±1e-9 transcendental perturbation") {
    val base = decisions(0.0)
    assert(base.nonEmpty && base.size > 4000, s"suspiciously small: ${base.size}")
    assert(decisions(1e-9) == base, "+1e-9 perturbation flipped a decision")
    assert(decisions(-1e-9) == base, "-1e-9 perturbation flipped a decision")
  }

  test("the pure-Scala replica equals the engine query output row-for-row") {
    val got = EngineOracle.warpCrossEll(spark, "").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    assert(got == decisions(0.0))
  }
}
