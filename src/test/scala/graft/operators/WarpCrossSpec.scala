package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{Extent, GridSpec, Proj}
import graft.sources.{Codec, ImageRow, ImageTable}

/** Cross-CRS warp (VERDICT r4 #1): inverse-project target pixel centers
  * through the deterministic spherical projections, sample in the source
  * grid (`gdal.ReprojectImage` parity, warplib.py:196). */
class WarpCrossSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkImage(id: String, g: GridSpec, px: Array[Float]): ImageRow =
    ImageRow(id, Codec.encode(px, g.w, g.h, "raw"), g.w, g.h, "raw", "", 0L,
      g.ulx, g.uly, g.res, g.crs, ImageTable.Ndv.toDouble,
      new java.sql.Timestamp(86400000L))

  private def assemble(tiles: Seq[TileRow], t: GridSpec): Array[Float] = {
    val out = Array.fill(t.w * t.h)(ImageTable.Ndv)
    val ts = Warp.TileSize
    tiles.foreach { tile =>
      var r = 0
      while (r < ts) {
        var c = 0
        while (c < ts) {
          val px = tile.tx * ts + c; val py = tile.ty * ts + r
          if (px < t.w && py < t.h) out(py * t.w + px) = tile.payload(r * ts + c)
          c += 1
        }
        r += 1
      }
    }
    out
  }

  private val gA = GridSpec(500000.0, 5300000.0, 64.0, "EPSG:32610", 48, 40)
  private val pxA = Array.tabulate(gA.w * gA.h)(i =>
    (1 + ((i % gA.w) * 7 + (i / gA.w) * 13) % 199).toFloat)
  private val imgA = mkImage("a", gA, pxA)

  test("warp A→B→A across CRSs is lossless for 'near' on an oversampled B") {
    // B: geographic grid, ≈4× oversampled, padded past A's projected bbox
    val eB0 = Proj.projectExtent(gA.extent, gA.crs, "EPSG:4326")
    val resB = Proj.resIn(gA, "EPSG:4326") / 4.0
    val gB = GridSpec.fromExtentRes(
      Extent(eB0.xmin - 2 * resB, eB0.ymin - 2 * resB,
             eB0.xmax + 2 * resB, eB0.ymax + 2 * resB), resB, "EPSG:4326")
    val tilesB = Warp.warpOne(imgA, gB, "near").toSeq
    assert(tilesB.nonEmpty && tilesB.forall(!_.elided), "cross-CRS must never elide")
    val pxB = assemble(tilesB, gB)
    // a square-DEGREE grid at lon-step/4 oversamples x by 4 but y only by
    // 4·cos(lat) ≈ 2.7 at 47.8°N (degrees are anisotropic in meters)
    assert(pxB.count(_ != ImageTable.Ndv) >= gA.w * gA.h * 10,
      "4x-lon-oversampled B must carry ≥10× A's valid pixels")

    val imgB = mkImage("b", gB, pxB)
    val tilesBack = Warp.warpOne(imgB, gA, "near").toSeq
    val back = assemble(tilesBack, gA)
    var i = 0
    while (i < back.length) {
      assert(back(i) == pxA(i), s"pixel $i: ${back(i)} != ${pxA(i)}")
      i += 1
    }
  }

  test("warp UTM→polar-stereo→UTM (both legs transcendental) is lossless for 'near'") {
    val eC = Proj.projectExtent(gA.extent, gA.crs, "EPSG:3413")
    val resC = Proj.resIn(gA, "EPSG:3413") / 4.0
    val gC = GridSpec.fromExtentRes(
      Extent(eC.xmin - 2 * resC, eC.ymin - 2 * resC,
             eC.xmax + 2 * resC, eC.ymax + 2 * resC), resC, "EPSG:3413")
    val tilesC = Warp.warpOne(imgA, gC, "near").toSeq
    val imgC = mkImage("c", gC, assemble(tilesC, gC))
    val back = assemble(Warp.warpOne(imgC, gA, "near").toSeq, gA)
    assert(back.sameElements(pxA))
  }

  test("cross-CRS bilinear stays within the local value envelope") {
    val eB0 = Proj.projectExtent(gA.extent, gA.crs, "EPSG:4326")
    val resB = Proj.resIn(gA, "EPSG:4326")
    val gB = GridSpec.fromExtentRes(eB0, resB, "EPSG:4326")
    val tiles = Warp.warpOne(imgA, gB, "bilinear").toSeq
    val vals = tiles.flatMap(_.payload).filter(_ != ImageTable.Ndv)
    assert(vals.nonEmpty)
    // bilinear is a convex combination of source values
    assert(vals.forall(v => v >= 1.0f && v <= 199.0f))
  }

  test("analyze(tSrs): mixed-CRS inputs produce one grid in the target CRS covering all") {
    import spark.implicits._
    // second image: the SAME region expressed in EPSG:4326 directly
    val e4326 = Proj.projectExtent(gA.extent, gA.crs, "EPSG:4326")
    val res4326 = Proj.resIn(gA, "EPSG:4326")
    val g2 = GridSpec.fromExtentRes(e4326, res4326, "EPSG:4326")
    val img2 = mkImage("b", g2, Array.fill(g2.w * g2.h)(5.0f))
    val images = spark.createDataset(Seq(imgA, img2)).toDF()

    val t = Warp.analyze(images, "min", "union", tSrs = "EPSG:4326")
    assert(t.crs == "EPSG:4326")
    // union covers both projected footprints (fromExtentRes rint-snaps the
    // row/col counts, so the far edge can sit up to res/2 short)
    assert(t.extent.xmin <= e4326.xmin + 1e-12 && t.extent.xmax >= e4326.xmax - t.res)
    // min-res strategy picks the finer of (projected A step, g2.res)
    assert(math.abs(t.res - math.min(res4326, g2.res)) < 1e-15)
    // and warping both onto it yields valid tiles from each image
    val tiles = Warp.warpToTiles(spark, images, t, "near").collect()
    assert(tiles.exists(_.image_id == "a") && tiles.exists(_.image_id == "b"))

    // tSrs="first" keeps the single-CRS fast path bit-identical: same grid
    // as the pre-cross-CRS analyze on a uniform set
    val uni = spark.createDataset(Seq(imgA)).toDF()
    val tFirst = Warp.analyze(uni, "min", "union")
    assert(tFirst.crs == "EPSG:32610" && tFirst.ulx == gA.ulx && tFirst.res == gA.res)
    // tSrs="last" resolves the highest-id image's CRS (parse_srs list order)
    val tLast = Warp.analyze(images, "min", "union", tSrs = "last")
    assert(tLast.crs == "EPSG:4326")
  }
}
