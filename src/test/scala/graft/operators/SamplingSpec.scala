package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ImageTable

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("point sample returns window median ~ surface at interior points (geolib.py:914-1016)") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 2)
      .filter(col("image_id") === ImageTable.imageIdOf(1)) // raw, affine, res 3
    val g = ImageTable.gridOf(1)
    // interior probe points at pixel centers
    val pts = (for (i <- 0 until 20) yield {
      val (mx, my) = g.pixelToMap(5 + i * 2, 7 + i)
      (f"p$i%03d", mx, my)
    }).toDF("pt_id", "x", "y")
    val got = Sampling.pointSample(spark, pts, images, pad = 1).collect()
    assert(got.length == 20)
    got.foreach { r =>
      val want = ImageTable.surface(1, r.getDouble(2), r.getDouble(3))
      // median of a 3x3 window of an affine surface = center value
      assert(math.abs(r.getDouble(4) - want) < 1e-2, s"${r.getString(0)}")
      assert(r.getInt(6) == 9)
    }
  }

  test("pointSample ships image payloads ~once: shuffle bytes bounded") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 40).cache(); images.count()
    val payloadBytes = images.select(sum(length(col("bytes")))).head().getLong(0)
    // many points per image: the old shape shipped bytes per covering cell
    // AND per matched point; the keyed exchange ships each image's bytes once
    val pts = graft.sources.PolygonTable.points(spark, 4000)
    var n = 0L
    val shuffleWrite = TestSpark.usage {
      n = Sampling.pointSample(spark, pts, images, cellSize = 256.0).count()
    }.shuffleBytesWritten
    assert(n > 0)
    // bytes cross the wire once for the image side plus small point rows:
    // well under 3× the raw payload (the per-covering-cell form was ~10×+)
    assert(shuffleWrite < 3L * payloadBytes + 20L * 4000 * 64,
      s"shuffleWrite=$shuffleWrite payload=$payloadBytes")
  }

  test("points outside every image are dropped; NDV margins lower the count") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 1)   // image 0: margin 3
    val g = ImageTable.gridOf(0)
    val (inX, inY) = g.pixelToMap(10.0, 10.0)
    val pts = Seq(
      ("inside", inX, inY),
      ("outside", g.ulx - 5000.0, g.uly + 5000.0),
      ("in_margin", g.pixelToMap(0.0, 0.0)._1, g.pixelToMap(0.0, 0.0)._2)
    ).toDF("pt_id", "x", "y")
    // the in_margin window holds no valid pixel: dropped below 50 %, and
    // dropped (not a median of nothing) with no threshold at all
    for (perc <- Seq(0.5, 0.0)) {
      val got = Sampling.pointSample(spark, pts, images, pad = 1, minSampPerc = perc)
        .collect().map(_.getString(0)).toSet
      assert(got == Set("inside"), s"minSampPerc $perc")
    }
  }

  test("profile: line densification with remainder carry (geolib.py:1018-1098)") {
    val pts = Sampling.line2pts(Seq(0.0, 10.0, 10.0), Seq(0.0, 0.0, 5.0), dl = 3.0)
    // walk: dist 0,3,6,9 on segment 1; carry 2 → 12(=seg2 t=2) on segment 2
    assert(pts.map(_._3) == Seq(0.0, 3.0, 6.0, 9.0, 12.0))
    assert(pts(4)._1 == 10.0 && pts(4)._2 == 2.0)
  }

  test("filename datetime regex cascade (timelib.py:77-143)") {
    val us = TimeParse.parse(ImageTable.imageIdOf(7)).get
    assert(us == (ImageTable.tsMicrosOf(7) / 60000000L) * 60000000L) // minute precision
    assert(TimeParse.parse("scene_2023-06-15_x.tif").get ==
      java.time.LocalDate.of(2023, 6, 15).toEpochDay * 86400L * 1000000L)
    assert(TimeParse.parse("dem_20200229.tif").isDefined)   // leap day
    assert(TimeParse.parse("no_date_here.tif").isEmpty)
    assert(TimeParse.parse("bad_20201345.tif").isEmpty)     // month 13 rejected
  }
}

class CsvVrtSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("CSV point source: header detection + VRT field naming (iolib.py:353-367,602-624)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val noHdr = new java.io.File(dir, "pts.csv")
    java.nio.file.Files.writeString(noHdr.toPath, "1.5,2.5,10\n3.0,4.0,20\n")
    val a = graft.sources.PolygonTable.pointsFromCsv(
      spark, noHdr.getPath, zCol = Some("field_3")).collect().sortBy(_.getDouble(1))
    assert(a.length == 2 && a(0).getDouble(1) == 1.5 && a(0).getDouble(3) == 10.0)

    val hdr = new java.io.File(dir, "pts2.csv")
    java.nio.file.Files.writeString(hdr.toPath, "lon,lat,elev\n7.0,45.0,100\n8.0,46.0,200\n")
    val b = graft.sources.PolygonTable.pointsFromCsv(
      spark, hdr.getPath, xCol = "lon", yCol = "lat", zCol = Some("elev"))
      .collect().sortBy(_.getDouble(1))
    assert(b.length == 2 && b(1).getDouble(2) == 46.0 && b(1).getDouble(3) == 200.0)

    // VRT sidecar byte-layout matches the reference's writevrt
    val vrt = graft.sources.PolygonTable.writeVrt(noHdr.getPath)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(vrt))
    assert(txt.startsWith("<OGRVRTDataSource>\n   <OGRVRTLayer name=\"pts\">\n"))
    assert(txt.contains("<SrcDataSource>pts.csv</SrcDataSource>"))
    assert(txt.contains("<GeometryField encoding=\"PointFromColumns\" x=\"field_1\" y=\"field_2\"/>"))
    assert(txt.endsWith("</OGRVRTDataSource>\n"))
  }
}
