package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{Extent, GridSpec}
import graft.sources.{Codec, ImageRow, ImageTable}

class CodecSpec extends AnyFunSuite {
  test("raw/png/bmp roundtrip restores pixels + NDV exactly (lossless, PSNR=inf)") {
    for (i <- Seq(0, 4, 8)) {  // one per fmt
      val g = ImageTable.gridOf(i)
      val px = ImageTable.renderPixels(i)
      val fmt = ImageTable.fmtOf(i)
      val rt = Codec.decode(Codec.encode(px, g.w, g.h, fmt), g.w, g.h, fmt, ImageTable.Ndv)
      assert(rt.sameElements(px), s"fmt=$fmt i=$i")
      assert(Codec.psnr(px, rt, ImageTable.Ndv).isPosInfinity)
    }
  }

  test("NDV margin present on every 5th image and decoded as NDV") {
    val px = ImageTable.renderPixels(5)
    val g = ImageTable.gridOf(5)
    assert(px(0) == ImageTable.Ndv)                       // corner in margin
    assert(px(3 * g.w + 3) != ImageTable.Ndv)             // interior valid
  }

  test("generator is deterministic and partition-invariant") {
    val s = TestSpark.spark
    val a = ImageTable.generate(s, 20, partitions = 2).orderBy("image_id").collect()
    val b = ImageTable.generate(s, 20, partitions = 7).orderBy("image_id").collect()
    assert(a.length == 20)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("image_id embeds a parseable date token (timelib.py:87-143 analog)") {
    val id = ImageTable.imageIdOf(7)
    val re = """img_\d{8}_(\d{8})_(\d{4})""".r
    assert(re.findFirstIn(id).isDefined, id)
  }
}

class WarpSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val N = 12
  lazy val images = ImageTable.generate(spark, N, partitions = 3)

  def grids: Seq[GridSpec] = (0 until N).map(ImageTable.gridOf)

  test("analyze: res strategies match GridSpec.parseRes on the same inputs") {
    val rs = grids.map(_.res)
    for (st <- Seq("min", "max", "mean", "med", "common_scale_factor", "first")) {
      val got = Warp.analyze(images, st, "union")
      val want = GridSpec.parseRes(st, rs)
      assert(math.abs(got.res - want) < 1e-12, s"res strategy $st")
    }
  }

  test("analyze: union/intersection extents match Extent algebra (warplib.py:366-419)") {
    val es = grids.map(_.extent)
    val u = Warp.analyze(images, "min", "union")
    assert(u.extent.approxEquals(Extent.unionAll(es), 1e-9) ||
           u.extent == GridSpec.fromExtentRes(Extent.unionAll(es), 2.0, ImageTable.Crs).extent)
    val i = Warp.analyze(images, "min", "intersection")
    val want = GridSpec.fromExtentRes(Extent.intersectionAll(es).get, 2.0, ImageTable.Crs)
    assert(i.ulx == want.ulx && i.uly == want.uly && i.w == want.w && i.h == want.h)
  }

  test("identity warp is elided and byte-preserving (warplib.py:479-515)") {
    import spark.implicits._
    val img0 = images.as[ImageRow].filter(_.image_id == ImageTable.imageIdOf(0)).head()
    val g0 = ImageTable.gridOf(0)
    val tiles = Warp.warpToTiles(spark, images.limit(1), g0, "near").collect()
    assert(tiles.nonEmpty && tiles.forall(_.elided))
    // reassemble and compare against the decoded source
    val src = Codec.decode(img0.bytes, img0.w, img0.h, img0.fmt, ImageTable.Ndv)
    val ntx = (g0.w + 63) / 64
    for (t <- tiles; py <- 0 until 64; px <- 0 until 64) {
      val gx = t.tx * 64 + px; val gy = t.ty * 64 + py
      if (gx < g0.w && gy < g0.h) {
        val got = t.payload(py * 64 + px)
        val want = src(gy * g0.w + gx)
        assert(got == want, s"tile ${t.tile_id} px ($gx,$gy)")
      }
    }
  }

  test("res-2 images are elided against the min/union target, others are not") {
    import spark.implicits._
    val target = Warp.analyze(images, "min", "union")
    assert(target.res == 2.0)
    val tiles = Warp.warpToTiles(spark, images, target, "near").collect()
    val byImg = tiles.groupBy(_.image_id)
    for (i <- 0 until N) {
      val elided = byImg(ImageTable.imageIdOf(i)).head.elided
      assert(elided == (ImageTable.gridOf(i).res == 2.0), s"image $i")
    }
  }

  test("nearest warp of an affine raw image reproduces the surface at source-sample points") {
    import spark.implicits._
    // i=3: res 3.0 (unaligned vs res-2 target), fmt raw ((3/3)%3=1 → png!)
    // pick i=9: res 9%3=0 → 2.0 aligned... need res!=2 and fmt raw:
    // fmt raw ⇔ (i/3)%3==0 ⇔ i in 0..2 (mod 9); res!=2 ⇔ i%3!=0 → i=1 or 2 (mod 9)
    // i=1: res 3.0, raw, no ripple. ✓
    val img = ImageTable.generate(spark, 2).as[ImageRow]
      .filter(_.image_id == ImageTable.imageIdOf(1)).toDF()
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent, 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, img, target, "near").collect()
    assert(tiles.nonEmpty && tiles.forall(!_.elided))
    val src = Codec.decode(
      ImageTable.row(1).bytes, g.w, g.h, "raw", ImageTable.Ndv)
    var checked = 0
    for (t <- tiles; py <- 0 until 64; px <- 0 until 64) {
      val v = t.payload(py * 64 + px)
      if (v != ImageTable.Ndv) {
        val gx = t.tx * 64 + px; val gy = t.ty * 64 + py
        val (mx, my) = target.pixelToMap(gx, gy)
        val (cx, cy) = g.mapToCell(mx, my)
        assert(v == src(cy * g.w + cx), s"near at ($gx,$gy)")
        checked += 1
      }
    }
    assert(checked > 1000)
  }

  test("bilinear warp of an affine surface is exact (linear interp of linear fn)") {
    import spark.implicits._
    val img = ImageTable.generate(spark, 2).as[ImageRow]
      .filter(_.image_id == ImageTable.imageIdOf(1)).toDF()
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent.pad(-6.0), 2.0, ImageTable.Crs) // interior only
    val tiles = Warp.warpToTiles(spark, img, target, "bilinear").collect()
    var checked = 0
    for (t <- tiles; py <- 0 until 64; px <- 0 until 64) {
      val v = t.payload(py * 64 + px)
      if (v != ImageTable.Ndv) {
        val gx = t.tx * 64 + px; val gy = t.ty * 64 + py
        val (mx, my) = target.pixelToMap(gx, gy)
        val want = ImageTable.surface(1, mx, my)
        assert(math.abs(v - want) < 1e-2, s"bilinear at ($gx,$gy): $v vs $want")
        checked += 1
      }
    }
    assert(checked > 500)
  }

  test("cubic and average kernels stay within the local value envelope") {
    import spark.implicits._
    val img = ImageTable.generate(spark, 2).as[ImageRow]
      .filter(_.image_id == ImageTable.imageIdOf(1)).toDF()
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent.pad(-9.0), 4.0, ImageTable.Crs)
    for (k <- Seq("cubic", "average", "mode")) {
      val tiles = Warp.warpToTiles(spark, img, target, k).collect()
      val vals = tiles.flatMap(_.payload).filter(_ != ImageTable.Ndv)
      assert(vals.nonEmpty, k)
      // surface range on this grid is ~[118, 135]; kernels must not escape wildly
      assert(vals.forall(v => v > 100 && v < 160), s"$k: ${vals.min}..${vals.max}")
    }
  }

  test("cubicspline/lanczos weight functions: partition of unity and sinc zeros") {
    // cubic B-spline: Σ_k B(f−k) = 1 and Σ_k k·B(f−k) = f (linear reproduction)
    for (f <- Seq(0.0, 0.125, 0.5, 0.73, 0.999)) {
      val ks = -1 to 2
      val s0 = ks.map(k => Resample.bsplineWeight(f - k)).sum
      val s1 = ks.map(k => k * Resample.bsplineWeight(f - k)).sum
      assert(math.abs(s0 - 1.0) < 1e-12, s"unity at $f")
      assert(math.abs(s1 - f) < 1e-12, s"linear at $f")
    }
    // lanczos a=3: 1 at 0, 0 at every other integer, symmetric
    assert(Resample.lanczosWeight(0.0) == 1.0)
    for (k <- Seq(-2, -1, 1, 2)) assert(math.abs(Resample.lanczosWeight(k)) < 1e-12)
    assert(math.abs(Resample.lanczosWeight(0.4) - Resample.lanczosWeight(-0.4)) < 1e-15)
  }

  test("cubicspline warp of an affine surface is exact (B-spline linear reproduction)") {
    import spark.implicits._
    val img = ImageTable.generate(spark, 2).as[ImageRow]
      .filter(_.image_id == ImageTable.imageIdOf(1)).toDF()
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent.pad(-9.0), 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, img, target, "cubicspline").collect()
    var checked = 0
    for (t <- tiles; py <- 0 until 64; px <- 0 until 64) {
      val v = t.payload(py * 64 + px)
      if (v != ImageTable.Ndv) {
        val gx = t.tx * 64 + px; val gy = t.ty * 64 + py
        val (mx, my) = target.pixelToMap(gx, gy)
        val want = ImageTable.surface(1, mx, my)
        assert(math.abs(v - want) < 1e-2, s"cubicspline at ($gx,$gy): $v vs $want")
        checked += 1
      }
    }
    assert(checked > 500)
  }

  test("lanczos interpolates exactly at source-lattice points; bounded elsewhere") {
    val g = ImageTable.gridOf(1)
    val src = Codec.decode(ImageTable.row(1).bytes, g.w, g.h, "raw", ImageTable.Ndv)
    // interior source pixel centers: full 6×6 support, sinc zeros ⇒ exact
    for (cy <- 10 to 12; cx <- 10 to 12) {
      val (mx, my) = g.pixelToMap(cx.toDouble, cy.toDouble)
      val v = Resample.sample(src, g.w, g.h, g, mx, my, "lanczos", ImageTable.Ndv, 2.0)
      assert(v == src(cy * g.w + cx), s"lanczos lattice at ($cx,$cy)")
    }
    // off-lattice: stays in a sane envelope of the smooth surface
    for (fy <- Seq(10.3, 11.7); fx <- Seq(10.2, 12.6)) {
      val (mx, my) = g.pixelToMap(fx, fy)
      val v = Resample.sample(src, g.w, g.h, g, mx, my, "lanczos", ImageTable.Ndv, 2.0)
      assert(v > 100 && v < 160, s"lanczos envelope: $v")
    }
  }

  test("tile ids are consistent with (tx, ty) and the target tiling") {
    val target = Warp.analyze(images, "min", "union")
    val ntx = (target.w + 63) / 64
    val tiles = Warp.warpToTiles(spark, images, target, "near").collect()
    tiles.foreach { t =>
      assert(t.tile_id == t.ty.toLong * ntx + t.tx)
      assert(t.tx >= 0 && t.tx < ntx && t.ty >= 0)
      assert(t.n_valid == t.payload.count(_ != ImageTable.Ndv))
    }
  }

  test("warp output is partition-invariant (determinism across parallelism)") {
    val target = Warp.analyze(images, "min", "union")
    def run(parts: Int) =
      Warp.warpToTiles(spark, ImageTable.generate(spark, N, parts), target, "bilinear")
        .collect().sortBy(t => (t.image_id, t.tile_id))
    val a = run(2); val b = run(5)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.image_id == y.image_id && x.tile_id == y.tile_id)
      assert(x.payload.sameElements(y.payload))
    }
  }

  test("'source' strategies: source-everything is a full pass-through; fixed axes normalize") {
    val spark = TestSpark.spark
    val imgs = ImageTable.generate(spark, 24)
    // res=source + extent=source on a same-CRS stack: EVERY image is
    // aligned with its own grid -> every tile elided, payloads preserved
    val all = Warp.warpToTilesSource(spark, imgs, "source", "source",
      kernel = "bilinear").collect()
    assert(all.nonEmpty && all.forall(_.elided),
      "source-everything must elide every tile (warp_multi res/extent=None)")
    // per-image valid counts equal the source's own non-NDV pixel count
    val validByImg = all.groupBy(_.image_id).view.mapValues(_.map(_.n_valid).sum)
    (0 until 24).foreach { i =>
      val g = ImageTable.gridOf(i)
      val px = ImageTable.renderPixels(i)
      val want = px.count(_ != ImageTable.Ndv)
      assert(validByImg(ImageTable.imageIdOf(i)) == want, s"i=$i")
    }
    // res='min' + extent='source': each image keeps its OWN extent but the
    // grid res is the global min (2.0) -> res-2 images stay elided, a
    // res-4 image doubles its pixel dims
    val mixed = Warp.warpToTilesSource(spark, imgs, "min", "source",
      kernel = "bilinear").collect()
    val byImg = mixed.groupBy(_.image_id)
    (0 until 24).foreach { i =>
      val g = ImageTable.gridOf(i)
      val rows = byImg(ImageTable.imageIdOf(i))
      assert(rows.forall(_.elided) == (g.res == 2.0), s"i=$i elision")
      // tiles never extend past the image's own extent at res 2
      val ns = math.rint(g.w * g.res / 2.0).toInt
      val maxTx = rows.map(_.tx).max
      assert(maxTx == (ns - 1) / Warp.TileSize, s"i=$i extent kept per-image")
    }
    // both axes fixed is warpToTiles(analyze(...)) — loud error, not a
    // silent second code path
    intercept[IllegalArgumentException] {
      Warp.warpToTilesSource(spark, imgs, "min", "union")
    }
  }
}
