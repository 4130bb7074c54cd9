package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{GridSpec, Wkb}
import graft.sources.{Codec, ImageTable}

class StencilSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = ImageTable.Ndv

  /** Whole-array reference implementation of a stencil (no tiling) for
    * halo-correctness comparison. */
  def wholeArray(img: Array[Float], w: Int, h: Int,
                 kernel: Stencil.Kernel,
                 halo: Int): Array[Float] = {
    // pad the full image by halo with ndv and run the kernel once
    val p = math.max(w, h) + 2 * halo
    val padded = Array.fill(p * p)(ndv)
    for (y <- 0 until h; x <- 0 until w)
      padded((y + halo) * p + (x + halo)) = img(y * w + x)
    val core = kernel(padded, p, halo)
    val t = p - 2 * halo
    val out = new Array[Float](w * h)
    for (y <- 0 until h; x <- 0 until w) out(y * w + x) = core(y * t + x)
    out
  }

  def assemble(tiles: Seq[TileRow], target: GridSpec, tileSize: Int): Array[Float] = {
    val out = Array.fill(target.w * target.h)(ndv)
    for (t <- tiles; py <- 0 until tileSize; px <- 0 until tileSize) {
      val gx = t.tx * tileSize + px; val gy = t.ty * tileSize + py
      if (gx < target.w && gy < target.h) out(gy * target.w + gx) = t.payload(py * tileSize + px)
    }
    out
  }

  test("tiled stencil == whole-array stencil (halo exchange correctness)") {
    import spark.implicits._
    // single image spanning multiple tiles: warp image 1 (res 3, raw) to a
    // res-2 grid → ~84x60 px → 2x1 tiles of 64
    val images = ImageTable.generate(spark, 2).filter(col("image_id") === ImageTable.imageIdOf(1))
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent, 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, images, target, "bilinear").cache()
    val ntx = (target.w + 63) / 64; val nty = (target.h + 63) / 64

    for ((name, kern, halo) <- Seq(
        ("gauss", Stencil.gaussKernel(1.5), 4),
        ("median", Stencil.medianKernel(2), 2),
        ("erode", Stencil.morphKernel("erode", 1), 1),
        ("dilate", Stencil.morphKernel("dilate", 1), 1),
        ("slope", Stencil.demKernel("slope", 2.0), 1),
        ("uniform", Stencil.uniformKernel(2), 2),
        ("aspect", Stencil.demKernel("aspect", 2.0), 1),
        ("hillshade", Stencil.demKernel("hillshade", 2.0), 1),
        ("tri", Stencil.demKernel("tri", 2.0), 1),
        ("tpi", Stencil.demKernel("tpi", 2.0), 1),
        ("roughness", Stencil.demKernel("roughness", 2.0), 1),
        ("highpass", Stencil.highpassKernel(1.0), 3),
        ("interp", Stencil.interpKernel(3), 4),
        ("iterdilate", Stencil.iteratedDilateKernel(3), 3),
        ("rolling_max", Stencil.rollingKernel(5,
          (v, n) => { var m = Float.MinValue; var i = 0
                      while (i < n) { if (v(i) > m) m = v(i); i += 1 }; m }), 2),
        ("bandpass", Stencil.bandpassKernel(1.0, 2.0), 9))) {
      val got = assemble(
        Stencil(tiles, ntx, nty, halo)(kern).collect().toSeq, target, 64)
      val whole = wholeArray(
        assemble(tiles.collect().toSeq, target, 64), target.w, target.h, kern, halo)
      var diffs = 0
      for (i <- got.indices if got(i) != whole(i)) diffs += 1
      assert(diffs == 0, s"$name: $diffs pixels differ")
    }
    tiles.unpersist()
  }

  test("gaussian preserves a constant field and the mask (filtlib.py:101-170)") {
    import spark.implicits._
    val payload = Array.fill(64 * 64)(42.0f)
    payload(0) = ndv // one masked pixel
    val t = spark.createDataset(Seq(TileRow("x", 0L, 0L, 0, 0, payload, 64*64-1, false)))
    val sm = Stencil(t, 1, 1, 4)(Stencil.gaussKernel(1.5)).head()
    assert(sm.payload(0) == ndv)                     // mask preserved
    assert(sm.payload.filter(_ != ndv).forall(v => math.abs(v - 42.0) < 1e-4))
  }

  test("median filter removes salt noise from a constant field") {
    import spark.implicits._
    val payload = Array.fill(64 * 64)(10.0f)
    payload(10 * 64 + 10) = 500f   // salt
    val t = spark.createDataset(Seq(TileRow("x", 0L, 0L, 0, 0, payload, 64*64, false)))
    val f = Stencil(t, 1, 1, 2)(Stencil.medianKernel(2)).head()
    assert(f.payload(10 * 64 + 10) == 10.0f)
  }

  test("slope of the affine surface equals atan(|grad|) everywhere interior") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 1)  // raw, no ripple, res 2
    val g = ImageTable.gridOf(0)
    val tiles = Warp.warpToTiles(spark, images, g, "near")
    val sl = Stencil(tiles, (g.w + 63) / 64, (g.h + 63) / 64, 1)(
      Stencil.demKernel("slope", g.res)).collect()
    val grad = math.sqrt(ImageTable.B * ImageTable.B + ImageTable.C * ImageTable.C)
    val want = math.toDegrees(math.atan(grad))
    val vals = sl.flatMap(_.payload.filter(_ != ndv))
    assert(vals.nonEmpty)
    vals.foreach(v => assert(math.abs(v - want) < 0.05, s"$v vs $want"))
  }

  test("gdaldem family on the affine surface: aspect/hillshade/tpi/tri/roughness closed-form") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 1)  // raw plane, res 2
    val g = ImageTable.gridOf(0)
    val tiles = Warp.warpToTiles(spark, images, g, "near").cache()
    val ntx = (g.w + 63) / 64; val nty = (g.h + 63) / 64
    val B = ImageTable.B; val C = ImageTable.C; val res = g.res
    def vals(mode: String) = Stencil(tiles, ntx, nty, 1)(
      Stencil.demKernel(mode, res)).collect().flatMap(_.payload.filter(_ != ndv))

    // surface z = a + B(mx−X0) + C(Y0−my): dz/dx = B, dz/dy(south) = +C
    var wantAz = math.toDegrees(math.atan2(-B, C)); if (wantAz < 0) wantAz += 360
    vals("aspect").foreach(v => assert(math.abs(v - wantAz) < 0.05, s"aspect $v vs $wantAz"))

    val s = math.atan(math.sqrt(B * B + C * C))
    val asp = math.atan2(-B, C)
    val wantShade = 255.0 * math.max(0.0,
      math.sin(math.toRadians(45)) * math.cos(s) +
      math.cos(math.toRadians(45)) * math.sin(s) * math.cos(math.toRadians(315) - asp))
    vals("hillshade").foreach(v => assert(math.abs(v - wantShade) < 0.1, s"shade $v vs $wantShade"))

    vals("tpi").foreach(v => assert(math.abs(v) < 1e-3, s"tpi $v"))

    val wantRough = (math.abs(B) + math.abs(C)) * 2 * res
    vals("roughness").foreach(v => assert(math.abs(v - wantRough) < 1e-3, s"rough $v"))

    val wantTri = res * (2 * math.abs(B) + 2 * math.abs(C) +
      2 * math.abs(B + C) + 2 * math.abs(B - C)) / 8.0
    vals("tri").foreach(v => assert(math.abs(v - wantTri) < 1e-3, s"tri $v"))
  }

  test("remove_islands kills small valid islands, keeps large regions intact (filtlib.py:472-481)") {
    import spark.implicits._
    val payload = Array.fill(64 * 64)(ndv)
    // large valid block 5..40 × 5..40, plus a 3×3 island at (50..52, 50..52)
    for (y <- 5 to 40; x <- 5 to 40) payload(y * 64 + x) = (x + y).toFloat
    for (y <- 50 to 52; x <- 50 to 52) payload(y * 64 + x) = 7f
    val t = spark.createDataset(Seq(
      TileRow("x", 0L, 0L, 0, 0, payload, payload.count(_ != ndv), false)))
    val out = Stencil.removeIslands(t, 1, 1, iterations = 2).head()
    // island gone
    for (y <- 50 to 52; x <- 50 to 52) assert(out.payload(y * 64 + x) == ndv)
    // large block fully intact with original values (closing ≈ identity on a box)
    for (y <- 5 to 40; x <- 5 to 40)
      assert(out.payload(y * 64 + x) == (x + y).toFloat, s"($x,$y)")
    assert(out.n_valid == 36 * 36)
    // tiled == whole-array for the closing kernel
    val images = ImageTable.generate(spark, 2).filter(col("image_id") === ImageTable.imageIdOf(1))
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent, 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, images, target, "bilinear").cache()
    val ntx = (target.w + 63) / 64; val nty = (target.h + 63) / 64
    val got = assemble(
      Stencil.removeIslands(tiles, ntx, nty, 2).collect().toSeq, target, 64)
    val whole = wholeArray(
      assemble(tiles.collect().toSeq, target, 64), target.w, target.h,
      Stencil.removeIslandsKernel(2), 4)
    assert(got.indices.forall(i => got(i) == whole(i)))
  }

  test("fillGapsDilate single exchange == chained per-round exchanges") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 1) // image 0: NDV margin 3
    val g = ImageTable.gridOf(0)
    val target = GridSpec.fromExtentRes(g.extent, 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, images, target, "near").cache()
    val ntx = (target.w + 63) / 64; val nty = (target.h + 63) / 64
    val single = assemble(
      Stencil.fillGapsDilate(tiles, ntx, nty, rounds = 3).collect().toSeq, target, 64)
    var chained = tiles
    for (_ <- 0 until 3)
      chained = Stencil(chained, ntx, nty, halo = 1)(Stencil.morphKernel("dilate", 1))
    val want = assemble(chained.collect().toSeq, target, 64)
    assert(single.sameElements(want))
    assert(single.count(_ != ndv) > assemble(tiles.collect().toSeq, target, 64).count(_ != ndv))
    tiles.unpersist()
  }

  test("fillGapsDilate rounds > tileSize chunks into multiple exchanges (review r3)") {
    import spark.implicits._
    // rounds = T + 3 > T forces two exchanges (halo T then 3); the old
    // halo=rounds form crashed on negative strip offsets
    val T = Warp.TileSize
    val rounds = T + 3
    val base = Seq(graft.operators.TileRow("img", 0L, 0L, 0, 0,
      Array.tabulate(T * T)(i => if (i == 0) 5.0f else ndv), 1, elided = false)).toDS()
    val out = Stencil.fillGapsDilate(base, ntx = 2, nty = 2, rounds = rounds).collect()
    // `rounds` dilations from one seed reach Chebyshev distance `rounds`:
    // the whole home tile plus neighbors' cells within range are valid
    val home = out.find(t => t.tx == 0 && t.ty == 0).get
    assert(home.n_valid == T * T, s"home tile ${home.n_valid}")
    val right = out.find(t => t.tx == 1 && t.ty == 0).get
    // columns T..rounds of the global grid are reachable (seed at 0,0)
    assert((0 until T).forall { c =>
      val reachable = (T + c) <= rounds
      (right.payload(c) != ndv) == reachable
    }, right.payload.take(8).toSeq.toString)
  }

  test("gaussfill: gaps take the smoothed value, valid pixels keep originals (filtlib.py:240-247)") {
    val p = 13; val h = 3
    val padded = Array.fill(p * p)(10.0f)
    padded(6 * p + 6) = ndv // one gap in a constant field
    val out = Stencil.gaussFillKernel(1.0)(padded, p, h)
    val t = p - 2 * h
    assert(out((t / 2) * t + t / 2) == 10.0f)          // gap filled exactly
    assert(out.forall(_ == 10.0f))                     // originals untouched
    // isolated gap with NO valid support stays masked
    val empty = Array.fill(p * p)(ndv)
    val out2 = Stencil.gaussFillKernel(1.0)(empty, p, h)
    assert(out2.forall(_ == ndv))
  }

  test("rolling reducer: circular half-pixel disc per filtlib.py:303-312; fills gaps") {
    // direct check on one padded frame: size-5 circular window max
    val p = 11; val h = 2
    val padded = Array.tabulate(p * p)(i => (i % 7).toFloat)
    padded(5 * p + 5) = ndv
    val out = Stencil.rollingKernel(5, (v, n) => {
      var m = Float.MinValue; var i = 0
      while (i < n) { if (v(i) > m) m = v(i); i += 1 }; m
    })(padded, p, h)
    val t = p - 2 * h
    // gap pixel gets filled from its window (rolling_fltr fills)
    assert(out((5 - h) * t + (5 - h)) != ndv)
    // reproduce the reference's mask: keep (i,j) iff (i-2.5)²+(j-2.5)² ≤ 6.25
    for (y <- 0 until t; x <- 0 until t) {
      var m = Float.MinValue
      for (i <- 0 until 5; j <- 0 until 5
           if (i - 2.5) * (i - 2.5) + (j - 2.5) * (j - 2.5) <= 6.25) {
        val v = padded((y + h + i - 2) * p + (x + h + j - 2))
        if (v != ndv && v > m) m = v
      }
      assert(out(y * t + x) == m, s"($x,$y)")
    }
  }

  test("bandpass rejects DC and the affine trend (filtlib.py:262-268)") {
    val p = 40; val h = 9
    // constant field → bandpass 0
    val const = Array.fill(p * p)(42.0f)
    val bc = Stencil.bandpassKernel(1.0, 2.0)(const, p, h)
    assert(bc.forall(v => math.abs(v) < 1e-4))
    // affine field → gauss is identity in the interior → bandpass ~0
    val affine = Array.tabulate(p * p)(i => (0.5f * (i % p) - 0.25f * (i / p)))
    val ba = Stencil.bandpassKernel(1.0, 2.0)(affine, p, h)
    assert(ba.forall(v => math.abs(v) < 1e-3))
  }

  test("gaussPyramid: levels, lattice registration, affine exactness (filtlib.py:175-226)") {
    import spark.implicits._
    // image 1 is raw + pure affine (no ripple, no margin)
    val images = ImageTable.generate(spark, 2).filter(col("image_id") === ImageTable.imageIdOf(1))
    val g = ImageTable.gridOf(1)
    val target = GridSpec.fromExtentRes(g.extent, 2.0, ImageTable.Crs)
    val tiles = Warp.warpToTiles(spark, images, target, "near").cache()
    val ntx = (target.w + 63) / 64; val nty = (target.h + 63) / 64
    val levels = 3 // size 8
    val (coarse, cntx, _) = Stencil.gaussPyramid(tiles, ntx, nty, size = 8)
    assert(cntx == (ntx + 7) / 8) // ceil-halved 3× (levels = floor(log2 8))
    val rows = coarse.collect()
    assert(rows.nonEmpty)
    val scale = 1 << levels
    var checked = 0
    rows.foreach { t =>
      for (py <- 0 until 64; px <- 0 until 64) {
        val v = t.payload(py * 64 + px)
        if (v != ndv) {
          // coarse pixel (X', Y') sits on original even-lattice pixel
          // (scale·X', scale·Y'): interior values stay the affine surface
          val gx = (t.tx * 64 + px) * scale; val gy = (t.ty * 64 + py) * scale
          if (gx > 2 * scale && gy > 2 * scale &&
              gx < target.w - 2 * scale && gy < target.h - 2 * scale) {
            val (mx, my) = target.pixelToMap(gx, gy)
            val want = ImageTable.surface(1, mx, my)
            assert(math.abs(v - want) < 1e-2, s"($gx,$gy): $v vs $want")
            checked += 1
          }
        }
      }
    }
    assert(checked > 20, s"only $checked interior coarse pixels")
    tiles.unpersist()
  }

  test("every kernel's output bits on a gappy frame match the pinned digests") {
    // seeded 40×40 frame, ~20 % NDV holes, non-integer values so any change
    // in float/double evaluation order moves a digest
    val rng = new scala.util.Random(20261017L)
    val p = 40
    val frame = Array.fill(p * p)(
      if (rng.nextDouble() < 0.2) ndv else (100.0 + 25.0 * rng.nextGaussian()).toFloat)
    // order-sensitive reducer: pins the row-major gather order as well
    val fold: (Array[Float], Int) => Float = (v, n) => {
      var s = 0f; var i = 0
      while (i < n) { s = 0.5f * s + v(i); i += 1 }; s
    }
    val res = 1.7
    val kernels = Seq(
      ("gauss", Stencil.gaussKernel(1.5), 4),
      ("gaussfill", Stencil.gaussFillKernel(1.5), 4),
      ("median", Stencil.medianKernel(2), 2),
      ("median_r1", Stencil.medianKernel(1), 1),
      ("uniform", Stencil.uniformKernel(2), 2),
      ("erode", Stencil.morphKernel("erode", 1), 1),
      ("dilate", Stencil.morphKernel("dilate", 2), 2),
      ("aspect", Stencil.demKernel("aspect", res), 1),
      ("hillshade", Stencil.demKernel("hillshade", res), 1),
      ("hillshade_az", Stencil.demKernel("hillshade", res, 200.0, 30.0), 1),
      ("tri", Stencil.demKernel("tri", res), 1),
      ("tpi", Stencil.demKernel("tpi", res), 1),
      ("roughness", Stencil.demKernel("roughness", res), 1),
      ("slope", Stencil.demKernel("slope", res), 1),
      ("rolling_circular", Stencil.rollingKernel(5, fold), 2),
      ("rolling_square", Stencil.rollingKernel(5, fold, circular = false), 2),
      ("highpass", Stencil.highpassKernel(1.0), 3),
      ("bandpass", Stencil.bandpassKernel(1.0, 2.0), 9),
      ("interp", Stencil.interpKernel(3), 4),
      ("iterdilate", Stencil.iteratedDilateKernel(3), 3),
      ("removeislands", Stencil.removeIslandsKernel(2), 4))
    def md5(a: Array[Float]): String = {
      val bb = java.nio.ByteBuffer.allocate(4 * a.length)
      a.foreach(v => bb.putInt(java.lang.Float.floatToRawIntBits(v)))
      java.security.MessageDigest.getInstance("MD5").digest(bb.array())
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val got = kernels.map { case (name, k, h) => name -> md5(k(frame.clone(), p, h)) }.toMap
    // recorded from the per-kernel loops before they shared one window walk
    // ("slope" from the standalone Horn slope kernel); a change here means
    // the output bits moved
    val pinned = Map(
      "aspect" -> "96d6ebbb14f7f9f5e4ac3f9c75493fe5",
      "bandpass" -> "7362bbe11f23c78ec05d0734adc7c439",
      "dilate" -> "139170a3846836a402b32be7d2da2629",
      "erode" -> "1512242bb08dc28abe5917bb8a5a1f09",
      "gauss" -> "314b01e92f0356a623c09c29cdd54307",
      "gaussfill" -> "c5c9f79c681a287936cd0f32c051da1b",
      "highpass" -> "a1fb37104455d982fe43ddc9e99e4f14",
      "hillshade" -> "85181943b604ed11b5dfcc526bb3b7c6",
      "hillshade_az" -> "ac02f5681eb51d0e0edf3fa0ef6a2c6e",
      "interp" -> "c3cab363858c45aa842d35bfd8a8e68e",
      "iterdilate" -> "1f5b12a06b71a3bf0503824b6001c29a",
      "median" -> "26eee9225df3f57279c025ab3b43e595",
      "median_r1" -> "c13ff150956cd3a517f3b9b4adcd789f",
      "removeislands" -> "937ce4078afe2a1d9ac60232b3f020e5",
      "rolling_circular" -> "d4e5e75618e8f7d6e6ab483ee12f3dab",
      "rolling_square" -> "8013e4c3c6c9ea7f369048faaafc212a",
      "roughness" -> "6cc8f7d8e0e305e682c12fc92bac2a94",
      "slope" -> "26668ea3fa8f52bd7ca2f638316bedf6",
      "tpi" -> "ce23554e23e794f24f4e4a9144bbb76c",
      "tri" -> "c07f8191b22e583b92bbb5579e30a9a6",
      "uniform" -> "5e6904a900093e0c63a9036186781ed1")
    assert(got == pinned, got.toSeq.sorted.filter { case (k, v) => pinned.get(k) != Some(v) }
      .mkString("moved: ", ", ", ""))
  }

  test("a halo wider than the tile fails at call time, before any stage runs") {
    import spark.implicits._
    val t = spark.createDataset(Seq(
      TileRow("x", 0L, 0L, 0, 0, Array.fill(64 * 64)(1f), 64 * 64, false)))
    val e = intercept[IllegalArgumentException](
      Stencil(t, 1, 1, halo = 65)(Stencil.gaussKernel(1.5)))
    assert(e.getMessage.contains("halo 65"))
    intercept[IllegalArgumentException](Stencil(t, 1, 1, halo = -1)(Stencil.gaussKernel(1.5)))
  }

  test("an unknown dem or morph mode fails when the kernel is built") {
    intercept[IllegalArgumentException](Stencil.demKernel("curvature", 2.0))
    intercept[IllegalArgumentException](Stencil.morphKernel("open", 1))
  }

  test("erode shrinks validity; dilate then erode restores interior") {
    import spark.implicits._
    val payload = Array.fill(64 * 64)(ndv)
    for (y <- 10 until 30; x <- 10 until 30) payload(y * 64 + x) = 7f
    val t = spark.createDataset(Seq(TileRow("x", 0L, 0L, 0, 0, payload, 400, false)))
    val er = Stencil(t, 1, 1, 1)(Stencil.morphKernel("erode", 1)).head()
    assert(er.n_valid == 18 * 18)
    val di = Stencil(t, 1, 1, 1)(Stencil.morphKernel("dilate", 1)).head()
    assert(di.n_valid == 22 * 22)
  }

  /** md5 of a stencil output: rows sorted by (image_id, tile_id), every
    * field written with the payload by its raw float bits. */
  def md5(ds: org.apache.spark.sql.Dataset[TileRow]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    ds.collect().sortBy(t => (t.image_id, t.tile_id)).foreach { t =>
      out.writeUTF(t.image_id); out.writeLong(t.ts_us); out.writeLong(t.tile_id)
      out.writeInt(t.tx); out.writeInt(t.ty); out.writeInt(t.n_valid)
      out.writeBoolean(t.elided)
      t.payload.foreach(v => out.writeInt(java.lang.Float.floatToRawIntBits(v)))
    }
    out.flush()
    md.digest(bytes.toByteArray).map(b => f"$b%02x").mkString
  }

  test("stencil operator outputs on a fixed fixture match their pinned md5") {
    // end to end through warp, halo exchange, frame assembly and n_valid
    // (the kernel-level pins above take a hand-built frame); the images
    // include NDV margins (every 5th) and three resolutions
    val images = ImageTable.generate(spark, 10)
    val target = Warp.analyze(images, "min", "union")
    val (ntx, nty) = Warp.tileGrid(target)
    val tiles = Warp.warpToTiles(spark, images, target, "bilinear").cache()
    try {
      val got = Map(
        "gauss" -> md5(Stencil(tiles, ntx, nty, 4)(Stencil.gaussKernel(1.5))),
        "gaussFill" -> md5(Stencil(tiles, ntx, nty, 4)(Stencil.gaussFillKernel(1.5))))
      // taken before the kernels' NDV fills were unboxed; a change that
      // moves an output on purpose updates its md5 and says so
      val want = Map(
        "gauss" -> "b859b879b9273f6da18ae91846104635",
        "gaussFill" -> "4b6785146d16f9253c26ea568adf7acc")
      assert(got == want)
    } finally tiles.unpersist()
  }
}

class RasterOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = ImageTable.Ndv

  test("README flagship: warp two images to min/intersection, diff, stats") {
    import spark.implicits._
    // images 0 and 9: raw float32, res 2, same surface family
    val sel = Seq(0, 9).map(ImageTable.imageIdOf)
    val images = ImageTable.generate(spark, 10).filter(col("image_id").isin(sel: _*))
    val target = Warp.analyze(images, "min", "intersection")
    val a = Warp.warpToTiles(spark, images.filter(col("image_id") === sel(0)), target, "near")
    val b = Warp.warpToTiles(spark, images.filter(col("image_id") === sel(1)), target, "near")
    val diff = RasterOps.tileDiff(a, b)
    val st = RasterOps.tileStats(diff).head()
    // closed form: y0 − y9 = S·(day0 − day9) = 0.05·(0−27) = −1.35 everywhere
    assert(math.abs(st.getDouble(1) - (-1.35)) < 1e-3, s"mean ${st.getDouble(1)}")
    assert(st.getDouble(2) < 1e-3, s"std ${st.getDouble(2)}")  // constant diff
    assert(st.getLong(0) > 500)
  }

  test("dz filter masks out-of-range deviations (filtlib.py:411-441)") {
    import spark.implicits._
    val a = spark.createDataset(Seq(TileRow("a", 0, 0, 0, 0, Array(1f, 5f, 9f, ndv), 3, false)))
    val b = spark.createDataset(Seq(TileRow("b", 0, 0, 0, 0, Array(1f, 1f, 1f, 1f), 4, false)))
    val f = RasterOps.dzFilter(a, b, lo = 0.0, hi = 5.0).head()
    assert(f.payload.toSeq == Seq(1f, 5f, ndv, ndv))  // |9-1|=8 masked; ndv stays
  }

  test("ndvTrim crops margins and shifts the UL (malib.py:1440-1462)") {
    val img = ImageTable.row(5)   // margin 3 image
    val g = ImageTable.gridOf(5)
    val trimmed = RasterOps.ndvTrim(img).get
    assert(trimmed.w == g.w - 6 && trimmed.h == g.h - 6)
    assert(trimmed.ulx == g.ulx + 3 * g.res && trimmed.uly == g.uly - 3 * g.res)
    val px = Codec.decode(trimmed.bytes, trimmed.w, trimmed.h, "raw", ndv)
    assert(!px.contains(ndv))
    // trimming a no-margin image is the identity crop
    val img1 = ImageTable.row(1)
    val t1 = RasterOps.ndvTrim(img1).get
    assert(t1.w == img1.w && t1.h == img1.h && t1.ulx == img1.ulx)
  }

  test("outline polygon contains exactly the valid-ish region (geolib.py:828-894)") {
    val img = ImageTable.row(5)   // margin 3
    val g = ImageTable.gridOf(5)
    val mp = Wkb.read(RasterOps.outline(img).get)
    // pixel centers: interior valid pixels are inside, margin pixels outside
    val (cx, cy) = g.pixelToMap(g.w / 2.0, g.h / 2.0)
    assert(mp.contains(cx, cy))
    val (ox, oy) = g.pixelToMap(0.0, 0.0)
    assert(!mp.contains(ox, oy))
  }
}

class FillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = ImageTable.Ndv

  test("uniform filter averages the window; fillGaps closes interior holes") {
    import spark.implicits._
    val payload = Array.fill(64 * 64)(10.0f)
    // a 4x4 hole
    for (y <- 20 until 24; x <- 20 until 24) payload(y * 64 + x) = ndv
    val t = spark.createDataset(Seq(TileRow("x", 0L, 0L, 0, 0, payload, 64*64-16, false)))
    // uniform of a constant field stays constant (mask preserved)
    val u = Stencil(t, 1, 1, 2)(Stencil.uniformKernel(2)).head()
    assert(u.payload(0) == 10.0f && u.payload(20 * 64 + 20) == ndv)
    // two dilate rounds close a 4x4 hole completely with the neighbor mean
    val dilated = Stencil.fillGapsDilate(t, 1, 1, rounds = 2).head()
    assert(dilated.n_valid == 64 * 64)
    assert(dilated.payload(21 * 64 + 21) == 10.0f)
    // the interp fill (default) closes it in one pass, exactly for a constant
    val filled = Stencil.fillGaps(t, 1, 1).head()
    assert(filled.n_valid == 64 * 64)
    assert(filled.payload(21 * 64 + 21) == 10.0f)
  }

  test("subsample caps dims and scales res (ds_getma_sub iolib.py:164-247)") {
    val img0 = ImageTable.row(1)
    // tile the payload up to a large synthetic image
    val w = 300; val h = 200
    val px = Array.tabulate(w * h)(i => ((i % w) + (i / w)).toFloat)
    val big = img0.copy(bytes = Codec.encode(px, w, h, "raw"), w = w, h = h,
      fmt = "raw", res = 2.0)
    val sub = RasterOps.subsample(big, maxdim = 100)
    assert(math.max(sub.w, sub.h) <= 100)
    assert(sub.w == 100 && sub.h == math.rint(200 / 3.0).toInt)
    assert(sub.res == 2.0 * 3.0)
    // decimated values come from the source lattice
    val spx = Codec.decode(sub.bytes, sub.w, sub.h, sub.fmt, ImageTable.Ndv)
    assert(spx(0) == px(0))
    // small images pass through untouched
    assert(RasterOps.subsample(big, maxdim = 512) eq big)
    // stats stride rule (malib.py:1612-1624)
    assert(RasterOps.statsStride(1000000L) == 1)
    assert(RasterOps.statsStride(8000000L) == 2)
  }

  test("maskfill: interior holes filled, edge-connected NDV stays masked (malib.py:1352-1375)") {
    val w = 16; val h = 12
    val px = Array.fill(w * h)(5.0f)
    // left margin invalid (edge-connected), plus an interior 2×2 hole
    for (y <- 0 until h; x <- 0 until 3) px(y * w + x) = ndv
    for (y <- 5 to 6; x <- 8 to 9) px(y * w + x) = ndv
    val outside = RasterOps.maskFillHoles(px, w, h, ndv)
    for (y <- 0 until h; x <- 0 until 3) assert(outside(y * w + x))
    for (y <- 5 to 6; x <- 8 to 9) assert(!outside(y * w + x)) // hole = inside
    assert(!outside(5 * w + 12)) // valid pixel = inside
  }

  test("maskfill_edgeinclude: opening removes thin invalid intrusions (malib.py:1377-1391)") {
    val w = 20; val h = 20
    val px = Array.fill(w * h)(1.0f)
    // a 1-px-wide invalid spike and a bulky 6×6 invalid block
    for (x <- 5 to 14) px(10 * w + x) = ndv
    for (y <- 0 until 6; x <- 0 until 6) px(y * w + x) = ndv
    val opened = RasterOps.maskfillEdgeInclude(px, w, h, ndv, iterations = 1)
    // the 1-px spike is gone (interior spike cells unmasked)
    for (x <- 7 to 12) assert(!opened(10 * w + x), s"spike at $x")
    // the bulk block survives opening in its interior
    for (y <- 1 to 4; x <- 1 to 4) assert(opened(y * w + x), s"block ($x,$y)")
  }

  test("interp fill reproduces an exact cubic surface in the hole (map_interp geolib.py:1737-1769)") {
    import spark.implicits._
    def surf(x: Int, y: Int): Float = {
      val u = x / 10.0; val v = y / 10.0
      (2.0 + 1.5 * u - 0.8 * v + 0.3 * u * u - 0.2 * u * v +
       0.05 * u * u * u + 0.07 * u * v * v).toFloat
    }
    val payload = Array.tabulate(64 * 64)(i => surf(i % 64, i / 64))
    for (y <- 30 until 35; x <- 28 until 33) payload(y * 64 + x) = ndv // 5×5 hole
    val t = spark.createDataset(Seq(TileRow("x", 0L, 0L, 0, 0, payload, 64*64-25, false)))
    val filled = Stencil.fillGaps(t, 1, 1).head()
    assert(filled.n_valid == 64 * 64)
    for (y <- 30 until 35; x <- 28 until 33) {
      val got = filled.payload(y * 64 + x); val want = surf(x, y)
      assert(math.abs(got - want) < 1e-3, s"interp at ($x,$y): $got vs $want")
    }
    // valid pixels pass through bit-identically
    for (i <- 0 until 64 * 64 if !(i / 64 >= 30 && i / 64 < 35 && i % 64 >= 28 && i % 64 < 33))
      assert(filled.payload(i) == surf(i % 64, i / 64))
  }
}

class FitPolySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("2-D quadratic fit recovers an exact quadratic surface (geolib.py:1839-1914)") {
    import spark.implicits._
    // z = 3 + 2x - y + 0.5x^2 - 0.25xy + 0.1y^2 on a grid
    val pts = (for (x <- 0 until 20; y <- 0 until 20) yield {
      val xd = x.toDouble; val yd = y.toDouble
      (xd, yd, 3.0 + 2 * xd - yd + 0.5 * xd * xd - 0.25 * xd * yd + 0.1 * yd * yd)
    }).toDF("x", "y", "z")
    val (coef, withResid) = RasterOps.fitPoly2D(pts, degree = 2)
    // basis order: (i,j) for i<-0..2, j<-0..2-i → (0,0),(0,1),(0,2),(1,0),(1,1),(2,0)
    val want = Map(0 -> 3.0, 1 -> -1.0, 2 -> 0.1, 3 -> 2.0, 4 -> -0.25, 5 -> 0.5)
    want.foreach { case (k, v) => assert(math.abs(coef(k) - v) < 1e-6, s"coef $k") }
    import org.apache.spark.sql.functions._
    val maxResid = withResid.agg(max(abs(col("resid")))).head().getDouble(0)
    assert(maxResid < 1e-6)
    // degree-1 fit of the same data leaves structured residuals (sanity)
    val (_, r1) = RasterOps.fitPoly2D(pts, degree = 1)
    assert(r1.agg(max(abs(col("resid")))).head().getDouble(0) > 1.0)
  }

  test("fit survives map-scale (UTM) coordinates via centering/scaling") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same quadratic shape but at UTM magnitudes (x ~ 5e5, y ~ 5e6): the raw
    // monomial normal equations are numerically singular; the centered/scaled
    // fit must still drive residuals to ~0
    val pts = (for (x <- 0 until 20; y <- 0 until 20) yield {
      val xd = 500000.0 + x * 30.0; val yd = 5000000.0 + y * 30.0
      val u = (xd - 500000.0) / 30.0; val v = (yd - 5000000.0) / 30.0
      (xd, yd, 3.0 + 2 * u - v + 0.5 * u * u - 0.25 * u * v + 0.1 * v * v)
    }).toDF("x", "y", "z")
    val (_, withResid) = RasterOps.fitPoly2D(pts, degree = 2)
    val maxResid = withResid.agg(max(abs(col("resid")))).head().getDouble(0)
    assert(maxResid < 1e-4, s"maxResid $maxResid")
  }
}
