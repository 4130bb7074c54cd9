package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ImageTable

/** Guards the preconditions that make the EngineOracle twins bit-exact
  * (EngineOracle scaladoc):
  *  1. quantized subset surfaces never land within 1e-6 of a rounding
  *     boundary (k + 0.5), so DuckDB round_even == math.rint regardless of
  *     last-ulp differences in the shared double chain;
  *  2. trend-subset timestamps give t = days + hr/24 with ≤ 3 fraction bits
  *     (exactly representable → OLS sums are exact, order-independent).
  * The fixture is deterministic, so a green run here pins the property for
  * every future driver run at the same n. */
class OracleFixtureSpec extends AnyFunSuite {
  val N = 800 // driver correctness gate scale (sf0.01)

  test("quantized no-ripple surfaces stay > 1e-6 away from rounding boundaries") {
    var minDist = Double.MaxValue
    for (i <- 0 until N if i % 3 != 2 && ImageTable.fmtOf(i) != "raw") {
      val g = ImageTable.spreadGridOf(i)
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w) {
          val (mx, my) = g.pixelToMap(x, y)
          val v = ImageTable.surface(i, mx, my)
          val frac = v - math.floor(v)
          val d = math.abs(frac - 0.5)
          if (d < minDist) minDist = d
          x += 1
        }
        y += 1
      }
    }
    assert(minDist > 1e-6, s"surface value within $minDist of a .5 boundary")
  }

  test("trend-subset t values are exact doubles (<= 3 fraction bits)") {
    for (i <- 0 until N if i % 3 == 0) {
      val t = ImageTable.tsMicrosOf(i) / 86400e6 - 20000.0
      assert(t * 8 == math.rint(t * 8), s"t=$t for image $i is not on the 1/8 grid")
    }
  }

  test("rect ray-crossing PIP == half-open center test on every covering cell (q77 twin)") {
    import graft.sources.PolygonTable
    var checked = 0L
    for (i <- 0 until 120 if i % 4 == 0 || i % 4 == 3) {
      val mp = PolygonTable.polygon(i, 120)
      val bb = mp.bbox
      for (gx <- math.floor(bb.xmin / 64).toLong to math.floor(bb.xmax / 64).toLong;
           gy <- math.floor(bb.ymin / 64).toLong to math.floor(bb.ymax / 64).toLong) {
        val px = (gx + 0.5) * 64; val py = (gy + 0.5) * 64
        val pip = mp.contains(px, py)
        val halfOpen = mp.polys.exists(p =>
          px >= p.bbox.xmin && px < p.bbox.xmax && py >= p.bbox.ymin && py < p.bbox.ymax)
        assert(pip == halfOpen, s"poly $i cell ($gx,$gy): pip=$pip halfOpen=$halfOpen")
        checked += 1
      }
    }
    assert(checked > 4000, s"only $checked centers checked — fixture changed?")
  }

  test("pixel decode: tile_id, (tx, ty) and cell_id forms agree on a non-square grid") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.IntegerType
    import graft.operators.{StackOps, TestSpark, TileRow, Warp}
    val spark = TestSpark.spark
    import spark.implicits._
    val T = Warp.TileSize
    val (ntx, nty) = (5, 3)
    // (tx, ty, pidx): tx != ty and pidx % T != pidx / T wherever it matters
    val cases = Seq((0, 0, 0), (4, 0, T + 2), (1, 2, 3 * T + 17),
                    (3, 1, T * T - 1), (ntx - 1, nty - 1, 5 * T + 60))
    val tiles = spark.createDataset(cases.map { case (tx, ty, pidx) =>
      val p = Array.fill(T * T)(ImageTable.Ndv); p(pidx) = 7f
      TileRow(s"img$tx$ty", 0L, ty.toLong * ntx + tx, tx, ty, p, 1, elided = false)
    })
    val want = cases.map { case (tx, ty, pidx) => (tx * T + pidx % T, ty * T + pidx / T) }.toSet
    val byTileId = tiles.toDF()
      .select(col("tile_id"), posexplode(col("payload")).as(Seq("pidx", "v")))
      .filter(col("v") =!= ImageTable.Ndv)
      .select(TileCells.tilePixelXY(ntx): _*)
    val byTxTy = TileCells.payloadPixels(tiles.toDF()).select("px", "py")
    val byCellId = StackOps.toCells(tiles).select(TileCells.cellPixelXY(ntx): _*)
    for ((form, df) <- Seq("tile_id" -> byTileId, "(tx, ty)" -> byTxTy, "cell_id" -> byCellId)) {
      assert(df.schema("px").dataType == IntegerType && df.schema("py").dataType == IntegerType,
        s"$form: ${df.schema}")
      assert(df.as[(Int, Int)].collect().toSet == want, form)
    }
  }
}
