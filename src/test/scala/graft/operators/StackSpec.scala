package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.GridSpec
import graft.sources.ImageTable

class StackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = ImageTable.Ndv

  /** One tile whose first pixels are `vals`, NDV-padded to the engine's size. */
  def tile(id: String, tsUs: Long, vals: Array[Float]): TileRow =
    TileRow(id, tsUs, 0L, 0, 0, vals.padTo(Warp.TileSize * Warp.TileSize, ndv),
      vals.count(_ != ndv), elided = true)

  val day = 86400L * 1000000L

  test("stack stats golden: count/mean/std/min/max with masking (malib.py:559-587)") {
    import spark.implicits._
    // 3 layers; pixel 2 valid once, pixel 3 never
    val t = spark.createDataset(Seq(
      tile("a", 0 * day, Array(1f, 10f, 5f, ndv)),
      tile("b", 1 * day, Array(2f, 20f, ndv, ndv)),
      tile("c", 2 * day, Array(3f, 60f, ndv, ndv))))
    val st = StackOps.stackStats(t).head()
    assert(st.n_layers == 3)
    assert(st.count.toSeq.take(4) == Seq(3, 3, 1, 0))
    assert(st.mean(0) == 2f && st.mean(1) == 30f && st.mean(2) == 5f && st.mean(3) == ndv)
    // population std: sqrt(2/3) and sqrt(1400/3); masked at count<=1 (malib.py:569)
    assert(math.abs(st.std(0) - math.sqrt(2.0 / 3.0)) < 1e-6)
    assert(math.abs(st.std(1) - math.sqrt(1400.0 / 3.0)) < 1e-4)
    assert(st.std(2) == ndv && st.std(3) == ndv)
    assert(st.vmin.toSeq.take(3) == Seq(1f, 10f, 5f) && st.vmax.toSeq.take(3) == Seq(3f, 60f, 5f))
  }

  test("trend golden: exact OLS slope*365.25 + gates (malib.py:999-1171)") {
    import spark.implicits._
    // pixel 0: y = 2 + 3*t_days → slope_yr = 3*365.25; pixel 1: constant;
    // pixel 2: n=1 (gated); pixel 3: never valid (gated)
    val t = spark.createDataset(Seq(
      tile("a", 0 * day, Array(2f, 7f, 5f, ndv)),
      tile("b", 1 * day, Array(5f, 7f, ndv, ndv)),
      tile("c", 2 * day, Array(8f, 7f, ndv, ndv))))
    val tr = StackOps.trend(t).head()
    assert(math.abs(tr.slope_yr(0) - 3 * 365.25) < 1e-3)
    assert(math.abs(tr.intercept(0) - 2.0) < 1e-4)
    assert(math.abs(tr.slope_yr(1)) < 1e-6)
    assert(tr.slope_yr(2) == ndv && tr.slope_yr(3) == ndv)
    // min_dt_ptp gate: 3-day spread < 10 days → everything gated
    val gated = StackOps.trend(t, minDtPtp = 10.0).head()
    assert(gated.slope_yr(0) == ndv)
  }

  test("t-distribution quantiles match published two-sided critical values") {
    import graft.functions.TDist
    assert(math.abs(TDist.crit(0.05, 1) - 12.7062) < 1e-3)
    assert(math.abs(TDist.crit(0.05, 2) - 4.30265) < 1e-4)
    assert(math.abs(TDist.crit(0.05, 10) - 2.22814) < 1e-4)
    assert(math.abs(TDist.crit(0.05, 30) - 2.04227) < 1e-4)
    assert(math.abs(TDist.cdf(0.0, 5) - 0.5) < 1e-12)
  }

  test("trend diagnostics: r2/t_stat closed form + conf_test mask (malib.py:1139-1156)") {
    import spark.implicits._
    // pixel 0: y = (0,1,2,10) at t = 0..3 days → hand-computed:
    //   Sxx=5, Sxy=15.5, Syy=62.75, b=3.1, r2=0.765737, SE=√(14.7/2/5),
    //   T0=2.55683 < t_{.025,2}=4.30265 → insignificant
    // pixel 1: exact line y = 2 + 3t → r2 = 1, perfect fit → kept under conf
    val rows = Seq(
      tile("a", 0 * day, Array(0f, 2f, ndv, ndv)),
      tile("b", 1 * day, Array(1f, 5f, ndv, ndv)),
      tile("c", 2 * day, Array(2f, 8f, ndv, ndv)),
      tile("d", 3 * day, Array(10f, 11f, ndv, ndv)))
    val tr = StackOps.trend(spark.createDataset(rows), nThresh = 2).head()
    assert(math.abs(tr.r2(0) - 0.765737) < 1e-4)
    assert(math.abs(tr.t_stat(0) - 2.55683) < 1e-3)
    assert(math.abs(tr.slope_yr(0) - 3.1 * 365.25) < 1e-2)
    assert(math.abs(tr.r2(1) - 1.0) < 1e-5)
    // conf_test: noisy pixel masked, perfect-fit pixel kept
    val conf = StackOps.trend(spark.createDataset(rows),
      nThresh = 2, confTest = true).head()
    assert(conf.slope_yr(0) == ndv && conf.intercept(0) == ndv)
    assert(math.abs(conf.slope_yr(1) - 3 * 365.25) < 1e-2)
  }

  test("auto min_dt_ptp = 10% of the p96 per-pixel date range (malib.py:1020-1025)") {
    import spark.implicits._
    // pixel 0 spread 3 days, pixel 1 spread 1 day (layers b..c only)
    val t = spark.createDataset(Seq(
      tile("a", 0 * day, Array(1f, ndv, ndv, ndv)),
      tile("b", 1 * day, Array(2f, 4f, ndv, ndv)),
      tile("c", 2 * day, Array(3f, 5f, ndv, ndv)),
      tile("d", 3 * day, Array(4f, ndv, ndv, ndv))))
    val auto = StackOps.autoMinDtPtp(t)
    // valid ptps (days): pixel0 = 3, pixel1 = 1 → p96 ≈ 2.92 → gate ≈ 0.292
    assert(auto > 0.29 && auto < 0.3, s"auto=$auto")
    val gated = StackOps.trend(t, minDtPtp = auto).head()
    assert(gated.slope_yr(0) != ndv && gated.slope_yr(1) != ndv)
    val hardGate = StackOps.trend(t, minDtPtp = 2.0).head()
    assert(hardGate.slope_yr(0) != ndv && hardGate.slope_yr(1) == ndv)
  }

  test("dt stats golden: first/last/ptp/center, ptp masked where 0 (malib.py:310-324)") {
    import spark.implicits._
    val t = spark.createDataset(Seq(
      tile("a", 5 * day, Array(1f, 1f, ndv, ndv)),
      tile("b", 9 * day, Array(2f, ndv, ndv, ndv))))
    val dt = StackOps.dtStats(t).head()
    assert(dt.t_first_us(0) == 5 * day && dt.t_last_us(0) == 9 * day)
    assert(dt.ptp_us(0) == 4 * day && dt.center_us(0) == 7 * day)
    assert(dt.ptp_us(1) == -1)            // single layer → ptp masked
    assert(dt.t_first_us(2) == -1)        // never valid
  }

  test("vector aggregator equals the explode-path aggregation on real warped tiles") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 9)
    val target = Warp.analyze(images, "min", "union")
    val tiles = Warp.warpToTiles(spark, images, target, "near").cache()

    val vec = StackOps.stackStats(tiles).collect().map(s => s.tile_id -> s).toMap
    val exploded = StackOps.toCells(tiles)
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("cnt"), avg(col("v")).as("mean"),
           min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .collect()
    assert(exploded.nonEmpty)
    val T = Warp.TileSize * Warp.TileSize
    exploded.foreach { r =>
      val cell = r.getLong(0); val tid = cell / T; val pidx = (cell % T).toInt
      val s = vec(tid)
      assert(s.count(pidx) == r.getLong(1), s"count at $cell")
      assert(math.abs(s.mean(pidx) - r.getDouble(2)) < 1e-3, s"mean at $cell")
      assert(s.vmin(pidx) == r.getFloat(3) && s.vmax(pidx) == r.getFloat(4))
    }
    tiles.unpersist()
  }

  test("closed-form trend on aligned identical-grid layers") {
    import spark.implicits._
    // images 0,9,18: all res 2.0 (lattice-aligned → elided copies) and all
    // fmt=raw (float32 payloads — png/bmp quantization would bury the trend)
    val g0 = ImageTable.gridOf(0)
    val sel = Seq(0, 9, 18).map(ImageTable.imageIdOf).toSet
    val images = ImageTable.generate(spark, 19)
      .filter(col("image_id").isin(sel.toSeq: _*))
    val tiles = Warp.warpToTiles(spark, images, g0, "near")
    val tr = StackOps.trend(tiles).collect()
    // t_i = (Epoch0 + 3i)*day + i·3600 s (i%24=i) → t and y both linear in i:
    // y = A0 + S·3i + affine(x,y); t_days = D0 + i·73/24 → dy/dt = 3S/(73/24)
    val slopeDay = 3 * ImageTable.SlopePerDay / (73.0 / 24.0)
    val want = slopeDay * 365.25
    val got = tr.flatMap(t => t.slope_yr.zipWithIndex.collect {
      case (s, i) if t.count(i) == 3 => s
    })
    assert(got.nonEmpty)
    // pixels valid in all three layers: exact affine surfaces, fp-tolerant
    got.foreach(s => assert(math.abs(s - want) < 0.05, s"slope $s vs $want"))
  }

  test("exact cell median/NMAD two-pass (malib.py:1499-1532)") {
    import spark.implicits._
    val t = spark.createDataset(Seq(
      tile("a", 0, Array(1f, 4f, ndv, ndv)),
      tile("b", 1, Array(2f, 8f, ndv, ndv)),
      tile("c", 2, Array(9f, 12f, ndv, ndv))))
    val mn = StackOps.cellMedianNmad(StackOps.toCells(t))
      .orderBy(col("cell_id")).collect()
    assert(mn(0).getDouble(1) == 2.0)                       // med of 1,2,9
    assert(math.abs(mn(0).getDouble(2) - 1.4826) < 1e-9)    // med(|1,0,7|)=1
    assert(mn(1).getDouble(1) == 8.0)
    assert(math.abs(mn(1).getDouble(2) - 4 * 1.4826) < 1e-9)
  }
}

class RobustTrendSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = graft.sources.ImageTable.Ndv
  val day = 86400L * 1000000L
  /** One tile whose first pixels are `vals`, NDV-padded to the engine's size. */
  def tile(id: String, tsUs: Long, vals: Array[Float]): TileRow =
    TileRow(id, tsUs, 0L, 0, 0, vals.padTo(Warp.TileSize * Warp.TileSize, ndv),
      vals.count(_ != ndv), elided = true)

  test("Theil-Sen: exact on clean linear data, robust to one outlier (malib.py:960-998)") {
    import spark.implicits._
    // 5 layers; pixel 0 linear y=1+2t with an outlier at t=4 (max leverage
    // — a center outlier would leave OLS unbiased); pixel 1 clean
    val t = spark.createDataset(Seq(
      tile("a", 0 * day, Array(1f, 10f, ndv, ndv)),
      tile("b", 1 * day, Array(3f, 12f, ndv, ndv)),
      tile("c", 2 * day, Array(5f, 14f, ndv, ndv)),
      tile("d", 3 * day, Array(7f, 16f, ndv, ndv)),
      tile("e", 4 * day, Array(500f, 18f, ndv, ndv))))   // outlier in pixel 0
    val cells = StackOps.toCells(t)
    val ts = StackOps.theilSen(cells).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    // pixel 0: median of pairwise slopes = 2 despite the outlier
    assert(math.abs(ts(0L)._2 - 2 * 365.25) < 1e-6, s"${ts(0L)}")
    // OLS on the same data is badly skewed by the outlier (the contrast)
    val ols = StackOps.trend(t).head()
    assert(math.abs(ols.slope_yr(0) - 2 * 365.25) > 100)
    // pixel 1: clean slope 2/day
    assert(math.abs(ts(1L)._2 - 2 * 365.25) < 1e-6)
    assert(math.abs(ts(1L)._3 - 10.0) < 1e-6)   // intercept
  }

  test("RANSAC recovers the clean slope under 30% gross outliers (malib.py:960-993)") {
    import spark.implicits._
    // cell 1: y = 10 + 2t over 20 days, 6 of 20 samples blasted by +500
    val clean = (0 until 20).map(t => (1L, t * day, (10.0 + 2.0 * t).toFloat))
    val dirty = clean.zipWithIndex.map { case ((c, t, v), i) =>
      if (i % 3 == 1 && i < 18) (c, t, v + 500f) else (c, t, v)
    }
    val cells = dirty.toDF("cell_id", "ts_us", "v")
    val fit = StackOps.ransac(cells, trials = 32).head()
    assert(math.abs(fit.getDouble(2) - 2.0 * 365.25) < 1e-6, s"slope ${fit.getDouble(2)}")
    assert(math.abs(fit.getDouble(3) - 10.0) < 1e-6)
    assert(fit.getInt(4) >= 14) // the clean 14 are all inliers
    // determinism across partitionings
    val fit2 = StackOps.ransac(cells.repartition(7), trials = 32).head()
    assert(fit.getDouble(2) == fit2.getDouble(2))
  }

  test("stack clip + subset predicates prune tiles/layers (malib.py:733-884)") {
    import spark.implicits._
    val images = graft.sources.ImageTable.generate(spark, 12, spread = true)
    val target = Warp.analyze(images, "min", "union")
    val tiles = Warp.warpToTiles(spark, images, target, "near").cache()
    val all = tiles.collect()
    val clipped = StackOps.stackClip(tiles, 0, 0, 1, 1).collect()
    assert(clipped.nonEmpty && clipped.forall(t => t.tx <= 1 && t.ty <= 1))
    assert(clipped.length == all.count(t => t.tx <= 1 && t.ty <= 1))
    val tsMin = all.map(_.ts_us).sorted.apply(all.length / 2)
    val sub = StackOps.stackSubset(tiles, tsMin, Long.MaxValue).collect()
    assert(sub.nonEmpty && sub.forall(_.ts_us >= tsMin))
    tiles.unpersist()
  }
}

class OutlierIterSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ndv = graft.sources.ImageTable.Ndv
  val day = 86400L * 1000000L
  /** One tile whose first pixels are `vals`, NDV-padded to the engine's size. */
  def tile(id: String, tsUs: Long, vals: Array[Float]): TileRow =
    TileRow(id, tsUs, 0L, 0, 0, vals.padTo(Warp.TileSize * Warp.TileSize, ndv),
      vals.count(_ != ndv), elided = true)

  test("3-sigma outlier iteration recovers the clean slope (malib.py:1103-1120)") {
    import spark.implicits._
    // pixel 0: y=1+2t over 12 layers with one gross outlier at the end
    // (needs >=10 layers: with fewer, the outlier's own leverage keeps its
    // residual under 3*NMAD — the reference would keep it too)
    val ys = Array(1f, 3f, 5f, 7f, 9f, 11f, 13f, 15f, 17f, 19f, 21f, 400f)
    val t = spark.createDataset(ys.zipWithIndex.map { case (y, i) =>
      tile(s"l$i", i * day, Array(y, 5f, ndv, ndv))
    }.toSeq)
    val cells = StackOps.toCells(t)
    val fit = StackOps.trendOutlierIter(cells).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // outlier removed → n=11, slope exactly 2/day
    assert(fit(0L)._1 == 11, s"${fit(0L)}")
    assert(math.abs(fit(0L)._2 - 2 * 365.25) < 1e-6)
    assert(math.abs(fit(0L)._3 - 1.0) < 1e-6)
    // plain OLS would NOT recover it
    val ols = StackOps.trend(t).head()
    assert(math.abs(ols.slope_yr(0) - 2 * 365.25) > 1000)
    // constant pixel survives untouched (rstd = 0 keeps all samples)
    assert(fit(1L)._1 == 12 && math.abs(fit(1L)._2) < 1e-9)
  }
}
