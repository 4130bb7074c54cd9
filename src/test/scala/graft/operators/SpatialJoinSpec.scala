package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{Extent, Wkb}
import graft.sources.{ImageTable, PolygonTable}

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val NPolys = 24
  val NPts = 3000
  lazy val polys = PolygonTable.generate(spark, NPolys)
  lazy val points = PolygonTable.points(spark, NPts)

  /** Brute-force oracle: decode every polygon on the driver, test every point. */
  def bruteMatches(): Set[(String, String)] = {
    val ps = polys.select("poly_id", "geom_wkb").collect()
      .map(r => r.getString(0) -> Wkb.read(r.getAs[Array[Byte]](1)))
    val pts = points.select("pt_id", "x", "y").collect()
    (for {
      (pid, mp) <- ps
      r <- pts
      if mp.contains(r.getDouble(1), r.getDouble(2))
    } yield (r.getString(0), pid)).toSet
  }

  test("pipJoin matches brute force exactly (broadcast, salted)") {
    val got = SpatialJoin.pipJoin(spark, points, polys, cellSize = 64.0, saltFactor = 4)
      .select("pt_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = bruteMatches()
    assert(got == want, s"got ${got.size} want ${want.size}; " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.nonEmpty)
  }

  test("pipJoin matches brute force exactly (shuffle path, no salt)") {
    val got = SpatialJoin.pipJoin(spark, points, polys, cellSize = 32.0,
        saltFactor = 1, broadcastPolys = false)
      .select("pt_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == bruteMatches())
  }

  test("auto-salt: >1 under a point burst, 1 on uniform scatter, result exact") {
    import spark.implicits._
    // burst: half of all points inside one 64 m cell
    val burst = (0 until 2000).map { i =>
      if (i % 2 == 0) (f"pt_$i%07d", 500010.0 + (i % 50) * 0.5, 5299990.0 - (i % 40) * 0.5, 0.0, 0L)
      else (f"pt_$i%07d", 499900.0 + (i * 131 % 8592).toDouble, 5300100.0 - (i * 71 % 2400).toDouble, 0.0, 0L)
    }.toDF("pt_id", "x", "y", "z", "ts_us")
    assert(SpatialJoin.autoSaltFactor(burst, 64.0) > 1)
    assert(SpatialJoin.autoSaltFactor(points, 64.0) == 1) // uniform fixture
    // auto-salted join (saltFactor = 0) is still exactly the brute result
    val got = SpatialJoin.pipJoin(spark, points, polys, cellSize = 64.0,
        saltFactor = 0, broadcastPolys = false)
      .select("pt_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == bruteMatches())
  }

  test("hot polygon creates the expected skew and still joins correctly") {
    val hot = bruteMatches().filter(_._2 == "poly_00003")
    // the hot polygon must dominate: it covers most of the region
    assert(hot.size > NPts / 2, s"hot matches ${hot.size}")
  }

  test("concave and donut semantics survive the join (notch/hole excluded)") {
    import spark.implicits._
    // synthetic probe points placed inside hole/notch of poly 1 (concave) at
    // known coords: use polygon 2 (donut at cx=?, reconstruct from generator)
    val mp2 = PolygonTable.polygon(2, NPolys)
    val bb = mp2.bbox
    val inHole = ((bb.xmin + bb.xmax) / 2, (bb.ymin + bb.ymax) / 2) // donut center
    val inRing = (bb.xmin + 5.0, bb.ymax - 5.0)
    val probes = Seq(
      ("probe_hole", inHole._1, inHole._2, 0.0, 0L),
      ("probe_ring", inRing._1, inRing._2, 0.0, 0L)).toDF("pt_id", "x", "y", "z", "ts_us")
    val got = SpatialJoin.pipJoin(spark, probes, polys.filter(col("poly_id") === "poly_00002"))
      .select("pt_id").collect().map(_.getString(0)).toSet
    assert(got == Set("probe_ring"))
  }

  test("heatmap counts cell-center coverage; hot polygon dominates") {
    val hm = SpatialJoin.heatmap(spark, polys, cellSize = 64.0)
    val counts = hm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.nonEmpty)
    assert(counts.values.max >= 2)   // overlap of hot polygon + local ones
    // every heatmap cell's center must actually be inside some polygon (spot check)
    val total = counts.values.sum
    assert(total > 100)
  }

  test("clipTiles masks pixels outside polygons (raster_shpclip geolib.py:690-753)") {
    import spark.implicits._
    val images = ImageTable.generate(spark, 12, spread = true)
    val target = Warp.analyze(images, "min", "union")
    val tiles = Warp.warpToTiles(spark, images, target, "near")
    val nBefore = tiles.collect().map(_.n_valid.toLong).sum
    val clipped = SpatialJoin.clipTiles(spark, tiles, polys, target)
    val after = clipped.collect()
    val nAfter = after.map(_.n_valid.toLong).sum
    assert(nAfter > 0 && nAfter <= nBefore)
    // inverted clip keeps the complement; together they partition the valid set
    val inverted = SpatialJoin.clipTiles(spark, tiles, polys, target, invert = true)
    val nInv = inverted.collect().map(_.n_valid.toLong).sum
    assert(nAfter + nInv == nBefore, s"$nAfter + $nInv != $nBefore")
    // every surviving pixel's center is inside some polygon
    val ps = polys.select("geom_wkb").collect().map(r => Wkb.read(r.getAs[Array[Byte]](0)))
    for (t <- after.take(5); i <- 0 until (64 * 64) if t.payload(i) != ImageTable.Ndv) {
      val (mx, my) = target.pixelToMap(t.tx * 64 + i % 64, t.ty * 64 + i / 64)
      assert(ps.exists(_.contains(mx, my)))
    }
  }
}

class KnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("k-ring kNN matches brute force exactly (k=5)") {
    val pts = PolygonTable.points(spark, 2000)
    val queries = pts.filter(col("pt_id") < "pt_0000100")
    val got = Knn.knn(spark, queries, pts, k = 5, cellSize = 128.0)
      .select("q_id", "c_id", "rnk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val want = Knn.knnBrute(spark, queries, pts, k = 5)
      .select("q_id", "c_id", "rnk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.size == 500)  // 100 queries × k
  }

  test("kNN with fewer candidates than k returns all candidates") {
    import spark.implicits._
    val cand = Seq(("c1", 0.0, 0.0, 0.0, 0L), ("c2", 10.0, 0.0, 0.0, 0L))
      .toDF("pt_id", "x", "y", "z", "ts_us")
    val q = Seq(("q1", 1.0, 1.0, 0.0, 0L)).toDF("pt_id", "x", "y", "z", "ts_us")
    val got = Knn.knn(spark, q, cand, k = 5, cellSize = 4.0)
      .collect()
    assert(got.length == 2)
  }

  test("kNN leaves no cached blocks behind (repeat-call hygiene)") {
    val pts = PolygonTable.points(spark, 500)
    val q = pts.filter(col("pt_id") < "pt_0000020")
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => Knn.knn(spark, q, pts, k = 3).count() }
    assert(spark.sharedState.cacheManager.isEmpty,
      "knn must unpersist its pass-local caches")
  }

  test("lazy kNN: same result, caches drained by releaseCaches (repeat-call hygiene)") {
    val pts = PolygonTable.points(spark, 500)
    val q = pts.filter(col("pt_id") < "pt_0000020")
    spark.catalog.clearCache()
    def runSet(eager: Boolean) =
      Knn.knn(spark, q, pts, k = 3, eager = eager).select("q_id", "c_id", "rnk")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val lazy1 = runSet(eager = false)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "lazy form keeps the pass caches alive until release")
    Knn.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty)
    // repeated lazy calls + drain: zero CacheManager growth
    (1 to 2).foreach { _ =>
      Knn.knn(spark, q, pts, k = 3, eager = false).count(); Knn.releaseCaches()
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(lazy1 == runSet(eager = true), "lazy and eager must agree")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("kNN is deterministic across parallelism") {
    val pts8 = PolygonTable.points(spark, 500, partitions = 8)
    val pts2 = PolygonTable.points(spark, 500, partitions = 2)
    val q8 = pts8.limit(0).unionByName(pts8.filter(col("pt_id") < "pt_0000020"))
    val q2 = pts2.filter(col("pt_id") < "pt_0000020")
    def runSet(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Knn.knn(spark, q, c, k = 3).select("q_id", "c_id", "rnk").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(runSet(q8, pts8) == runSet(q2, pts2))
  }
}
