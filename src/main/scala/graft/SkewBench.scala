package graft

import org.apache.spark.sql.functions._
import graft.operators.SpatialJoin
import graft.sources.PolygonTable

/** Skew-stress benchmark for the salted spatial join (SURVEY §4: "must show
  * ≥0.8 with skewed synthetic layers"; VERDICT r3 #5).
  *
  * Fixture: 30% of all points land inside ONE 64 m covering cell (≈1,500×
  * the uniform per-cell load — far past the ≥10× criterion), the rest
  * scatter uniformly. The join runs in its SHUFFLE form
  * (broadcastPolys = false): this is the 100 TB regime where the polygon
  * side is too big to broadcast and every hot-cell point hashes to the same
  * reducer — exactly what point-side salting (pmod(hash(pt_id), salt) vs
  * ×salt polygon replication) is for. Each (salt, aqe) cell is measured
  * interleaved best-of-N (the box's noise demands it, BENCH.md §3).
  *
  * Run once per core count (e.g. SPARK_GRAFT_CPUS=1 and =4) and compare: the
  * salted join's scaling efficiency and its wall-clock vs the unsalted one
  * under identical skew; AQE on/off separates Spark's runtime skew-split
  * from the plan-level salting. */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_N_POINTS", "3000000").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Local.session()
    // the regime under test is the 100 TB one where the polygon side is NOT
    // broadcastable — without this the planner broadcasts the small fixture
    // layer and the shuffle (and therefore the skew) vanishes. One reducer
    // per core, so the salted join can use every core it is scaled to. The
    // AQE flags are runtime SQL confs flipped per measurement inside run().
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", Local.cpus.toString)

    // 30% of ids → one 64 m cell at (502000, 5299000); the rest uniform over
    // the ~5,100-cell PolygonTable domain. Deterministic closed forms.
    // SPARK_GRAFT_HOT=0 gives the unskewed reference fixture (same total
    // row count and polygon layer, zero hot-cell burst)
    val hotTenths = sys.env.getOrElse("SPARK_GRAFT_HOT", "3").toInt
    val pts = spark.range(n).select(
      format_string("pt_%09d", col("id")).as("pt_id"),
      when(col("id") % 10 < hotTenths,
          lit(501952.0) + (col("id") % 63).cast("double") + 0.5)
        .otherwise(lit(499900.0) + (col("id") * 131 % 8592).cast("double")).as("x"),
      when(col("id") % 10 < hotTenths,
          lit(5298944.0) + (col("id") % 7).cast("double") * 9 + 0.5)
        .otherwise(lit(5300100.0) - (col("id") * 71 % 2400).cast("double")).as("y"))
      .cache()
    pts.count()
    // the polygon layer + 64 geometries stacked over the hot cell: the real
    // hazard is popular geometry × point burst — every hot-cell point must
    // refine against all 64 candidates, and without salting that entire
    // refine runs inside ONE reducer
    import spark.implicits._
    import graft.geo.{MultiPolygon, Polygon, Ring, Wkb}
    val cols = Seq("poly_id", "geom_wkb", "xmin", "ymin", "xmax", "ymax")
    // 16 many-vertex (256) wavy rings, all containing the hot cell — the
    // refine is O(vertices) per candidate, so each hot-cell point pays
    // 16×256 edge tests; without salting that entire load lands in ONE task
    val hotPolys = (0 until 16).map { k =>
      val cx = 501984.0; val cy = 5298976.0; val nv = 256
      val xs = new Array[Double](nv); val ys = new Array[Double](nv)
      for (j <- 0 until nv) {
        val th = 2 * math.Pi * j / nv
        val r = 60.0 + 3 * k + 5 * math.sin(8 * th)
        xs(j) = cx + r * math.cos(th); ys(j) = cy + r * math.sin(th)
      }
      val mp = MultiPolygon(Seq(Polygon(Ring(xs, ys), Nil)))
      val bb = mp.bbox
      (f"hot_$k%03d", Wkb.writeMultiPolygon(mp), bb.xmin, bb.ymin, bb.xmax, bb.ymax)
    }.toDF(cols: _*)
    val polys = PolygonTable.generate(spark, 400)
      .select(cols.map(col): _*).unionByName(hotPolys).cache()
    polys.count()

    def run(salt: Int, aqe: Boolean): Double = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe.toString)
      val t0 = System.nanoTime()
      SpatialJoin.pipJoin(spark, pts, polys, saltFactor = salt,
        broadcastPolys = false).count()
      (System.nanoTime() - t0) / 1e9
    }

    val salts = sys.env.getOrElse("SPARK_GRAFT_SALTS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val cells = salts.map((_, false)) ++ salts.map((_, true))
    run(4, aqe = true) // warmup (codegen + page cache)
    val best = collection.mutable.Map.empty[(Int, Boolean), Double]
    for (_ <- 0 until reps; c <- cells) { // interleaved best-of-N
      val s = run(c._1, c._2)
      best(c) = math.min(best.getOrElse(c, Double.MaxValue), s)
    }
    val hot = pts.filter(col("id") % 10 < hotTenths).count()
    val fields = cells.map { case c @ (salt, aqe) =>
      s""""salt${salt}_aqe${if (aqe) "on" else "off"}":${f"${best(c)}%.3f"}"""
    }.mkString(",")
    println(s"""{"metric":"skew_pip","unit":"sec","cpus":${Local.cpus},"n_points":$n,"hot_cell_points":$hot,$fields}""")
    spark.stop()
  }
}
