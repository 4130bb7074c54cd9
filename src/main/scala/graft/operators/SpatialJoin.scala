package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Extent, MultiPolygon, PlanarCell, Wkb}
import graft.sources.ImageTable.Ndv

/** Point/tile ⋈ polygon spatial join — the `raster_shpclip` /
  * `shp2array` pipeline (`geolib.py:635-753`) re-expressed as a covering-cell
  * equi-join prefilter plus exact ray-crossing point-in-polygon refine
  * (north rule). The prefilter is the engine analog of the reference's OGR
  * `SetSpatialFilter` pushdown (`geolib.py:663`).
  *
  * Scale shape: polygons flatMap to covering cells (small side), points map
  * to one cell each (big side), equi hash join on cell_id, then a codegen'd
  * refine. The hot-polygon skew (one polygon covering thousands of cells is
  * fine — it explodes the SMALL side; the dangerous skew is many points in
  * one cell) is defused by `saltFactor`: point cells salt by a deterministic
  * hash, polygon cells replicate ×salt. AQE skew-join covers the residual. */
object SpatialJoin {

  // The WKB decode cache lives in graft.functions.PipKernels (keyed by
  // operator-invocation epoch + poly_id); the PIP refine is the codegen'd
  // PipContains expression — no ScalaUDF fence in the join filter.

  /** Polygon side → (cell_id, salt, poly_id, geom_wkb). */
  def polyCells(spark: SparkSession, polys: DataFrame, cellSize: Double,
                saltFactor: Int): DataFrame = {
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    polys.select("poly_id", "geom_wkb", "xmin", "ymin", "xmax", "ymax")
      .flatMap { r =>
        val cells = PlanarCell.cover(
          Extent(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)), cellSize)
        for (c <- cells; s <- 0 until saltFactor)
          yield (c, s, r.getString(0), r.getAs[Array[Byte]](1))
      }(enc)
      .toDF("cell_id", "salt", "poly_id", "geom_wkb")
  }

  /** Auto-size the salt factor from the point-side cell histogram: one
    * narrow count-agg finds the hottest cell vs the mean cell load; the
    * salt splits the hot key until its per-reducer share is within ~2× the
    * mean (capped at 64 — past the point where the per-reducer hot slice
    * sinks under the uniform base, ×salt small-side replication is pure
    * overhead: measured plateau, BENCH.md §8). This must live in the
    * OPERATOR: Spark's AQE skew-join triggers on partition BYTES and is
    * blind to CPU-bound refine skew (measured on ≡ off, BENCH.md §8). */
  def autoSaltFactor(points: DataFrame, cellSize: Double): Int = {
    val m = points
      .groupBy(graft.functions.GraftFunctions.planarCell(
        col("x"), col("y"), lit(cellSize)).as("c"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")), avg(col("n"))).head()
    if (m.isNullAt(0)) 1 // empty point side: no histogram, no salt
    else {
      val hot = m.getLong(0).toDouble
      val mean = math.max(1.0, m.getDouble(1))
      math.min(64, math.max(1, math.ceil(hot / (2.0 * mean)).toInt))
    }
  }

  /** points(pt_id, x, y, …) ⋈ polys(poly_id, geom_wkb, bbox) → matched pairs.
    * Exact PIP refine after the cell prefilter; `broadcastPolys` chooses the
    * physical join (broadcast for small layers, shuffle hash otherwise).
    * `saltFactor` ≤ 0 → auto-size from the point-side cell histogram. */
  def pipJoin(spark: SparkSession, points: DataFrame, polys: DataFrame,
              cellSize: Double = 64.0, saltFactor: Int = 4,
              broadcastPolys: Boolean = true): DataFrame = {
    val salt = if (saltFactor > 0) saltFactor else autoSaltFactor(points, cellSize)
    val pc = polyCells(spark, polys, cellSize, salt)
    val pts = points.withColumn("cell_id",
        graft.functions.GraftFunctions.planarCell(col("x"), col("y"), lit(cellSize)))
      .withColumn("salt", pmod(hash(col("pt_id")), lit(salt)))
    val right = if (broadcastPolys) broadcast(pc) else pc
    val epoch = java.util.UUID.randomUUID().toString // cache scope, this invocation
    pts.join(right, Seq("cell_id", "salt"))
      .filter(graft.functions.PipFunctions.pipContains(
        lit(epoch), col("poly_id"), col("geom_wkb"), col("x"), col("y")))
      .drop("geom_wkb", "salt")
  }

  /** Polygon density heatmap — `heatmap` `geolib.py:2226-2244`: per-cell
    * count of polygons containing the CELL CENTER. This is exact parity,
    * not an approximation: the reference shells out to `gdal_rasterize
    * -burn 1 -add` WITHOUT `-at`/ALL_TOUCHED (`geolib.py:2233`), and GDAL's
    * default rasterize rule burns a pixel iff its center is inside. */
  def heatmap(spark: SparkSession, polys: DataFrame, cellSize: Double = 64.0): DataFrame = {
    val pc = polyCells(spark, polys, cellSize, saltFactor = 1)
    val epoch = java.util.UUID.randomUUID().toString // cache scope, this invocation
    // cell centers from the packed id ((cx+2^30)<<31 | (cy+2^30)), inline math
    val off = 1L << 30
    val cx = (shiftrightunsigned(col("cell_id"), 31) - off + lit(0.5)) * cellSize
    val cy = (col("cell_id").bitwiseAND(0x7fffffffL) - off + lit(0.5)) * cellSize
    pc.filter(graft.functions.PipFunctions.pipContains(
        lit(epoch), col("poly_id"), col("geom_wkb"), cx, cy))
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n_polys"))
  }

  /** Clip aligned tiles by polygons — `raster_shpclip` `geolib.py:690-753`:
    * mask tile pixels whose centers fall outside (or, inverted, inside) the
    * polygon layer.
    *
    * Scale shape: the polygon layer is never collected to the driver. Each
    * polygon's bounding box maps straight onto the target's tile grid to
    * build a per-tile candidate list (its WKBs grouped by tile_id), which
    * is broadcast and left-joined to the tile stack, so the tile payloads
    * never shuffle: each task decodes a tile's candidate WKBs once and
    * computes its per-pixel PIP mask ONCE per tile_id, reused across every
    * layer in the stack (the stack has n_layers tiles per tile_id). */
  def clipTiles(spark: SparkSession, tiles: org.apache.spark.sql.Dataset[TileRow],
                polys: DataFrame, target: graft.geo.GridSpec,
                invert: Boolean = false): org.apache.spark.sql.Dataset[TileRow] = {
    import spark.implicits._
    // polygons map straight onto the TARGET's tile grid (no intermediate
    // cell join, and `tiles` is consumed exactly once — re-deriving the
    // tile-id set from the stack would re-run the upstream warp)
    val ulx = target.ulx; val uly = target.uly; val res = target.res
    val (ntx, nty) = Warp.tileGrid(target)
    val T = Warp.TileSize
    val cs = T * res
    val cands = polys.select("poly_id", "geom_wkb", "xmin", "ymin", "xmax", "ymax")
      .flatMap { r =>
        val wkb = r.getAs[Array[Byte]](1)
        val tx0 = math.max(0, math.floor((r.getDouble(2) - ulx) / cs).toInt)
        val tx1 = math.min(ntx - 1, math.floor((r.getDouble(4) - ulx) / cs).toInt)
        val ty0 = math.max(0, math.floor((uly - r.getDouble(5)) / cs).toInt)
        val ty1 = math.min(nty - 1, math.floor((uly - r.getDouble(3)) / cs).toInt)
        for (ty <- ty0 to ty1; tx <- tx0 to tx1)
          yield (ty.toLong * ntx + tx, wkb)
      }
      .toDF("tile_id", "wkb")
      .groupBy(col("tile_id")).agg(collect_list(col("wkb")).as("wkbs"))
    // broadcast the small candidate table: the tile stream stays NARROW (no
    // payload shuffle, no driver collect of the polygon layer — the agg +
    // broadcast exchange distributes it). For polygon layers too big to
    // broadcast, drop the broadcast() hint and AQE picks a shuffle join.
    tiles.toDF().join(broadcast(cands), Seq("tile_id"), "left")
      .select(col("image_id"), col("ts_us"), col("tile_id"), col("tx"), col("ty"),
              col("payload"), col("wkbs"))
      .as[(String, Long, Long, Int, Int, Array[Float], Seq[Array[Byte]])]
      .mapPartitions { it =>
        // per-task caches: one WKB decode + one PIP mask per distinct tile_id
        val geomCache = new java.util.HashMap[Long, Array[MultiPolygon]]()
        val maskCache = new java.util.HashMap[Long, Array[Boolean]]()
        it.flatMap { case (imageId, tsUs, tileId, tx, ty, payload0, wkbs) =>
          if (wkbs == null) {
            // no candidate polygons: all pixels are "outside"
            if (invert) Some(TileRow(imageId, tsUs, tileId, tx, ty, payload0,
              Pixels.countNot(payload0, Ndv), elided = false))
            else None
          } else {
            var geoms = geomCache.get(tileId)
            if (geoms == null) {
              geoms = wkbs.map(w => Wkb.read(w)).toArray
              if (geomCache.size > 4096) { geomCache.clear(); maskCache.clear() }
              geomCache.put(tileId, geoms)
            }
            var mask = maskCache.get(tileId)
            if (mask == null) {
              mask = new Array[Boolean](T * T)
              var i = 0
              while (i < mask.length) {
                val px = tx * T + (i % T)
                val py = ty * T + (i / T)
                val (mx, my) = target.pixelToMap(px.toDouble, py.toDouble)
                var j = 0; var ins = false
                while (j < geoms.length && !ins) { ins = geoms(j).contains(mx, my); j += 1 }
                mask(i) = ins
                i += 1
              }
              maskCache.put(tileId, mask)
            }
            val payload = payload0.clone()
            var nValid = 0
            var i = 0
            while (i < payload.length) {
              if (payload(i) != Ndv) {
                if (mask(i) == invert) payload(i) = Ndv else nValid += 1
              }
              i += 1
            }
            if (nValid > 0) Some(TileRow(imageId, tsUs, tileId, tx, ty, payload, nValid,
              elided = false))
            else None
          }
        }
      }
  }
}
