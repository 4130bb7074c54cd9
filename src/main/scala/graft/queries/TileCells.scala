package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.GridSpec
import graft.operators.{TileRow, Warp}

/** An image set near-warped onto its (min-res, union-extent) grid: the grid,
  * its tile dims and the (lazy) tiles. */
private[queries] final case class NearStack(target: GridSpec, ntx: Int, nty: Int,
                                            tiles: Dataset[TileRow]) {
  /** Tiles of a part of the image set, on the same grid. */
  def of(part: DataFrame): Dataset[TileRow] =
    Warp.warpToTiles(tiles.sparkSession, part, target, "near")
}

/** The tile-grid decisions every tiled query form shares. Pixel decodes
  * derive from the REAL tile size, so an engine TileSize change cannot
  * silently shear the emitted pixel coordinates (the generated DuckDB twins
  * embed the matching constants at generation time). */
private[queries] object TileCells {
  private val T = Warp.TileSize

  def nearStack(s: SparkSession, imgs: DataFrame): NearStack = {
    val target = Warp.analyze(imgs, "min", "union")
    val (ntx, nty) = Warp.tileGrid(target)
    NearStack(target, ntx, nty, Warp.warpToTiles(s, imgs, target, "near"))
  }

  /** Global target pixel (px, py), as IntegerType, of tile-local pixel
    * `pidx` in tile column `tx` and row `ty` (SQL over the frame's columns). */
  def pixelXY(tx: String, ty: String, pidx: String = "pidx"): Seq[Column] = Seq(
    expr(s"cast(($tx) * $T + ($pidx) % $T as int)").as("px"),
    expr(s"cast(($ty) * $T + ($pidx) div $T as int)").as("py"))

  /** [[pixelXY]] where only the row-major tile id on an `ntx`-wide grid is
    * at hand. */
  def tilePixelXY(ntx: Int, tileId: String = "tile_id", pidx: String = "pidx"): Seq[Column] =
    pixelXY(s"($tileId) % $ntx", s"($tileId) div $ntx", pidx)

  /** [[pixelXY]] of `StackOps.toCells`' cell_id (tile_id·T² + pidx). */
  def cellPixelXY(ntx: Int): Seq[Column] =
    tilePixelXY(ntx, s"cell_id div ${T * T}", s"cell_id % ${T * T}")

  /** One row per valid (non-NDV) payload pixel of tile rows: the `keep`
    * columns, the global (px, py) and the payload value `v`. */
  def payloadPixels(tiles: DataFrame, keep: String*): DataFrame =
    tiles.select(keep.map(col) ++ Seq(col("tx"), col("ty"),
        posexplode(col("payload")).as(Seq("pidx", "v"))): _*)
      .filter(col("v") =!= graft.sources.ImageTable.Ndv)
      .select(keep.map(col) ++ pixelXY("tx", "ty") :+ col("v"): _*)
}
