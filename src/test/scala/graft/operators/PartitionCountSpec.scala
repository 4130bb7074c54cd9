package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ImageTable, PolygonTable}

/** The raster and vector operators give bit-equal outputs whatever the
  * partition counts of their sources and of the session's shuffles. */
class PartitionCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Every row of `df` as one string, floats and doubles by their raw
    * bits, sorted: equal iff the outputs are bit-equal as multisets. */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(r => r.toSeq.map(cell).mkString("|")).sorted.toSeq

  private def cell(v: Any): String = v match {
    case f: Float => f"f${java.lang.Float.floatToRawIntBits(f)}%08x"
    case d: Double => f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("b", "", "")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case null => "null"
    case o => o.toString
  }

  def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The operators' outputs over sources built at `srcParts` partitions.
    * The images are the quantized, ripple-free ones warped with `near`, so
    * every pixel is an integer and the stack folds are exact double sums
    * whatever order a tile's rows arrive in. */
  def outputs(srcParts: Int, shuffleParts: Int): Map[String, Seq[String]] =
    withShufflePartitions(shuffleParts) {
      val idx = regexp_extract(col("image_id"), "img_(\\d+)_", 1).cast("int")
      val images = ImageTable.generate(spark, 40, partitions = srcParts, spread = true)
        .filter(idx % 3 =!= 2 && col("fmt") =!= "raw")
      val polys = PolygonTable.generate(spark, 24, partitions = srcParts)
      val points = PolygonTable.points(spark, 3000, partitions = srcParts)
      val target = Warp.analyze(images, "min", "union")
      val (ntx, nty) = Warp.tileGrid(target)
      val tiles = Warp.warpToTiles(spark, images, target, "near").cache()
      // the hot polygon covers every tile, so the clip leaves it out
      val clipPolys = polys.filter(col("poly_id") =!= "poly_00003")
      val half = (p: Int) => tiles.filter(idx % 2 === p)
      val cells = StackOps.toCells(
        StackOps.stackClip(tiles, ntx / 2 - 1, nty / 2 - 1, ntx / 2, nty / 2))
      try Map(
        "tiles" -> canon(tiles.toDF()),
        "stats" -> canon(StackOps.stackStats(tiles).toDF()),
        "trend" -> canon(StackOps.trend(tiles).toDF()),
        "gauss" -> canon(Stencil(tiles, ntx, nty, 4)(Stencil.gaussKernel(1.5)).toDF()),
        "clip" -> canon(SpatialJoin.clipTiles(spark, tiles, clipPolys, target).toDF()),
        "pip" -> canon(SpatialJoin.pipJoin(spark, points, polys).select("pt_id", "poly_id")),
        "heat" -> canon(SpatialJoin.heatmap(spark, polys)),
        "diff" -> canon(RasterOps.tileDiff(StackOps.compositeMean(half(0), label = "a"),
          StackOps.compositeMean(half(1), label = "b")).toDF()),
        "theilsen" -> canon(StackOps.theilSen(cells)),
        "ransac" -> canon(StackOps.ransac(cells)),
        "sample" -> canon(Sampling.pointSample(spark, points, images)))
      finally tiles.unpersist()
    }

  test("raster and vector outputs are bit-equal across source and shuffle partition counts") {
    val base = outputs(1, 1)
    base.foreach { case (k, rows) => assert(rows.nonEmpty, s"$k is empty") }
    assert(base("clip").size < base("tiles").size, "the clip must drop some tiles")
    for (src <- Seq(1, 4, 32); sh <- Seq(1, 7) if (src, sh) != (1, 1)) {
      val got = outputs(src, sh)
      base.keys.foreach { k =>
        assert(got(k) == base(k), s"$k differs at $src source and $sh shuffle partitions")
      }
    }
  }
}
