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

  lazy val base = outputs(1, 1)

  test("raster and vector outputs at one source and shuffle partition match their pinned md5") {
    def md5(rows: Seq[String]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // any moved output bit fails here; a change that moves an output on
    // purpose updates its md5 and says so
    val want = Map(
      "clip" -> "d199fdcf0cc52640409bc298f9e579b3",
      "diff" -> "28f36c0de682a4bdc3310a14bcd4de82",
      "gauss" -> "2efb04eb8ab293b7ea52855fdca59110",
      "heat" -> "a14906cafe14b0a7c63f5bb3dfacd89b",
      "pip" -> "3a43da388bdb4cb43a522e21c75f2178",
      "ransac" -> "b31633936f8510f9aebbe1a444aa5eb8",
      "sample" -> "8e4972393fe9db0d6c03a83e7612cf62",
      "stats" -> "ccd191665b1c275e01de888c3347ba40",
      "theilsen" -> "9448012987e382206b958ce898976c6c",
      "tiles" -> "e730a732afe73eb96b07507336b5bb87",
      "trend" -> "56c293ef6ef6a5d125d2fbdf8c840909")
    assert(base.map { case (k, rows) => k -> md5(rows) } == want)
  }

  test("raster and vector outputs are bit-equal across source and shuffle partition counts") {
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
