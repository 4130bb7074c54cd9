package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.geo.{Extent, MultiPolygon, Polygon, Ring, Wkb}

/** Deterministic synthetic vector layers (FIXTURES.md F2/F3) in the image
  * region's projected plane: axis-aligned boxes (exact expected PIP counts),
  * concave rings, donuts with holes, and one "hot" polygon covering a large
  * share of all cells — the deliberate skew driver for salted joins
  * (north rule). Dates follow `geom2shp`'s yyyymmdd field (`geolib.py:800-823`). */
object PolygonTable {
  import ImageTable.{X0, Y0}

  final case class PolyRow(poly_id: String, geom_wkb: Array[Byte], crs: String,
                           date: Int, decyear: Double,
                           xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  def polygon(i: Int, nTotal: Int): MultiPolygon = {
    val kind = i % 4
    // scatter over the spread-layout region (ClusterCols × 256 m wide)
    val cx = X0 + 40.0 + (i * 97 % (ImageTable.ClusterCols * 256))
    val cy = Y0 - 40.0 - (i * 53 % 1024)
    kind match {
      case 0 => // box
        MultiPolygon(Seq(Polygon.box(Extent(cx, cy - 60, cx + 80, cy))))
      case 1 => // concave "C"
        MultiPolygon(Seq(Polygon(Ring(
          Array(cx, cx + 100, cx + 100, cx + 40, cx + 40, cx + 100, cx + 100, cx, cx),
          Array(cy - 100, cy - 100, cy - 70, cy - 70, cy - 30, cy - 30, cy, cy, cy - 100)), Nil)))
      case 2 => // donut
        MultiPolygon(Seq(Polygon(
          Polygon.box(Extent(cx, cy - 90, cx + 90, cy)).shell,
          Seq(Polygon.box(Extent(cx + 25, cy - 65, cx + 65, cy - 25)).shell))))
      case 3 if i == 3 => // THE hot polygon: covers most of the region once
        MultiPolygon(Seq(Polygon.box(Extent(
          X0 - 50, Y0 - 2000, X0 + ImageTable.ClusterCols * 256 + 50, Y0 + 50))))
      case _ => // multipolygon: two disjoint boxes
        MultiPolygon(Seq(
          Polygon.box(Extent(cx, cy - 40, cx + 40, cy)),
          Polygon.box(Extent(cx + 70, cy - 40, cx + 110, cy))))
    }
  }

  /** The polygon layer, index-seeded; partitioned like the session unless
    * `partitions` is positive (`ImageTable.indices`). */
  def generate(spark: SparkSession, n: Int, partitions: Int = 0): DataFrame = {
    import spark.implicits._
    ImageTable.indices(spark, n, partitions).map { ii =>
      val i = ii.toInt
      val mp = polygon(i, n)
      val d = java.time.LocalDate.ofEpochDay(ImageTable.Epoch0Days + (i * 11) % 360)
      val bb = mp.bbox
      PolyRow(f"poly_$i%05d", Wkb.writeMultiPolygon(mp), ImageTable.Crs,
        d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth,
        d.getYear + (d.getDayOfYear - 1).toDouble / (if (d.isLeapYear) 366 else 365),
        bb.xmin, bb.ymin, bb.xmax, bb.ymax)
    }.toDF()
  }

  /** Deterministic point set (FIXTURES.md F3) over the same plane, including
    * points outside every polygon and duplicate timestamps. */
  final case class PointRow(pt_id: String, x: Double, y: Double, z: Double, ts_us: Long)

  /** The point set, index-seeded; partitioned like the session unless
    * `partitions` is positive (`ImageTable.indices`). */
  def points(spark: SparkSession, n: Int, partitions: Int = 0): DataFrame = {
    import spark.implicits._
    ImageTable.indices(spark, n, partitions).map { ii =>
      val i = ii.toInt
      // low-discrepancy-ish deterministic scatter, slightly beyond the region
      val x = X0 - 100.0 + (i * 131 % (ImageTable.ClusterCols * 256 + 400)).toDouble
      val y = Y0 + 100.0 - (i * 71 % 2400).toDouble
      val z = 100.0 + (i % 50) + 0.25 * (i % 7)
      PointRow(f"pt_$i%07d", x, y, z,
        (ImageTable.Epoch0Days * 86400L + (i / 4) * 3600L) * 1000000L) // dup ts per 4
    }.toDF()
  }

  /** CSV point source — `readcsv` `iolib.py:602-624`: header presence is
    * detected from the first line (all-numeric → headerless), and headerless
    * columns get OGR's VRT naming `field_1..field_n` (the convention
    * `writevrt` assumes). Returns (pt_id, x, y[, z]) from the named columns. */
  def pointsFromCsv(spark: SparkSession, path: String,
                    xCol: String = "field_1", yCol: String = "field_2",
                    zCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val firstLine = spark.read.text(path).head().getString(0)
    val headerless = firstLine.split(",").forall(f =>
      scala.util.Try(f.trim.toDouble).isSuccess)
    var df = spark.read
      .option("header", (!headerless).toString)
      .option("inferSchema", "true")
      .csv(path)
    if (headerless)
      df = df.toDF(df.columns.indices.map(i => s"field_${i + 1}"): _*)
    // deterministic row ids: zipWithIndex follows the file/split order (the
    // reference's readcsv row order), unlike monotonically_increasing_id,
    // whose values depend on the partition layout and overflow the pad width
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withId = spark.createDataFrame(
      df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(f"pt_$i%09d" +: r.toSeq) },
      StructType(StructField("pt_id", StringType, nullable = false) +: df.schema.fields))
    val base = withId
      .withColumn("x", col(xCol).cast("double"))
      .withColumn("y", col(yCol).cast("double"))
    zCol match {
      case Some(zc) => base.select(col("pt_id"), col("x"), col("y"),
                                   col(zc).cast("double").as("z"))
      case None     => base.select(col("pt_id"), col("x"), col("y"))
    }
  }

  /** VRT sidecar sink — `writevrt` `iolib.py:353-367`, byte-compatible
    * layout so OGR (and the reference's tooling) can open the CSV. */
  def writeVrt(csvPath: String, srs: String = "EPSG:4326",
               x: String = "field_1", y: String = "field_2"): String = {
    val base = csvPath.replaceAll("\\.[^./]*$", "")
    val name = new java.io.File(base).getName
    val csvName = new java.io.File(csvPath).getName
    val vrt = base + ".vrt"
    val body = new StringBuilder
    body ++= "<OGRVRTDataSource>\n"
    body ++= s"""   <OGRVRTLayer name="$name">\n"""
    body ++= s"        <SrcDataSource>$csvName</SrcDataSource>\n"
    body ++= "        <GeometryType>wkbPoint</GeometryType>\n"
    body ++= s"        <LayerSRS>$srs</LayerSRS>\n"
    body ++= s"""        <GeometryField encoding="PointFromColumns" x="$x" y="$y"/>\n"""
    body ++= "    </OGRVRTLayer>\n"
    body ++= "</OGRVRTDataSource>\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(vrt), body.toString)
    vrt
  }
}
