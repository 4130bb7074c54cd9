package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Knn, Multimodal, Pipeline, RasterOps, Sampling, SpatialJoin, Stencil, TimeParse, Warp}
import graft.sources.{ImageTable, PolygonTable}

/** Engine (non-SQL-expressible) pipeline queries: the warp→tile→stack flow
  * over the deterministic synthetic image+caption table (FIXTURES.md F1),
  * scaled by the testdata sf directory. No DuckDB oracle — correctness is
  * pinned by the golden ScalaTest suites (WarpSpec/StackSpec); the driver
  * records a rows>0 check, and Bench times them as the flagship workload. */
object Engine {
  /** Image count scaled to the sf dir. Bench (sf0.1) is sized so per-core
    * work dominates fixed scheduling overhead — the regime where the N→4N
    * efficiency criterion is meaningful (at 4k images every stage was
    * overhead-bound and 32 cores ran no faster than 8). */
  def nImages(d: String): Int =
    if (Fix.pinned) Fix.nImg // fixture-scale oracle pass (see Fix.scala)
    else if (d.contains("sf1")) 160000
    else if (d.contains("sf0.1")) 16000 else if (d.contains("sf0.01")) 800 else 120

  // memoized per (session, dir): Verify/Bench invoke many queries in one
  // session; regenerating + re-rendering the image table per query would
  // multiply the driver-gate wall time for no information
  private val imageCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def images(s: SparkSession, d: String): DataFrame =
    imageCache.getOrElseUpdate((s, d),
      ImageTable.generate(s, nImages(d), spread = true).cache())

  /** Drop all memoized image tables (Bench/Verify call this before
    * session stop; long-lived sessions should too — the memo itself never
    * evicts). */
  def clearImageCache(): Unit = {
    imageCache.values.foreach(df => scala.util.Try(df.unpersist()))
    imageCache.clear()
    graft.operators.Knn.releaseCaches() // lazy knnRing caches (q46)
  }

  /** Flagship: warp all images to the (min-res, union-extent) common grid —
    * the warptool.py trace (SURVEY.md §3.1) — emitting tile assignments. */
  def warpTiles(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    Warp.warpToTiles(s, imgs, target, "bilinear").toDF()
      .select(col("image_id"), col("tile_id"), col("tx"), col("ty"),
              // int not boolean: the oracle hash gate has no bool precedent
              col("n_valid"), col("elided").cast("int").as("elided"))
  }

  /** q104 — `source` res/extent strategies (`parse_res` warplib.py:330-333,
    * `parse_extent` warplib.py:390-393): per-image passthrough of the axes
    * the caller left unfixed. Two configurations per image:
    * `source_all` (res+extent both 'source') must be a FULL no-op — every
    * tile elided, valid count = the image's own non-NDV pixel count; and
    * `res_min` (res normalized to the global min, extent kept per-image)
    * resamples onto an own-anchored grid, where res-2 images stay elided
    * (lattice-aligned with themselves) and the rest go through bilinear.
    * The twin replays both closed-form: the no-op from the fixture's
    * margin arithmetic, the resample from the separable bilinear-validity
    * argument of the q40 twin with tulx=ulx. */
  def warpSourceTiles(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    def summarize(df: DataFrame, cfg: String) =
      df.groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_tiles"), sum(col("n_valid")).as("n_valid_px"),
             sum(col("elided").cast("long")).as("n_elided"))
        .withColumn("cfg", lit(cfg))
    summarize(Warp.warpToTilesSource(s, imgs, "source", "source",
        "first", "bilinear").toDF(), "source_all")
      .unionByName(summarize(Warp.warpToTilesSource(s, imgs, "min", "source",
        "first", "bilinear").toDF(), "res_min"))
      .select(col("cfg"), col("image_id"), col("n_tiles"),
              col("n_valid_px"), col("n_elided"))
  }

  def nPolys(d: String): Int =
    if (Fix.pinned) Fix.nPoly // fixture-scale oracle pass (see Fix.scala)
    else if (d.contains("sf1")) 1300
    else if (d.contains("sf0.1")) 400 else if (d.contains("sf0.01")) 120 else 24
  def nPoints(d: String): Int = nImages(d) * 50

  /** clip_raster_by_shp.py trace (SURVEY.md §3.3): covering-cell prefilter +
    * ray-crossing PIP refine, salted (the flagship spatial join). */
  def pipPoints(s: SparkSession, d: String): DataFrame =
    SpatialJoin.pipJoin(s,
      PolygonTable.points(s, nPoints(d)),
      PolygonTable.generate(s, nPolys(d)),
      cellSize = 64.0, saltFactor = 4)
      .groupBy(col("poly_id"))
      // full-precision mean: z is dyadic (quarter steps), so the sum is
      // exact in any order and the mean is ONE correctly-rounded division —
      // bit-portable to the DuckDB twin (rounding would be LESS portable)
      .agg(count(lit(1)).as("n_pts"), avg(col("z")).as("z_mean"))

  /** Polygon-density heatmap (`heatmap` geolib.py:2226-2244). */
  def heatmapCells(s: SparkSession, d: String): DataFrame =
    SpatialJoin.heatmap(s, PolygonTable.generate(s, nPolys(d)), cellSize = 64.0)

  /** Raster clip by polygon layer (`raster_shpclip` geolib.py:690-753). */
  def clipTiles(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    val tiles = Warp.warpToTiles(s, imgs, target, "near")
    SpatialJoin.clipTiles(s, tiles, PolygonTable.generate(s, nPolys(d)), target)
      .toDF().select(col("image_id"), col("tile_id"), col("n_valid"))
  }

  /** kNN via k-ring expansion with distance-bounded refine (north rule). */
  def knnRing(s: SparkSession, d: String): DataFrame = {
    val pts = PolygonTable.points(s, nPoints(d))
    // filter, not limit: limit() funnels the query side into one partition
    // and serializes every downstream ring join (measured 167 s vs 4 s)
    val nq = math.max(200, nPoints(d) / 40)
    val queries = pts.filter(col("pt_id") < f"pt_$nq%07d")
    // cell size left to the density-derived auto-sizing: a fixed 128 m cell
    // held ~640 points here, dragging ~16k candidates per query into the
    // top-k window (measured 200+ s vs ~5 s with auto cells)
    // dist emitted unrounded (q62 precedent): both engines compute the
    // identical IEEE sqrt/pow chain, so the DuckDB brute-force twin must
    // match bit-for-bit — the ring expansion is checked SET-EXACT
    // lazy form: Verify/Bench materialize once (write/count) and drain via
    // clearImageCache → Knn.releaseCaches; saves the ~1 s output checkpoint
    Knn.knn(s, queries, pts, k = 5, eager = false)
      .select(col("q_id"), col("c_id"), col("dist"), col("rnk"))
  }

  /** Stencil sweep: gaussian smooth + slope over warped tiles (tile+halo). */
  def stencilGauss(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    val tiles = Warp.warpToTiles(s, imgs, target, "near")
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    Stencil(tiles, ntx, nty, halo = 4)(Stencil.gaussKernel(1.5))
      .toDF().groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_tiles"), sum(col("n_valid")).as("n_valid_px"))
  }

  /** NDV trim + outline per image (raster→vector). */
  def outlines(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images(s, d).as[graft.sources.ImageRow].flatMap { img =>
      RasterOps.ndvTrim(img).flatMap { t =>
        RasterOps.outline(t).map(wkb => (img.image_id, t.w, t.h, t.ulx, t.uly, wkb.length))
      }
    }.toDF("image_id", "w_trim", "h_trim", "ulx_trim", "uly_trim", "outline_wkb_len")
  }

  /** Profile extraction across the region (line densify + sampling join). */
  def profileExtract(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ImageTable.{X0, Y0}
    Sampling.profile(s, images(s, d),
      xs = Seq(X0, X0 + ImageTable.ClusterCols * 256.0),
      ys = Seq(Y0 - 50.0, Y0 - 120.0), dl = 10.0)
  }

  /** Filename→datetime regex extraction over image ids (timelib cascade). */
  def idDates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images(s, d).select(col("image_id")).as[String]
      .map(id => (id, TimeParse.parse(id).getOrElse(-1L)))
      .toDF("image_id", "parsed_us")
  }

  /** Multimodal: thumbnail resize (binary in, binary out, caption intact). */
  def imgResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resize(s, images(s, d), 8, 8)
      .select(col("image_id"), col("w"), col("h"), length(col("bytes")).as("n_bytes"))

  /** q113: the lossy JPEG leg's re-encode audit over every image —
    * PSNR ≥ 40 dB + deterministic bytes, hash-gated per image. */
  def jpegAudit(s: SparkSession, d: String): DataFrame =
    Multimodal.jpegRoundtrip(s, images(s, d))

  /** DuckDB twin of q113: image ids/dims/valid counts in closed form; the
    * two invariant booleans are TRUE constants — the hash gate fails on
    * ANY image whose JPEG roundtrip drops below 40 dB or whose encode is
    * nondeterministic (the invariant-oracle pattern; decode values
    * themselves are not SQL-derivable for a lossy codec). */
  val jpegAuditSql: String =
    s"""WITH im AS (
      |  SELECT i,
      |    printf('img_%08d_%s_%02d00', i,
      |      strftime(DATE '2024-01-01' + INTERVAL ((i * 3) % 360) DAY, '%Y%m%d'),
      |      i % 24) AS image_id,
      |    48 + (i % 4) * 8 AS w, 40 + (i % 5) * 8 AS h,
      |    CASE WHEN i % 5 = 0 THEN 3 ELSE 0 END AS marg
      |  FROM generate_series(0, ${Fix.nImg - 1}) t(i))
      |SELECT image_id, w, h,
      |  CAST((w - 2 * marg) * (h - 2 * marg) AS BIGINT) AS n_valid,
      |  TRUE AS psnr_ge_40, TRUE AS deterministic
      |FROM im""".stripMargin

  /** Multimodal: REAL video frame sampling — AVI containers encoded and
    * parsed by VideoTable (round 4; was an id-seeded stub). Oracle contract:
    * fixed 200 videos everywhere except the sf0.1 bench path (the Aud.nClips
    * precedent), so the SQL twin's generate_series(0, 199) matches at
    * sf0.01 AND any ad-hoc small dir. */
  def nVids(d: String): Int = FixtureScale.count(d)
  def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.frameSample(s, graft.sources.VideoTable.generate(s, nVids(d)), everyK = 4)

  /** Perceptual-hash LSH near-dup candidates over the image table. */
  def phashDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.phashDedup(s, images(s, d), maxDist = 8)

  /** Checkpoint/lineage resumable pipeline (north rule): run the tiling job
    * graph under a deterministic checkpoint root; rows = per-stage lineage. */
  def resumableJob(s: SparkSession, d: String): DataFrame = {
    val root = s"/tmp/graft_ckpt_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
    Pipeline.tilingJob(s, root, nImages = math.min(nImages(d), 400))
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith("_lineage.json")).sortBy(_.getName)
    import s.implicits._
    files.map { f =>
      val txt = java.nio.file.Files.readString(f.toPath)
      val stage = "\"stage\": \"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("?")
      val rows = "\"rows\": (\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
      (stage, rows)
    }.toSeq.toDF("stage", "rows")
  }

  /** ANN over embeddings: cosine-LSH bucket join + exact re-rank (the scale
    * path; q27 is the brute-force baseline). */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = s.read.parquet(s"$d/embeddings.parquet")
    val q = e.filter(col("vec_id") < 50).select(col("vec_id").as("q_id"), col("embedding"))
    val c = e.filter(col("vec_id") >= 50).select(col("vec_id").as("c_id"), col("embedding"))
    graft.operators.Similarity.annCosine(s, q, c, k = 3, tables = 16, planes = 6)
      .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"), col("rnk"))
  }

  /** Warp tile-assignment oracle (SQL-twinned): the analyze (min-res /
    * union-extent) + intersection + pixel/tile-bounds arithmetic of the warp
    * on the closed-form synthetic grid layout, per image — every value
    * integer-exact, so the DuckDB twin hash-matches bit-for-bit. Fixed
    * n=800 (the SQL twin generates the same series; this is a fixture
    * oracle, not a scale query). */
  def warpAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = Fix.nImg
    val meta = s.createDataset(0 until n).map { i =>
      val g = ImageTable.gridOf(i)
      (i, g.ulx, g.uly, g.res, g.w, g.h, g.crs)
    }.toDF("i", "ulx", "uly", "res", "w", "h", "crs")
    val target = Warp.analyze(
      meta.withColumn("image_id", format_string("img_%08d", col("i"))), "min", "union")
    s.createDataset(0 until n).map { i =>
      val g = ImageTable.gridOf(i)
      val (px0, px1, py0, py1) = Warp.pixelBounds(g, target).get // fixture always overlaps
      val ts = Warp.TileSize
      (i, px0, px1, py0, py1,
       (px1 / ts - px0 / ts + 1).toLong * (py1 / ts - py0 / ts + 1))
    }.toDF("i", "px0", "px1", "py0", "py1", "n_tiles")
  }

  val warpAssignSql: String =
    s"""WITH g AS (
      |  SELECT i::INT AS i,
      |    500000.0 + (i % 7) * 10.0 AS ulx, 5300000.0 - (i % 5) * 8.0 AS uly,
      |    CASE i % 3 WHEN 0 THEN 2.0 WHEN 1 THEN 3.0 ELSE 4.0 END AS res,
      |    48 + (i % 4) * 8 AS w, 40 + (i % 5) * 8 AS h
      |  FROM generate_series(0, ${Fix.nImg - 1}) t(i)),
      |tgt AS (
      |  SELECT min(ulx) AS tulx, max(uly) AS tuly, min(res) AS tres,
      |    round((max(ulx + w*res) - min(ulx)) / min(res))::INT AS ns,
      |    round((max(uly) - min(uly - h*res)) / min(res))::INT AS nl
      |  FROM g),
      |b AS (
      |  SELECT i,
      |    greatest(0, floor((greatest(ulx, tulx) - tulx) / tres))::INT AS px0,
      |    least(ns - 1, ceil((least(ulx + w*res, tulx + ns*tres) - tulx) / tres) - 1)::INT AS px1,
      |    greatest(0, floor((tuly - least(uly, tuly)) / tres))::INT AS py0,
      |    least(nl - 1, ceil((tuly - greatest(uly - h*res, tuly - nl*tres)) / tres) - 1)::INT AS py1
      |  FROM g, tgt)
      |SELECT i, px0, px1, py0, py1,
      |  ((px1 // 64 - px0 // 64 + 1)::BIGINT * (py1 // 64 - py0 // 64 + 1)) AS n_tiles
      |FROM b""".stripMargin

  /** ANN over embeddings, IVF-flat variant: deterministic k-means inverted
    * lists + nProbe search (the second scale path beside q59's LSH). */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = s.read.parquet(s"$d/embeddings.parquet")
    val q = e.filter(col("vec_id") < 50).select(col("vec_id").as("q_id"), col("embedding"))
    val c = e.filter(col("vec_id") >= 50).select(col("vec_id").as("c_id"), col("embedding"))
    graft.operators.Similarity.ivfCosine(s, q, c, k = 3, nLists = 16, nProbe = 4)
      .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"), col("rnk"))
  }

  /** gdaldem terrain family over warped tiles: aspect + hillshade + TRI
    * summarized per image (Horn 3×3 stencil, halo 1). */
  def demFamily(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    val tiles = Warp.warpToTiles(s, imgs, target, "near")
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    val shade = Stencil(tiles, ntx, nty, halo = 1)(
      Stencil.demKernel("hillshade", target.res))
    shade.toDF().groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_tiles"), sum(col("n_valid")).as("n_shaded_px"))
  }

  /** map_interp-grade gap fill over warped tiles (local cubic LSQ). */
  def fillInterp(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    val tiles = Warp.warpToTiles(s, imgs, target, "near")
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    Stencil.fillGaps(tiles, ntx, nty).toDF()
      .groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_tiles"), sum(col("n_valid")).as("n_valid_px"))
  }

  /** remove_islands morphological closing over warped tiles. */
  def removeIslandsQ(s: SparkSession, d: String): DataFrame = {
    val imgs = images(s, d)
    val target = Warp.analyze(imgs, "min", "union")
    val tiles = Warp.warpToTiles(s, imgs, target, "near")
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    Stencil.removeIslands(tiles, ntx, nty, iterations = 1).toDF()
      .groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_tiles"), sum(col("n_valid")).as("n_valid_px"))
  }

  /** Subsampled scan (ds_getma_sub): per-image capped dims + scaled res. */
  def subsampleScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images(s, d).as[graft.sources.ImageRow]
      .map { img =>
        val sub = RasterOps.subsample(img, maxdim = 48)
        (img.image_id, img.w, img.h, sub.w, sub.h, sub.res)
      }
      .toDF("image_id", "w", "h", "sub_w", "sub_h", "sub_res")
  }

  /** Outline with the reference's 2-px simplify + convex-hull variants:
    * vertex counts drop under simplify, hull is convex (raster→vector). */
  def outlineSimplify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images(s, d).as[graft.sources.ImageRow].flatMap { img =>
      for {
        raw <- RasterOps.outline(img)
        simp <- RasterOps.outline(img, simplify = true)
        hull <- RasterOps.outline(img, convex = true)
      } yield (img.image_id,
        graft.geo.Wkb.read(raw).polys.head.shell.n,
        graft.geo.Wkb.read(simp).polys.head.shell.n,
        graft.geo.Wkb.read(hull).polys.head.shell.n)
    }.toDF("image_id", "n_raw", "n_simplified", "n_hull")
  }

  /** maskfill family: per-image interior-hole and opened-mask pixel counts. */
  def maskfillQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images(s, d).as[graft.sources.ImageRow].map { img =>
      val px = graft.sources.Codec.decode(img.bytes, img.w, img.h, img.fmt, img.ndv.toFloat)
      val outside = RasterOps.maskFillHoles(px, img.w, img.h, img.ndv.toFloat)
      val opened = RasterOps.maskfillEdgeInclude(px, img.w, img.h, img.ndv.toFloat)
      (img.image_id, px.count(_ == img.ndv.toFloat),
       outside.count(_ == true), opened.count(_ == true))
    }.toDF("image_id", "n_invalid", "n_outside", "n_opened")
  }
}
