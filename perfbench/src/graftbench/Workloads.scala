package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Knn, Pipeline, SpatialJoin, StackOps, StatsView, Stencil, TileRow, Warp}
import graft.sources.{ImageTable, PolygonTable, SnapshotTable}

/** One named workload. `setup` builds and caches the inputs; `pass` runs
  * the measured calls once; `verify` checks outputs after the last pass. */
trait Workload {
  /** Items one pass processes (the throughput numerator). */
  def items: Long
  def setup(): Unit
  /** Untimed housekeeping before a pass (removing the previous pass's files). */
  def prepare(): Unit = ()
  def pass(): Unit
  def verify(): Unit
  def release(): Unit
}

object Workloads {
  val TileCols = Seq("image_id", "tile_id", "payload", "n_valid")
  val StatCols = Seq("tile_id", "n_layers", "count", "mean", "std", "vmin", "vmax")

  def apply(name: String, r: Run): Workload = name match {
    case "raster_vector" => new RasterVector(r)
    case "catalog_churn" => new CatalogChurn(r)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** `k` distinct values of `pool`, drawn with the run's seed. */
  def sample[T](pool: Seq[T], k: Int, seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(pool).take(k)
}

/** The raster path, then the vector path, in one pass: the compute-heavy
  * spatial pipeline with no catalog work. Throughput counts images, as
  * `graft.Bench`'s flagship images/s does. */
final class RasterVector(r: Run) extends Workload {
  private val raster = new RasterTiling(r)
  private val vector = new VectorJoin(r)
  def items: Long = raster.items
  def setup(): Unit = { raster.setup(); vector.setup() }
  def pass(): Unit = { raster.pass(); vector.pass() }
  def verify(): Unit = { raster.verify(); vector.verify() }
  def release(): Unit = { raster.release(); vector.release() }
}

/** Warp → stack stats → trend → gauss stencil → polygon clip over spread
  * images: the raster path, with no catalog and no point join. */
final class RasterTiling(r: Run) extends Workload {
  import Workloads._
  private val nImages = r.size("raster_images")
  private val nClip = r.size("raster_clip_polys")
  private val pool = r.size("raster_poly_pool")
  private var images: DataFrame = _
  private var clipPolys: DataFrame = _
  private var tiles: Dataset[TileRow] = _

  def items: Long = nImages

  def setup(): Unit = {
    val s = r.spark
    images = ImageTable.generate(s, nImages, spread = true).cache()
    images.count()
    // polygon 3 covers the whole region, so every tile has a clip
    // candidate whichever sample the seed draws
    val ids = 3 +: sample(4 until pool, nClip - 1, r.seed)
    clipPolys = PolygonTable.generate(s, pool)
      .filter(col("poly_id").isin(ids.map(i => f"poly_$i%05d"): _*)).cache()
    clipPolys.count()
  }

  def pass(): Unit = {
    val s = r.spark
    if (tiles != null) tiles.unpersist(blocking = true)
    val target = r.op("warp.analyze") { Warp.analyze(images, "min", "union") }
    tiles = r.op("warp.tiles") {
      val t = Warp.warpToTiles(s, images, target, "bilinear").persist(StorageLevel.MEMORY_AND_DISK)
      r.sink("tiles", t.toDF(), TileCols)
      t
    }
    // float moments depend on fold order, so only the integer fields are
    // hashed; the quantized catalog_churn workload checks them bit-for-bit
    r.op("stackops.stats") {
      r.sink("stats", StackOps.stackStats(tiles).toDF(), Seq("tile_id", "n_layers", "count"))
    }
    r.op("stackops.trend") { r.sink("trend", StackOps.trend(tiles).toDF(), Seq("tile_id", "count")) }
    val ntx = (target.w + Warp.TileSize - 1) / Warp.TileSize
    val nty = (target.h + Warp.TileSize - 1) / Warp.TileSize
    r.op("stencil.gauss") {
      r.sink("gauss", Stencil(tiles, ntx, nty, 4)(Stencil.gaussKernel(1.5)).toDF(), TileCols)
    }
    r.op("spatialjoin.clip") {
      r.sink("clip", SpatialJoin.clipTiles(s, tiles, clipPolys, target).toDF(), TileCols)
    }
  }

  def verify(): Unit = {
    val s = r.spark
    import s.implicits._
    // each valid tile pixel is counted by exactly one per-pixel stack count
    val valid = tiles.agg(sum(col("n_valid"))).head().getLong(0)
    val counted = StackOps.stackStats(tiles).map(_.count.foldLeft(0L)(_ + _)).reduce(_ + _)
    r.check("raster.stats_count_covers_tiles", valid == counted, s"tiles $valid, stats $counted")
  }

  def release(): Unit = {
    Seq(images, clipPolys).filter(_ != null).foreach(_.unpersist(blocking = true))
    if (tiles != null) tiles.unpersist(blocking = true)
    tiles = null
  }
}

/** Point-in-polygon join → polygon heatmap → kNN: the cell-cover/PIP-refine
  * path and ring kNN, with no warp or fold. */
final class VectorJoin(r: Run) extends Workload {
  import Workloads._
  private val nPoints = r.size("vector_points")
  private val nPolys = r.size("vector_polys")
  private val queryEvery = r.size("vector_query_every")
  private val k = 5
  private var points: DataFrame = _
  private var polys: DataFrame = _
  private var queries: DataFrame = _
  private var lastKnn: DataFrame = _

  def items: Long = nPoints

  def setup(): Unit = {
    val s = r.spark
    points = PolygonTable.points(s, nPoints).cache()
    points.count()
    polys = PolygonTable.generate(s, nPolys).cache()
    polys.count()
    queries = points
      .filter(pmod(xxhash64(col("pt_id"), lit(r.seed)), lit(queryEvery.toLong)) === 0).cache()
    queries.count()
  }

  def pass(): Unit = {
    val s = r.spark
    val pipRows = r.op("spatialjoin.pip") {
      r.sink("pip", SpatialJoin.pipJoin(s, points, polys), Seq("pt_id", "poly_id"))
    }
    r.record("spatialjoin.pip_rows", pipRows.toDouble)
    r.op("spatialjoin.heat") {
      r.sink("heat", SpatialJoin.heatmap(s, polys), Seq("cell_id", "n_polys"))
    }
    lastKnn = r.op("knn.knn") {
      val out = Knn.knn(s, queries, points, k)
      r.sink("knn", out, Seq("q_id", "c_id", "rnk"))
      out
    }
  }

  def verify(): Unit = {
    val s = r.spark
    import s.implicits._
    val pts = points.select("pt_id", "x", "y").as[(String, Double, Double)].collect()

    // per-polygon PIP counts against a direct test of every point
    val polyIds = sample(0 until nPolys, r.size("vector_pip_sample"), r.seed)
    val engine = SpatialJoin.pipJoin(s, points, polys)
      .filter(col("poly_id").isin(polyIds.map(i => f"poly_$i%05d"): _*))
      .groupBy("poly_id").count().as[(String, Long)].collect().toMap
    val wrong = polyIds.flatMap { i =>
      val mp = PolygonTable.polygon(i, nPolys)
      val direct = pts.count { case (_, x, y) => mp.contains(x, y) }.toLong
      val got = engine.getOrElse(f"poly_$i%05d", 0L)
      if (got == direct) None else Some(s"poly_$i: join $got, direct $direct")
    }
    r.check("vector.pip_spot_counts", wrong.isEmpty, wrong.take(5).mkString("; "))

    // kNN on a sample of queries against the brute-force reference. The
    // reference runs over the points within the largest reported k-th
    // distance of a sampled query: that ball holds every true neighbour.
    val qs = queries.select("pt_id", "x", "y").as[(String, Double, Double)].collect()
    val picked = sample(qs.toSeq, r.size("vector_knn_sample"), r.seed)
    val got = lastKnn.filter(col("q_id").isin(picked.map(_._1): _*))
      .select("q_id", "c_id", "dist", "rnk").as[(String, String, Double, Int)].collect()
    val radius = if (got.isEmpty) 0.0 else got.map(_._3).max
    val near = pts.filter { case (_, x, y) =>
      picked.exists { case (_, qx, qy) => math.hypot(x - qx, y - qy) <= radius + 1e-6 }
    }
    val brute = Knn.knnBrute(s, picked.toDF("pt_id", "x", "y"), near.toSeq.toDF("pt_id", "x", "y"), k)
      .select("q_id", "c_id", "dist", "rnk").as[(String, String, Double, Int)].collect()
    def byQuery(rows: Array[(String, String, Double, Int)]) =
      rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).map(t => (t._2, t._3)).toSeq }
    val (e, b) = (byQuery(got), byQuery(brute))
    val mismatched = picked.map(_._1).filter { q =>
      val (x, y) = (e.getOrElse(q, Nil), b.getOrElse(q, Nil))
      x.map(_._1) != y.map(_._1) || x.zip(y).exists { case (u, v) => math.abs(u._2 - v._2) > 1e-9 }
    }
    r.check("vector.knn_matches_brute", mismatched.isEmpty && picked.nonEmpty,
      s"${mismatched.size} of ${picked.size} queries differ: ${mismatched.take(5).mkString(",")}")
  }

  def release(): Unit = {
    Seq(points, polys, queries).filter(_ != null).foreach(_.unpersist(blocking = true))
    lastKnn = null
  }
}

/** Replays a churn history (append, append, corrupting merge, restoring
  * merge, delete, re-append, append) through the snapshot catalog with a
  * stats-view refresh after each commit, then compacts, reads, and runs the
  * resumable tiling job fresh and after one lost stage. */
final class CatalogChurn(r: Run) extends Workload {
  import Workloads._
  private val nSource = r.size("churn_source_images")
  private val nPipe = r.size("churn_pipeline_images")
  private val tilesRoot = s"${r.work}/churn/tiles"
  private val mvRoot = s"${r.work}/churn/mv"
  private val pipeRoot = s"${r.work}/churn/pipeline"
  private val pipeStages = Seq("images", "tiles", "stack_stats", "trend")
  // the seed assigns images to batches and picks the stage that is lost
  private def batchOf: Column = pmod(xxhash64(col("image_id"), lit(r.seed)), lit(3L))
  private val lostStage = sample(Seq("stack_stats", "trend"), 1, r.seed).head
  private var images: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private var corrupted: DataFrame = _
  private var nImages = 0L

  def items: Long = nImages + nPipe

  def setup(): Unit = {
    val s = r.spark
    import s.implicits._
    // the quantized, ripple-free, even-index subset (q111's): integer payloads
    // make every stack moment an exact double sum, so view and batch agree
    // bit-for-bit. Only these rows are generated.
    images = s.range(0, nSource, 1, 8)
      .filter((i: java.lang.Long) => i % 3 != 2 && ImageTable.fmtOf(i.toInt) != "raw" && i % 2 == 0)
      .map(i => ImageTable.row(i.toInt, spread = true)).toDF().cache()
    nImages = images.count()
    val target = Warp.analyze(images, "min", "union")
    batches = (0 until 3).map { b =>
      val t = Warp.warpToTiles(s, images.filter(batchOf === b), target, "near").toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.pin(s"churn.batch$b.tiles", t.count())
      t
    }
    val ndv = ImageTable.Ndv
    corrupted = batches.head.as[TileRow].map { t =>
      t.copy(payload = t.payload.map(v => if (v == ndv) v else v + 1.0f))
    }.toDF().persist(StorageLevel.MEMORY_AND_DISK)
    corrupted.count()
  }

  override def prepare(): Unit =
    Seq(tilesRoot, mvRoot, pipeRoot).foreach(SnapshotTable.deleteRecursively)

  def pass(): Unit = {
    val s = r.spark
    val keys = Seq("image_id", "tile_id")
    val steps: Seq[(String, String, () => Int)] = Seq(
      ("append", "commit", () => SnapshotTable.commit(s, tilesRoot, batches(0))),
      ("append", "commit", () => SnapshotTable.commit(s, tilesRoot, batches(1))),
      ("churn", "merge", () => SnapshotTable.merge(s, tilesRoot, corrupted, keys)),
      ("churn", "merge", () => SnapshotTable.merge(s, tilesRoot, batches(0), keys)),
      ("churn", "delete", () => SnapshotTable.delete(s, tilesRoot, batchOf === 1)),
      ("append", "commit", () => SnapshotTable.commit(s, tilesRoot, batches(1))),
      ("append", "commit", () => SnapshotTable.commit(s, tilesRoot, batches(2))))
    var landed = 0L
    var covered = Seq.empty[(Int, Long)]
    steps.zipWithIndex.foreach { case ((kind, op, run), i) =>
      val before = CatalogChurn.diskBytes(tilesRoot)
      val v = r.op(s"bench.fresh_$kind") {
        val v = r.op(s"snapshot.$op") { run() }
        covered :+= v -> r.op(s"view.refresh_$kind") { StatsView.refresh(s, tilesRoot, mvRoot) }
        v
      }
      // the three first landings of b0, b1, b2 are the user bytes
      if (Set(0, 1, 6)(i)) landed += CatalogChurn.diskBytes(tilesRoot) - before
    }
    r.check("churn.refresh_covers_commit", covered.forall { case (v, c) => c == v },
      covered.mkString(" "))
    r.record("snapshot.write_amp", CatalogChurn.diskBytes(tilesRoot).toDouble / landed)
    r.op("snapshot.compact") { SnapshotTable.compact(s, tilesRoot, targetFiles = 4) }
    val live = SnapshotTable.planFiles(tilesRoot, SnapshotTable.currentVersion(tilesRoot), Nil)
      .map(f => Files.size(Paths.get(tilesRoot, f))).sum
    r.record("snapshot.space_amp", CatalogChurn.diskBytes(tilesRoot).toDouble / live)
    r.op("snapshot.read") { r.sink("live", SnapshotTable.read(s, tilesRoot), TileCols) }
    r.op("view.read") { r.sink("view", StatsView.stats(s, mvRoot), StatCols) }

    val fresh = r.op("checkpoint.fresh") { Pipeline.tilingJob(s, pipeRoot, nPipe) }
    r.check("churn.pipeline_fresh_computes_all", fresh.computed.toSet == pipeStages.toSet,
      fresh.computed.mkString(","))
    SnapshotTable.deleteRecursively(s"$pipeRoot/$lostStage")
    val resumed = r.op("checkpoint.resume") { Pipeline.tilingJob(s, pipeRoot, nPipe) }
    r.check("churn.pipeline_resume_recomputes_lost_stage", resumed.computed.toSeq == Seq(lostStage),
      s"lost $lostStage, recomputed ${resumed.computed.mkString(",")}")
    r.record("checkpoint.reuse_frac", 1.0 - resumed.computed.size.toDouble / pipeStages.size)
  }

  def verify(): Unit = {
    val s = r.spark
    import s.implicits._
    // the view after churn equals the batch fold over the final live snapshot
    val batch = r.digest(StackOps.stackStats(SnapshotTable.read(s, tilesRoot).as[TileRow]).toDF(), StatCols)
    r.check("churn.view_equals_batch_stats", r.lastSums.get("view").contains(batch),
      s"view ${r.lastSums.get("view")}, batch $batch")
    // the live state equals three plain appends of the batches
    val appended = r.digest(batches.reduce(_ unionByName _), TileCols)
    r.check("churn.live_equals_appends", r.lastSums.get("live").contains(appended),
      s"live ${r.lastSums.get("live")}, appends $appended")
    r.pin("churn.images", nImages)
    Seq("stack_stats", "trend").foreach(st => r.pin(s"pipeline.$st", s.read.parquet(s"$pipeRoot/$st").count()))
  }

  def release(): Unit = {
    (images +: corrupted +: batches).filter(_ != null).foreach(_.unpersist(blocking = true))
    batches = Nil
  }
}

object CatalogChurn {
  /** Bytes under `root`, counting each hard-linked file once. */
  def diskBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try {
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => Files.getAttribute(f, "unix:ino") -> Files.size(f))
        .toMap.values.sum
    } finally st.close()
  }
}
