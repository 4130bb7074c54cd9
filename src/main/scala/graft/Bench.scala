package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Knn, SpatialJoin, StackOps, Warp}
import graft.queries.Engine
import graft.sources.{ImageTable, PolygonTable}

/** Benchmark main. Emits exactly ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "cpus":N,"pipeline_sec":S,"images_per_sec":R}
  *
  * `pipeline_sec`/`images_per_sec` time the flagship spatial-join + tiling
  * pipeline (BASELINE.json metric): generate images (untimed) → warp to the
  * common grid → per-pixel stack stats + trend → polygon PIP join + heatmap →
  * kNN — one pass, counted at each sink. For the N→4N scaling criterion run
  * this binary at SPARK_GRAFT_CPUS=8 and =32 on the same SPARK_GRAFT_SF_DIR
  * and compare images_per_sec, or run `python3 perfbench/run.py --scaling`
  * (local[1] → local[4], with per-layer rollups). */
object Bench {
  /** Single-thread host probe on the same two dimensions as
    * tools/probe_host.py: register-bound LCG throughput (k-iters/ms, blind
    * to memory pressure) and 64 MB array-copy bandwidth (MB/s, read+write
    * — the dimension the engine's array-heavy phases live on). Run before
    * AND after the timed work so every BENCH artifact carries the host
    * state it was measured under (the co-tenant bandwidth-squeeze story,
    * BENCH.md §11/§13) — a number without its window is unreadable on
    * this box. ABSOLUTE scale differs from the python probe (JIT'd
    * System.arraycopy vs an interpreted buffer copy; observed ~3-4×
    * higher here in the same minute) — compare these fields ACROSS BENCH
    * ARTIFACTS, not against probe_host.py logs. */
  private def probeHost(): (Long, Long) = {
    var x = 1L; var iters = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) { // 0.2 s burn
      var i = 0
      while (i < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      iters += 100000
    }
    val cpuKipms = iters / math.max(1L, (System.nanoTime() - t0) / 1000000L) / 1000L
    val n = 8 * 1024 * 1024 // 64 MB of doubles
    val a = new Array[Double](n); val b = new Array[Double](n)
    java.util.Arrays.fill(a, 1.0 + (x & 1L))    // keep the LCG live
    val t1 = System.nanoTime()
    var reps = 0L
    while (System.nanoTime() - t1 < 400000000L) { // 0.4 s copy
      System.arraycopy(a, 0, b, 0, n); reps += 1
    }
    val mbps = (reps * 128L / ((System.nanoTime() - t1) / 1e9)).toLong
    (cpuKipms, mbps)
  }

  def main(args: Array[String]): Unit = {
    val (cpuPre, bwPre) = probeHost()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // reduce concurrency capped (vector-buffer folds are memory-bandwidth
      // bound in local mode; see BENCH.md §4)
      .config("spark.sql.shuffle.partitions", math.min(16, cpus.toInt).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the bench box is a VM with multi-minute steal-time freezes (dmesg
      // hrtimer stalls): at the default 120 s heartbeat horizon one host
      // pause "loses" the local executor and stops the context mid-run.
      // Timing-harness hardening only — values are irrelevant to any
      // measured query, and a real cluster tunes these per-site anyway.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- flagship pipeline (timed as one job graph) ----
    val nImages = Engine.nImages(sfDir)
    val images = ImageTable.generate(spark, nImages, spread = true).cache()
    images.count()                                   // materialize input (untimed below)
    val polys = PolygonTable.generate(spark, Engine.nPolys(sfDir)).cache()
    polys.count()
    val points = PolygonTable.points(spark, Engine.nPoints(sfDir)).cache()
    points.count()

    def runPipeline(): (Double, (Long, Long, Long, Long, Long, Long)) = {
      val tP0 = System.nanoTime()
      val target = Warp.analyze(images, "min", "union")
      // not persisted: re-running the narrow warp per consumer is cheaper
      // than serializing the payloads into the block manager (BENCH.md §4)
      val tiles = Warp.warpToTiles(spark, images, target, "bilinear")
      val nTiles = tiles.count()
      val nStats = StackOps.stackStats(tiles).count()
      val nTrend = StackOps.trend(tiles).count()
      val nPip = SpatialJoin.pipJoin(spark, points, polys).count()
      val nHeat = SpatialJoin.heatmap(spark, polys).count()
      val nq = math.max(200, Engine.nPoints(sfDir) / 40)
      val queriesDf = points.filter(org.apache.spark.sql.functions.col("pt_id") < f"pt_$nq%07d")
      val nKnn = Knn.knn(spark, queriesDf, points, k = 5).count()
      ((System.nanoTime() - tP0) / 1e9,
        (nTiles, nStats, nTrend, nPip, nHeat, nKnn))
    }

    // ---- interleaved best-of-N (default 2) ----
    // This box is shared: a single-run artifact once reported six 10-30x
    // phantom "regressions" that were pure host contention (BENCH.md §7 —
    // the same query measured 4.4 s and 133 s across identical
    // invocations). Running the WHOLE inventory per pass (not per-query
    // back-to-back repeats) decorrelates a contention burst from any one
    // query, and the per-query MIN across passes is the contention-robust
    // statistic; the raw per-pass timings ride in a `runs` side field so
    // the spread itself stays observable.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    val pipelineRuns = Seq.fill(passes)(runPipeline())
    val pipelineSec = pipelineRuns.map(_._1).min
    val (nTiles, nStats, nTrend, nPip, nHeat, nKnn) = pipelineRuns.head._2
    val imagesPerSec = nImages / pipelineSec

    // ---- per-query timings over the registered inventory ----
    // (skipped when SPARK_GRAFT_PIPELINE_ONLY=1 — the scaling runs time only
    // the pipeline so fixed per-query job-submission overhead doesn't skew
    // the N→4N efficiency measurement)
    val pipelineOnly = sys.env.get("SPARK_GRAFT_PIPELINE_ONLY").contains("1")
    // SPARK_GRAFT_ONLY=q28,q56 limits the per-query loop (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val inventory = (if (pipelineOnly) Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]
                     else SparkEntry.queries)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .toSeq.sortBy(_._1)
    val perPass: Seq[Seq[(String, Double, Boolean)]] =
      (0 until passes).map { _ =>
        inventory.map { case (name, fn) =>
          val t0 = System.nanoTime()
          // failures must be LOUD: a swallowed exception would report a
          // normal-looking (small) timing for a query that never ran
          // (observed with a q91 analysis bug — 2.8 s "timing" for a failure)
          val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
          (name, (System.nanoTime() - t0) / 1e9, ok)
        }
      }
    // best = min over SUCCESSFUL passes; a query is failed only if every
    // pass failed. Failed queries are ALSO marked in the JSON itself
    // (negative timing + a "failed" array): a driver that parses only the
    // JSON line must still see the failure, not a normal-looking timing.
    val results = inventory.map(_._1).zipWithIndex.map { case (name, i) =>
      val runs = perPass.map(_(i))
      val okRuns = runs.filter(_._3).map(_._2)
      val ok = okRuns.nonEmpty
      (name, if (ok) okRuns.min else runs.map(_._2).min, ok,
        runs.map(_._2))
    }
    val qs = results.map { case (k, v, ok, _) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else f"${-v}%.3f") }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, _, rs) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum + pipelineSec
    val pipelineRunsJson = pipelineRuns.map(r => f"${r._1}%.3f").mkString("[", ",", "]")
    val (cpuPost, bwPost) = probeHost()
    val probeJson = s"""{"pre":{"cpu_kips_ms":$cpuPre,"membw_mbps":$bwPre},"post":{"cpu_kips_ms":$cpuPost,"membw_mbps":$bwPost}}"""
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs":$runsJson,"passes":$passes,"failed":$failed,"sf":"$sfDir","cpus":$cpus,"pipeline_sec":$pipelineSec%.3f,"pipeline_runs":$pipelineRunsJson,"images_per_sec":$imagesPerSec%.1f,"pipeline_counts":{"tiles":$nTiles,"stats":$nStats,"trend":$nTrend,"pip":$nPip,"heat":$nHeat,"knn":$nKnn},"host_probe":$probeJson}""")
    Engine.clearImageCache()
    spark.stop()
  }
}
