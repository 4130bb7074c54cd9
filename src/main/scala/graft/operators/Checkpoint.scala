package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level checkpoint/resume with per-partition lineage + metrics —
  * the scale analog of `loadstack`'s recompute-only-missing logic
  * (`malib.py:482-542`: on load, stats that already exist are reused and
  * only missing ones are recomputed and re-saved).
  *
  * Each `stage(name, params)(build)` materializes to
  * `<root>/<name>/` (parquet) plus `<root>/<name>/_lineage.json` holding:
  * the stage fingerprint (params + dependency fingerprints, so an upstream
  * param change invalidates everything downstream), row count, per-partition
  * row histogram, wall time, and write timestamp. On re-run, a stage whose
  * fingerprint matches is read back instead of recomputed — any stage of the
  * tiling job is resumable mid-pipeline (north rule). */
class Pipeline(spark: SparkSession, rootDir: String) {
  import Pipeline.lineageFingerprint
  import graft.Json.str
  // fingerprint map + computed list are guarded: INDEPENDENT stages may
  // run from concurrent driver threads (guide §2.6 — e.g. the flagship's
  // image leg overlapping its text chain); each stage still owns its own
  // dir + lineage file, so only this bookkeeping needs the lock
  private val finger = scala.collection.mutable.Map.empty[String, String]
  /** Names of stages actually recomputed this run (for tests/ops). */
  val computed = scala.collection.mutable.ArrayBuffer.empty[String]

  private def fp(name: String, params: Map[String, String], deps: Seq[String]): String = {
    val depFps = deps.sorted.map(d => finger.getOrElse(d,
      throw new IllegalArgumentException(s"unknown dependency stage '$d' of '$name'")))
    val basis = params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";") +
      "|" + depFps.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(basis.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def stage(name: String, params: Map[String, String] = Map.empty,
            deps: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val f = finger.synchronized {
      val x = fp(name, params, deps); finger(name) = x; x
    }
    val dir = s"$rootDir/$name"
    val lineagePath = Paths.get(s"$rootDir/${name}_lineage.json")
    val reusable = Files.exists(lineagePath) &&
      Files.exists(Paths.get(dir, "_SUCCESS")) &&
      lineageFingerprint(lineagePath).contains(f)
    if (reusable) {
      spark.read.parquet(dir)
    } else {
      val t0 = System.nanoTime()
      // the stale lineage goes BEFORE the data overwrite: a crash after
      // the new write must not leave this run's data paired with the
      // previous run's fingerprint
      Files.deleteIfExists(lineagePath)
      val df = build
      df.write.mode("overwrite").parquet(dir)
      val out = spark.read.parquet(dir)
      // per-partition lineage metrics (file-level row histogram) from the
      // parquet FOOTERS of the files just written — driver-side, zero
      // jobs; the previous groupBy(spark_partition_id) re-scanned every
      // stage's full output a second time (guide §6: row counts are
      // already in the metadata)
      val conf = spark.sessionState.newHadoopConf()
      val parts = graft.sources.ParquetFiles.partFiles(dir)
        .map(p => graft.sources.ParquetFiles.rowCount(p.getPath, conf))
      val rows = parts.sum
      val hist = parts.zipWithIndex
        .map { case (n, pid) => s"""{"pid": $pid, "rows": $n}""" }
        .mkString("[", ",", "]")
      val secs = (System.nanoTime() - t0) / 1e9
      val json =
        s"""{"stage": ${str(name)}, "fingerprint": "$f",
           | "params": {${params.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(",")}},
           | "deps": [${deps.sorted.map(str).mkString(",")}],
           | "rows": $rows, "partitions": $hist,
           | "wall_s": $secs, "written_at_ms": ${System.currentTimeMillis()}}""".stripMargin
      // published after _SUCCESS by an atomic move: a reader sees either
      // no lineage or the whole one
      val tmp = Paths.get(s"$rootDir/.${name}_lineage.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, lineagePath, StandardCopyOption.ATOMIC_MOVE)
      finger.synchronized { computed += name }
      out
    }
  }
}

object Pipeline {
  /** The top-level `fingerprint` field of a lineage sidecar; None when the
    * file does not parse or lacks it (the stage then recomputes). */
  private def lineageFingerprint(path: Path): Option[String] = {
    import org.json4s._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(Files.readString(path)))
      .toOption.flatMap(_ \ "fingerprint" match {
        case JString(fp) => Some(fp)
        case _ => None
      })
  }

  /** The flagship resumable job graph: generate → warp → (stack stats,
    * trend) — used by tests and by the Bench resume scenario. */
  def tilingJob(spark: SparkSession, root: String, nImages: Int,
                kernel: String = "near"): Pipeline = {
    import spark.implicits._
    val p = new Pipeline(spark, root)
    val images = p.stage("images", Map("n" -> nImages.toString)) {
      graft.sources.ImageTable.generate(spark, nImages, spread = true)
    }
    val target = Warp.analyze(images, "min", "union")
    val tiles = p.stage("tiles", Map("kernel" -> kernel,
        "target" -> s"${target.ulx},${target.uly},${target.res},${target.w},${target.h}"),
        deps = Seq("images")) {
      Warp.warpToTiles(spark, images, target, kernel).toDF()
    }
    p.stage("stack_stats", deps = Seq("tiles")) {
      StackOps.stackStats(tiles.as[TileRow]).toDF()
    }
    p.stage("trend", deps = Seq("tiles")) {
      StackOps.trend(tiles.as[TileRow]).toDF()
    }
    p
  }
}
