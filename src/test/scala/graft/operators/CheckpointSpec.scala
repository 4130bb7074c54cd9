package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pipeline resumes: second run recomputes nothing (loadstack analog malib.py:482-542)") {
    val root = Files.createTempDirectory("ckpt").toString
    val p1 = Pipeline.tilingJob(spark, root, nImages = 30)
    assert(p1.computed.toSet == Set("images", "tiles", "stack_stats", "trend"))

    val p2 = Pipeline.tilingJob(spark, root, nImages = 30)
    assert(p2.computed.isEmpty, s"recomputed: ${p2.computed}")

    // lineage sidecars exist with per-partition histograms
    val lineage = Files.readString(java.nio.file.Paths.get(s"$root/tiles_lineage.json"))
    assert(lineage.contains("\"fingerprint\"") && lineage.contains("\"partitions\""))
    assert(lineage.contains("\"pid\""))
  }

  test("param change invalidates the stage and its downstream only") {
    val root = Files.createTempDirectory("ckpt2").toString
    Pipeline.tilingJob(spark, root, nImages = 20, kernel = "near")
    val p2 = Pipeline.tilingJob(spark, root, nImages = 20, kernel = "bilinear")
    // images unchanged; tiles (kernel param) + downstream stats recomputed
    assert(p2.computed.toSet == Set("tiles", "stack_stats", "trend"))
  }

  test("upstream param change cascades through fingerprints") {
    val root = Files.createTempDirectory("ckpt3").toString
    Pipeline.tilingJob(spark, root, nImages = 20)
    val p2 = Pipeline.tilingJob(spark, root, nImages = 25)
    assert(p2.computed.toSet == Set("images", "tiles", "stack_stats", "trend"))
  }

  test("partial state: deleting one stage's data recomputes only it and keeps results equal") {
    import scala.reflect.io.Directory
    val root = Files.createTempDirectory("ckpt4").toString
    val p1 = Pipeline.tilingJob(spark, root, nImages = 20)
    val before = spark.read.parquet(s"$root/stack_stats")
      .select("tile_id", "n_layers").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    new Directory(new java.io.File(s"$root/stack_stats")).deleteRecursively()
    val p2 = Pipeline.tilingJob(spark, root, nImages = 20)
    assert(p2.computed.toSeq == Seq("stack_stats"))
    val after = spark.read.parquet(s"$root/stack_stats")
      .select("tile_id", "n_layers").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(before == after)
  }

  test("reuse reads the lineage's own fingerprint field, not a substring of its text") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    import java.nio.file.Paths
    val root = Files.createTempDirectory("ckpt5").toString
    Pipeline.tilingJob(spark, root, nImages = 20)
    val lineage = Paths.get(s"$root/images_lineage.json")
    val JString(fp) = parse(Files.readString(lineage)) \ "fingerprint"
    // a stale lineage whose params text happens to carry the current
    // fingerprint must not pass for it
    Files.writeString(lineage,
      s"""{"stage": "images", "fingerprint": "stale", "params": {"fingerprint": "$fp"}}""")
    val p2 = Pipeline.tilingJob(spark, root, nImages = 20)
    assert(p2.computed.toSeq == Seq("images"), s"recomputed: ${p2.computed}")
    assert(parse(Files.readString(lineage)) \ "fingerprint" == JString(fp))
    val leftovers = Files.list(Paths.get(root))
    try assert(!leftovers.anyMatch(_.getFileName.toString.endsWith(".tmp")))
    finally leftovers.close()
  }

  test("a param value with quotes and a backslash still resumes") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt6").toString
    def run(): Pipeline = {
      val p = new Pipeline(spark, root)
      p.stage("srs", Map("crs" -> "GEOGCS[\"WGS 84\"]\\x")) { Seq(1, 2, 3).toDF("v") }
      p
    }
    assert(run().computed.toSeq == Seq("srs"))
    val p2 = run()
    assert(p2.computed.isEmpty, s"recomputed: ${p2.computed}")
  }
}
