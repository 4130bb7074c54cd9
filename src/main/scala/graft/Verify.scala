package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only; the driver passes two):
    // comma-separated name prefixes to restrict the dump
    val selected = SparkEntry.select(args.drop(2).headOption.toSeq.flatMap(_.split(",")))
    val spark = Local.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleJson(selected.map(_._1).toSet))
    graft.queries.Engine.clearImageCache()
    spark.stop()
  }
}
