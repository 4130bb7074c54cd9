package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for a set of registered queries to files —
  * the plans/r08 evidence artifacts. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> q07,q36,...
  * Writes <outDir>/<name>_<suffix>.txt per query. Plans are built (not
  * executed) except where a query's driver protocol must run to produce
  * its result scan — those queries execute as a side effect of plan
  * construction, exactly as the driver sees them. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, list) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Local.session()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.select(list.split(",").toSeq).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    graft.queries.Engine.clearImageCache()
    spark.stop()
  }
}
