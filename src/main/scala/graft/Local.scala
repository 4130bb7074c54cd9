package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory behind every main. Cores come from
  * `SPARK_GRAFT_CPUS` (default: every available processor); reduce
  * concurrency is capped at 16 shuffle partitions (vector-buffer folds are
  * memory-bandwidth bound in local mode; see BENCH.md §4). */
private[graft] object Local {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.min(16, cpus).toString)
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
    spark
  }
}
