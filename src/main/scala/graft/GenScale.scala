package graft

import org.apache.spark.sql.functions._

/** Benchmark-scale fixture generator (BENCH §10): replicates a testdata sf
  * dir `copies`× with deterministic key offsets — an order-of-magnitude
  * input for the full-inventory scaling run without touching the read-only
  * driver fixtures. Row values are EXACT replicas (only surrogate keys
  * shift by k·10⁸), so per-replica distributions are identical to the
  * source; dedup-family queries see 10-member exact-duplicate families,
  * which is the realistic web-corpus regime (noted in BENCH §10 where it
  * changes a query's work superlinearly by DATA, not by plan).
  *
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/testdata_sf1 10"
  *
  * The output dir name must contain "sf1" so the fixture-scale switches
  * (Engine.nImages/nPolys, FixtureScale.count) pick the 10× synthetic
  * sizes. */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/testdata_sf1")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = Local.session()
    val Off = 100000000L // beyond every key in any source sf
    def rep(name: String, keyCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      (0 until copies).map { k =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))
      }.reduce(_ unionByName _)
        .repartition(Local.cpus)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen] $name x$copies done")
    }
    rep("events", Seq("event_id"))
    rep("documents", Seq("doc_id"))
    rep("embeddings", Seq("vec_id"))
    rep("orders", Seq("o_orderkey"))
    rep("lineitem", Seq("l_orderkey"))
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"[gen] dims copied; $out ready")
    spark.stop()
  }
}
