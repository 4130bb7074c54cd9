package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TestSpark

/** q74/q75/q107: the bounded streaming pipelines must equal their batch
  * twins (the driver additionally hash-checks them against DuckDB). */
class StreamQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("q74 streaming dedup == batch distinct dup_key set") {
    val streamed = Stream.streamDedup(spark, sf)
    val batch = Text.docs(spark, sf)
      .select(lower(substring(col("text"), 1, 20)).as("fp")).distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("q75 streaming sessions == batch sessionization (>= gap break, end = last + gap)") {
    val gapUs = 4L * 3600 * 1000000
    val streamed = Stream.streamSessions(spark, sf)
    // batch twin with session_window semantics
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t_us").asc)
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), Rel.tUs(col("ts")).as("t_us"), col("value").as("v"))
      .withColumn("brk",
        when(col("t_us") - lag(col("t_us"), 1).over(byUser) >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t_us")).as("t_start_us"),
           (max(col("t_us")) + gapUs).as("t_end_us"),
           count(lit(1)).as("n_events"), round(sum(col("v")), 6).as("v_sum"))
      .drop("sid")
    assert(streamed.count() == batch.count(), "session count")
    val mismatch = streamed.except(batch).count() + batch.except(streamed).count()
    assert(mismatch == 0, s"$mismatch session rows differ between streaming and batch")
  }

  test("q107 streamed epochs land exactly once, one snapshot version per epoch") {
    val rows = Stream.streamSnapshotSink(spark, sf)
      .select(col("doc_id").cast("long"), col("commit_v")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val docs = Text.docs(spark, sf).select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    assert(rows.map(_._2).toSet == Set(1, 2, 3), "exactly 3 snapshot versions")
    assert(rows.length == rows.map(_._1).distinct.length, "duplicate doc rows")
    assert(rows.map(_._1).toSet == docs.toSet, "one row per doc")
    rows.foreach { case (doc, v) =>
      assert(v == doc % 3 + 1, s"doc $doc landed in version $v")
    }
  }
}
