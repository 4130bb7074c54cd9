package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TestSpark

/** CI guard for the executed-plan shapes the 100 TB design rests on
  * (BENCH.md §6):
  *  - the LSH/banded pair joins must never regress to a nested-loop or
  *    cartesian shape, and the ANN paths must carry no Scala UDF;
  *  - scans must prune columns and push filters down to parquet.
  * Runs the real queries at sf0.001 so AQE's FINAL plan is inspected, not
  * the initial one. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    // collect() runs THIS Dataset's QueryExecution (count() would spawn a
    // separate one and leave df's AQE plan un-finalized)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("pair joins stay hash-join shaped (no BNLJ / CartesianProduct)") {
    for ((name, df) <- Seq(
        ("q24_minhash_pairs", queries.Text.minhashPairs(spark, sf)),
        ("q28_emb_neardup", queries.Vec.embNearDup(spark, sf)),
        ("q56_phash_dedup", queries.Engine.phashDedup(spark, sf)),
        ("q59_ann_lsh", queries.Engine.annLsh(spark, sf)),
        ("q64_ann_ivf", queries.Engine.annIvf(spark, sf)),
        ("q93_ann_lsh_exact", queries.EngineOracle.annLshExact(spark, sf)),
        ("q94_ann_ivf_exact", queries.EngineOracle.annIvfExact(spark, sf)))) {
      val plan = executedPlan(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name planned a BNLJ")
      assert(!plan.contains("CartesianProduct"), s"$name planned a cartesian product")
      // the ANN bucket keys / probes are codegen Expressions (LshBucketKeys /
      // IvfProbe), never a ScalaUDF (BENCH.md §6 records UDF=false)
      if (name.contains("_ann_"))
        assert(!plan.contains("UDF"), s"$name planned a UDF")
    }
  }

  test("documents scan prunes to the referenced columns") {
    val plan = executedPlan(queries.Text.tokenCount(spark, sf))
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty, "no parquet scan in plan")
    readSchemas.foreach { rs =>
      val cols = rs.split(",").map(_.takeWhile(_ != ':').trim).toSet
      assert(cols.subsetOf(Set("doc_id", "text")),
        s"token count scan reads extra columns: $cols")
    }
  }

  test("range filter pushes down to the parquet scan") {
    val plan = executedPlan(queries.Rel.rangeFltr(spark, sf))
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).filter(_.nonEmpty).toSeq
    assert(pushed.exists(_.contains("l_quantity")),
      s"expected l_quantity filter pushed to scan; got: $pushed")
  }
}
