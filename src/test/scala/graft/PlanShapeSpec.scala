package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.operators.TestSpark

/** CI guard for the executed-plan shapes the 100 TB design rests on
  * (BENCH.md §6):
  *  - the LSH/banded pair joins must never regress to a nested-loop or
  *    cartesian shape, and the ANN paths must carry no Scala UDF;
  *  - scans must prune columns and push filters down to parquet;
  *  - batch groupings run on `StackOps.keyedRuns`, never on typed
  *    `groupByKey`/`cogroup` nodes.
  * Runs the real queries at sf0.001 so AQE's FINAL plan is inspected, not
  * the initial one. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  test("batch groupings plan no typed-grouping node, and a tagged union takes one exchange") {
    // whether `p` reads a Union before it reaches another exchange
    def readsUnion(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeLike | _: QueryStageExec => false
      case _ => p.nodeName == "Union" || p.children.exists(readsUnion)
    }
    for ((name, df) <- Seq(
        ("q47_diff_stats", queries.EngineOracle.diffCells(spark, sf)),
        ("q50_point_sample", queries.EngineOracle.sampleCells(spark, sf)),
        ("q76_theilsen_cells", queries.EngineOracle.theilSenCells(spark, sf)),
        ("q80_butter_low", queries.Time.butterLow(spark, sf)),
        ("q87_butter_band", queries.Time.butterBand(spark, sf)),
        ("q98_ransac_exact", queries.EngineOracle.ransacCells(spark, sf)))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      // flatMapGroups plans as MapGroups; AppendColumns covers the
      // WithObject form too
      val typed = collect(plan) {
        case p if Seq("AppendColumns", "MapGroups", "CoGroup").exists(p.nodeName.startsWith) =>
          p.nodeName
      }
      assert(typed.isEmpty, s"$name planned $typed")
      // the two-input walks (q47's diff, q50's sample) shuffle their legs
      // together: one exchange over the union, none per leg
      if (name == "q47_diff_stats" || name == "q50_point_sample") {
        val overUnion = collect(plan) { case e: ShuffleExchangeLike if readsUnion(e.child) => e }
        assert(overUnion.size == 1, s"$name: ${overUnion.size} exchanges over a union\n$plan")
      }
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
