package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** kNN via cell k-ring expansion with a distance-bounded refine join (north
  * rule; the reference's only nearest-sample precedent is the nearest-time
  * join `timelib.py:218-236`).
  *
  * Correctness bound: after joining candidates from rings 0..r around a
  * query's cell, any unseen candidate is at least `r·cellSize` away. A query
  * is RESOLVED once it holds k hits with kth-distance strictly below
  * r·cellSize (strict: a candidate at exactly the bound could tie-break
  * ahead of a found one).
  *
  * Execution shape (flat, three passes — no per-round driver loop, which
  * profiling showed is pure fixed overhead at cluster scale):
  *   pass 1: ring r0 for ALL queries — one equi join + one window;
  *           resolves the dense bulk.
  *   pass 2: ring r0·8 for the unresolved remainder (typically ≪1%).
  *   pass 3: exact brute force for anything still open (sparse-domain edge:
  *           fewer candidates than k, or extreme isolation) — the remainder
  *           is tiny so the cross join is bounded.
  * Ties break on (distance, candidate id): deterministic across parallelism. */
object Knn {
  private def ringPass(pending: DataFrame, cand: DataFrame, k: Int,
                       cellSize: Double, r: Int): (DataFrame, DataFrame) = {
    import graft.functions.GraftFunctions.{planarCell, planarKRing}
    val exploded = pending.withColumn("c_cell", explode(planarKRing(
      planarCell(col("qx"), col("qy"), lit(cellSize)), lit(r))))
    val hits = exploded.join(cand, Seq("c_cell"))
      .select(col("q_id"), col("c_id"),
        sqrt(pow(col("cx") - col("qx"), 2) + pow(col("cy") - col("qy"), 2)).as("dist"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id").asc)
    val topk = hits.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    val resolvedIds = topk.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n"), max(col("dist")).as("dmax"))
      .filter(col("n") === k && col("dmax") < r * cellSize)
      .select(col("q_id"))
    (topk, resolvedIds)
  }

  /** Pass caches of `knn(eager = false)` calls still alive: a global drain
    * for sequential drivers (Bench/Verify) that materialize each lazy result
    * once and then call [[releaseCaches]]. */
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Release every cache any `knn(eager = false)` call left alive. Call
    * AFTER materializing the lazy results (count/write); the plans stay
    * valid but re-execute the ring passes if materialized again. */
  def releaseCaches(): Unit = {
    var df = pending.poll()
    while (df != null) { df.unpersist(false); df = pending.poll() }
  }

  /** cellSize ≤ 0 → auto-size from candidate density so a radius-r0 ring
    * holds ≈ 4k candidates: too-large cells drag thousands of rows per query
    * into the top-k window sort (the dominant cost), too-small cells miss on
    * pass 1. One tiny agg over the candidate bbox pays for itself.
    *
    * `eager = true` (default) materializes the output (lineage-truncated,
    * ContextCleaner-managed blocks) so the pass-local caches are released
    * before returning — repeated calls in a long-lived session accumulate
    * zero CacheManager entries. `eager = false` returns the lazy top-k plan
    * with the pass caches still alive (registered for [[releaseCaches]]):
    * ~1 s cheaper per call at sf0.1 (the final checkpoint re-serializes
    * every output row) for callers that materialize exactly once and then
    * drain — the Bench/Verify shape. */
  def knn(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
          k: Int, cellSize: Double = 0.0, r0: Int = 2,
          eager: Boolean = true): DataFrame = {
    import graft.functions.GraftFunctions.planarCell
    def finish(out: DataFrame, scoped: Seq[DataFrame]): DataFrame =
      if (eager) {
        val res = out.localCheckpoint(true)
        scoped.foreach(_.unpersist(false))
        res
      } else {
        scoped.foreach(pending.add)
        out
      }
    val cs = if (cellSize > 0) cellSize else {
      val m = candidates.agg(count(lit(1)), min(col("x")), max(col("x")),
                             min(col("y")), max(col("y"))).head()
      val n = m.getLong(0).toDouble
      val area = math.max(1e-9,
        (m.getDouble(2) - m.getDouble(1)) * (m.getDouble(4) - m.getDouble(3)))
      // size so the pass-1 resolution bound r0·cs covers ~2× the expected
      // kth-NN distance sqrt(k/(π·density)) — candidates per ring stay O(k)
      // while nearly every query resolves in pass 1
      val expectedDk = math.sqrt(k * area / (math.Pi * n))
      math.max(1e-6, 2.0 * expectedDk / r0)
    }
    val cand = candidates
      .select(col("pt_id").as("c_id"), col("x").as("cx"), col("y").as("cy"))
      .withColumn("c_cell", planarCell(col("cx"), col("cy"), lit(cs)))

    val q0 = queries.select(col("pt_id").as("q_id"), col("x").as("qx"), col("y").as("qy"))

    // pass 1: bulk (cached — the top-k result is consumed by the output
    // projection, the resolved filter, AND the pending anti-join; without
    // caching the ring join + window re-executes per consumer)
    val (top1raw, res1raw) = ringPass(q0, cand, k, cs, r0)
    val top1 = top1raw.cache(); val res1 = res1raw.cache()
    val out1 = top1.join(res1, Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("dist"), col("rnk"))
    val pend1 = q0.join(res1, Seq("q_id"), "left_anti").cache()

    if (pend1.isEmpty) return finish(out1, Seq(top1, res1, pend1))

    // pass 2: stragglers at a much wider ring
    val (top2raw, res2raw) = ringPass(pend1, cand, k, cs, r0 * 8)
    val top2 = top2raw.cache(); val res2 = res2raw.cache()
    val out2 = top2.join(res2, Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("dist"), col("rnk"))
    val pend2 = pend1.join(res2, Seq("q_id"), "left_anti").cache()

    val out12 = out1.unionByName(out2)
    val scoped = Seq(top1, res1, pend1, top2, res2, pend2)
    if (pend2.isEmpty) return finish(out12, scoped)

    // pass 3: exact fallback for the (tiny) remainder
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id").asc)
    val out3 = pend2.crossJoin(
        cand.select(col("c_id"), col("cx"), col("cy")))
      .select(col("q_id"), col("c_id"),
        sqrt(pow(col("cx") - col("qx"), 2) + pow(col("cy") - col("qy"), 2)).as("dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    finish(out12.unionByName(out3), scoped)
  }

  /** Brute-force reference implementation (cross join + window) — the test
    * oracle and the small-N baseline. */
  def knnBrute(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
               k: Int): DataFrame = {
    val q = queries.select(col("pt_id").as("q_id"), col("x").as("qx"), col("y").as("qy"))
    val c = candidates.select(col("pt_id").as("c_id"), col("x").as("cx"), col("y").as("cy"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id").asc)
    q.crossJoin(c)
      .select(col("q_id"), col("c_id"),
        sqrt(pow(col("cx") - col("qx"), 2) + pow(col("cy") - col("qy"), 2)).as("dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
