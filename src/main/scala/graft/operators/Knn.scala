package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** kNN over blocks of cells with a halo (north rule; the reference's only
  * nearest-sample precedent is the nearest-time join `timelib.py:218-236`).
  *
  * A query that has seen every candidate within h = R0·cellSize is RESOLVED
  * once it holds k hits with kth-distance strictly below h (strict: a
  * candidate at exactly h could tie-break ahead of a found one). One keyed
  * exchange (`StackOps.keyedRuns`) sends each query to its block of
  * 32×32 cells and each candidate to its own block plus every
  * neighbour whose h-halo it falls in (the `Stencil` halo idea), and solves
  * each block on a local grid of cellSize cells. That pass is materialized
  * once while an accumulator counts the unresolved queries; only those run
  * the rare tail: the same pass at 8× cells (h = 16 cells), then brute force.
  * Ties break on (dist, c_id) in Spark's order for the id type, and `dist` is
  * Spark's sqrt(pow(dx, 2) + pow(dy, 2)): the same bits on every path. */
object Knn {
  private val R0 = 2
  /** Cells scanned around a query's own: R0, plus one for floor rounding. */
  private val Reach = R0 + 1
  /** Block side 2^BlockShift = 32 cells: the halo replicates candidates (1 + 2·R0/32)² ≈ 1.27×. */
  private val BlockShift = 5

  /** cellSize ≤ 0 → sized from candidate density so R0·cs is ~2× the expected kth-NN
    * distance sqrt(k/(π·density)); no candidate with coordinates → an empty result. */
  def knn(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
          k: Int, cellSize: Double = 0.0): DataFrame = {
    require(k > 0, s"k = $k: kNN needs k ≥ 1")
    val q0 = queries.select(col("pt_id").as("q_id"),
      col("x").cast("double").as("qx"), col("y").cast("double").as("qy"))
    val cand = candidates.select(col("pt_id").as("c_id"),
      col("x").cast("double").as("cx"), col("y").cast("double").as("cy"))
    val outSchema = brute(q0, cand, k).schema
    val cs = if (cellSize > 0) cellSize else {
      val m = cand.agg(count(lit(1)), min("cx"), max("cx"), min("cy"), max("cy")).head()
      if (m.isNullAt(1) || m.isNullAt(3)) return spark.createDataFrame(java.util.List.of[Row](), outSchema)
      val area = math.max(1e-9, (m.getDouble(2) - m.getDouble(1)) * (m.getDouble(4) - m.getDouble(3)))
      math.max(1e-6, 2.0 * math.sqrt(k * area / (math.Pi * m.getLong(0))) / R0)
    }
    val unresolved = spark.sparkContext.longAccumulator("knn.unresolved")
    def split(pass: DataFrame): (DataFrame, DataFrame) =
      (pass.filter(col("rnk") > 0).select(outSchema.map(f => col(f.name)): _*),
       pass.filter(col("rnk") === 0).select(col("q_id"), col("qx"), col("qy")))
    val (out, open) = split(blockPass(q0, cand, outSchema, k, cs, unresolved).localCheckpoint())
    if (unresolved.value == 0) out
    else {
      val (wide, rest) = split(blockPass(open, cand, outSchema, k, 8 * cs, unresolved))
      out.unionByName(wide).unionByName(brute(rest, cand, k))
    }
  }

  /** One keyed exchange at cell size `cs`: per query, its k ranked hits
    * (rnk ≥ 1) when resolved, else one rnk = 0 row keeping its (qx, qy),
    * counted in `unresolved`. */
  private def blockPass(q0: DataFrame, cand: DataFrame, outSchema: StructType, k: Int,
                        cs: Double, unresolved: LongAccumulator): DataFrame = {
    val (g, idType) = (Blocks(cs), outSchema("c_id").dataType)
    val pass = StructType(Seq(outSchema("q_id"), StructField("c_id", idType), StructField("dist", DoubleType),
      outSchema("rnk"), StructField("qx", DoubleType), StructField("qy", DoubleType)))  // nullable c_id, dist
    val in = finite(col("qx")) && finite(col("qy"))
    val qRows = q0.select(  // no finite coordinates: block (0, 0), unresolved
      when(in, g.block(col("qx"))).otherwise(0L).as("bx"), when(in, g.block(col("qy"))).otherwise(0L).as("by"),
      lit(true).as("is_q"), col("q_id"), lit(null).cast(idType).as("c_id"), col("qx").as("x"), col("qy").as("y"))
    val cRows = cand.filter(finite(col("cx")) && finite(col("cy")))
      .withColumn("bx", explode(g.halo(col("cx")))).withColumn("by", explode(g.halo(col("cy"))))
      .select(col("bx"), col("by"), lit(false).as("is_q"), lit(null).cast(q0.schema("q_id").dataType).as("q_id"),
        col("c_id"), col("cx").as("x"), col("cy").as("y"))
    StackOps.keyedRuns(qRows.unionByName(cRows), StackOps.foldWidth(q0.sparkSession), "bx", "by")(
        r => (r.getLong(0), r.getLong(1))) { case ((bx, by), run) =>
      val (qs, cands) = run.toArray.partition(_.getBoolean(2))
      if (qs.isEmpty) Nil else {
        val (cx, cy, cid) = (cands.map(_.getDouble(5)), cands.map(_.getDouble(6)), cands.map(_.get(4)))
        val byCell = cands.indices.groupBy(i => g.local(cx(i), bx) + g.dim * g.local(cy(i), by))
        val (less, bestD, bestI) = (idOrder(idType), new Array[Double](k), new Array[Int](k))
        qs.iterator.flatMap { q =>
          var n = 0
          if (finite(q, 5) && finite(q, 6)) {
            val (qx, qy) = (q.getDouble(5), q.getDouble(6)); val (lx, ly) = (g.local(qx, bx), g.local(qy, by))
            for (y <- ly - Reach to ly + Reach; x <- lx - Reach to lx + Reach;
                 j <- byCell.getOrElse(x + g.dim * y, Nil)) {
              val d = math.sqrt(StrictMath.pow(cx(j) - qx, 2) + StrictMath.pow(cy(j) - qy, 2))
              def ahead(p: Int) = d < bestD(p) || d == bestD(p) && less(cid(j), cid(bestI(p)))
              if (n < k || ahead(k - 1)) {  // insert into the sorted top-k
                var p = math.min(n, k - 1)
                while (p > 0 && ahead(p - 1)) { bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1 }
                bestD(p) = d; bestI(p) = j; n = math.min(n + 1, k)
              }
            }
          }
          if (n == k && bestD(k - 1) < g.h)
            Array.tabulate(k)(i => Row(q.get(3), cid(bestI(i)), bestD(i), i + 1, null, null))
          else { unresolved.add(1); Array(Row(q.get(3), null, null, 0, q.get(5), q.get(6))) }
        }
      }
    }(Encoders.row(pass)).toDF()
  }

  /** Cell and block arithmetic at cell size `cs`. The map side keys rows in
    * Spark (`block`, `halo`) with the same IEEE division and floor as the
    * block solve's `cell`. */
  private final case class Blocks(cs: Double) {
    val h: Double = R0 * cs
    val dim: Int = (1 << BlockShift) + 2 * Reach
    def cell(v: Double): Long = math.floor(v / cs).toLong
    def block(v: Column): Column = shiftright(floor(v / cs), BlockShift)
    /** Blocks whose h-halo holds `v` on one axis, widened (1 % of h, plus
      * more than 4 ulps of |v| + h) so rounding only adds replicas. */
    def halo(v: Column): Column = {
      val e = lit(1.01 * h) + (abs(v) + h) * 1e-15
      sequence(block(v - e), block(v + e))
    }
    /** `v`'s cell in the dim² local grid of block `b`, clamped to it. */
    def local(v: Double, b: Long): Int =
      math.min(dim - 1L, math.max(0L, cell(v) - (b << BlockShift) + Reach)).toInt
  }

  /** Null, NaN and ±∞ all fail (Spark orders NaN above +∞). */
  private def finite(v: Column): Column = abs(v) < Double.PositiveInfinity
  private def finite(r: Row, i: Int): Boolean =
    !r.isNullAt(i) && java.lang.Double.isFinite(r.getDouble(i))

  /** `a < b` in Spark's ascending order for `dt`, nulls first. */
  private def idOrder(dt: DataType): (Any, Any) => Boolean = {
    val toSpark = CatalystTypeConverters.createToCatalystConverter(dt)
    val ord = PhysicalDataType.ordering(dt)
    (a, b) => if (a == null || b == null) a == null && b != null else ord.lt(toSpark(a), toSpark(b))
  }

  /** Exact top-k of every (q_id, qx, qy) query over (c_id, cx, cy). */
  private def brute(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("c_id").asc)
    q.crossJoin(c)
      .select(col("q_id"), col("c_id"),
        sqrt(pow(col("cx") - col("qx"), 2) + pow(col("cy") - col("qy"), 2)).as("dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Brute-force reference implementation (cross join + window) — the test
    * oracle and the small-N baseline. */
  def knnBrute(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
               k: Int): DataFrame =
    brute(queries.select(col("pt_id").as("q_id"), col("x").as("qx"), col("y").as("qy")),
      candidates.select(col("pt_id").as("c_id"), col("x").as("cx"), col("y").as("cy")), k)
}
