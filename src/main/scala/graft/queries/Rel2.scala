package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second relational batch: the remaining binned-statistic and filter
  * variants of SURVEY §2.5/§2.6. */
object Rel2 {
  import Rel.{li, ev}

  /** Abs-range filter — `absrange_fltr` `filtlib.py:26-33`: mask on |v|
    * while KEEPING original (signed) values. Derived signed column from
    * lineitem; keeps rows with |v| in [5, 20]. */
  def absrangeFltr(s: SparkSession, d: String): DataFrame =
    li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") - 25.0).as("v"))
      .filter(abs(col("v")).between(5.0, 20.0))

  val absrangeFltrSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity - 25.0 AS v FROM lineitem
      |WHERE abs(l_quantity - 25.0) BETWEEN 5.0 AND 20.0""".stripMargin

  /** Percentile filter — `perc_fltr` `filtlib.py:35-41`: keep values inside
    * the [p5, p95] band; per-flag survivor stats. */
  def percFltr(s: SparkSession, d: String): DataFrame = {
    val t = li(s, d)
    // parallel exact selection (Pct scaladoc); bit-identical to the
    // builtin array-percentile under the strict oracle
    val ps = Pct.exactPercentiles(t, col("l_extendedprice"), Seq(0.05, 0.95))
    t.filter(col("l_extendedprice").between(lit(ps(0)), lit(ps(1))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_kept"), round(avg(col("l_extendedprice")), 6).as("kept_mean"))
  }

  val percFltrSql: String =
    """WITH p AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
      |                  quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
      |SELECT l_returnflag, count(*)::BIGINT AS n_kept,
      |       round(avg(l_extendedprice),6) AS kept_mean
      |FROM lineitem, p WHERE l_extendedprice BETWEEN lo AND hi
      |GROUP BY l_returnflag""".stripMargin

  /** 2-D histogram — `get_2dhist` `malib.py:1767-1796`: bucketed counts over
    * two derived axes, zero bins absent (masked). */
  def hist2d(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
        floor(col("l_quantity") / 5).cast("long").as("bx"),
        floor(col("l_extendedprice") / 10000).cast("long").as("by"))
      .groupBy(col("bx"), col("by")).agg(count(lit(1)).as("n"))

  val hist2dSql: String =
    """SELECT floor(l_quantity/5)::BIGINT AS bx,
      |       floor(l_extendedprice/10000)::BIGINT AS by,
      |       count(*)::BIGINT AS n
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Percentile-clipped 2-D histogram — the `get_2dhist` default range path
    * (`malib.py:1772-1781`): axis limits = (p0.1, p99.9) per axis, 16 fixed
    * bins over the clipped range, out-of-range samples dropped, the top
    * edge folded into the last bin (np.histogram2d's closed right edge). */
  def hist2dClipped(s: SparkSession, d: String): DataFrame = {
    val t = li(s, d).select(col("l_quantity").cast("double").as("x"),
                            col("l_extendedprice").cast("double").as("y"))
    // parallel exact selection per column (Pct scaladoc)
    val px = Pct.exactPercentiles(t, col("x"), Seq(0.001, 0.999))
    val py = Pct.exactPercentiles(t, col("y"), Seq(0.001, 0.999))
    val (xlo, xhi, ylo, yhi) = (px(0), px(1), py(0), py(1))
    t.filter(col("x").between(lit(xlo), lit(xhi)) &&
             col("y").between(lit(ylo), lit(yhi)))
      .select(
        least(floor((col("x") - lit(xlo)) / (lit(xhi) - lit(xlo)) * 16), lit(15L))
          .cast("long").as("bx"),
        least(floor((col("y") - lit(ylo)) / (lit(yhi) - lit(ylo)) * 16), lit(15L))
          .cast("long").as("by"))
      .groupBy(col("bx"), col("by")).agg(count(lit(1)).as("n"))
  }

  val hist2dClippedSql: String =
    """WITH t AS (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
      |           FROM lineitem),
      |lims AS (SELECT quantile_cont(x, 0.001) AS xlo, quantile_cont(x, 0.999) AS xhi,
      |                quantile_cont(y, 0.001) AS ylo, quantile_cont(y, 0.999) AS yhi
      |         FROM t)
      |SELECT least(floor((x - xlo)/(xhi - xlo)*16), 15)::BIGINT AS bx,
      |       least(floor((y - ylo)/(yhi - ylo)*16), 15)::BIGINT AS by,
      |       count(*)::BIGINT AS n
      |FROM t, lims
      |WHERE x BETWEEN xlo AND xhi AND y BETWEEN ylo AND yhi
      |GROUP BY 1, 2""".stripMargin

  /** Stride-sampled MAD filter — the bounded-percentile scale path: the
    * reference itself derives robust bounds from a SUBSAMPLE above 4e6
    * valid values (`malib.py:1612-1624` stride rule, `fast_median`
    * `malib.py:1499`). Here the med/NMAD bounds come from a deterministic
    * 1-in-16 stride (l_orderkey % 16 = 0 — pushdown-friendly, identical in
    * the oracle) and the filter is applied to the FULL table, so the two
    * global exact-percentile sort-aggs of q07 shrink to sample size. Exact
    * mode (q07) remains for parity-critical paths; at 100 TB this is the
    * shape that survives. */
  def madFltrSampled(s: SparkSession, d: String): DataFrame = {
    val t = li(s, d)
    val samp = t.filter(pmod(col("l_orderkey"), lit(16)) === 0)
    // parallel exact selection over the sample (Pct scaladoc)
    val med = Pct.exactPercentiles(samp, col("l_extendedprice"), Seq(0.5)).head
    val nmad = 1.4826 * Pct.exactPercentiles(samp,
      abs(col("l_extendedprice") - lit(med)), Seq(0.5)).head
    t.filter(col("l_extendedprice").between(lit(med) - lit(nmad) * 2,
                                            lit(med) + lit(nmad) * 2))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_kept"),
           Rel.r6(avg(col("l_extendedprice"))).as("kept_mean"))
  }

  val madFltrSampledSql: String =
    """WITH s AS (SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 16 = 0),
      |m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM s),
      |n AS (SELECT any_value(m.med) AS med,
      |             1.4826*quantile_cont(abs(s.l_extendedprice - m.med), 0.5) AS nmad
      |      FROM s, m)
      |SELECT l_linestatus, count(*)::BIGINT AS n_kept,
      |       round(avg(l_extendedprice),6) AS kept_mean
      |FROM lineitem, n
      |WHERE l_extendedprice BETWEEN med - 2*nmad AND med + 2*nmad
      |GROUP BY l_linestatus""".stripMargin

  /** kNN with a SQL twin: the block-keyed kNN operator (north rule) over
    * points derived arithmetically from orders, oracle-checked against
    * DuckDB's brute-force window — the engine result must be SET-EXACT, not
    * just approximate (KnnSpec proves the resolution bound; this proves it against
    * an independent engine). dist emitted unrounded: both engines compute
    * the identical IEEE sqrt/pow chain. */
  def knnOrders(s: SparkSession, d: String): DataFrame = {
    val pts = Rel.ord(s, d).select(col("o_orderkey").as("pt_id"),
      ((col("o_orderkey") * 37 % 10000) / lit(10.0)).as("x"),
      ((col("o_custkey") * 53 % 10000) / lit(10.0)).as("y"))
    val queries = pts.filter(col("pt_id") < 400)
    graft.operators.Knn.knn(s, queries, pts, k = 5)
      .select(col("q_id"), col("c_id"), col("dist"), col("rnk"))
  }

  val knnOrdersSql: String =
    """WITH pts AS (SELECT o_orderkey AS pt_id,
      |                    (o_orderkey * 37 % 10000)/10.0 AS x,
      |                    (o_custkey * 53 % 10000)/10.0 AS y FROM orders),
      |j AS (SELECT q.pt_id AS q_id, c.pt_id AS c_id,
      |        sqrt(pow(c.x - q.x, 2) + pow(c.y - q.y, 2)) AS dist
      |      FROM pts q CROSS JOIN pts c WHERE q.pt_id < 400),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY dist ASC, c_id ASC) AS rnk FROM j)
      |SELECT q_id, c_id, dist, rnk FROM r WHERE rnk <= 5""".stripMargin

  /** The nearest-time as-of join (q11's semantics) routed through the
    * CUSTOM CATALYST PLAN — AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec
    * (graft.plans): one external-sorted merge with O(1) heap per key instead of the
    * window form's |L_k|·|R_k| pair materialization. Oracle = the identical
    * DuckDB window query, so the physical operator itself is hash-checked. */
  def asofPlan(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_id"), col("user_id"),
      Rel.tUs(col("ts")).as("t_us"), col("event_type"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("t_us").as("p_t"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("cu_id"), col("t_us").as("c_t"))
    graft.plans.AsOf.join(p, c,
        leftKey = "user_id", leftTime = "p_t",
        rightKey = "cu_id", rightTime = "c_t", rightTie = "c_id")
      .select(col("p_id"), col("user_id"), col("c_id"),
              abs(col("c_t") - col("p_t")).as("dt_us"))
  }

  val asofPlanSql: String = Rel.asofNearestSql

  /** Bin x by z — `bin_x_by_z` `malib.py:1802-1836`: digitize z into bins,
    * per-bin med/NMAD/mean/std/count of x. */
  def binByZ(s: SparkSession, d: String): DataFrame = {
    val pts = ev(s, d).select(
      floor(col("value") / 50).cast("long").as("zbin"),
      (col("user_id") % 100).cast("double").as("x"))
    val base = pts.groupBy(col("zbin")).agg(
      count(lit(1)).as("cnt"), round(avg(col("x")), 6).as("xmean"),
      round(stddev_pop(col("x")), 6).as("xstd"),
      expr("percentile(x, 0.5)").as("xmed0"))
    val nmad = pts.join(base.select(col("zbin"), col("xmed0")), Seq("zbin"))
      .groupBy(col("zbin"))
      .agg(round(expr("1.4826 * percentile(abs(x - xmed0), 0.5)"), 6).as("xnmad"))
    base.join(nmad, Seq("zbin"))
      .select(col("zbin"), col("cnt"), col("xmean"), col("xstd"),
              round(col("xmed0"), 6).as("xmed"), col("xnmad"))
  }

  val binByZSql: String =
    """WITH pts AS (SELECT floor(value/50)::BIGINT AS zbin,
      |                    (user_id % 100)::DOUBLE AS x FROM events),
      |base AS (SELECT zbin, count(*)::BIGINT AS cnt, avg(x) AS xmean,
      |                stddev_pop(x) AS xstd, quantile_cont(x, 0.5) AS xmed0
      |         FROM pts GROUP BY zbin),
      |nm AS (SELECT p.zbin, 1.4826 * quantile_cont(abs(p.x - b.xmed0), 0.5) AS xnmad
      |       FROM pts p JOIN base b USING (zbin) GROUP BY p.zbin)
      |SELECT b.zbin, b.cnt, round(b.xmean,6) AS xmean, round(b.xstd,6) AS xstd,
      |       round(b.xmed0,6) AS xmed, round(nm.xnmad,6) AS xnmad
      |FROM base b JOIN nm USING (zbin)""".stripMargin

  /** q88 — the percentile-spread robust filter family (`robust_spread`
    * `malib.py:835-838`: spread = (p84−p16)/2; `robust_spread_idx/_fltr`
    * 840-852: keep STRICTLY inside med ± n·spread) plus the symmetric clim
    * (`calcperc_sym` malib.py:871-877: ±max|p0.1, p99.9| — the
    * difference-map color-range helper). One global row; every value the
    * same interpolating-percentile + fixed-op chain in both engines. */
  def robustSpreadFltr(s: SparkSession, d: String): DataFrame = {
    val t = li(s, d)
    // parallel exact selection, one pass for all five probes (Pct scaladoc)
    val ps = Pct.exactPercentiles(t, col("l_extendedprice"),
      Seq(0.5, 0.16, 0.84, 0.001, 0.999))
    val (med, p16, p84, qLo, qHi) = (ps(0), ps(1), ps(2), ps(3), ps(4))
    val spread = math.abs((p84 - p16) / 2)
    val sym = math.max(math.abs(qLo), math.abs(qHi))
    t.filter(col("l_extendedprice") > lit(med) - lit(3) * lit(spread) &&
             col("l_extendedprice") < lit(med) + lit(3) * lit(spread))
      .agg(count(lit(1)).as("n_kept"),
           round(avg(col("l_extendedprice")), 6).as("kept_mean"),
           lit(med).as("med"), lit(spread).as("spread"),
           round(lit(-sym), 6).as("sym_lo"),
           round(lit(sym), 6).as("sym_hi"))
  }

  val robustSpreadFltrSql: String =
    """WITH p AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med,
      |    quantile_cont(l_extendedprice, 0.16) AS p16,
      |    quantile_cont(l_extendedprice, 0.84) AS p84,
      |    quantile_cont(l_extendedprice, 0.001) AS q_lo,
      |    quantile_cont(l_extendedprice, 0.999) AS q_hi
      |  FROM lineitem),
      |s AS (SELECT med, abs((p84 - p16) / 2) AS spread,
      |             greatest(abs(q_lo), abs(q_hi)) AS sym FROM p)
      |SELECT count(*)::BIGINT AS n_kept,
      |       round(avg(l_extendedprice), 6) AS kept_mean,
      |       any_value(med) AS med, any_value(spread) AS spread,
      |       round(-any_value(sym), 6) AS sym_lo, round(any_value(sym), 6) AS sym_hi
      |FROM lineitem, s
      |WHERE l_extendedprice > med - 3 * spread
      |  AND l_extendedprice < med + 3 * spread""".stripMargin
}
