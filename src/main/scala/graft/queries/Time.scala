package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.StackOps

/** timelib scalar/function coverage (`timelib.py:455-580`) and the plane-fit
  * family (`geolib.py:1811-1914`), each with a DuckDB oracle twin. */
object Time {
  import Rel.{ev, tUs, ord}

  /** Datetime scalar conversions — `dt2decyear` `timelib.py:462-471`,
    * `dt2jd` 488-494, DOY, year/month — per event. decyear uses day-of-year
    * plus intra-day fraction over the (leap-aware) year length. */
  def dateFuncs(s: SparkSession, d: String): DataFrame = {
    val t = ev(s, d).select(col("event_id"), col("ts"))
    val dayFrac = (tUs(col("ts")) - tUs(date_trunc("day", col("ts")))).cast("double") / 86400e6
    val yr = year(col("ts"))
    val leap = (yr % 4 === 0 && yr % 100 =!= 0) || (yr % 400 === 0)
    val daysInYear = when(leap, 366.0).otherwise(365.0)
    t.select(col("event_id"),
      yr.as("yr"), month(col("ts")).as("mo"), dayofyear(col("ts")).as("doy"),
      round(yr + (dayofyear(col("ts")) - 1 + dayFrac) / daysInYear, 9).as("decyear"),
      // jd/ord_py/mat_o are emitted UNROUNDED: long→double, /86400e6, and
      // +const are all correctly-rounded IEEE ops → bit-identical in Spark
      // and DuckDB, while rounding at any dp puts some µs-granular rows on
      // a half-boundary where the engines' round() implementations disagree
      // (measured: 19,972/100k rows differ at 9 dp, 23/100k at 6 dp,
      // 0/100k unrounded).
      (tUs(col("ts")).cast("double") / 86400e6 + 2440587.5).as("jd"),
      // Python ordinal / Matlab datenum (dt2o/dt2mat timelib.py:527-548)
      (tUs(col("ts")).cast("double") / 86400e6 + 719163.0).as("ord_py"),
      (tUs(col("ts")).cast("double") / 86400e6 + 719529.0).as("mat_o"),
      // GPS week + ms-of-week (gps2dt inverse, timelib.py:519-525): pure
      // integer arithmetic (long div/mod), then an exact double division
      ((tUs(col("ts")) - lit(graft.functions.TimeLib.GpsEpochUs)) -
        pmod(tUs(col("ts")) - lit(graft.functions.TimeLib.GpsEpochUs), lit(604800000000L)))
        .divide(604800000000.0).cast("long").as("gps_week"),
      pmod(tUs(col("ts")) - lit(graft.functions.TimeLib.GpsEpochUs), lit(604800000000L))
        .cast("double").divide(1000.0).as("gps_ms"))
  }

  val dateFuncsSql: String =
    """SELECT event_id, year(ts)::INT AS yr, month(ts)::INT AS mo,
      |  dayofyear(ts)::INT AS doy,
      |  round(year(ts) + (dayofyear(ts) - 1 +
      |        (epoch_us(ts) - epoch_us(date_trunc('day', ts)))/86400e6)
      |      / (CASE WHEN (year(ts) % 4 = 0 AND year(ts) % 100 <> 0)
      |               OR year(ts) % 400 = 0 THEN 366.0 ELSE 365.0 END), 9) AS decyear,
      |  epoch_us(ts)/86400e6 + 2440587.5 AS jd,
      |  epoch_us(ts)/86400e6 + 719163.0 AS ord_py,
      |  epoch_us(ts)/86400e6 + 719529.0 AS mat_o,
      |  ((epoch_us(ts) - 315964800000000) // 604800000000)::BIGINT AS gps_week,
      |  ((epoch_us(ts) - 315964800000000) % 604800000000)::DOUBLE / 1000.0 AS gps_ms
      |FROM events""".stripMargin

  /** Repeat-timestamp de-dup — `fix_repeat_dt` `timelib.py:183-191`: equal
    * timestamps within a key get +1 ms per duplicate rank. */
  def fixRepeatDt(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("t_us")).orderBy(col("event_id").asc)
    ev(s, d).select(col("event_id"), col("user_id"), tUs(col("ts")).as("t_us"))
      .withColumn("t_fixed_us",
        col("t_us") + (row_number().over(w) - 1).cast("long") * 1000L)
      .select(col("event_id"), col("user_id"), col("t_us"), col("t_fixed_us"))
  }

  val fixRepeatDtSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS t_us,
      |  epoch_us(ts) + (row_number() OVER (PARTITION BY user_id, epoch_us(ts)
      |                  ORDER BY event_id ASC) - 1)::BIGINT * 1000 AS t_fixed_us
      |FROM events""".stripMargin

  /** Unique (year, month) / unique days — `get_unique_monthyear`
    * `timelib.py:238-240`, `uniq_days_o` 399-408. */
  def uniqueDays(s: SparkSession, d: String): DataFrame =
    ev(s, d).groupBy(year(col("ts")).as("yr"), month(col("ts")).as("mo"),
                     dayofmonth(col("ts")).as("dom"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))

  val uniqueDaysSql: String =
    """SELECT year(ts)::INT AS yr, month(ts)::INT AS mo, day(ts)::INT AS dom,
      |  count(*)::BIGINT AS n_events, count(DISTINCT user_id)::BIGINT AS n_users
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** Relative annual window filter — `rel_dt_test`/`dt_filter_rel_annual_idx`
    * `timelib.py:255-342` incl. the Jan-1 wraparound: keep events with DOY in
    * [340, 366] ∪ [1, 20], counted per user. */
  def relAnnual(s: SparkSession, d: String): DataFrame =
    ev(s, d).filter(dayofyear(col("ts")) >= 340 || dayofyear(col("ts")) <= 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_in_window"))

  val relAnnualSql: String =
    """SELECT user_id, count(*)::BIGINT AS n_in_window
      |FROM events WHERE dayofyear(ts) >= 340 OR dayofyear(ts) <= 20
      |GROUP BY user_id""".stripMargin

  /** Bilinear point interpolation — `bilinear` `geolib.py:1659-1695` as a
    * scalar formula over a synthetic 2×2 neighborhood per order row. */
  def bilinearPts(s: SparkSession, d: String): DataFrame = {
    val fx = ((col("o_orderkey") % 100) / lit(100.0))
    val fy = ((col("o_custkey") % 100) / lit(100.0))
    val v00 = (col("o_orderkey") % 50).cast("double")
    val v10 = (col("o_custkey") % 50).cast("double")
    val v01 = (col("o_orderkey") % 30).cast("double")
    val v11 = (col("o_custkey") % 30).cast("double")
    ord(s, d).select(col("o_orderkey"),
      round(v00 * (lit(1) - fx) * (lit(1) - fy) + v10 * fx * (lit(1) - fy) +
            v01 * (lit(1) - fx) * fy + v11 * fx * fy, 9).as("v_interp"))
  }

  val bilinearPtsSql: String =
    """SELECT o_orderkey,
      |  round((o_orderkey % 50) * (1 - (o_orderkey % 100)/100.0) * (1 - (o_custkey % 100)/100.0)
      |      + (o_custkey % 50) * ((o_orderkey % 100)/100.0) * (1 - (o_custkey % 100)/100.0)
      |      + (o_orderkey % 30) * (1 - (o_orderkey % 100)/100.0) * ((o_custkey % 100)/100.0)
      |      + (o_custkey % 30) * ((o_orderkey % 100)/100.0) * ((o_custkey % 100)/100.0), 9)
      |    AS v_interp
      |FROM orders""".stripMargin

  /** LSQ plane fit z = a·x + b·y + c — `fitPlaneLSQ`/`ma_fitplane`
    * `geolib.py:1826-1914` — via normal equations solved with Cramer's rule,
    * plus residual RMSE (the detrend residual norm). */
  def planeFit(s: SparkSession, d: String): DataFrame = {
    val pts = ev(s, d).select(
      ((col("event_id") % 100) / lit(10.0)).as("x"),
      ((col("user_id") % 100) / lit(5.0)).as("y"),
      col("value").as("z"))
    val sums = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"),
      sum(col("z")).as("sz"))
    val det =
      col("sxx") * (col("syy") * col("n") - col("sy") * col("sy")) -
      col("sxy") * (col("sxy") * col("n") - col("sy") * col("sx")) +
      col("sx")  * (col("sxy") * col("sy") - col("syy") * col("sx"))
    val da =
      col("sxz") * (col("syy") * col("n") - col("sy") * col("sy")) -
      col("sxy") * (col("syz") * col("n") - col("sy") * col("sz")) +
      col("sx")  * (col("syz") * col("sy") - col("syy") * col("sz"))
    val db =
      col("sxx") * (col("syz") * col("n") - col("sz") * col("sy")) -
      col("sxz") * (col("sxy") * col("n") - col("sy") * col("sx")) +
      col("sx")  * (col("sxy") * col("sz") - col("syz") * col("sx"))
    val dc =
      col("sxx") * (col("syy") * col("sz") - col("sy") * col("syz")) -
      col("sxy") * (col("sxy") * col("sz") - col("sy") * col("sxz")) +
      col("sx")  * (col("sxy") * col("syz") - col("syy") * col("sxz"))
    val coef = sums.select(round(da / det, 6).as("a"), round(db / det, 6).as("b"),
                           round(dc / det, 6).as("c"))
    // residual rmse against the (rounded) plane
    pts.crossJoin(coef).agg(
      first(col("a")).as("a"), first(col("b")).as("b"), first(col("c")).as("c"),
      round(sqrt(avg(pow(col("z") - (col("a") * col("x") + col("b") * col("y") + col("c")), 2))), 4)
        .as("resid_rmse"))
  }

  val planeFitSql: String =
    """WITH pts AS (SELECT (event_id % 100)/10.0 AS x, (user_id % 100)/5.0 AS y,
      |                    value AS z FROM events),
      |s AS (SELECT count(*)::DOUBLE AS n, sum(x*x) AS sxx, sum(x*y) AS sxy,
      |             sum(y*y) AS syy, sum(x) AS sx, sum(y) AS sy,
      |             sum(x*z) AS sxz, sum(y*z) AS syz, sum(z) AS sz FROM pts),
      |c AS (SELECT
      |  round((sxz*(syy*n - sy*sy) - sxy*(syz*n - sy*sz) + sx*(syz*sy - syy*sz)) /
      |        (sxx*(syy*n - sy*sy) - sxy*(sxy*n - sy*sx) + sx*(sxy*sy - syy*sx)), 6) AS a,
      |  round((sxx*(syz*n - sz*sy) - sxz*(sxy*n - sy*sx) + sx*(sxy*sz - syz*sx)) /
      |        (sxx*(syy*n - sy*sy) - sxy*(sxy*n - sy*sx) + sx*(sxy*sy - syy*sx)), 6) AS b,
      |  round((sxx*(syy*sz - sy*syz) - sxy*(sxy*sz - sy*sxz) + sx*(sxy*syz - syy*sxz)) /
      |        (sxx*(syy*n - sy*sy) - sxy*(sxy*n - sy*sx) + sx*(sxy*sy - syy*sx)), 6) AS c
      |  FROM s)
      |SELECT any_value(c.a) AS a, any_value(c.b) AS b, any_value(c.c) AS c,
      |  round(sqrt(avg(pow(z - (c.a*x + c.b*y + c.c), 2))), 4) AS resid_rmse
      |FROM pts, c""".stripMargin

  /** q80 — `butter_low` (`filtlib.py:483-507`): order-3 zero-phase
    * Butterworth low-pass over each user's event-value time series. The
    * driver-visible form fixes `wn = 0.1` (the known-cadence call; the
    * reference's auto-median-dt path is `Butterworth.butterLow`, covered by
    * ButterworthSpec) so the oracle can replay the identical IEEE-double
    * recursion from the same coefficient literals.
    *
    * Scale shape: one keyed run per user (`StackOps.keyedRuns`) — task
    * state is a single user's series, the same bounded-group contract as
    * the reference's 1-D API and the stack trend folds. No shuffle beyond
    * the one exchange on user_id. */
  def butterLow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = graft.functions.Butterworth.lowpass(3, 0.1)
    val events = ev(s, d)
      .select(col("user_id"), col("event_id"), tUs(col("ts")).as("t_us"), col("value"))
      .as[(Long, Long, Long, Double)]
    StackOps.keyedRuns(events, StackOps.foldWidth(s), "user_id")(_._1) { (uid, it) =>
      val rows = it.toArray.sortBy(r => (r._3, r._2))
      // domain restriction, mirrored by `cnt >= 13` in the twin: series
      // shorter than padlen+1 = 13 use scipy-style clamped padding, whose
      // variable pad length the fixed-depth SQL recursion cannot replay —
      // they are SKIPPED here (not crashed into: filtfilt itself handles
      // them, see ButterworthSpec's short-series cases)
      if (rows.length < 13) Iterator.empty
      else {
        val y = graft.functions.Butterworth.filtfilt(c, rows.map(_._4))
        rows.indices.iterator.map(i => (uid, rows(i)._3, y(i)))
      }
    }.toDF("user_id", "t_us", "v_filt")
  }

  /** q87 — `butter` (filtlib.py:509-563), the band-split framework the
    * reference left as an untested scratch: tide = zero-phase HIGHpass
    * (the fast band), notide = x − tide (the slow band, the reference's
    * `val_f_notide`), denoised tide = zero-phase lowpass of tide
    * (`val_f_tide_denoise`). Same per-user fold and ≥13-sample domain as
    * q80; the twin chains TWO generated filtfilt recursions. */
  def butterBand(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hp = graft.functions.Butterworth.highpass(3, 0.2)
    val lp = graft.functions.Butterworth.lowpass(3, 0.5)
    val events = ev(s, d)
      .select(col("user_id"), col("event_id"), tUs(col("ts")).as("t_us"), col("value"))
      .as[(Long, Long, Long, Double)]
    StackOps.keyedRuns(events, StackOps.foldWidth(s), "user_id")(_._1) { (uid, it) =>
      val rows = it.toArray.sortBy(r => (r._3, r._2))
      if (rows.length < 13) Iterator.empty
      else {
        val x = rows.map(_._4)
        val tide = graft.functions.Butterworth.filtfilt(hp, x)
        val dn = graft.functions.Butterworth.filtfilt(lp, tide)
        rows.indices.iterator.map(i =>
          (uid, rows(i)._3, tide(i), x(i) - tide(i), dn(i)))
      }
    }.toDF("user_id", "t_us", "v_tide", "v_notide", "v_dn")
  }

  private def dlit(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"

  /** Odd-extension CTEs (pad 12 each side): `src`(user_id, n, cnt, x) →
    * `ext_tag`(user_id, p, x), p = 0..cnt+23. Requires cnt >= 13. */
  private def extCte(tag: String, src: String): String =
    s"""fl_$tag AS (SELECT user_id, max(cnt) AS cnt,
       |    max(CASE WHEN n = 0 THEN x END) AS x0,
       |    max(CASE WHEN n = cnt - 1 THEN x END) AS xl
       |  FROM $src GROUP BY user_id),
       |ext_$tag AS MATERIALIZED (
       |  SELECT b.user_id, 12 - b.n AS p, 2.0*f.x0 - b.x AS x
       |    FROM $src b JOIN fl_$tag f USING (user_id) WHERE b.n BETWEEN 1 AND 12
       |  UNION ALL
       |  SELECT user_id, n + 12 AS p, x FROM $src
       |  UNION ALL
       |  SELECT b.user_id, 2*f.cnt + 10 - b.n AS p, 2.0*f.xl - b.x AS x
       |    FROM $src b JOIN fl_$tag f USING (user_id)
       |    WHERE b.n BETWEEN f.cnt - 13 AND f.cnt - 2)""".stripMargin

  /** One zero-phase (forward + backward) order-3 DF2T pass over `ext_tag`,
    * generated from the SAME runtime coefficients the Spark plan uses:
    * `y_tag`(user_id, n, cnt, y) on the original sample index. The q80
    * recursion shape, parameterized — what makes chained-filter oracles
    * (q87) mechanical. */
  private def passCte(tag: String, c: graft.functions.Butterworth.Coeffs): String = {
    val zi = graft.functions.Butterworth.lfilterZi(c)
    val b0 = dlit(c.b(0)); val b1 = dlit(c.b(1)); val b2 = dlit(c.b(2)); val b3 = dlit(c.b(3))
    val a1 = dlit(c.a(1)); val a2 = dlit(c.a(2)); val a3 = dlit(c.a(3))
    val z1 = dlit(zi(0)); val z2 = dlit(zi(1)); val z3 = dlit(zi(2))
    s"""fwd_$tag AS (
       |  SELECT user_id, p,
       |         $b0*x + $z1*x AS y,
       |         $b1*x - $a1*($b0*x + $z1*x) + $z2*x AS s1,
       |         $b2*x - $a2*($b0*x + $z1*x) + $z3*x AS s2,
       |         $b3*x - $a3*($b0*x + $z1*x) AS s3
       |  FROM ext_$tag WHERE p = 0
       |  UNION ALL
       |  SELECT e.user_id, e.p,
       |         $b0*e.x + w.s1,
       |         $b1*e.x - $a1*($b0*e.x + w.s1) + w.s2,
       |         $b2*e.x - $a2*($b0*e.x + w.s1) + w.s3,
       |         $b3*e.x - $a3*($b0*e.x + w.s1)
       |  FROM fwd_$tag w JOIN ext_$tag e ON e.user_id = w.user_id AND e.p = w.p + 1),
       |mx_$tag AS (SELECT user_id, max(p) AS pmax FROM fwd_$tag GROUP BY user_id),
       |rev_$tag AS MATERIALIZED (SELECT w.user_id, m.pmax - w.p AS q, w.y AS x
       |        FROM fwd_$tag w JOIN mx_$tag m USING (user_id)),
       |bwd_$tag AS (
       |  SELECT user_id, q,
       |         $b0*x + $z1*x AS y,
       |         $b1*x - $a1*($b0*x + $z1*x) + $z2*x AS s1,
       |         $b2*x - $a2*($b0*x + $z1*x) + $z3*x AS s2,
       |         $b3*x - $a3*($b0*x + $z1*x) AS s3
       |  FROM rev_$tag WHERE q = 0
       |  UNION ALL
       |  SELECT r.user_id, r.q,
       |         $b0*r.x + w.s1,
       |         $b1*r.x - $a1*($b0*r.x + w.s1) + w.s2,
       |         $b2*r.x - $a2*($b0*r.x + w.s1) + w.s3,
       |         $b3*r.x - $a3*($b0*r.x + w.s1)
       |  FROM bwd_$tag w JOIN rev_$tag r ON r.user_id = w.user_id AND r.q = w.q + 1),
       |y_$tag AS (SELECT w.user_id, m.pmax - 12 - w.q AS n, m.pmax - 23 AS cnt, w.y
       |  FROM bwd_$tag w JOIN mx_$tag m USING (user_id)
       |  WHERE w.q BETWEEN 12 AND m.pmax - 12)""".stripMargin
  }

  val butterBandSql: String = {
    val hp = graft.functions.Butterworth.highpass(3, 0.2)
    val lp = graft.functions.Butterworth.lowpass(3, 0.5)
    s"""WITH RECURSIVE
       |base AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) AS t_us,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS n,
       |         count(*) OVER (PARTITION BY user_id) AS cnt,
       |         value AS x
       |  FROM events
       |  QUALIFY cnt >= 13
       |),
       |${extCte("1", "base")},
       |${passCte("1", hp)},
       |src2 AS (SELECT user_id, n, cnt, y AS x FROM y_1),
       |${extCte("2", "src2")},
       |${passCte("2", lp)}
       |SELECT b.user_id, b.t_us, y1.y AS v_tide, b.x - y1.y AS v_notide,
       |       y2.y AS v_dn
       |FROM base b
       |JOIN y_1 y1 ON y1.user_id = b.user_id AND y1.n = b.n
       |JOIN y_2 y2 ON y2.user_id = b.user_id AND y2.n = b.n""".stripMargin
  }

  /** DuckDB twin of q80: the direct-form-II-transposed recursion is a fixed
    * chain of IEEE double ops, so a recursive CTE stepping one sample per
    * level (all users advance in lockstep; depth = longest padded series)
    * reproduces filtfilt bit-for-bit: odd-extend 12 samples each side,
    * forward pass with zi*x[0] init, reverse, second pass with zi*y[0] init,
    * reverse and strip. Coefficients are interpolated from the SAME runtime
    * design the Spark plan uses, so the two sides cannot drift. */
  val butterLowSql: String = {
    val c = graft.functions.Butterworth.lowpass(3, 0.1)
    val zi = graft.functions.Butterworth.lfilterZi(c)
    // CAST('…' AS DOUBLE), NOT a bare literal: DuckDB types a long decimal
    // literal as DECIMAL, and its DECIMAL→DOUBLE conversion can land 1 ulp
    // off the correctly-rounded parse (measured), which compounds through
    // the recursion; the string cast is a correctly-rounded IEEE parse.
    def f(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
    val b0 = f(c.b(0)); val b1 = f(c.b(1)); val b2 = f(c.b(2)); val b3 = f(c.b(3))
    val a1 = f(c.a(1)); val a2 = f(c.a(2)); val a3 = f(c.a(3))
    val z1 = f(zi(0)); val z2 = f(zi(1)); val z3 = f(zi(2))
    s"""WITH RECURSIVE
       |base AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) AS t_us,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS n,
       |         count(*) OVER (PARTITION BY user_id) AS cnt,
       |         value AS x
       |  FROM events
       |  QUALIFY cnt >= 13
       |),
       |fl AS (
       |  SELECT user_id, max(cnt) AS cnt,
       |         max(CASE WHEN n = 0 THEN x END) AS x0,
       |         max(CASE WHEN n = cnt - 1 THEN x END) AS xl
       |  FROM base GROUP BY user_id
       |),
       |ext AS MATERIALIZED (
       |  SELECT b.user_id, 12 - b.n AS p, 2.0*f.x0 - b.x AS x
       |    FROM base b JOIN fl f USING (user_id) WHERE b.n BETWEEN 1 AND 12
       |  UNION ALL
       |  SELECT user_id, n + 12 AS p, x FROM base
       |  UNION ALL
       |  SELECT b.user_id, 2*f.cnt + 10 - b.n AS p, 2.0*f.xl - b.x AS x
       |    FROM base b JOIN fl f USING (user_id) WHERE b.n BETWEEN f.cnt - 13 AND f.cnt - 2
       |),
       |fwd AS (
       |  SELECT user_id, p,
       |         $b0*x + $z1*x AS y,
       |         $b1*x - $a1*($b0*x + $z1*x) + $z2*x AS s1,
       |         $b2*x - $a2*($b0*x + $z1*x) + $z3*x AS s2,
       |         $b3*x - $a3*($b0*x + $z1*x) AS s3
       |  FROM ext WHERE p = 0
       |  UNION ALL
       |  SELECT e.user_id, e.p,
       |         $b0*e.x + w.s1,
       |         $b1*e.x - $a1*($b0*e.x + w.s1) + w.s2,
       |         $b2*e.x - $a2*($b0*e.x + w.s1) + w.s3,
       |         $b3*e.x - $a3*($b0*e.x + w.s1)
       |  FROM fwd w JOIN ext e ON e.user_id = w.user_id AND e.p = w.p + 1
       |),
       |mx AS (SELECT user_id, max(p) AS pmax FROM fwd GROUP BY user_id),
       |rev AS MATERIALIZED (SELECT w.user_id, m.pmax - w.p AS q, w.y AS x
       |        FROM fwd w JOIN mx m USING (user_id)),
       |bwd AS (
       |  SELECT user_id, q,
       |         $b0*x + $z1*x AS y,
       |         $b1*x - $a1*($b0*x + $z1*x) + $z2*x AS s1,
       |         $b2*x - $a2*($b0*x + $z1*x) + $z3*x AS s2,
       |         $b3*x - $a3*($b0*x + $z1*x) AS s3
       |  FROM rev WHERE q = 0
       |  UNION ALL
       |  SELECT r.user_id, r.q,
       |         $b0*r.x + w.s1,
       |         $b1*r.x - $a1*($b0*r.x + w.s1) + w.s2,
       |         $b2*r.x - $a2*($b0*r.x + w.s1) + w.s3,
       |         $b3*r.x - $a3*($b0*r.x + w.s1)
       |  FROM bwd w JOIN rev r ON r.user_id = w.user_id AND r.q = w.q + 1
       |)
       |SELECT b.user_id, b.t_us, w.y AS v_filt
       |FROM base b
       |JOIN mx m USING (user_id)
       |JOIN bwd w ON w.user_id = b.user_id AND w.q = m.pmax - 12 - b.n""".stripMargin
  }
}
