package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.ImageTable.Ndv

/** Per-pixel stack statistics over aligned tiles — `compute_stats`
  * `malib.py:559-587` and `compute_dt_stats` `malib.py:310-324` — plus the
  * per-pixel OLS trend `ma_linreg` `malib.py:999-1171`.
  *
  * Scale design: the time axis aggregates with VECTOR buffers (one
  * keyed run per tile, buffer = per-pixel running sums) instead of
  * exploding to (cell, value) rows — a 4096× reduction in shuffled rows, the
  * Spark analog of the reference's batched `linalg.solve` over pixel columns
  * (`malib.py:1076-1092`). The explode path (`toCells`) exists for exact
  * per-pixel median/NMAD and for oracle-style verification at test scale. */
object StackOps {
  private final val TileLen = Warp.TileSize * Warp.TileSize

  final case class StatsBuf(var n: Int, cnt: Array[Int], sum: Array[Double],
                            sumsq: Array[Double], vmin: Array[Float], vmax: Array[Float])
  final case class TileStats(tile_id: Long, n_layers: Int, count: Array[Int],
                             mean: Array[Float], std: Array[Float],
                             vmin: Array[Float], vmax: Array[Float])

  final case class BandTileStats(band: Int, tile_id: Long, n_layers: Int,
                                 count: Array[Int], mean: Array[Float],
                                 std: Array[Float], vmin: Array[Float],
                                 vmax: Array[Float])

  /** count/mean/std/min/max per pixel; std masked (NaN) where count ≤ 1
    * (`malib.py:569`); everything masked where count == 0. */
  object TileStatsAgg extends Aggregator[TileRow, StatsBuf, TileStats] {
    def zero: StatsBuf = StatsBuf(0, new Array[Int](TileLen), new Array[Double](TileLen),
      new Array[Double](TileLen), Pixels.filled(TileLen, Float.MaxValue),
      Pixels.filled(TileLen, Float.MinValue))
    def reduce(b: StatsBuf, t: TileRow): StatsBuf = {
      b.n += 1
      var i = 0
      while (i < TileLen) {
        val v = t.payload(i)
        if (v != Ndv) {
          b.cnt(i) += 1; b.sum(i) += v; b.sumsq(i) += v.toDouble * v
          if (v < b.vmin(i)) b.vmin(i) = v
          if (v > b.vmax(i)) b.vmax(i) = v
        }
        i += 1
      }
      b
    }
    def merge(a: StatsBuf, b: StatsBuf): StatsBuf = {
      a.n += b.n
      var i = 0
      while (i < TileLen) {
        a.cnt(i) += b.cnt(i); a.sum(i) += b.sum(i); a.sumsq(i) += b.sumsq(i)
        if (b.vmin(i) < a.vmin(i)) a.vmin(i) = b.vmin(i)
        if (b.vmax(i) > a.vmax(i)) a.vmax(i) = b.vmax(i)
        i += 1
      }
      a
    }
    def finish(b: StatsBuf): TileStats = {
      val mean = new Array[Float](TileLen); val std = new Array[Float](TileLen)
      val mn = new Array[Float](TileLen); val mx = new Array[Float](TileLen)
      var i = 0
      while (i < TileLen) {
        if (b.cnt(i) == 0) {
          mean(i) = Ndv; std(i) = Ndv; mn(i) = Ndv; mx(i) = Ndv
        } else {
          val m = b.sum(i) / b.cnt(i)
          mean(i) = m.toFloat
          // population std like np.ma.std (malib.py:568); masked at count<=1
          std(i) = if (b.cnt(i) <= 1) Ndv
                   else math.sqrt(math.max(0.0, b.sumsq(i) / b.cnt(i) - m * m)).toFloat
          mn(i) = b.vmin(i); mx(i) = b.vmax(i)
        }
        i += 1
      }
      TileStats(-1L, b.n, b.cnt, mean, std, mn, mx)
    }
    def bufferEncoder: Encoder[StatsBuf] = Encoders.product[StatsBuf]
    def outputEncoder: Encoder[TileStats] = Encoders.product[TileStats]
  }

  /** Explicit width for the CPU-bound keyed walks: never below the
    * machine's parallelism, because the ~100-200× compressed shuffle size
    * of a decode-bound fold would let AQE coalesce it to 1-2 tasks (the
    * same pathology as the catalog scans). */
  private[graft] def foldWidth(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** ONE-shuffle vector fold: one keyed run per tile through the
    * aggregator, so a single live buffer per task suffices and finished
    * rows stream straight out. Spark's own hash aggregation holds every
    * group's vector buffer at once and spills (measured 5× slower in round
    * 1); the raw-row shuffle is small (payloads compress well), so guide
    * §2.3's "shuffle fewer bytes" means shuffling rows, not buffers. Fold
    * order changes with partitioning; outputs are order-independent on the
    * engine's exact-sum payloads (integer-valued floats, dyadic time), as
    * the strict oracle gate checks at two CPU counts. */
  private[operators] def partialFold[B, O: Encoder](
      tiles: Dataset[TileRow], agg: Aggregator[TileRow, B, _])(
      finish: (Long, B) => O): Dataset[O] =
    keyedRuns(tiles, foldWidth(tiles.sparkSession), "tile_id")(_.tile_id) { (tid, run) =>
      var b = agg.zero
      run.foreach(t => b = agg.reduce(b, t))
      Iterator.single(finish(tid, b))
    }

  /** The one keyed exchange: repartition `ds` to exactly `width`
    * partitions on `keyCols`, sort each partition by them, and map every
    * run of rows with an equal `key` through `f(key, run)` to its output
    * rows — one run live per task; row order within a run is arbitrary.
    * Serves every batch grouping: the stack folds, the stencil, the kNN
    * block solve, the Butterworth folds (q80, q87) and, over a
    * [[taggedUnion]], `tileDiff`, `pointSample` and the view refresh;
    * `key` must be the value of `keyCols`. */
  private[graft] def keyedRuns[T, K, O: Encoder](ds: Dataset[T], width: Int,
      keyCols: String*)(key: T => K)(f: (K, Iterator[T]) => IterableOnce[O]): Dataset[O] = {
    val cols = keyCols.map(col)
    ds.repartition(width, cols: _*).sortWithinPartitions(cols: _*)
      .mapPartitions((it: Iterator[T]) => sortedRuns(it)(key)(f))
  }

  /** The tagged union of several inputs that share the key column `key`,
    * as `_1`: one [[keyedRuns]] on "_1" over it is one exchange, whatever
    * the number of inputs. `T` is a tuple (key, slot 1, …, slot n) whose
    * slots are case classes. A leg `(df, i)` puts each row's slot-i
    * columns in slot i and null in every other slot, so a run's row names
    * its input by the slot that is set; a leg `(df, -1)` fills no slot,
    * and its rows only mark their key. */
  private[graft] def taggedUnion[T](key: String, legs: (DataFrame, Int)*)(
      implicit enc: Encoder[T]): Dataset[T] = {
    val slots = enc.schema.fields.toSeq.tail.map(_.dataType.asInstanceOf[StructType])
    legs.map { case (df, at) =>
      df.select(col(key).as("_1") +: slots.zipWithIndex.map { case (s, i) =>
        (if (i == at) struct(s.fieldNames.toSeq.map(col): _*) else lit(null).cast(s))
          .as(s"_${i + 2}")
      }: _*)
    }.reduce(_ unionByName _).as[T]
  }

  /** The runs of equal keys in a key-sorted iterator, each mapped through
    * `f(key, run)` as it streams past — one run live at a time; `f` may
    * leave its run partly unread. */
  private def sortedRuns[T, K, O](it: Iterator[T])(key: T => K)(
      f: (K, Iterator[T]) => IterableOnce[O]): Iterator[O] = {
    val in = it.buffered
    new scala.collection.AbstractIterator[Iterator[O]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[O] = {
        val k = key(in.head)
        val run = new scala.collection.AbstractIterator[T] {
          def hasNext: Boolean = in.hasNext && key(in.head) == k
          def next(): T = in.next()
        }
        f(k, run).iterator ++ { run.foreach(_ => ()); Iterator.empty }
      }
    }.flatten
  }

  def stackStats(tiles: Dataset[TileRow]): Dataset[TileStats] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    partialFold(tiles, TileStatsAgg)((tid, b) => TileStatsAgg.finish(b).copy(tile_id = tid))
  }

  /** Per-band, per-pixel stack stats over multi-band tiles. The band folds
    * into the aggregation key (band-composite tile id: tile_id·nBands +
    * band), so the SAME bounded partial-fold + TileStatsAgg path serves
    * every band and bands aggregate independently — the distributed form
    * of running malib's stack stats once per band (`malib.py:559-587`
    * driven by the `warplib.py:146-153` band loop). One shuffle keyed on
    * (band, tile); no cross-band traffic by construction. */
  def stackStatsBands(tiles: Dataset[BandTileRow], nBands: Int): Dataset[BandTileStats] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    require(nBands >= 1, s"nBands $nBands")
    val keyed = tiles.map(b => TileRow(b.image_id, b.ts_us,
      b.tile_id * nBands + b.band, b.tx, b.ty, b.payload, b.n_valid, b.elided))
    stackStats(keyed).map { st =>
      BandTileStats((st.tile_id % nBands).toInt, st.tile_id / nBands,
        st.n_layers, st.count, st.mean, st.std, st.vmin, st.vmax)
    }
  }

  /** Reduce a multi-layer stack to ONE composite layer per tile (per-pixel
    * mean over valid samples) — the reduction `tileDiff` requires on each
    * side (diffing two stacks pairwise is |A|×|B| per tile, not the
    * reference's raster−raster semantics). ts = earliest layer timestamp. */
  def compositeMean(tiles: Dataset[TileRow],
                    label: String = "composite"): Dataset[TileRow] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    keyedRuns(tiles, foldWidth(spark), "tile_id")(_.tile_id) { (tid, it) =>
      val sum = new Array[Double](TileLen); val cnt = new Array[Int](TileLen)
      var tx = 0; var ty = 0; var ts = Long.MaxValue
      it.foreach { t =>
        tx = t.tx; ty = t.ty; if (t.ts_us < ts) ts = t.ts_us
        var i = 0
        while (i < TileLen) {
          val v = t.payload(i)
          if (v != Ndv) { sum(i) += v; cnt(i) += 1 }
          i += 1
        }
      }
      val out = new Array[Float](TileLen); var n = 0
      var i = 0
      while (i < TileLen) {
        if (cnt(i) > 0) { out(i) = (sum(i) / cnt(i)).toFloat; n += 1 } else out(i) = Ndv
        i += 1
      }
      if (n == 0) Iterator.empty
      else Iterator.single(TileRow(label, ts, tid, tx, ty, out, n, elided = false))
    }
  }

  final case class TrendBuf(var n: Int, cnt: Array[Int], st: Array[Double],
                            stt: Array[Double], sy: Array[Double], sty: Array[Double],
                            syy: Array[Double],
                            tmin: Array[Double], tmax: Array[Double])
  final case class TileTrend(tile_id: Long, count: Array[Int],
                             slope_yr: Array[Float], intercept: Array[Float],
                             r2: Array[Float], t_stat: Array[Float])

  /** Per-pixel OLS via normal-equation sums (`malib.py:1084-1092`); gates:
    * count ≥ nThresh (`malib.py:1014-1016`) and time-spread ≥ minDtPtp days
    * (`malib.py:1020-1025`); slope ×365.25 → units/yr (`malib.py:1169`).
    * t in days, internally shifted by the first layer's day (shift-invariant
    * slope/r2/T0; conditions the t² sums). Diagnostics per the rsq/conf_test
    * blocks (`malib.py:1139-1156`): r2 = SSreg/SStot, T0 = slope/SE with
    * SE = √(SSres/(n−2)/Sxx); with `confTest`, slope/intercept are masked
    * where |T0| ≤ t_{α/2, n−2} (the scipy t.ppf gate, here graft TDist). */
  class TileTrendAgg(nThresh: Int, minDtPtp: Double,
                     confTest: Boolean = false, alpha: Double = 0.05,
                     diagnostics: Boolean = true)
      extends Aggregator[TileRow, TrendBuf, TileTrend] {
    // r²/T0 need Σy² (the syy sums); confTest masks on T0, so it implies them
    require(diagnostics || !confTest, "confTest requires diagnostics sums")
    def zero: TrendBuf = TrendBuf(0, new Array[Int](TileLen), new Array[Double](TileLen),
      new Array[Double](TileLen), new Array[Double](TileLen), new Array[Double](TileLen),
      new Array[Double](TileLen),
      Pixels.filled(TileLen, Double.MaxValue), Pixels.filled(TileLen, Double.MinValue))
    def reduce(b: TrendBuf, r: TileRow): TrendBuf = {
      b.n += 1
      val t = r.ts_us / 86400e6 - 20000.0
      var i = 0
      while (i < TileLen) {
        val v = r.payload(i)
        if (v != Ndv) {
          b.cnt(i) += 1; b.st(i) += t; b.stt(i) += t * t; b.sy(i) += v; b.sty(i) += t * v
          if (diagnostics) b.syy(i) += v.toDouble * v
          if (t < b.tmin(i)) b.tmin(i) = t
          if (t > b.tmax(i)) b.tmax(i) = t
        }
        i += 1
      }
      b
    }
    def merge(a: TrendBuf, b: TrendBuf): TrendBuf = {
      a.n += b.n
      var i = 0
      while (i < TileLen) {
        a.cnt(i) += b.cnt(i); a.st(i) += b.st(i); a.stt(i) += b.stt(i)
        a.sy(i) += b.sy(i); a.sty(i) += b.sty(i); a.syy(i) += b.syy(i)
        if (b.tmin(i) < a.tmin(i)) a.tmin(i) = b.tmin(i)
        if (b.tmax(i) > a.tmax(i)) a.tmax(i) = b.tmax(i)
        i += 1
      }
      a
    }
    def finish(b: TrendBuf): TileTrend = {
      val slope = new Array[Float](TileLen); val icpt = new Array[Float](TileLen)
      val r2 = new Array[Float](TileLen); val tstat = new Array[Float](TileLen)
      // t_{α/2, df} memo — one inversion per distinct sample count
      val critMemo = scala.collection.mutable.HashMap.empty[Int, Double]
      var i = 0
      while (i < TileLen) {
        val n = b.cnt(i)
        val ptp = if (n > 0) b.tmax(i) - b.tmin(i) else 0.0
        slope(i) = Ndv; icpt(i) = Ndv; r2(i) = Ndv; tstat(i) = Ndv
        if (n >= nThresh && ptp >= minDtPtp) {
          val det = n * b.stt(i) - b.st(i) * b.st(i)
          if (det != 0.0) {
            val sl = (n * b.sty(i) - b.st(i) * b.sy(i)) / det
            val ic = (b.sy(i) - sl * b.st(i)) / n
            var keep = true
            if (diagnostics) {
              val sxx = b.stt(i) - b.st(i) * b.st(i) / n
              val sxy = b.sty(i) - b.st(i) * b.sy(i) / n
              val syyC = b.syy(i) - b.sy(i) * b.sy(i) / n
              val ssres = syyC - sl * sxy
              if (syyC > 0) r2(i) = (sl * sxy / syyC).toFloat
              if (n > 2) {
                if (ssres > 0) {
                  val se = math.sqrt(ssres / (n - 2) / sxx)
                  val t0 = sl / se
                  tstat(i) = t0.toFloat
                  if (confTest) {
                    val ta = critMemo.getOrElseUpdate(n,
                      graft.functions.TDist.crit(alpha, n - 2.0))
                    keep = math.abs(t0) > ta // malib.py:1153-1156 (mask insignificant)
                  }
                } // ssres == 0: perfect fit, T0 → ∞, always significant
              } else if (confTest) keep = false // df < 1: no significance evidence
            }
            if (keep) {
              slope(i) = (sl * 365.25).toFloat
              // intercept reported at t=0 epoch days (undo the -20000 shift)
              icpt(i) = (ic - sl * 20000.0).toFloat
            }
          }
        }
        i += 1
      }
      TileTrend(-1L, b.cnt, slope, icpt, r2, tstat)
    }
    def bufferEncoder: Encoder[TrendBuf] = Encoders.product[TrendBuf]
    def outputEncoder: Encoder[TileTrend] = Encoders.product[TileTrend]
  }

  def trend(tiles: Dataset[TileRow], nThresh: Int = 2,
            minDtPtp: Double = 0.0, confTest: Boolean = false,
            alpha: Double = 0.05,
            diagnostics: Boolean = true): Dataset[TileTrend] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val agg = new TileTrendAgg(nThresh, minDtPtp, confTest, alpha, diagnostics)
    partialFold(tiles, agg)((tid, b) => agg.finish(b).copy(tile_id = tid))
  }

  /** The reference's default time-spread gate when none is given
    * (`malib.py:1020-1025`): 10 % of the 96th percentile of the per-pixel
    * date range. Exact percentile here (test scale); at 100 TB swap in
    * percentile_approx — the gate is a heuristic, not an oracle surface. */
  def autoMinDtPtp(tiles: Dataset[TileRow]): Double = {
    val dt = dtStats(tiles).toDF()
      .select(explode(col("ptp_us")).as("ptp_us"))
      .filter(col("ptp_us") >= 0)
    val p96 = dt.agg(expr("percentile(ptp_us, 0.96)")).head().getDouble(0)
    0.10 * p96 / 86400e6
  }

  /** Per-pixel first/last valid timestamp + ptp + center —
    * `compute_dt_stats` `malib.py:310-324` — via min/max ts vector agg. */
  final case class DtBuf(tmin: Array[Long], tmax: Array[Long])
  final case class TileDt(tile_id: Long, t_first_us: Array[Long], t_last_us: Array[Long],
                          ptp_us: Array[Long], center_us: Array[Long])

  object TileDtAgg extends Aggregator[TileRow, DtBuf, TileDt] {
    def zero: DtBuf = DtBuf(Pixels.filled(TileLen, Long.MaxValue), Pixels.filled(TileLen, Long.MinValue))
    def reduce(b: DtBuf, r: TileRow): DtBuf = {
      var i = 0
      while (i < TileLen) {
        if (r.payload(i) != Ndv) {
          if (r.ts_us < b.tmin(i)) b.tmin(i) = r.ts_us
          if (r.ts_us > b.tmax(i)) b.tmax(i) = r.ts_us
        }
        i += 1
      }
      b
    }
    def merge(a: DtBuf, b: DtBuf): DtBuf = {
      var i = 0
      while (i < TileLen) {
        if (b.tmin(i) < a.tmin(i)) a.tmin(i) = b.tmin(i)
        if (b.tmax(i) > a.tmax(i)) a.tmax(i) = b.tmax(i)
        i += 1
      }
      a
    }
    def finish(b: DtBuf): TileDt = {
      val f = new Array[Long](TileLen); val l = new Array[Long](TileLen)
      val p = new Array[Long](TileLen); val c = new Array[Long](TileLen)
      var i = 0
      while (i < TileLen) {
        if (b.tmin(i) == Long.MaxValue) { f(i) = -1; l(i) = -1; p(i) = -1; c(i) = -1 }
        else {
          f(i) = b.tmin(i); l(i) = b.tmax(i)
          val ptp = b.tmax(i) - b.tmin(i)
          p(i) = if (ptp == 0) -1 else ptp        // ptp masked where 0, malib.py:322
          c(i) = b.tmin(i) + ptp / 2
        }
        i += 1
      }
      TileDt(-1L, f, l, p, c)
    }
    def bufferEncoder: Encoder[DtBuf] = Encoders.product[DtBuf]
    def outputEncoder: Encoder[TileDt] = Encoders.product[TileDt]
  }

  def dtStats(tiles: Dataset[TileRow]): Dataset[TileDt] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    partialFold(tiles, TileDtAgg)((tid, b) => TileDtAgg.finish(b).copy(tile_id = tid))
  }

  /** Long form: one row per valid pixel — `get_xyz` `malib.py:1854-1859`
    * (tile → pixels explode). Exact median/NMAD and any relational op run
    * from here; at scale use only after heavy filtering. */
  def toCells(tiles: Dataset[TileRow]): DataFrame = {
    tiles.toDF()
      .select(col("image_id"), col("ts_us"), col("tile_id"),
        posexplode(col("payload")).as(Seq("pidx", "v")))
      .filter(col("v") =!= Ndv)
      .select(col("image_id"), col("ts_us"),
        (col("tile_id") * TileLen + col("pidx")).as("cell_id"),
        col("v"))
  }

  /** Guarded per-cell OLS from (cell_id, t, y): degenerate cells (n=1 or
    * zero time spread → det=0) yield NULL slope instead of an ANSI-mode
    * DIVIDE_BY_ZERO (Spark 4 defaults ANSI on). */
  private def fitOls(cells: DataFrame): DataFrame =
    cells.groupBy(col("cell_id")).agg(
        count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"))
      .withColumn("det", col("n") * col("stt") - col("st") * col("st"))
      .select(col("cell_id"), col("n"),
        when(col("det") =!= 0.0,
          (col("n") * col("sty") - col("st") * col("sy")) / col("det")).as("slope"),
        when(col("det") =!= 0.0,
          (col("sy") - (col("n") * col("sty") - col("st") * col("sy")) / col("det") * col("st"))
            / col("n")).as("icpt"))

  /** OLS with iterative 3σ residual-outlier removal — `ma_linreg`
    * `malib.py:1103-1120`: fit, drop samples with |residual| > 3·σ_resid,
    * refit; at most `maxIter` rounds (reference caps at 3), stopping early
    * when no samples were removed. Long-form cells in, per-cell slope out.
    * Each round is one groupBy agg + one join — the chained-passes plan
    * from SURVEY §2.5. */
  def trendOutlierIter(cells0: DataFrame, nThresh: Int = 2,
                       maxIter: Int = 3, sigma: Double = 3.0): DataFrame = {
    var cells = cells0.select(col("cell_id"),
      (col("ts_us").cast("double") / 86400e6).as("t"), col("v").cast("double").as("y"))
    // one action per round: carry the survivor count forward instead of
    // re-counting the previous round's plan (was 2 count() jobs/round)
    var prevCount = cells.count()
    var prevCached: DataFrame = null
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val fit = fitOls(cells)
      val withResid = cells.join(fit, Seq("cell_id"))
        .withColumn("resid", col("y") - (col("slope") * col("t") + col("icpt")))
      // detrended spread = NMAD of residuals (malib.py:1101) — robust, so
      // the outlier cannot inflate its own rejection threshold
      val rmed = withResid.groupBy(col("cell_id"))
        .agg(expr("percentile(resid, 0.5)").as("rmed"))
      val bounds = withResid.join(rmed, Seq("cell_id"))
        .groupBy(col("cell_id"))
        .agg(expr("1.4826 * percentile(abs(resid - rmed), 0.5)").as("rstd"))
      val filtered = withResid.join(bounds, Seq("cell_id"))
        .filter(col("resid").isNull || col("rstd").isNull || col("rstd") === 0.0 ||
                abs(col("resid")) <= col("rstd") * sigma)
        .select(col("cell_id"), col("t"), col("y"))
        .cache()
      val after = filtered.count() // materializes the new cache
      if (prevCached != null) prevCached.unpersist()
      prevCached = filtered
      changed = after < prevCount
      prevCount = after
      cells = filtered
      it += 1
    }
    // refit on the final survivor set (the reference refits after removal),
    // then materialize (lineage-truncated, ContextCleaner-managed blocks) so
    // the round-local cache can be released — long-lived sessions must not
    // accumulate one orphaned CacheManager entry per invocation
    val out = fitOls(cells)
      .filter(col("n") >= nThresh && col("slope").isNotNull)
      .select(col("cell_id"), col("n"), (col("slope") * 365.25).as("slope_yr"),
              col("icpt").as("intercept"))
      .localCheckpoint(true)
    if (prevCached != null) prevCached.unpersist(false)
    out
  }

  /** Robust per-cell Theil–Sen trend from long form — the `ma_linreg`
    * robust variant (`malib.py:960-998`: TheilSen via sklearn + mp.Pool;
    * here the median of pairwise slopes per cell, O(n²) per cell, run as a
    * grouped fold — the shuffle-by-pixel the reference's process pool
    * approximates). Gates mirror OLS: count ≥ nThresh, time-spread > 0. */
  def theilSen(cells: DataFrame, nThresh: Int = 2): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    keyedRuns(cells.select(col("cell_id"), col("ts_us"), col("v")).as[(Long, Long, Float)],
        foldWidth(spark), "cell_id")(_._1) { (cell, it) =>
      val pts = it.map(r => (r._2 / 86400e6, r._3.toDouble)).toArray
      Iterator.single(if (pts.length < nThresh || pts.map(_._1).distinct.length < 2) {
        (cell, pts.length, Double.NaN, Double.NaN)
      } else {
        val slopes = for {
          i <- pts.indices; j <- (i + 1) until pts.length
          if pts(j)._1 != pts(i)._1
        } yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
        val ss = slopes.sorted
        val slope = if (ss.length % 2 == 1) ss(ss.length / 2)
                    else (ss(ss.length / 2 - 1) + ss(ss.length / 2)) / 2
        // intercept = median(y - slope*t), the standard Theil-Sen form
        val ic = pts.map { case (t, y) => y - slope * t }.sorted
        val icpt = if (ic.length % 2 == 1) ic(ic.length / 2)
                   else (ic(ic.length / 2 - 1) + ic(ic.length / 2)) / 2
        (cell, pts.length, slope * 365.25, icpt)
      })
    }.toDF("cell_id", "n", "slope_yr", "intercept")
  }

  /** RANSAC per-cell line fit — the `ma_linreg` robust variant
    * (`malib.py:960-993` runs sklearn's RANSACRegressor): `trials`
    * deterministic 2-point hypotheses per cell (indices from a splitmix
    * hash of (cell, trial) — no RNG state, partition-invariant), inliers =
    * |residual| ≤ max(absThresh, NMAD of y) (sklearn's default threshold is
    * the MAD of y), best trial = max inliers with lowest-trial tie-break,
    * final slope = OLS over the winning inlier set. Gates mirror OLS. */
  def ransac(cells: DataFrame, nThresh: Int = 2, trials: Int = 16,
             absThresh: Double = 0.0): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    keyedRuns(cells.select(col("cell_id"), col("ts_us"), col("v")).as[(Long, Long, Float)],
        foldWidth(spark), "cell_id")(_._1) { (cell, it) =>
      val pts = it.map(r => (r._2 / 86400e6, r._3.toDouble)).toArray
        .sortBy(p => (p._1, p._2)) // deterministic order independent of shuffle
      val n = pts.length
      Iterator.single(if (n < nThresh || pts.map(_._1).distinct.length < 2) {
        (cell, n, Double.NaN, Double.NaN, 0)
      } else {
        val ys = pts.map(_._2).sorted
        val med = if (n % 2 == 1) ys(n / 2) else (ys(n / 2 - 1) + ys(n / 2)) / 2
        val devs = pts.map(p => math.abs(p._2 - med)).sorted
        val mad = if (n % 2 == 1) devs(n / 2) else (devs(n / 2 - 1) + devs(n / 2)) / 2
        val thr = math.max(absThresh, math.max(1.4826 * mad, 1e-9))
        var bestInliers: Array[Int] = null
        var t = 0
        while (t < trials) {
          val i = (math.floorMod(mix(cell * 1000003L + t), n.toLong)).toInt
          var j = (math.floorMod(mix(cell * 998244353L + t * 31L + 7L), n.toLong)).toInt
          if (j == i) j = (j + 1) % n
          if (pts(i)._1 != pts(j)._1) {
            val sl = (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
            val ic = pts(i)._2 - sl * pts(i)._1
            val inl = (0 until n).filter(q =>
              math.abs(pts(q)._2 - (sl * pts(q)._1 + ic)) <= thr).toArray
            if (bestInliers == null || inl.length > bestInliers.length)
              bestInliers = inl
          }
          t += 1
        }
        if (bestInliers == null || bestInliers.length < nThresh) {
          (cell, n, Double.NaN, Double.NaN, 0)
        } else {
          // OLS refit over the winning inlier set
          val sel = bestInliers.map(pts)
          val m = sel.length.toDouble
          val st = sel.map(_._1).sum; val sy = sel.map(_._2).sum
          val stt = sel.map(p => p._1 * p._1).sum
          val sty = sel.map(p => p._1 * p._2).sum
          val det = m * stt - st * st
          if (det == 0.0) (cell, n, Double.NaN, Double.NaN, sel.length)
          else {
            val sl = (m * sty - st * sy) / det
            (cell, n, sl * 365.25, (sy - sl * st) / m, sel.length)
          }
        }
      })
    }.toDF("cell_id", "n", "slope_yr", "intercept", "n_inliers")
  }

  /** Stack clip by cell-range predicate — `stack_clip` `malib.py:733-816`:
    * keep only tiles intersecting a pixel-window of the target grid (the
    * partition-pruning form of the reference's crop + gt update). */
  def stackClip(tiles: Dataset[TileRow], tx0: Int, ty0: Int, tx1: Int, ty1: Int): Dataset[TileRow] =
    tiles.filter(t => t.tx >= tx0 && t.tx <= tx1 && t.ty >= ty0 && t.ty <= ty1)

  /** Layer subset — `get_stack_subset` `malib.py:820-884`: boolean predicate
    * over layer metadata (here: a time window on ts_us). */
  def stackSubset(tiles: Dataset[TileRow], tsMinUs: Long, tsMaxUs: Long): Dataset[TileRow] =
    tiles.filter(t => t.ts_us >= tsMinUs && t.ts_us <= tsMaxUs)

  /** Exact per-cell median + NMAD from long form (`fast_median`/`mad`
    * `malib.py:1499-1532`): two exact percentile passes. */
  def cellMedianNmad(cells: DataFrame): DataFrame = {
    val med = cells.groupBy(col("cell_id"))
      .agg(expr("percentile(v, 0.5)").as("med"))
    cells.join(med, Seq("cell_id"))
      .groupBy(col("cell_id"))
      .agg(first(col("med")).as("med"),
           expr("1.4826 * percentile(abs(v - med), 0.5)").as("nmad"))
  }
}
