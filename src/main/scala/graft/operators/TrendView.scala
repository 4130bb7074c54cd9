package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.SnapshotTable

/** Incrementally-maintained per-pixel OLS trend — [[StatsView]]'s sibling
  * over the normal-equation sufficient statistics (per-pixel Σt, Σt², Σv,
  * Σtv, Σv², count, t-envelope: the `TileTrendAgg` buffer, `malib.py:
  * 1084-1092`). The reference refits the whole stack per run (`ma_linreg`
  * `malib.py:999-1171`); at 100 TB with layers landing continuously the
  * refit is O(history) per arrival, while this view advances by
  * `SnapshotTable.changes` CDC in O(delta) and re-finishes only affected
  * tiles.
  *
  * The OLS time coordinate is t = ts_us/86 400e6 − 20 000 (days, epoch-
  * shifted); on the engine's day+3-hour-grid fixtures t is DYADIC and
  * payloads integer-valued, so every moment sum is exact in double and the
  * incrementally-merged buffers are bit-identical to the batch fold under
  * ANY commit grouping — q110's strict oracle is q42's DuckDB twin
  * verbatim. The finish arithmetic is NOT re-stated here: stored moments
  * are loaded back into a `TrendBuf` and run through the same
  * `TileTrendAgg.finish` as the batch path (the one definition of the
  * normal-equation chain). */
object TrendView {

  /** One view row: tile id + the raw mergeable OLS buffer (finishing —
    * slope/r²/T0 — is not mergeable; the view stores moments). */
  final case class MvRow(tile_id: Long, n: Int, cnt: Array[Byte],
                         st: Array[Byte], stt: Array[Byte],
                         sy: Array[Byte], sty: Array[Byte],
                         syy: Array[Byte],
                         tmin: Array[Byte], tmax: Array[Byte])

  private def unpack(r: MvRow): StackOps.TrendBuf = {
    import IncrementalView._
    StackOps.TrendBuf(r.n, unpackI(r.cnt), unpackD(r.st), unpackD(r.stt),
      unpackD(r.sy), unpackD(r.sty), unpackD(r.syy), unpackD(r.tmin),
      unpackD(r.tmax))
  }

  /** The view's one definition: the batch trend aggregator (ungated — the
    * gates apply at finish) plus the codec between its buffer and the
    * stored row. */
  private val view = {
    import IncrementalView._
    ViewDef[StackOps.TrendBuf, MvRow](
      new StackOps.TileTrendAgg(nThresh = 2, minDtPtp = 0.0),
      (tid, b) => MvRow(tid, b.n, packI(b.cnt), packD(b.st), packD(b.stt),
        packD(b.sy), packD(b.sty), packD(b.syy), packD(b.tmin), packD(b.tmax)),
      unpack)
  }

  /** Source version the view last folded in, -1 for a fresh view. */
  def refreshedVersion(mvRoot: String, tilesRoot: String): Long =
    IncrementalView.refreshedVersion(mvRoot, tilesRoot, "trendview")

  /** Advance the view at `mvRoot` to cover `tilesRoot`'s current version.
    * Same contract as [[StatsView.refresh]]; old⊕new is
    * `TileTrendAgg.merge` (delta first). */
  def refresh(spark: SparkSession, tilesRoot: String, mvRoot: String): Long = {
    import spark.implicits._
    IncrementalView.refresh(spark, tilesRoot, mvRoot, "trendview", view)
  }

  /** View-table maintenance (tile-sorted compaction + snapshot expiry);
    * refresh markers survive — see [[IncrementalView.maintain]]. */
  def maintain(spark: SparkSession, mvRoot: String, targetFiles: Int = 1,
               keepLast: Int = 3): (Int, Int) =
    IncrementalView.maintain(spark, mvRoot, targetFiles, keepLast)

  /** Finished per-tile OLS from the stored moments — the batch
    * `TileTrendAgg.finish` run over a `TrendBuf` reconstructed from view
    * rows, so slope/intercept/r²/T0 are the same correctly-rounded doubles
    * as `StackOps.trend` on the full stack. Gate parameters mirror
    * `trend`'s. */
  def trend(spark: SparkSession, mvRoot: String, nThresh: Int = 2,
            minDtPtp: Double = 0.0, confTest: Boolean = false,
            alpha: Double = 0.05,
            diagnostics: Boolean = true): DataFrame = {
    import spark.implicits._
    val fin = new StackOps.TileTrendAgg(nThresh, minDtPtp, confTest, alpha, diagnostics)
    SnapshotTable.read(spark, mvRoot).as[MvRow]
      .map(r => fin.finish(unpack(r)).copy(tile_id = r.tile_id)).toDF()
  }
}
