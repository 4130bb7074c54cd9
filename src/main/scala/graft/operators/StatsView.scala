package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.SnapshotTable

/** Incrementally-maintained per-pixel stack statistics — a MATERIALIZED
  * VIEW over a snapshot-catalog table of stack tiles.
  *
  * The reference recomputes `compute_stats` (`malib.py:559-587`) over the
  * whole stack every run; at 100 TB the stack is a catalog table that new
  * image layers land in continuously (q107's streaming ingest), and a full
  * recompute per arrival is O(history). This operator keeps the per-tile
  * MERGEABLE sufficient statistics (count/Σv/Σv²/min/max per pixel — the
  * same `StatsBuf` the batch aggregator folds) as a second catalog table
  * and advances it per refresh by
  *
  *   1. the source's change range (from, to], read once
  *      (`SnapshotTable.ChangeRange`): ONLY the layers committed since the
  *      last refresh (O(delta) scan, file-level) and their tile envelope
  *      from the same manifests' stats;
  *   2. the fold of those layers into per-tile buffers FUSED with the
  *      old⊕new merge against the current view rows of the affected tiles
  *      (stats-pruned read) — one exchange keyed on tile_id; both the fold
  *      and old⊕new are `TileStatsAgg`'s own reduce/merge;
  *   3. a `merge` commit keyed on tile_id — only view files whose tile
  *      range intersects the delta are rewritten (stats-bounded write
  *      amplification), and the refreshed SOURCE VERSION rides in the
  *      manifest as an idempotent-writer marker, so a crashed/replayed
  *      refresh is a no-op, never a double-count.
  *
  * Addition order never matters on integer-valued payloads (exact double
  * sums), so the view is bit-identical to the batch `stackStats` — which
  * is exactly what q108's strict oracle (q41's twin, verbatim) checks.
  */
object StatsView {

  /** One view row: tile id + the raw mergeable buffer (NOT the finished
    * mean/std — finishing is not mergeable; the view stores moments).
    * Arrays are PACKED little-endian binary cells
    * ([[IncrementalView.packD]] family): parquet moves a binary cell as
    * one memcopy where array columns pay a per-element writer call; the
    * bits round-trip exactly, so finished stats are unchanged. */
  final case class MvRow(tile_id: Long, n: Int, cnt: Array[Byte],
                         sum: Array[Byte], sumsq: Array[Byte],
                         vmin: Array[Byte], vmax: Array[Byte])

  private def unpack(r: MvRow): StackOps.StatsBuf = {
    import IncrementalView._
    StackOps.StatsBuf(r.n, unpackI(r.cnt), unpackD(r.sum), unpackD(r.sumsq),
      unpackF(r.vmin), unpackF(r.vmax))
  }

  /** The view's one definition: the batch stats aggregator plus the
    * codec between its buffer and the stored row. */
  private val view = {
    import IncrementalView._
    ViewDef[StackOps.StatsBuf, MvRow](
      StackOps.TileStatsAgg,
      (tid, b) => MvRow(tid, b.n, packI(b.cnt), packD(b.sum), packD(b.sumsq),
        packF(b.vmin), packF(b.vmax)),
      unpack)
  }

  /** Source version the view last folded in, -1 for a fresh view. */
  def refreshedVersion(mvRoot: String, tilesRoot: String): Long =
    IncrementalView.refreshedVersion(mvRoot, tilesRoot, "statsview")

  /** Advance the view at `mvRoot` to cover `tilesRoot`'s current version.
    * Returns the source version now covered (unchanged if already
    * current). Safe to re-run: a refresh that already happened (or raced a
    * twin) is skipped by the manifest marker. Delta fold, old⊕new merge
    * (`TileStatsAgg.merge`, delta first) and marker bookkeeping all live
    * in [[IncrementalView.refresh]]. */
  def refresh(spark: SparkSession, tilesRoot: String, mvRoot: String): Long = {
    import spark.implicits._
    IncrementalView.refresh(spark, tilesRoot, mvRoot, "statsview", view)
  }

  /** View-table maintenance (tile-sorted compaction + snapshot expiry);
    * refresh markers survive — see [[IncrementalView.maintain]]. */
  def maintain(spark: SparkSession, mvRoot: String, targetFiles: Int = 1,
               keepLast: Int = 3): (Int, Int) =
    IncrementalView.maintain(spark, mvRoot, targetFiles, keepLast)

  /** Finished per-tile statistics from the stored moments — the batch
    * `TileStatsAgg.finish` over the unpacked buffer, so finished values
    * are bit-identical to the batch fold on exact-sum (integer-valued)
    * stacks. */
  def stats(spark: SparkSession, mvRoot: String): DataFrame = {
    import spark.implicits._
    SnapshotTable.read(spark, mvRoot).as[MvRow]
      .map(r => StackOps.TileStatsAgg.finish(unpack(r)).copy(tile_id = r.tile_id)).toDF()
  }
}
