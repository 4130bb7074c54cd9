package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{StatsView, TrendView}
import graft.sources.ParquetFiles
import EngineOracle.{idx, quantNoRipple, trendSubset, explodeStats, StatsFields, TrendFields}

/** The incremental-view protocol queries (q108, q110–q112, q114, q115).
  * Each lands the q41/q42 oracle subset in a snapshot-catalog tiles table
  * through a protocol — three appends, a merge/delete churn history, or a
  * crash-and-resume file stream — refreshes a materialized stats or trend
  * view after every commit, and returns the finished view exploded to the
  * q41/q42 cell form. The strict oracles are the batch twins
  * (`EngineOracle.stackCellsSql`, `trendCellsSql` and their churn
  * variants), so any double-counted replay, missed delta or stale moment
  * fails the hash. */
object ViewProtocol {
  /** A view kind: its refresh of a view root off a tiles root, its
    * finished read and the per-pixel fields that read emits. */
  private final case class ViewKind(refresh: (SparkSession, String, String) => Long,
                                    finished: (SparkSession, String) => DataFrame,
                                    fields: Seq[String])
  private val Stats = ViewKind((s, tiles, mv) => StatsView.refresh(s, tiles, mv),
    (s, mv) => StatsView.stats(s, mv), StatsFields)
  private val Trend = ViewKind((s, tiles, mv) => TrendView.refresh(s, tiles, mv),
    (s, mv) => TrendView.trend(s, mv), TrendFields)

  /** Detach a result from scratch inputs the caller is about to delete:
    * a DISTRIBUTED parquet write to a JVM-lifetime temp dir, re-read
    * lazily. The collect()+createDataFrame alternative materializes every
    * row single-threaded on the driver — measured 45 s of q108's 64 s at
    * sf0.1 (10.6M rows); this form is the same rows in ~2 s and keeps the
    * returned plan a plain scan the driver can re-run. The re-read states
    * the schema just written, so it runs no schema-inference job. */
  private def detachViaParquet(s: SparkSession, df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_detach").toString
    sys.addShutdownHook(graft.sources.SnapshotTable.deleteRecursively(dir))
    val path = s"$dir/out"
    df.write.parquet(path)
    s.read.schema(df.schema).parquet(path)
  }

  /** q108: q41's per-pixel stack stats, computed INCREMENTALLY — the same
    * images land in a snapshot-catalog tiles table across three commits,
    * and a materialized view of mergeable moments advances by CDC after
    * each (`StatsView.refresh`: O(delta) scan + stats-bounded merge). The
    * strict oracle is q41's twin VERBATIM: any double-counted replay,
    * missed delta, or wrong old⊕new merge shifts an exact integer moment
    * and fails the hash. A deliberate re-refresh with no new source data
    * and a replayed refresh marker both prove idempotent (version-pinned
    * inside the run). */
  def stackCellsIncremental(s: SparkSession, d: String): DataFrame =
    appendViewChain(s, "q108", quantNoRipple(Engine.images(s, d)), b => idx % 3 === b, Stats)

  /** q114: the full STREAM → CATALOG → VIEW chain — the composition of
    * q107 (streaming ingest commits snapshot epochs exactly-once) and
    * q108 (a materialized view advances off the catalog's CDC) that
    * neither row exercises end-to-end. The q41 tile batches land as
    * parquet FILES in a streaming source dir; a file-source stream
    * (`StreamOps.parquetStreamToSnapshot`, maxFilesPerTrigger=1) commits
    * one APPEND snapshot per micro-batch with the (streamId, epochId) txn
    * marker; `StatsView.refresh` folds each epoch's delta. The run
    * "crashes" after epochs 0–1, re-delivers epoch 1 straight into the
    * sink (must be a no-op commit AND a no-op refresh — exactly-once
    * holds through the VIEW, not just the table), then resumes from the
    * checkpoint for epoch 2. The strict oracle is q41's twin VERBATIM: a
    * replayed epoch that double-folds, a missed delta, or a stream commit
    * that breaks the view's append-only contract shifts an exact integer
    * moment and fails the hash. */
  def streamViewIncremental(s: SparkSession, d: String): DataFrame =
    streamViewChain(s, "q114", quantNoRipple(Engine.images(s, d)), b => idx % 3 === b, Stats)

  /** q115: the stream → catalog → view chain for the TREND view — same
    * protocol as q114 (crash after epochs 0–1, epoch-1 replay must be a
    * no-op commit AND refresh, checkpoint resume for epoch 2), strict
    * oracle = q42's batch twin verbatim. Together q114/q115 prove BOTH
    * view types advance correctly off streamed epoch commits. */
  def streamTrendIncremental(s: SparkSession, d: String): DataFrame =
    streamViewChain(s, "q115", trendSubset(Engine.images(s, d)),
      b => floor(idx / 9) % 3 === b, Trend)

  /** Shared q114/q115 driver: land 3 tile batches as files → stream them
    * into the catalog (one epoch commit per micro-batch) → refresh the
    * view after each stream leg, with the crash/replay/resume protocol
    * described on [[streamViewIncremental]]. */
  private def streamViewChain(s: SparkSession, tag: String, imgs: DataFrame,
                              batchPred: Int => Column, view: ViewKind): DataFrame =
    viewDriver(s, tag, imgs, view) { (grid, base, refresh) =>
      import java.nio.file.{Files, Paths}
      val srcDir = s"$base/src"; val tilesRoot = s"$base/tiles"
      val ckptDir = s"$base/ckpt"; val mvRoot = s"$base/mv"
      Files.createDirectories(Paths.get(srcDir))
      val streamId = s"${tag}_tiles"
      def tilesOf(b: Int) = grid.of(imgs.filter(batchPred(b))).toDF()
      val tileSchema = tilesOf(0).schema
      def land(b: Int): Unit = {
        val dst = Paths.get(srcDir, s"f$b.parquet")
        ParquetFiles.writeOneFile(s, tilesOf(b), dst)
        Stream.stampPickup(dst, b)
      }
      def label[T](what: String)(body: => T): T = {
        s.sparkContext.setJobDescription(s"$tag $what") // guide §1.5
        try body finally s.sparkContext.setJobDescription(null)
      }
      // the three epoch builds are INDEPENDENT inputs — overlap them (guide
      // §2.6): f0/f1 land concurrently, and f2 is built into a staging path
      // during the leg-1/refresh driver phases (it must stay invisible to
      // the file source until the resume leg) and only MOVED into the
      // source dir at its protocol step. Same files, same mtimes, same
      // pickup order — only the idle driver-phase cores get used.
      val f2staging = Paths.get(base, "stage_f2.parquet")
      Overlap(s) { ov =>
        val l0 = ov.fork { land(0) }
        val l1 = ov.fork { land(1) }
        val l2 = ov.fork { ParquetFiles.writeOneFile(s, tilesOf(2), f2staging) }
        label("land epochs 0,1") { l0.get(); l1.get() }
        label("stream leg 1") {
          val q1 = graft.streaming.StreamOps.parquetStreamToSnapshot(
            s, srcDir, tilesRoot, ckptDir, streamId, tileSchema)
          q1.processAllAvailable(); q1.stop() // "crash" after epochs 0,1
        }
        require(graft.sources.SnapshotTable.currentVersion(tilesRoot) == 2,
          "expected one snapshot per epoch")
        require(label("refresh epochs 0,1") { refresh() } == 2)
        // crash-window replay of epoch 1: no-op commit, then no-op refresh
        val replay = label("replay epoch 1") {
          graft.sources.SnapshotTable.commitStreamBatch(
            s, tilesRoot, tilesOf(1), streamId, 1L)
        }
        require(replay.isEmpty, s"replayed epoch 1 must be a no-op, got $replay")
        val vBefore = graft.sources.SnapshotTable.currentVersion(mvRoot)
        require(refresh() == 2)
        require(graft.sources.SnapshotTable.currentVersion(mvRoot) == vBefore,
          "a refresh after a replayed epoch must not commit")
        label("land epoch 2") {
          l2.get()
          val dst = Paths.get(srcDir, "f2.parquet")
          Files.move(f2staging, dst)
          Stream.stampPickup(dst, 2)
        }
        label("stream leg 2") {
          val q2 = graft.streaming.StreamOps.parquetStreamToSnapshot(
            s, srcDir, tilesRoot, ckptDir, streamId, tileSchema)
          q2.processAllAvailable(); q2.stop() // resume: only f2 → epoch 2
        }
        require(graft.sources.SnapshotTable.currentVersion(tilesRoot) == 3,
          "resume must deliver exactly the one new epoch")
        require(label("refresh epoch 2") { refresh() } == 3)
      }
    }

  /** q110: q42's per-pixel OLS trend, computed INCREMENTALLY — the trend
    * stack lands in a snapshot-catalog table across three commits and a
    * materialized view of the normal-equation moments (Σt, Σt², Σv, Σtv,
    * Σv², count, t-envelope) advances by CDC after each
    * (`TrendView.refresh`); slope/intercept/r²/T0 are then finished from
    * the stored moments by the SAME `TileTrendAgg.finish` as the batch
    * path. The strict oracle is q42's DuckDB twin VERBATIM (exact dyadic t
    * on the 3-hour grid → moment sums associate), so any double-counted
    * replay, missed delta, or wrong old⊕new merge fails the hash. */
  def trendCellsIncremental(s: SparkSession, d: String): DataFrame =
    // trendSubset already pins idx % 3 == 0 and drops (idx/3) % 3 == 0
    // (raw fmt) — batch on idx/9 so all three commits are non-empty
    appendViewChain(s, "q110", trendSubset(Engine.images(s, d)),
      b => floor(idx / 9) % 3 === b,
      Trend)

  /** The frame every view protocol driver shares: the warp grid of
    * `imgs`, a scratch dir `base` holding the tiles table (`base/tiles`)
    * and the view (`base/mv`), the caller's protocol
    * `drive(grid, base, refresh)`, then the finished view exploded and
    * detached before the scratch is deleted. */
  private def viewDriver(s: SparkSession, tag: String, imgs: DataFrame, view: ViewKind)(
      drive: (NearStack, String, () => Long) => Unit): DataFrame = {
    val grid = TileCells.nearStack(s, imgs)
    val base = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    try ParquetFiles.withFatRowScanConf(s) {
      drive(grid, base, () => view.refresh(s, s"$base/tiles", s"$base/mv"))
      detachViaParquet(s, explodeStats(view.finished(s, s"$base/mv"), grid.ntx, view.fields))
    } finally graft.sources.SnapshotTable.deleteRecursively(base)
  }

  /** Append-protocol driver shared by q108/q110: commit each of three
    * warped batches and refresh the view after every commit, then prove a
    * refresh with nothing new to fold is a no-op. Batches are independent
    * inputs, so while batch b commits/refreshes, the warps of b+1.. fill
    * their caches on the idle cores of the driver-side phases (guide
    * §2.6); the commit→refresh protocol itself stays strictly serial. */
  private def appendViewChain(s: SparkSession, tag: String, imgs: DataFrame,
                              batchPred: Int => Column, view: ViewKind): DataFrame =
    viewDriver(s, tag, imgs, view) { (grid, base, refresh) =>
      val tilesRoot = s"$base/tiles"; val mvRoot = s"$base/mv"
      val cached = (0 until 3).map(b => grid.of(imgs.filter(batchPred(b))).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try Overlap(s) { ov =>
        cached.head.count() // the immediately-needed batch first
        val prefetch = cached.tail.map(df => ov.fork { df.count() })
        cached.zipWithIndex.foreach { case (df, b) =>
          if (b > 0) prefetch(b - 1).get() // cached before its commit
          graft.sources.SnapshotTable.commit(s, tilesRoot, df)
          val covered = refresh()
          require(covered == b + 1, s"refresh covered v$covered, expected v${b + 1}")
        }
      } finally cached.foreach(_.unpersist(blocking = false))
      // idempotence: nothing new to fold → marker unchanged, no commit
      val vBefore = graft.sources.SnapshotTable.currentVersion(mvRoot)
      require(refresh() == 3)
      require(graft.sources.SnapshotTable.currentVersion(mvRoot) == vBefore,
        "a no-op refresh must not commit")
    }

  /** Shared churn driver for q111/q112: land `imgs` in a snapshot tiles
    * table through a NON-APPEND history — append b0, append b1, MERGE that
    * corrupts b0's payloads (+1 on valid pixels), MERGE that restores
    * them, row-level DELETE of b1, re-append of b1, append b2 — refreshing
    * the view after EVERY commit. The final live state equals three plain
    * appends of `imgs`, so the strict oracle is the batch twin verbatim;
    * any adds-only double-count (corrupt kept + restore added), stale
    * deleted moment, or missed recompute leaves the +1 shift or a ghost
    * layer in the exact integer moments and fails the hash. */
  private def churnViewChain(s: SparkSession, tag: String, imgs: DataFrame,
                             batchOf: Column, batchSql: String, view: ViewKind): DataFrame =
    viewDriver(s, tag, imgs, view) { (grid, base, refresh) =>
      churnSnapshots(s, imgs, grid, s"$base/tiles", batchOf, batchSql, refresh)
    }

  private def churnSnapshots(s: SparkSession, imgs: DataFrame,
                             grid: NearStack, tilesRoot: String,
                             batchOf: Column, batchSql: String,
                             refresh: () => Long): Unit = {
    val ST = graft.sources.SnapshotTable
    // b0's tiles feed three commits (append, corrupt-merge, restore-merge)
    // and b1's two — persist each batch's warp ONCE instead of re-running
    // the image-scan + kernel per consumer (within this invocation only;
    // released in the caller's finally)
    val tileCache = scala.collection.mutable.Map.empty[Int, DataFrame]
    def tiles(b: Int): DataFrame = tileCache.getOrElseUpdate(b,
      grid.of(imgs.filter(batchOf === b)).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def step(v: Long)(commit: => Unit): Unit = {
      commit
      val covered = refresh()
      require(covered == v, s"refresh covered v$covered, expected v$v")
    }
    // b1/b2's warps are independent of the first protocol steps — overlap
    // them (guide §2.6): b0 materializes on the protocol path first (s1
    // needs it now), then the b1/b2 cache fills ride the idle cores of
    // s1/s2's driver-side phases. Registration happens on THIS thread
    // (tileCache is not thread-safe); the background work is only the
    // count() that materializes the already-registered persist.
    Seq(0, 1, 2).foreach(tiles)
    // +1-corruption as a typed map, not a `transform(...)` higher-order
    // expression: HOFs evaluate their lambda INTERPRETED per element
    // (measured ~40 s of executor CPU over the batch's ~9·10⁷ elements);
    // the compiled while-loop is the same arithmetic on the same floats
    val ndvF = graft.sources.ImageTable.Ndv
    import s.implicits._
    def corrupt(df: DataFrame): DataFrame = df.as[graft.operators.TileRow].map { t =>
      val p = new Array[Float](t.payload.length)
      var i = 0
      while (i < p.length) {
        val v = t.payload(i); p(i) = if (v == ndvF) v else v + 1.0f; i += 1
      }
      t.copy(payload = p)
    }.toDF()
    try Overlap(s) { ov =>
      tiles(0).count() // materialize the immediately-needed batch first
      val prefetch = Seq(1, 2).map(b => ov.fork { tiles(b).count() })
      step(1) { ST.commit(s, tilesRoot, tiles(0)) }
      prefetch.head.get() // b1 cached before its commit
      step(2) { ST.commit(s, tilesRoot, tiles(1)) }
      step(3) { ST.merge(s, tilesRoot, corrupt(tiles(0)),
        Seq("image_id", "tile_id")) }
      step(4) { ST.merge(s, tilesRoot, tiles(0), Seq("image_id", "tile_id")) }
      step(5) { ST.delete(s, tilesRoot, expr(s"$batchSql = 1")) }
      step(6) { ST.commit(s, tilesRoot, tiles(1)) }
      prefetch(1).get()
      step(7) { ST.commit(s, tilesRoot, tiles(2)) }
    } finally tileCache.values.foreach(_.unpersist(blocking = false))
  }

  /** q111: q108's incrementally-maintained stack stats, driven through
    * source CHURN (merge/delete/re-append — the [[churnSnapshots]]
    * history) instead of pure appends. The refresh engine must take the
    * recompute path for the churned ranges and the O(delta) path for the
    * appends; the strict oracle is the q41 twin over the same final state
    * (even-index half of the oracle subset). */
  def stackCellsIncrementalChurn(s: SparkSession, d: String): DataFrame =
    churnViewChain(s, "q111", quantNoRipple(Engine.images(s, d)).filter(idx % 2 === 0),
      floor(idx / 6) % 3,
      "(CAST(substring(image_id, 5, 8) AS INT) DIV 6) % 3",
      Stats)

  /** q112: q110's incrementally-maintained OLS trend view, driven through
    * the same churn history; strict oracle = the q42 twin over the final
    * state (even-index trend subset). */
  def trendCellsIncrementalChurn(s: SparkSession, d: String): DataFrame =
    churnViewChain(s, "q112", trendSubset(Engine.images(s, d)).filter(idx % 2 === 0),
      floor(idx / 18) % 3,
      "(CAST(substring(image_id, 5, 8) AS INT) DIV 18) % 3",
      Trend)
}
