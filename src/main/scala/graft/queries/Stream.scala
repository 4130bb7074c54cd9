package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Driver-visible Structured Streaming queries (SURVEY §2.10 extension).
  *
  * Each query builds a deterministic bounded stream fixture from the sf
  * tables, runs the REAL streaming pipeline — file source → watermarked
  * stateful operator → memory sink — across multiple micro-batches, then
  * returns the sink contents as a batch DataFrame. What's under test is the
  * streaming machinery itself (keyed state, event-time watermark,
  * append-mode eviction); what makes it oracle-checkable is that on a
  * bounded input the streaming result must equal the batch form, which
  * DuckDB can compute directly on the source table.
  *
  * Scale note: q74/q75 use memory sinks as bounded verification fixtures;
  * the DURABLE path is exercised by q100 (transactional parquet sink +
  * checkpoint, exactly-once across restart — the kafka leg stays out only
  * because the container ships no broker). State stays bounded by the
  * watermark horizon either way (the point of
  * dropDuplicatesWithinWatermark / session_window + watermark vs their
  * unbounded-state cousins).
  */
object Stream {
  private def fixtureDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  private def sinkName(tag: String): String =
    s"graft_${tag}_${java.util.UUID.randomUUID.toString.take(8)}"

  /** Stamp a landed stream-source file with epoch `epoch`'s mtime: the file
    * source orders its listing by (mtime, path), so strictly increasing
    * stamps fix the micro-batch pickup order. */
  private[queries] def stampPickup(file: Path, epoch: Int): Unit =
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(1704067200000L + epoch * 2000L))

  /** `df`'s rows collected into a local-relation DataFrame, so it outlives
    * the fixture files it was read from. */
  private def collectLocal(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Materialize the memory-sink result as a local-relation DataFrame, then
    * drop the global sink view and delete the fixture dir — repeated
    * Verify/Bench invocations would otherwise accumulate /tmp parquet
    * copies and driver-resident sink tables for the session's lifetime. */
  private def detach(s: SparkSession, sink: DataFrame, sinkTable: String,
                     dir: String): DataFrame = {
    val out = collectLocal(s, sink)
    s.catalog.dropTempView(sinkTable)
    graft.sources.SnapshotTable.deleteRecursively(dir)
    out
  }

  /** q74: streaming exact dedup — the training-pipeline ingest pattern
    * (batch twin: q20 / `Text.dedupExact`). The documents table becomes a
    * 3-micro-batch stream of (doc_id, dup_key, event-time); duplicates of a
    * key first seen in an EARLIER micro-batch are dropped by watermarked
    * state, not by a global shuffle — the 100 TB/day ingest shape. Event
    * time advances 1 ms per doc, so any realistic corpus stays far inside
    * the 30-day dedup horizon and the bounded result is exactly the
    * distinct key set. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir("q74")
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val src = Text.docs(s, d).select(
      col("doc_id").cast("string").as("doc_id"),
      lower(substring(col("text"), 1, 20)).as("fp"),
      timestamp_micros(lit(baseUs) + col("doc_id") * 1000L).as("ts"))
    // three appends → three+ source files; maxFilesPerTrigger=1 forces one
    // micro-batch per file so cross-batch state is genuinely exercised
    (0 to 2).foreach { r =>
      src.filter(col("doc_id").cast("long") % 3 === r)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val name = sinkName("q74")
    val q = StreamOps.dedupStream(s, dir, name, watermark = "30 days",
                                  maxFilesPerTrigger = 1)
    q.processAllAvailable(); q.stop()
    // which doc survives per key is batch/partition-order dependent; the
    // surviving KEY SET is the deterministic (and the meaningful) output
    detach(s, s.table(name).select(col("fp")).distinct(), name, dir)
  }

  val streamDedupSql: String =
    """SELECT DISTINCT lower(substr(text, 1, 20)) AS fp FROM documents""".stripMargin

  /** q75: streaming session clustering — `dt_cluster` `timelib.py:421-455`
    * as `session_window` (4 h gap) in append mode with a 2 h watermark
    * (batch twin: q12, which uses the strict-gap break; session_window
    * merges overlapping [t, t+gap) windows, so its break is `diff >= gap`
    * and its session end is last-event + gap — the oracle mirrors both).
    * All real events arrive in micro-batch 1; two sentinel batches then
    * advance the event-time watermark past every real session end, which is
    * what forces append mode to emit (= evict) the closed sessions. */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = fixtureDir("q75")
    // parquet NTZ → LTZ(UTC) so the stream's event-time watermark applies
    val evs = s.read.parquet(s"$d/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
              col("value").as("v"))
    evs.write.mode("append").parquet(dir)
    val maxTsUs = evs.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val name = sinkName("q75")
    val q = StreamOps.sessionStream(s, dir, name, gap = "4 hours")
    q.processAllAvailable()
    // sentinel k raises max event time; the batch that processes sentinel
    // k+1 runs with the watermark sentinel k set, evicting everything below
    Seq(1, 2).foreach { k =>
      Seq((-k.toLong, maxTsUs + k * 30L * 86400 * 1000000L, 0.0))
        .toDF("user_id", "us", "v")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("v"))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
    }
    q.stop()
    detach(s, s.table(name).filter(col("user_id") >= 0)
      .select(col("user_id"),
        unix_micros(col("t_start")).as("t_start_us"),
        unix_micros(col("t_end")).as("t_end_us"),
        col("n_events"),
        round(col("v_sum"), 6).as("v_sum")), name, dir)
  }

  /** q100: durable-sink streaming with a crash/restart — the training-data
    * ingest written to a TRANSACTIONAL parquet sink instead of a memory
    * fixture sink. Two source files stream under query #1 (simulated crash
    * at stop()); a third file lands; a NEW query on the same checkpoint +
    * sink path resumes and processes ONLY the new file. The returned rows
    * are read back through the sink's `_spark_metadata` commit log, so any
    * duplicate or lost row from the restart breaks the exact DuckDB twin
    * (per-doc token counts over the whole table, each doc EXACTLY once). */
  def streamFileSink(s: SparkSession, d: String): DataFrame = {
    val srcDir = fixtureDir("q100src")
    val outRoot = fixtureDir("q100out")
    val outDir = s"$outRoot/sink" // the sink path itself must not pre-exist
    val ckptDir = fixtureDir("q100ckpt")
    val src = Text.docs(s, d).select(col("doc_id"), col("text"))
    try {
      (0 to 1).foreach { r =>
        src.filter(col("doc_id") % 3 === r).coalesce(1)
          .write.mode("append").parquet(srcDir)
      }
      val q1 = StreamOps.tokenStreamToParquet(s, srcDir, outDir, ckptDir)
      q1.processAllAvailable(); q1.stop() // "crash" after committing 2 batches
      src.filter(col("doc_id") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q2 = StreamOps.tokenStreamToParquet(s, srcDir, outDir, ckptDir)
      q2.processAllAvailable(); q2.stop() // resume: only the new file
      collectLocal(s, s.read.parquet(outDir)) // reads via _spark_metadata (committed only)
    } finally Seq(srcDir, outRoot, ckptDir)
      .foreach(graft.sources.SnapshotTable.deleteRecursively)
  }

  /** q107: streaming ingest landing in the SNAPSHOT CATALOG (VERDICT r5
    * Missing #4) — q100's crash/restart shape, but the sink is
    * `SnapshotTable.commitStreamBatch` (one snapshot per micro-batch,
    * manifest-recorded (streamId, epoch)), so streamed rows get time
    * travel + CDC + stats pruning ON TOP of exactly-once. Three legs the
    * strict twin checks per row:
    *   1. restart: query #1 ingests files f0,f1 (epochs 0,1), "crashes";
    *      query #2 on the same checkpoint ingests ONLY f2 (epoch 2);
    *   2. replay: between the two, epoch 1 is re-delivered straight into
    *      the sink (the crash-window double-fire) — the txn marker must
    *      turn it into a no-op, or rows duplicate and the hash fails;
    *   3. readback via `SnapshotTable.changes(v-1, v)` per version, each
    *      row tagged with the version that introduced it — epoch r holds
    *      exactly doc slice r, so commit_v = doc_id % 3 + 1 is a CLOSED
    *      FORM the oracle states independently (any lost/duplicated/
    *      misordered epoch breaks it).
    * Source files get explicit names + strictly increasing mtimes
    * ([[stampPickup]]): part-file uuid names would make the f0/f1 batch
    * order nondeterministic. */
  def streamSnapshotSink(s: SparkSession, d: String): DataFrame = {
    val srcDir = fixtureDir("q107src")
    val root = fixtureDir("q107tbl")
    val ckptDir = fixtureDir("q107ckpt")
    val streamId = "q107_tokens"
    val src = Text.docs(s, d).select(col("doc_id"), col("text"))
    def land(r: Int): Unit = {
      val dst = Paths.get(srcDir, s"f$r.parquet")
      graft.sources.ParquetFiles.writeOneFile(s, src.filter(col("doc_id") % 3 === r), dst)
      stampPickup(dst, r)
    }
    try {
      land(0); land(1)
      val q1 = StreamOps.tokenStreamToSnapshot(s, srcDir, root, ckptDir, streamId)
      q1.processAllAvailable(); q1.stop() // "crash" after epochs 0,1
      // crash-window replay: epoch 1 re-delivered directly into the sink
      val replay = graft.sources.SnapshotTable.commitStreamBatch(
        s, root, StreamOps.tokenFeatures(src.filter(col("doc_id") % 3 === 1)), streamId, 1L)
      require(replay.isEmpty, s"replayed epoch 1 must be a no-op, got $replay")
      land(2)
      val q2 = StreamOps.tokenStreamToSnapshot(s, srcDir, root, ckptDir, streamId)
      q2.processAllAvailable(); q2.stop() // resume: only f2 → epoch 2
      val cur = graft.sources.SnapshotTable.currentVersion(root)
      require(cur == 3, s"expected 3 snapshot versions (one per epoch), got $cur")
      collectLocal(s, (1 to cur).map { v =>
        graft.sources.SnapshotTable.changes(s, root, v - 1, v)
          .withColumn("commit_v", lit(v))
      }.reduce(_.unionByName(_)))
    } finally Seq(srcDir, root, ckptDir)
      .foreach(graft.sources.SnapshotTable.deleteRecursively)
  }

  val streamSnapshotSinkSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), ' +'))::BIGINT AS n_tokens,
      |  length(text)::BIGINT AS n_chars_obs,
      |  (doc_id % 3 + 1)::INT AS commit_v
      |FROM documents""".stripMargin

  val streamFileSinkSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), ' +'))::BIGINT AS n_tokens,
      |  length(text)::BIGINT AS n_chars_obs
      |FROM documents""".stripMargin

  /** Session breaks computed over DISTINCT (user, ts) groups, not raw rows:
    * with duplicate timestamps (e.g. the GenScale 10x replicas at sf1) a
    * row-level `sum(brk) OVER (ORDER BY t_us ROWS ...)` is nondeterministic
    * — the break row can sort anywhere among its equal-ts peers, splitting
    * a session's duplicates across two sids (observed 14/6 vs the correct
    * 10/10 at sf1). Grouping first makes the break a property of the
    * timestamp, matching `session_window` exactly; per-ts partial v sums
    * are absorbed by the same round(..., 6) the engine side applies. */
  val streamSessionsSql: String =
    """WITH t AS (SELECT user_id, epoch_us(ts) AS t_us, value AS v FROM events),
      |g AS (SELECT user_id, t_us, count(*)::BIGINT AS n, sum(v) AS sv
      |      FROM t GROUP BY user_id, t_us),
      |b AS (SELECT *, CASE WHEN t_us - lag(t_us) OVER w >= 14400000000 THEN 1 ELSE 0 END AS brk
      |      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC)),
      |sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t_us ASC
      |                                ROWS UNBOUNDED PRECEDING) AS sid
      |       FROM b)
      |SELECT user_id, min(t_us) AS t_start_us,
      |       max(t_us) + 14400000000 AS t_end_us,
      |       sum(n)::BIGINT AS n_events, round(sum(sv), 6) AS v_sum
      |FROM sx GROUP BY user_id, sid""".stripMargin
}
