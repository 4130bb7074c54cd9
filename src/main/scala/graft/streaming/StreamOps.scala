package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.ImageTable

/** Structured Streaming extensions — not a parity requirement (the reference
  * is batch-only, SURVEY.md §2.10) but the natural scale path for the two
  * incremental patterns the reference approximates offline:
  *
  *  - incremental stack append (`stack_merge` `malib.py:887-958`): new image
  *    layers arrive continuously; per-cell stack statistics update in place
  *    (update output mode, stateful agg keyed by cell).
  *  - timestamp session clustering (`dt_cluster` `timelib.py:421-455`):
  *    `session_window(ts, gap)` with a watermark for late layers (the
  *    reference re-sorts out-of-order layers in batch, `malib.py:143-147`).
  */
object StreamOps {
  /** Streaming per-cell stack stats over long-form cells arriving as parquet
    * files in `inDir` (schema: cell_id long, v double, ts timestamp).
    * Incremental analog of compute_stats: count/mean/min/max per cell. */
  def stackStatsStream(spark: SparkSession, inDir: String,
                       queryName: String): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cell_id", LongType), StructField("v", DoubleType),
      StructField("ts", TimestampType)))
    spark.readStream.schema(schema).parquet(inDir)
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("cnt"), avg(col("v")).as("vmean"),
           min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName).start()
  }

  /** Streaming exact dedup — the training-pipeline ingest pattern: drop
    * repeated content fingerprints within the watermark horizon
    * (dropDuplicatesWithinWatermark keeps state bounded, unlike a global
    * dropDuplicates whose state grows forever at 100 TB/day ingest). Emits
    * first-seen rows only. Schema: doc_id string, fp string, ts timestamp. */
  def dedupStream(spark: SparkSession, inDir: String, queryName: String,
                  watermark: String = "1 hour",
                  maxFilesPerTrigger: Int = 0): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("fp", StringType),
      StructField("ts", TimestampType)))
    val reader = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0)
       reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else reader).parquet(inDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
  }

  /** Durable-sink ingest (round 4; closes the "memory sinks only" gap the
    * environment allows closing — kafka isn't in the container, a parquet
    * FILE sink is): file source → stateless feature projection → parquet
    * sink with a checkpoint. The file sink's `_spark_metadata` commit log
    * makes output files transactional: a NEW query started on the same
    * (checkpoint, path) resumes from the last committed batch and never
    * re-emits rows a crashed run already committed — the exactly-once
    * property q100 proves by restarting across a fixture append. */
  def tokenStreamToParquet(spark: SparkSession, inDir: String, outDir: String,
                           ckptDir: String,
                           maxFilesPerTrigger: Int = 1): StreamingQuery =
    tokenFeatures(docStream(spark, inDir, maxFilesPerTrigger))
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .start()

  /** (doc_id long, text string) parquet files of `inDir` as a stream. */
  private def docStream(spark: SparkSession, inDir: String,
                        maxFilesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.types._
    spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
  }

  /** The per-doc token-count features both token sinks write. */
  private[graft] def tokenFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), " +")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_obs"))

  /** Streaming ingest landing in the SNAPSHOT CATALOG (the missing bridge
    * between the two halves of the ingest story): each micro-batch commits
    * one snapshot via `SnapshotTable.commitStreamBatch`, which records the
    * (streamId, batchId) pair in the manifest and makes replays no-ops —
    * exactly-once WITH time travel / CDC / stats pruning over the streamed
    * rows, where the plain file sink (`tokenStreamToParquet`) gives
    * exactly-once alone. Same token-count transform so the two sinks are
    * oracle-comparable. */
  def tokenStreamToSnapshot(spark: SparkSession, inDir: String, root: String,
                            ckptDir: String, streamId: String,
                            maxFilesPerTrigger: Int = 1): StreamingQuery =
    snapshotSink(spark, tokenFeatures(docStream(spark, inDir, maxFilesPerTrigger)),
      root, ckptDir, streamId)

  /** Generic-schema form of [[tokenStreamToSnapshot]]: stream any parquet
    * file source into the snapshot catalog unchanged, one epoch commit per
    * micro-batch. This is the ingest leg of the stream→view chain (q114):
    * tile rows stream in, each epoch lands as an APPEND snapshot with the
    * (streamId, epochId) txn marker, and the incremental materialized
    * views advance off the catalog's CDC — replayed epochs are no-ops all
    * the way through (commit skipped → no new source version → refresh
    * skipped by the marker). */
  def parquetStreamToSnapshot(spark: SparkSession, inDir: String,
                              root: String, ckptDir: String, streamId: String,
                              schema: org.apache.spark.sql.types.StructType,
                              maxFilesPerTrigger: Int = 1): StreamingQuery =
    snapshotSink(spark, spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir), root, ckptDir, streamId)

  /** The snapshot-catalog sink of both streams above: one
    * `commitStreamBatch` per micro-batch, exactly-once per (streamId,
    * batchId). */
  private def snapshotSink(spark: SparkSession, stream: DataFrame, root: String,
                           ckptDir: String, streamId: String): StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.SnapshotTable.commitStreamBatch(
          spark, root, batch, streamId, batchId)
        () // discard the Option — a skip IS success (replayed epoch)
      }
      .start()

  /** Streaming per-key custom state — flatMapGroupsWithState: running
    * per-cell (count, mean, min, max) maintained explicitly, the shape for
    * state the built-in aggs can't express (e.g. per-cell layer timelines).
    * Incremental stack-stats twin of stackStatsStream via managed state. */
  def stackStateStream(spark: SparkSession, inDir: String,
                       queryName: String): StreamingQuery = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("cell_id", LongType), StructField("v", DoubleType),
      StructField("ts", TimestampType)))
    val updateFn = (cell: Long, rows: Iterator[(Long, Double)],
                    state: GroupState[(Long, Double, Double, Double)]) => {
      var (n, s, mn, mx) = state.getOption.getOrElse((0L, 0.0, Double.MaxValue, Double.MinValue))
      rows.foreach { case (_, v) =>
        n += 1; s += v; if (v < mn) mn = v; if (v > mx) mx = v
      }
      state.update((n, s, mn, mx))
      Iterator.single((cell, n, s / n, mn, mx))
    }
    spark.readStream.schema(schema).parquet(inDir)
      .select(col("cell_id"), col("v")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateFn)
      .toDF("cell_id", "cnt", "vmean", "vmin", "vmax")
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName).start()
  }

  /** Streaming session clustering: 1-hour-gap sessions per user with a
    * 2-hour watermark for late events (append mode emits closed sessions). */
  def sessionStream(spark: SparkSession, inDir: String, queryName: String,
                    gap: String = "1 hour"): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    spark.readStream.schema(schema).parquet(inDir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_sum"))
      .select(col("user_id"), col("session_window.start").as("t_start"),
              col("session_window.end").as("t_end"), col("n_events"), col("v_sum"))
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
  }
}
