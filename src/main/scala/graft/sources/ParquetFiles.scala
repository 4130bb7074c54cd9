package graft.sources

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The parquet-format primitives shared by the snapshot catalog, the stage
  * checkpoints and the protocol drivers: part-file listing, driver-side
  * footer reads and the Spark schema a footer records, the one-file
  * write-and-concat, link-or-copy and the scoped scan confs. One definition
  * each, so the callers cannot drift. */
private[graft] object ParquetFiles {

  /** Non-empty `*.parquet` part files directly under `dir`, by name. */
  def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
      .sortBy(_.getName)

  /** A reader of one file, its read options built from `conf`: the
    * one-argument `ParquetFileReader.open(InputFile)` builds them from a
    * `new Configuration()`, which parses Hadoop's default XML resources
    * again on every call (measured on a 4-core host: ~12 ms of driver time
    * per footer read against ~0.7 ms). */
  private def open(path: String, conf: Configuration): ParquetFileReader = {
    val p = new HPath(path)
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())
  }

  /** One file's footer, read on the driver (zero Spark jobs). */
  def footer(path: String, conf: Configuration): ParquetMetadata = {
    val r = open(path, conf)
    try r.getFooter finally r.close()
  }

  /** The Spark schema a part file's footer records, read by Spark's own
    * rule (the row-metadata key, else the converted parquet schema) on the
    * driver: what `spark.read.parquet(dir)` infers from that file with a
    * Spark job (`ParquetUtils.inferSchema` → `mergeSchemasInParallel` →
    * `collect`). Reading a dir this engine wrote back with
    * `spark.read.schema(sparkSchema(…))` runs no such job. */
  def sparkSchema(spark: SparkSession, path: String, md: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(new HPath(path), md),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Row count from the footer's row groups — the metadata already holds
    * it (guide §6), no scan needed. */
  def rowCount(md: ParquetMetadata): Long =
    md.getBlocks.asScala.map(_.getRowCount).sum

  /** ONE parquet file from a DataFrame without serializing the encode: a
    * `repartition(1).write` funnels every row through a single task (~3 s
    * of CPU per epoch file pushing ~10⁸ array elements through the parquet
    * writer) and produces a single row group, so the downstream scan
    * decodes the whole file on ONE task too. Here the encode runs wide
    * (normal distributed write, small row groups), then the part files'
    * row groups are concatenated BYTE-FOR-BYTE on the driver
    * (`ParquetFileReader.appendTo` — no decode, no re-encode; the
    * parquet-tools merge primitive). Many row groups also give the
    * one-file output real scan parallelism (guide §6). */
  def writeOneFile(spark: SparkSession, df: DataFrame, dst: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_onefile").toString
    try {
      df.write.mode("overwrite")
        .option("parquet.block.size", (256 * 1024).toString)
        .option("compression", "none")
        .parquet(tmp)
      val parts = partFiles(tmp)
      require(parts.nonEmpty, s"no parquet parts under $tmp")
      val conf = spark.sessionState.newHadoopConf()
      val meta = footer(parts.head.getPath, conf).getFileMetaData
      Files.deleteIfExists(dst)
      val w = new ParquetFileWriter(
        HadoopOutputFile.fromPath(new HPath(dst.toString), conf),
        meta.getSchema, ParquetFileWriter.Mode.CREATE, 256L * 1024, 0,
        ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED)
      w.start()
      parts.foreach { p =>
        val r = open(p.getPath, conf)
        try r.appendTo(w) finally r.close()
      }
      w.end(meta.getKeyValueMetaData)
    } finally SnapshotTable.deleteRecursively(tmp)
  }

  /** Hardlink `src` to `dst` where the filesystem allows it, else copy. */
  def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dst) }

  /** Scan/partition sizing for reads of fat tile and view rows, scoped to
    * `body` (restored on exit): tile payloads and moment buffers compress
    * ~100-200× in parquet and in shuffle blocks, so Spark's byte-based
    * planning (128 MB splits, 4 MB per-file open cost, 64 MB AQE advisory)
    * packs the CPU-heavy decode+fold+merge onto 1-2 tasks (measured: a
    * 2-task fold over 24 MB of shuffle bytes = 660 MB decoded). Sizing by
    * bytes-AFTER-decode keeps the stages wide; the values are ratios of
    * the observed compression, not core counts, so they hold at any
    * cluster size (guide §2.2/§6). */
  def withFatRowScanConf[T](spark: SparkSession)(body: => T): T = {
    val scoped = Seq(
      "spark.sql.files.maxPartitionBytes" -> (16L * 1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (512L * 1024).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L * 1024 * 1024).toString,
      // batch ROW count must follow row width too: the packed view rows
      // are ~100-260 KB each, and the default 4096-row vectorized batches
      // reserve ~0.5-1 GB of contiguous column buffers PER TASK at sf1
      // (observed reader reserve failure at 10x scale); 128 rows bounds a
      // batch to a few MB per column at any scale
      "spark.sql.parquet.columnarReaderBatchSize" -> "128")
    withConf(spark, scoped: _*)(body)
  }

  /** `confs` set on the session for `body`, the previous values (or their
    * absence) restored on exit: the one conf-scoping primitive. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
