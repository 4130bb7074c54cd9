package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Snapshot-log table format over parquet — the catalog semantics the north
  * rule asks of Iceberg (snapshots, time travel, incremental reads,
  * rollback, optimistic concurrency), implemented against the PUBLIC Iceberg
  * table-spec ideas (immutable data files + a versioned metadata pointer;
  * HadoopTables-style version files) since the container ships no Iceberg
  * runtime jar. Layout:
  *
  * {{{
  *   <root>/data/s<N>-<uuid>/part-*.parquet   immutable files of ONE commit
  *                                            attempt (unique per attempt so
  *                                            racing committers never share
  *                                            a directory)
  *   <root>/meta/v<N>.json                    snapshot N: live file list
  * }}}
  *
  * A snapshot manifest lists EVERY live file (not a delta), so every read
  * is one [[scan]] of an explicit file list: no directory is listed, and
  * the named files are stat'ed on the driver, never by a Spark listing
  * job (the property that matters on object stores at 100 TB). Commits
  * are optimistic: the writer materializes data files, then publishes
  * `meta/v<N>.json` with a create-exclusive hard link ([[publish]]) — a
  * concurrent committer of the same N loses with `ConcurrentCommitException`
  * and must retry on top of the new state (Iceberg's CAS-on-metadata-pointer
  * model; a cluster deployment swaps the hard link for the catalog's CAS). */
object SnapshotTable {
  final class ConcurrentCommitException(v: Int)
    extends RuntimeException(s"snapshot v$v was committed concurrently")

  /** Per-file pruning stats recorded at commit: row count + [min, max] per
    * numeric/timestamp column (Iceberg's manifest column stats — the
    * split-planning half of the spec; the reference analog is the OGR
    * `SetSpatialFilter` scan pushdown, geolib.py:663), read from the
    * footer of the file the commit just wrote. Bounds are doubles;
    * values whose source type can exceed double precision (BIGINT,
    * DECIMAL, epoch-micro timestamps ≥ 2^53) are converted with DIRECTED
    * rounding — lo toward −∞, hi toward +∞ — so the recorded interval
    * always CONTAINS the true one and pruning stays conservative (a
    * nearest-rounding cast can shrink the interval and silently drop a
    * file holding matching rows; hash-like int64 ids are realistic).
    * Every live file has an entry; a column without bounds (strings, NaN
    * bounds, all-null or zero-row files, and the types the footer cannot
    * bound, such as TIME or unsigned ints) is simply absent from `cols`. */
  final case class FileStats(rows: Long, cols: Map[String, (Double, Double)])

  /** One parsed manifest. The format has no optional parts: every manifest
    * records the commit `schema`, the merged stream markers `txns` and a
    * [[FileStats]] entry for every live file, and [[snapshot]] fails on one
    * that lacks any of them. */
  final case class Snapshot(version: Int, parent: Int, op: String,
                            rows: Long, files: Seq[String],
                            stats: Map[String, FileStats],
                            schema: StructType,
                            delta: Seq[String] = Nil,
                            tsMs: Long = 0L,
                            removed: Seq[String] = Nil,
                            txn: Option[(String, Long)] = None,
                            txns: Map[String, Long] = Map.empty,
                            cdcOff: Boolean = false)

  /** A conjunct for scan planning: keep files whose [min, max] for `colName`
    * intersects [lo, hi]. Files lacking stats for the column are kept
    * (conservative — pruning must never change results). Units: timestamp
    * and timestamp_ntz columns record bounds in epoch MICROSECONDS (NTZ
    * pinned as-if-UTC), so callers must construct [lo, hi] in micros. */
  final case class ColRange(colName: String, lo: Double, hi: Double)

  private def metaDir(root: String): Path = Paths.get(root, "meta")

  private def listNames(dir: Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toList
    finally st.close() // Files.list leaks a DirectoryStream fd unless closed
  }

  /** Latest committed version, 0 if the table is empty/uninitialized. */
  def currentVersion(root: String): Int = {
    val md = metaDir(root)
    if (!Files.isDirectory(md)) 0
    else listNames(md)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  /** Whether `version`'s manifest is still retained (false once expired). */
  def hasSnapshot(root: String, version: Int): Boolean =
    Files.exists(metaDir(root).resolve(s"v$version.json"))

  /** Manifest `version` of `root`; fails naming the version and the field
    * when the manifest lacks a required part (see [[Snapshot]]). */
  def snapshot(root: String, version: Int): Snapshot = {
    import org.json4s._
    val txt = Files.readString(metaDir(root).resolve(s"v$version.json"))
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    def lng(v: JValue): Option[Long] = v match {
      case JInt(n) => Some(n.toLong); case JLong(n) => Some(n); case _ => None
    }
    def lacks(k: String) = new IllegalStateException(s"manifest v$version lacks $k")
    def num(k: String): Long = lng(j \ k).getOrElse(throw lacks(k))
    def strs(k: String): List[String] = (j \ k) match {
      case JArray(fs) => fs.collect { case JString(f) => f }
      case _ => throw lacks(k)
    }
    val op = (j \ "op") match {
      case JString(s) => s
      case _ => throw lacks("op")
    }
    def dbl(v: JValue): Double = v match {
      case JDouble(d) => d
      case JInt(n) => n.toDouble
      case JLong(n) => n.toDouble
      case JDecimal(d) => d.toDouble
      case _ => Double.NaN
    }
    val stats = (j \ "stats") match {
      case JObject(fields) => fields.collect {
        case (file, fj) =>
          val rows = lng(fj \ "rows").getOrElse(throw lacks(s"rows for $file"))
          val cols = (fj \ "cols") match {
            // bounds are loaded VERBATIM: carried-forward files re-serialize
            // them on every commit, so any adjustment here would drift
            case JObject(cf) => cf.collect {
              case (c, JArray(List(lo, hi))) => c -> (dbl(lo), dbl(hi))
            }.toMap.filter { case (_, (lo, hi)) => !lo.isNaN && !hi.isNaN }
            case _ => Map.empty[String, (Double, Double)]
          }
          file -> FileStats(rows, cols)
      }.toMap
      case _ => Map.empty[String, FileStats]
    }
    val files = strs("files")
    files.find(f => !stats.contains(f)).foreach(f => throw lacks(s"stats for $f"))
    val schema = (j \ "schema") match {
      case JNothing => throw lacks("schema")
      case sj =>
        val txt = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(sj))
        org.apache.spark.sql.types.DataType.fromJson(txt) match {
          case st: StructType => st
          case _ => throw lacks("a struct schema")
        }
    }
    val txn = (j \ "txn_id") match {
      case JString(id) => lng(j \ "txn_epoch").map(id -> _)
      case _ => None
    }
    // merged idempotence markers (Delta's setTransactions)
    val txns = (j \ "txns") match {
      case JObject(fs) => fs.flatMap { case (id, e) => lng(e).map(id -> _) }.toMap
      case _ => throw lacks("txns")
    }
    val cdcOff = (j \ "cdc_off") match { case JBool(b) => b; case _ => false }
    Snapshot(num("version").toInt, num("parent").toInt, op, num("rows"),
             files, stats, schema, strs("delta"), num("ts_ms"),
             strs("removed"), txn, txns, cdcOff)
  }

  /** Schema compatibility gate for append-family commits: the commit schema
    * must carry exactly the parent's (name → type) map — a same-name TYPE
    * drift or an added/dropped column would make the live file set
    * footer-inconsistent (plain parquet reads take ONE footer's schema, so
    * drift reads differently depending on which file plans first — silent).
    * Widening the table shape goes through `overwrite` (full rewrite, new
    * schema) by design. */
  private def requireCompatible(p: StructType, next: StructType, v: Int): Unit = {
    // nullability is normalized away before comparing: parquet writes every
    // Spark field as optional regardless of the logical flag, so a
    // containsNull/nullable drift can never make footers disagree — while
    // treating it as drift rejects legitimate writers (a typed Dataset
    // encoder emits containsNull=false arrays; a view table created by an
    // older engine version recorded containsNull=true — ADVICE r6)
    def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case s: StructType =>
          StructType(s.fields.map(f =>
            f.copy(dataType = norm(f.dataType), nullable = true)))
        case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
        case m: MapType =>
          MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
        case other => other
      }
    }
    val pm = p.fields.map(f => f.name -> norm(f.dataType)).toMap
    val nm = next.fields.map(f => f.name -> norm(f.dataType)).toMap
    val drift = pm.keySet.intersect(nm.keySet)
      .filter(k => pm(k) != nm(k))
      .map(k => s"$k: ${pm(k).simpleString} -> ${nm(k).simpleString}")
    val shape = (pm.keySet diff nm.keySet).map(k => s"-$k") ++
      (nm.keySet diff pm.keySet).map(k => s"+$k")
    require(drift.isEmpty && shape.isEmpty,
      s"append to v$v is schema-incompatible with the table " +
        s"(${(drift ++ shape).mkString(", ")}); use op=overwrite to reshape")
  }

  /** Append or overwrite `df` as a new snapshot; returns the new version. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
             op: String = "append"): Int =
    commitFrom(spark, root, currentVersion(root), df, op)

  /** [[commit]] carrying an idempotent-writer marker (streamId, epoch) —
    * the overwrite form the incremental views' full-rebuild path needs:
    * a rebuild REPLACES the view data while recording the source version
    * it covers, atomically in one manifest (a separate marker commit would
    * leave a crash window where the rebuilt data is live but unmarked and
    * a replay rebuilds again — wasteful, though never wrong). */
  def commitWithTxn(spark: SparkSession, root: String, df: DataFrame,
                    op: String, txn: (String, Long)): Int =
    commitFrom(spark, root, currentVersion(root), df, op, txn = Some(txn))

  /** Commit on top of an explicitly-read base version — the body of
    * `commit`, split out so tests can replay the stale-base race a real
    * concurrent committer hits between its metadata read and its publish. */
  private[sources] def commitFrom(spark: SparkSession, root: String, base: Int,
                                  df: DataFrame, op: String,
                                  txn: Option[(String, Long)] = None): Int = {
    require(op == "append" || op == "overwrite", s"bad op $op")
    transact(spark, root, base) { t =>
      // overwrite replaces DATA, not stream-idempotence history: the
      // transaction still carries the markers, so a replayed epoch stays a
      // no-op after a reshape
      val prev = if (op == "overwrite") None else t.prev
      prev.foreach(p => requireCompatible(p.schema, df.schema, base))
      val (newFiles, newStats) = t.write(df)
      Snapshot(t.v, base, op,
        prev.fold(0L)(_.rows) + newStats.valuesIterator.map(_.rows).sum,
        prev.fold(Seq.empty[String])(_.files) ++ newFiles,
        prev.fold(Map.empty[String, FileStats])(_.stats) ++ newStats,
        df.schema, txn = txn)
    }
  }

  /** One mutating op as a transaction on top of version `base`, run by
    * [[transact]]: the body writes its files through the Txn and returns
    * the manifest of version `v` = base + 1. Every write lands in its own
    * attempt dir `data/s<v>-<uuid>` (`expire` maps a file to its dir by the
    * second path segment), unique PER ATTEMPT, not per version: two racers
    * of the same v must not clobber each other's files before the manifest
    * CAS resolves — the loser's dirs are unreferenced garbage (deleted by
    * [[transact]]; a crashed committer's by [[expire]]), never a dangling
    * reference in the winner's manifest (Iceberg's uuid-named data files,
    * same reasoning). */
  private final class Txn(spark: SparkSession, root: String, val base: Int) {
    val v: Int = base + 1
    /** The base snapshot, read once; None on an empty table. */
    lazy val prev: Option[Snapshot] = if (base >= 1) Some(snapshot(root, base)) else None
    /** The base schema, which reads of base files are pinned to. */
    def schema: StructType = prev.get.schema
    /** Root-relative attempt dirs made so far. */
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

    private def attempt(): String = {
      val d = s"data/${newAttempt(v)}"
      dirs += d
      d
    }

    /** Write `df` into a fresh attempt dir and return its (relative file
      * list, per-file stats) — ONE pass, O(new data); carried-forward
      * stats stay manifest text. */
    def write(df: DataFrame): (Seq[String], Map[String, FileStats]) = {
      val dir = attempt()
      microsTimestamps(spark, df.schema)(df.write.mode(SaveMode.Overwrite).parquet(s"$root/$dir"))
      val files = attemptFiles(root, dir)
      (files, footerStats(spark, root, files))
    }

    /** Single-pass copy-on-write split for merge/delete: one scan of the
      * touched `files` writes BOTH the survivor rewrite and the CDC
      * tombstone pre-images, routed by the boolean `__kept` column that
      * `route` adds to the scan, through a `partitionBy` dynamic write
      * (kept=true → survivors, kept=false → tombstones) — the touched data
      * is read ONCE per commit, where an anti-join + semi-join pair read it
      * twice. `partitionBy` drops the routing column from the data files,
      * so both halves keep the exact table schema. Stats are read for the
      * SURVIVOR files only: tombstones live under `removed`, never in the
      * live list, so their stats would be read and thrown away.
      * With `cdc` off (Delta's change-data-feed-off default analog) the
      * tombstone pre-images are not written at all — a high-churn derived
      * table (e.g. the incremental views) would otherwise persist a full
      * copy of every replaced row per commit for a stream nobody reads; the
      * manifest declares that commit's row-level history ABSENT and
      * changesCdc fails loudly over the range instead of silently missing
      * deletes. Returns (survivors, their stats, tombstones). */
    def split(files: Seq[String], cdc: Boolean)(route: DataFrame => DataFrame)
        : (Seq[String], Map[String, FileStats], Seq[String]) = {
      if (files.isEmpty) return (Nil, Map.empty, Nil)
      val df = route(scan(spark, root, schema, files))
      if (!cdc) {
        val (survivors, stats) =
          write(df.filter(org.apache.spark.sql.functions.col("__kept")).drop("__kept"))
        (survivors, stats, Nil)
      } else {
        val dir = attempt()
        microsTimestamps(spark, df.schema)(
          df.write.mode(SaveMode.Overwrite).partitionBy("__kept").parquet(s"$root/$dir"))
        val survivors = attemptFiles(root, s"$dir/__kept=true")
        (survivors, footerStats(spark, root, survivors),
         attemptFiles(root, s"$dir/__kept=false"))
      }
    }

    /** Byte-identical copies of base `files` in one fresh attempt dir,
      * hardlinked when the filesystem allows it, each with its original's
      * stats. A copy never replaces an existing file: live basenames are
      * unique per Spark write job, so a collision is a broken invariant,
      * not a retry. */
    def copy(files: Seq[String]): (Seq[String], Map[String, FileStats]) = {
      if (files.isEmpty) return (Nil, Map.empty)
      val dir = attempt()
      Files.createDirectories(Paths.get(root, dir))
      val moved = files.map { f =>
        val n = s"$dir/${Paths.get(f).getFileName}"
        ParquetFiles.linkOrCopy(Paths.get(root, f), Paths.get(root, n))
        n -> prev.get.stats(f)
      }
      (moved.map(_._1), moved.toMap)
    }
  }

  /** Run `body` as one [[Txn]] and publish its manifest — the one publish
    * of every mutating op — with the publish-time clock and the base's
    * stream markers plus the body's own `txn` (ops change data, not
    * stream-idempotence history). A body that throws before publish, or
    * a publish that loses the CAS (`ConcurrentCommitException`: its
    * manifest never became visible), deletes every attempt dir it made.
    * Any other publish failure leaves them to `expire`: that manifest may
    * be visible. */
  private def transact(spark: SparkSession, root: String, base: Int)(
      body: Txn => Snapshot): Int = {
    val t = new Txn(spark, root, base)
    def abandon(e: Throwable): Nothing = {
      try t.dirs.foreach(d => deleteRecursively(s"$root/$d"))
      catch { case c: java.io.IOException => e.addSuppressed(c) }
      throw e
    }
    val json = try {
      val sn = body(t)
      manifestJson(sn.copy(tsMs = System.currentTimeMillis(),
        txns = t.prev.fold(Map.empty[String, Long])(_.txns) ++ sn.txn))
    } catch { case e: Throwable => abandon(e) }
    try publish(root, t.v, json)
    catch { case e: ConcurrentCommitException => abandon(e) }
    t.v
  }

  /** Latest committed epoch for an idempotent-writer id (Delta's
    * txnAppId/txnVersion pattern), or -1 if none. O(1): every commit
    * carries the MERGED (streamId → epoch) map forward in its manifest
    * (Delta's setTransactions-in-checkpoint), so one manifest read answers
    * the question — a per-micro-batch chain walk would be O(versions) reads
    * each of which hauls the full per-file stats block, i.e. O(V²) metadata
    * I/O over a stream's life at one-commit-per-epoch rates. Markers
    * survive `compact`/`rollback`/`expire` with the carry (an expired
    * history no longer forces a re-ingest). */
  def lastCommittedEpoch(root: String, streamId: String): Long = {
    val cur = currentVersion(root)
    if (cur < 1) return -1L
    snapshot(root, cur).txns.getOrElse(streamId, -1L)
  }

  /** Exactly-once streaming sink commit (`foreachBatch` body): append
    * `df` as one snapshot carrying (`streamId`, `epochId`) in its manifest,
    * SKIPPING epochs at or below the last committed one for this stream —
    * a micro-batch replayed after a crash between the sink commit and the
    * checkpoint commit becomes a no-op instead of duplicate rows. Epoch ids
    * (Structured Streaming batch ids) are monotonic per checkpoint.
    * Concurrent commits from OTHER writers are fine (CAS loser re-reads and
    * retries); two live instances of the SAME stream replaying one epoch
    * resolve to one commit (the loser re-checks and skips). Returns the new
    * version, or None when the epoch was already committed. */
  def commitStreamBatch(spark: SparkSession, root: String, df: DataFrame,
                        streamId: String, epochId: Long): Option[Int] = {
    require(streamId.nonEmpty, "streamId must be non-empty")
    while (true) {
      if (lastCommittedEpoch(root, streamId) >= epochId) return None
      try {
        return Some(commitFrom(spark, root, currentVersion(root), df,
          "append", txn = Some(streamId -> epochId)))
      } catch { case _: ConcurrentCommitException => () } // re-check, retry
    }
    None // unreachable
  }

  private val timestampWriteLock = new Object
  /** Runs `write`, a parquet write of rows with `schema`, so that its
    * TIMESTAMP columns land as INT64 micros (Iceberg's timestamp encoding)
    * instead of Spark's default INT96, whose footers carry no min/max for
    * [[footerStats]]. The output type is a session conf, so it is set for
    * this write only, under a lock so that concurrent writes restore the
    * session's own value; a write without a timestamp column takes no lock. */
  private def microsTimestamps[T](spark: SparkSession, schema: StructType)(write: => T): T =
    if (!schema.exists(_.dataType == org.apache.spark.sql.types.TimestampType)) write
    else timestampWriteLock.synchronized {
      ParquetFiles.withConf(spark, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(write)
    }

  /** Fresh attempt-dir name for version `v` (see [[Txn]]). */
  private def newAttempt(v: Int): String =
    s"s$v-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Root-relative paths of the part files under root-relative `dir`. */
  private def attemptFiles(root: String, dir: String): Seq[String] =
    ParquetFiles.partFiles(s"$root/$dir").map(f => s"$dir/${f.getName}")

  /** Exact-value → double with DIRECTED rounding: the nearest-rounded
    * double, nudged one ulp outward when the conversion moved the value
    * INWARD (toward the interval interior). Long and Decimal can exceed
    * 2^53; comparing through exact BigDecimal (`new BigDecimal(double)` is
    * the exact binary value, unlike `valueOf`) detects which way the cast
    * rounded. */
  private def dirDouble(v: Any, up: Boolean): Double = v match {
    case d: java.lang.Double => d
    case f: java.lang.Float  => f.toDouble
    case l: java.lang.Long =>
      val d = l.toDouble
      val c = new java.math.BigDecimal(d).compareTo(new java.math.BigDecimal(l))
      if (up && c < 0) Math.nextUp(d) else if (!up && c > 0) Math.nextDown(d) else d
    case b: java.math.BigDecimal =>
      val d = b.doubleValue()
      if (d.isInfinite) d
      else {
        val c = new java.math.BigDecimal(d).compareTo(b)
        if (up && c < 0) Math.nextUp(d) else if (!up && c > 0) Math.nextDown(d) else d
      }
    case n: java.lang.Number => n.doubleValue() // int/short/byte: exact
  }

  /** Manifest stats for freshly-written files, read from the parquet
    * FOOTERS the write just produced (guide §6 — stats from metadata, not
    * data): zero Spark jobs for any column type. Per file: its row count
    * and, per top-level column [[footerValue]] can bound, the [min, max]
    * over its row groups, directed-rounded by [[dirDouble]] (per-group
    * directed rounding is monotone, so the min/max over groups is the
    * directed-rounded file envelope). A column with a row group the footer
    * cannot bound — NaN bounds, no statistics, or no min/max while holding
    * values (an all-null group contributes nothing, but only a recorded
    * null count proves it all-null) — records no bounds for that file and
    * never prunes it. A zero-row file gets `FileStats(0, Map.empty)`. */
  private def footerStats(spark: SparkSession, root: String,
                          files: Seq[String]): Map[String, FileStats] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val md = ParquetFiles.footer(s"$root/$f", conf)
      val value = md.getFileMetaData.getSchema.getFields.asScala
        .flatMap(t => footerValue(t).map(t.getName -> _)).toMap
      val lo = scala.collection.mutable.Map.empty[String, Double]
      val hi = scala.collection.mutable.Map.empty[String, Double]
      val unbounded = scala.collection.mutable.Set.empty[String]
      for (b <- md.getBlocks.asScala; cc <- b.getColumns.asScala if cc.getPath.size == 1;
           name = cc.getPath.toDotString; v <- value.get(name)) {
        val st: org.apache.parquet.column.statistics.Statistics[_] = cc.getStatistics
        if (st != null && st.hasNonNullValue) {
          val bLo = dirDouble(v(st.genericGetMin), up = false)
          val bHi = dirDouble(v(st.genericGetMax), up = true)
          if (bLo.isNaN || bHi.isNaN) unbounded += name
          else {
            lo.updateWith(name)(o => Some(o.fold(bLo)(math.min(_, bLo))))
            hi.updateWith(name)(o => Some(o.fold(bHi)(math.max(_, bHi))))
          }
        } else if (st == null || !st.isNumNullsSet || st.getNumNulls != cc.getValueCount)
          unbounded += name
      }
      unbounded.foreach { n => lo.remove(n); hi.remove(n) }
      f -> FileStats(md.getBlocks.asScala.map(_.getRowCount).sum,
        lo.keys.map(n => n -> (lo(n), hi(n))).toMap)
    }.toMap
  }

  /** How [[footerStats]] reads top-level column `t`'s footer min/max: a map
    * to the exact value [[dirDouble]] rounds, in the manifest's units, or
    * None for a column it does not bound. Signed ints, floats and doubles
    * are taken as they are; timestamps as epoch MICROS (an LTZ column
    * stores instant micros, an NTZ column wall micros, which is the
    * as-if-UTC pin; the catalog writes both as INT64 micros, see
    * [[microsTimestamps]]); decimals as the unscaled footer value (an
    * `Integer`, `Long` or two's-complement `Binary`) scaled by the
    * annotation's scale. Not bounded: booleans, strings, dates, nested
    * columns, INT96 timestamps, TIME, unsigned ints and any other
    * annotation. */
  private def footerValue(t: org.apache.parquet.schema.Type): Option[Any => Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def unscaled(v: Any): java.math.BigInteger = v match {
      case i: java.lang.Integer => java.math.BigInteger.valueOf(i.longValue)
      case l: java.lang.Long => java.math.BigInteger.valueOf(l)
      case b: org.apache.parquet.io.api.Binary => new java.math.BigInteger(b.getBytes)
    }
    if (!t.isPrimitive) None
    else (t.asPrimitiveType.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null) | (FLOAT | DOUBLE, _) => Some(identity)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(identity)
      case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.getUnit == TimeUnit.MICROS =>
        Some(identity)
      case (INT32 | INT64 | BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalLogicalTypeAnnotation) =>
        Some(v => new java.math.BigDecimal(unscaled(v), d.getScale))
      case _ => None
    }
  }

  /** Maps the file names a scan reports (`input_file_name()`, a
    * percent-encoded URI) to the root-relative `files` it planned, by
    * EXACT normalized local path. A scanned file that resolves to none of
    * them breaks the caller's accounting, so it fails loudly. */
  private def fileResolver(root: String, files: Seq[String]): String => String = {
    def norm(p: Path): String = p.toAbsolutePath.normalize.toString
    val byPath = files.map(f => norm(Paths.get(root, f)) -> f).toMap
    scanned => {
      val p = if (scanned.startsWith("file:")) Paths.get(new java.net.URI(scanned))
              else Paths.get(scanned)
      byPath.getOrElse(norm(p), throw new IllegalStateException(
        s"scanned file $scanned is not one of the planned files of $root"))
    }
  }

  /** The keys-only hit scan merge and delete share: ONE pass over `files`
    * counts, per file, its rows and the rows where the hit column is true,
    * grouped on `input_file_name()`, and sorts `files` into (no row hit,
    * every row hit, some rows hit) — a file with no rows has no hit.
    * `hits` receives the scan with the file name captured in `__f` (before
    * any join — input_file_name is single-source) and returns the frame to
    * count and its hit column. */
  private def hitScan(spark: SparkSession, root: String, schema: StructType,
                      files: Seq[String])(
      hits: DataFrame => (DataFrame, org.apache.spark.sql.Column))
      : (Seq[String], Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) return (Nil, Nil, Nil)
    val (scanned, hit) = hits(scan(spark, root, schema, files)
      .withColumn("__f", input_file_name()))
    val resolve = fileResolver(root, files)
    val counts = scanned.groupBy(col("__f"))
      .agg(count(lit(1)), count(when(hit, 1)))
      .collect()
      .map(r => resolve(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (none, some) = files.partition(f => counts.get(f).forall(_._2 == 0L))
    val (all, part) = some.partition(f => counts(f)._2 == counts(f)._1)
    (none, all, part)
  }

  /** The manifest text of `sn`, the shape [[snapshot]] parses back. Field
    * order and number formatting must not change: carried-forward stats
    * are re-serialized by every commit and stay byte-stable. Every live
    * file must have stats: the reader requires them. */
  private def manifestJson(sn: Snapshot): String = {
    import sn.{version => v, _}
    // every string is escaped: stream ids embed caller paths (e.g.
    // "statsview:/tmp/…"), and one id with a quote would otherwise corrupt
    // every later manifest (the merged txns map carries forward forever)
    import graft.Json.{str => js}
    def jd(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    val statsJson = files.map { f =>
      val fs = stats.getOrElse(f,
        throw new IllegalArgumentException(s"manifest v$v has no stats for $f"))
      val cols = fs.cols.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"${js(c)}: [${jd(lo)}, ${jd(hi)}]" }
        .mkString(", ")
      s"${js(f)}: {\"rows\": ${fs.rows}, \"cols\": {$cols}}"
    }.mkString(", ")
    val txnJson = txn.fold("") { case (id, e) =>
      s"""\n       | "txn_id": ${js(id)}, "txn_epoch": $e,""".stripMargin
    }
    // the MERGED marker map is always emitted (even empty): the reader
    // requires it
    val txnsJson = "\n \"txns\": {" +
      txns.toSeq.sortBy(_._1).map { case (id, e) => s"${js(id)}: $e" }
        .mkString(", ") + "}," +
      (if (cdcOff) "\n \"cdc_off\": true," else "")
    s"""{"version": $v, "parent": $parent, "op": "$op", "rows": $rows,$txnJson$txnsJson
       | "files": [${files.map(js).mkString(", ")}],
       | "stats": {$statsJson},
       | "delta": [${delta.map(js).mkString(", ")}],
       | "removed": [${removed.map(js).mkString(", ")}],
       | "ts_ms": $tsMs,
       | "schema": ${schema.json}}""".stripMargin
  }

  /** Publish a snapshot manifest create-exclusively — this IS the
    * optimistic-concurrency gate: a racing committer of the same version
    * finds the target name taken and loses cleanly. NOT a rename: POSIX
    * rename() silently REPLACES an existing target (ATOMIC_MOVE included),
    * so the complete manifest is written to a tmp file of this attempt's
    * own and hard-linked to `v<N>.json`, which fails with
    * FileAlreadyExistsException when the version is taken. The tmp name
    * is unique per attempt: two racers of one version never write into
    * each other's file, so neither can rewrite the winner's manifest
    * through its link or delete the other's tmp before it is linked. */
  private[sources] def publish(root: String, v: Int, json: String): Unit = {
    Files.createDirectories(metaDir(root))
    val tmp = metaDir(root).resolve(s".v$v.json.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, json)
      Files.createLink(metaDir(root).resolve(s"v$v.json"), tmp)
    } catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new ConcurrentCommitException(v)
    } finally Files.deleteIfExists(tmp)
  }

  /** Plan the file list for a read: the snapshot's live files, minus every
    * file whose recorded [min, max] proves no row can satisfy ALL `prune`
    * conjuncts. Files without stats for a referenced column are kept —
    * pruning is an optimization, never a semantic filter. Exposed so tests
    * (and operators) can assert the planned list. */
  def planFiles(root: String, version: Int, prune: Seq[ColRange]): Seq[String] =
    prunedFiles(snapshot(root, version), prune)

  /** [[planFiles]] over an already-parsed snapshot. Recorded bounds are
    * compared exactly: they are rounded outward and rounding is monotone,
    * so a probe rounded either way still plans every file holding a
    * matching value. */
  private def prunedFiles(snap: Snapshot, prune: Seq[ColRange]): Seq[String] =
    snap.files.filter(f => mayMatch(snap.stats(f), prune))

  /** Whether a file with stats `fs` may hold a row satisfying every `prune`
    * conjunct: false only when its recorded bounds for a conjunct's column
    * miss that conjunct's range. The one pruning test of every read. */
  private def mayMatch(fs: FileStats, prune: Seq[ColRange]): Boolean =
    prune.forall(p => fs.cols.get(p.colName).forall { case (lo, hi) => hi >= p.lo && lo <= p.hi })

  /** [lo, hi] of `colName` over files with `stats`: the min/max of their
    * directed-rounded bounds, which is the directed-rounded envelope
    * (rounding is monotone). None when they hold no rows; (−∞, ∞) when a
    * file with rows has no bounds for the column, so a read pruned by it
    * never misses a row. */
  private def boundsOver(stats: Iterable[FileStats], colName: String): Option[(Double, Double)] = {
    val held = stats.filter(_.rows > 0)
    if (held.isEmpty) None
    else if (!held.forall(_.cols.contains(colName)))
      Some((Double.NegativeInfinity, Double.PositiveInfinity))
    else Some((held.map(_.cols(colName)._1).min, held.map(_.cols(colName)._2).max))
  }

  /** Version visible at wall-clock `tsMs` — the newest snapshot whose
    * commit timestamp is ≤ tsMs (Iceberg's timestamp time travel). Commit
    * timestamps are the PUBLISHER's clock at manifest-write time; they are
    * monotone per table under the single-winner publish protocol up to
    * clock skew between committers (document the skew, don't hide it —
    * resolution walks versions, not timestamps, so a skewed pair only
    * affects reads aimed INSIDE the skew window). 0 when no retained
    * snapshot is old enough. Walks down from the current version, skipping
    * expired manifests, so only the manifests newer than the answer are
    * parsed. */
  def versionAsOfTime(root: String, tsMs: Long): Int =
    (currentVersion(root) to 1 by -1)
      .find(v => hasSnapshot(root, v) && snapshot(root, v).tsMs <= tsMs)
      .getOrElse(0)

  /** Read the table as of a wall-clock timestamp. */
  def readAsOfTime(spark: SparkSession, root: String, tsMs: Long,
                   prune: Seq[ColRange] = Nil): DataFrame = {
    val v = versionAsOfTime(root, tsMs)
    require(v >= 1, s"no snapshot at or before ts=$tsMs at $root")
    read(spark, root, asOf = v, prune)
  }

  /** Read the table at `asOf` (default: latest). Empty table → empty DF is
    * not representable without a schema, so version 0 is an error.
    * `prune` drops data files whose manifest stats exclude the range BEFORE
    * the scan is planned (Iceberg split planning; the caller still applies
    * its own row filter — file stats bound files, not rows). The scan is
    * PINNED to the manifest-recorded commit schema (time travel reads each
    * version with ITS schema; no footer fetch on the planning path —
    * commit-time compatibility makes every live footer agree with it). */
  def read(spark: SparkSession, root: String, asOf: Int = -1,
           prune: Seq[ColRange] = Nil): DataFrame = {
    val v = if (asOf >= 0) asOf else currentVersion(root)
    require(v >= 1, s"no snapshot $v at $root")
    val snap = snapshot(root, v)
    val files = prunedFiles(snap, prune)
    if (files.nonEmpty) scan(spark, root, snap.schema, files)
    // pruning legitimately eliminated every file: an EMPTY result with the
    // table schema, not an error (a range query before the data's time
    // window is a normal empty read, not a bug)
    else emptyFrame(spark, snap.schema)
  }

  private val scanLock = new Object
  /** The catalog's one parquet read: root-relative `files` from a manifest,
    * with `schema` pinned. The manifest holds the exact file list, so
    * Spark must not list it again: above
    * `parallelPartitionDiscovery.threshold` paths its file index runs a
    * distributed listing job. It lists when the DataFrame is created, so
    * the threshold is raised for that call only, under a lock so that
    * concurrent scans restore the session's own value. */
  private def scan(spark: SparkSession, root: String, schema: StructType,
                   files: Seq[String]): DataFrame =
    scanLock.synchronized {
      ParquetFiles.withConf(spark,
          "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString) {
        spark.read.schema(schema).parquet(files.map(f => s"$root/$f"): _*)
      }
    }

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** A change read over versions that disagree on (name -> type) would
    * union-scan whichever footer plans first: fail loudly with `msg`. */
  private def requireOneSchema(schemas: Seq[StructType], msg: => String): Unit =
    require(schemas.map(_.fields.map(f => f.name -> f.dataType).toMap).distinct.size <= 1, msg)

  /** The change range (fromV, toV] of `root`, each manifest it needs parsed
    * once. [[changes]], [[changesCdc]], the change [[envelope]] and the
    * incremental views' classification all derive from it, so none of
    * them can disagree on what the range holds. */
  private[graft] final class ChangeRange(val root: String, val fromV: Int, val toV: Int) {
    require(toV > fromV && toV >= 1, s"bad change range v$fromV..v$toV")
    private val first = math.max(1, fromV + 1)
    private def load(v: Int): Option[Snapshot] =
      if (hasSnapshot(root, v)) Some(snapshot(root, v)) else None
    /** Snapshots `fromV + 1` to `toV` in order; None = expired manifest. */
    val snaps: IndexedSeq[Option[Snapshot]] = (first to toV).map(load)
    private val outside = scala.collection.mutable.Map.empty[Int, Option[Snapshot]]
    private def at(v: Int): Option[Snapshot] =
      if (v >= first && v <= toV) snaps(v - first) else outside.getOrElseUpdate(v, load(v))

    /** Whether every manifest the range's reads need is retained: each
      * in-range one, and the base `fromV` the first is diffed against. */
    def replayable: Boolean = snaps.forall(_.isDefined) && (first == 1 || at(fromV).isDefined)

    /** Snapshot `v`, which the read `what` needs: an expired manifest
      * fails loudly instead of shortening the range. */
    private def need(v: Int, what: => String): Snapshot = {
      val sn = at(v)
      require(sn.isDefined, s"$what v$v, which is expired")
      sn.get
    }

    /** Every in-range snapshot, which the read `what` needs. */
    private def all(what: String): Seq[Snapshot] =
      (first to toV).map(need(_, s"$what needs manifest"))

    /** The files `sn` introduced over its parent, for the read `what`. */
    private def introduced(sn: Snapshot, what: String): Seq[String] =
      if (sn.parent < 1) sn.files
      else sn.files.filterNot(need(sn.parent, s"$what needs parent manifest").files.toSet)

    /** Each file ADDED over the range, with its introducing manifest's
      * stats: an append or overwrite adds what it introduced over its
      * parent; a merge ONLY its delta (its survivor rewrites are not data
      * changes: they would replay untouched rows to CDC consumers). */
    private lazy val added: Seq[(String, FileStats)] = {
      val what = s"changes(v$fromV, v$toV)"
      (first to toV).flatMap { v =>
        val sn = need(v, s"$what needs manifest")
        (sn.op match {
          case "append" | "overwrite" => introduced(sn, what)
          case "merge" => sn.delta
          case _ => Nil
        }).map(f => f -> sn.stats(f))
      }.distinctBy(_._1)
    }

    /** The rows of [[changes]]. */
    def adds(spark: SparkSession, prune: Seq[ColRange] = Nil): DataFrame = {
      val what = s"changes(v$fromV, v$toV)"
      // each add is pruned by its introducing manifest's stats, whether or
      // not it is still live at toV
      val files = added.collect { case (f, fs) if mayMatch(fs, prune) => f }
      val in = all(what)
      // surface the recorded schema: every contributing version must agree
      // on (name -> type) — a mid-range overwrite that reshaped the table
      // is a LOUD error directing the caller to read per-version instead
      val schemas = in
        .filter(s => s.op == "append" || s.op == "overwrite" || s.op == "merge")
        .map(_.schema)
      requireOneSchema(schemas, s"$what spans a schema change; read per-version")
      val schema = schemas.headOption.getOrElse(in.last.schema)
      if (files.nonEmpty) scan(spark, root, schema, files)
      else emptyFrame(spark, schema)
    }

    /** Row count of [[adds]] + directed-rounded bounds of `colName` over
      * every file whose rows the range changes, from the manifests' stats:
      * zero Spark jobs. Those files are the adds (what an append or
      * overwrite introduces, a merge's delta) and the parent files a
      * merge, delete or overwrite drops, which every pre-image [[cdc]]
      * reads comes from. So the bounds cover every row of [[adds]] and
      * [[cdc]]; over an append-only range they are the adds' bounds. No
      * bounds when those files hold no rows (see [[boundsOver]]). */
    def envelope(colName: String): (Long, Option[(Double, Double)]) = {
      val what = s"envelope(v$fromV, v$toV)"
      val dropped = all(what).filter(sn => sn.parent >= 1 &&
          Seq("merge", "delete", "overwrite").contains(sn.op)).flatMap { sn =>
        val p = need(sn.parent, s"$what needs parent manifest")
        p.files.filterNot(sn.files.toSet).map(p.stats)
      }
      (added.map(_._2.rows).sum, boundsOver(added.map(_._2) ++ dropped, colName))
    }

    /** The rows of [[changesCdc]]. */
    def cdc(spark: SparkSession): DataFrame = {
      import org.apache.spark.sql.functions.lit
      val what = s"changesCdc(v$fromV, v$toV)"
      val in = all(what)
      in.filter(_.cdcOff).foreach(sn => throw new IllegalStateException(
        s"$what: v${sn.version} (${sn.op}) was committed with cdc=false — its " +
          "delete pre-images were never recorded; read per-version snapshots instead"))
      // an overwrite's delete pre-images are its parent's live files, read
      // with the common schema: the parent's schema must agree too, even
      // when it lies outside the range (fromV = parent), or a reshaping
      // overwrite would silently null-pad / drop pre-image columns
      def parentOf(sn: Snapshot) = need(sn.parent, s"$what needs parent manifest")
      val preImageSchemas = in.filter(sn => sn.op == "overwrite" && sn.parent >= 1)
        .map(parentOf(_).schema)
      val schemas = in.filter(sn => sn.op != "compact" && sn.op != "rollback")
        .map(_.schema)
      requireOneSchema(schemas ++ preImageSchemas, s"$what spans a schema change; read per-version")
      val schema = schemas.headOption.getOrElse(in.last.schema)
      def part(files: Seq[String], kind: String): Seq[DataFrame] =
        if (files.isEmpty) Nil
        else Seq(scan(spark, root, schema, files).withColumn("_change_type", lit(kind)))
      val parts = in.flatMap { sn =>
        sn.op match {
          case "append" => part(introduced(sn, what), "insert")
          case "overwrite" =>
            (if (sn.parent >= 1) part(parentOf(sn).files, "delete") else Nil) ++
              part(sn.files, "insert")
          case "merge" => part(sn.removed, "delete") ++ part(sn.delta, "insert")
          case "delete" => part(sn.removed, "delete")
          case _ => Nil // compact / rollback: rewrites, not data changes
        }
      }
      parts.reduceOption(_ unionByName _).getOrElse(
        emptyFrame(spark, schema).withColumn("_change_type", lit("insert")))
    }
  }

  /** Incremental read: rows ADDED between `fromV` (exclusive) and `toV`
    * (inclusive), walking the version CHAIN — each append/overwrite
    * contributes the files it introduced over its parent; `compact`
    * snapshots contribute NOTHING (a rewrite is not a data change —
    * endpoint-manifest diffing would replay the whole table to CDC
    * consumers after every compaction) and `rollback` republishes old
    * files, also nothing. `prune` as in `read`; an empty increment is an
    * empty DataFrame, not an error. */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
              prune: Seq[ColRange] = Nil): DataFrame =
    new ChangeRange(root, fromV, toV).adds(spark, prune)

  /** MERGE / upsert (Iceberg's copy-on-write MERGE): rows of `df` REPLACE
    * existing rows with equal `keyCols`, the rest append. Write
    * amplification is bounded by the manifest stats: only files whose
    * recorded key bounds intersect the incoming key envelope are rewritten
    * (the q99 pruning machinery as the merge planner) — every other live
    * file is carried forward UNTOUCHED, byte-for-byte. The incoming rows
    * land in their own attempt dir, recorded as the snapshot's `delta`, so
    * `changes()` streams exactly the upserted rows and none of the
    * survivor-rewrite carriers. Incoming keys must be unique (the upsert
    * contract); duplicate incoming keys are both kept, like an append. */
  def merge(spark: SparkSession, root: String, df: DataFrame,
            keyCols: Seq[String],
            txn: Option[(String, Long)] = None,
            cdc: Boolean = true,
            replaceAllPrune: Option[Seq[ColRange]] = None): Int = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // replaceAll skips the tombstone pre-image pass, so row-level CDC for
    // such a commit cannot be recorded — callers must opt out of CDC too
    require(replaceAllPrune.isEmpty || !cdc,
      "replaceAllPrune requires cdc = false (no pre-image pass runs)")
    val base = currentVersion(root)
    require(base >= 1, s"merge into an empty table at $root — commit first")
    transact(spark, root, base) { t =>
      val prev = t.prev.get
      requireCompatible(prev.schema, df.schema, base)
      // the delta lands first; BOTH the key envelope and the anti-join read
      // it back from its own files, so `df` is computed exactly once — the
      // previous pre-write envelope agg recomputed the caller's whole plan a
      // second time (for the incremental views: the entire old⊕new merge
      // join, measured ~40% of a refresh at sf0.1)
      val (deltaFiles, deltaStats) = t.write(df)
      // an EMPTY incoming batch (or all-null keys → no stats) must not
      // degrade to a full-table rewrite: zero delta rows replace nothing
      val deltaRows = deltaStats.valuesIterator.map(_.rows).sum
      // incoming key envelope from the delta's own per-file footer stats,
      // in the units every manifest bound uses. A key without bounds in a
      // delta file that holds rows (strings, NaN, all-null) contributes the
      // unbounded conjunct — planFiles then keeps more files, which is
      // conservative, never wrong.
      val ranges: Seq[ColRange] = keyCols.flatMap(k =>
        boundsOver(deltaStats.values, k).map { case (lo, hi) => ColRange(k, lo, hi) })
      // replaceAllPrune (the incremental views' refresh contract): the caller
      // read EXACTLY planFiles(base, p), merged every surviving row of those
      // files into `df` itself (full-outer combine), and commits the result as
      // the touched files' full replacement — no survivor-routing scan, so the
      // old rows are read ONCE per refresh (by the caller) instead of twice.
      // The touched set is recomputed here from the SAME prune against the
      // SAME base manifest (pruning is pure), so caller and merge can never
      // disagree on which files are replaced.
      val candidates =
        if (deltaRows == 0L) Nil
        else prunedFiles(prev, replaceAllPrune.getOrElse(ranges))
      // the distinct incoming keys, read back from the delta's own files
      // (`df` is computed once): the join side of the hit scan and the split
      def incomingKeys: DataFrame =
        (if (deltaFiles.nonEmpty)
           scan(spark, root, df.schema, deltaFiles)
         else df).select(keyCols.map(col): _*).distinct()
      // The file-level contract is unchanged: every candidate file (key-stats
      // envelope intersection) is REPLACED in this version — the documented
      // write-amplification bound that q103's twin pins. What the hit-scan
      // optimizes is the BYTES each replacement moves (guide §2.3 — decide
      // with small rows, move big rows once): ONE keys-only columnar pass
      // counts, per candidate file, its rows and how many match an incoming
      // key, then
      //   - 0 matches  → the "survivor rewrite" is a byte-identical file:
      //     hardlink/copy the original into the new attempt dir (stats carry
      //     over; no decode, no re-encode);
      //   - all match  → no survivors exist and the tombstone pre-image set
      //     IS the file: `removed` references the ORIGINAL (changesCdc reads
      //     it as the exact pre-images, expire's GC tracks `removed` refs);
      //   - partial    → the one-pass survivor/tombstone routing, as before,
      //     now over only the files that genuinely mix both.
      // A merge that replaces or misses whole files — the common shapes at
      // scale — thus decodes and re-encodes nothing. With replaceAllPrune
      // the delta replaces every candidate wholesale: no scan at all.
      val (zeroHit, fullHit, partial) =
        if (replaceAllPrune.isDefined) (Nil, Nil, Nil)
        else hitScan(spark, root, t.schema, candidates) { scan =>
          (scan.select((keyCols :+ "__f").map(col): _*)
             .join(incomingKeys.withColumn("__hit", lit(1)), keyCols, "left"),
           col("__hit").isNotNull)
        }
      val untouched = prev.files.filterNot(candidates.toSet)
      // byte-identical replacements for the match-free candidates
      val (copyFiles, copyStats) = t.copy(zeroHit)
      // ONE pass over the partially-hit files: a left join against the
      // (distinct, broadcastable) incoming keys routes each row to the
      // survivor rewrite (no key match) or the CDC tombstone pre-images
      // (key match, i.e. the rows this upsert replaces — recorded under
      // `removed`, outside the live list, so changesCdc streams deletes
      // without diffing row sets). Replaces an anti-join + semi-join
      // pair that scanned the touched set twice.
      val (survFiles, survStats, tombFiles) = t.split(partial, cdc) { old =>
        old.join(incomingKeys.withColumn("__hit", lit(1)), keyCols, "left")
          .withColumn("__kept", col("__hit").isNull)
          .drop("__hit")
      }
      val live = untouched ++ copyFiles ++ survFiles ++ deltaFiles
      val stats = prev.stats.filter { case (f, _) => !candidates.contains(f) } ++
        copyStats ++ survStats ++ deltaStats
      // fully-replaced originals become tombstones only when this commit
      // records CDC; with cdc = false they simply leave the live list (the
      // manifest's cdcOff flag already declares the history absent)
      val zeroCopyTombs = if (cdc) fullHit else Seq.empty[String]
      Snapshot(t.v, base, "merge", live.map(stats(_).rows).sum, live, stats,
        df.schema, delta = deltaFiles, removed = zeroCopyTombs ++ tombFiles,
        txn = txn, cdcOff = !cdc && candidates.nonEmpty)
    }
  }

  /** Row-level DELETE (copy-on-write): drop every row where `predicate` is
    * TRUE (null-valued predicates keep the row — SQL DELETE semantics).
    * Planning is two-stage: `prune` (caller-supplied stat ranges, as in
    * `read`) bounds the candidate files, then ONE scan finds which
    * candidates actually hold matching rows — only those are rewritten;
    * match-free candidates and non-candidates are carried forward
    * untouched. Contributes nothing to `changes()` (an adds stream). */
  def delete(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column,
             prune: Seq[ColRange] = Nil,
             cdc: Boolean = true): Int = {
    import org.apache.spark.sql.functions._
    val base = currentVersion(root)
    require(base >= 1, s"nothing to delete at $root")
    transact(spark, root, base) { t =>
      val prev = t.prev.get
      val candidates = prunedFiles(prev, prune)
      // ONE pass over the candidates counts, per file, its rows and its
      // predicate matches: match-free candidates carry forward untouched
      // (as before), and FULLY-matched files — every row deleted — need no
      // rewrite at all: the original file becomes the CDC tombstone
      // (`removed` references it directly; changesCdc reads it as the exact
      // pre-image set, expire's GC tracks `removed` references), so a
      // delete that drops whole files moves no payload bytes.
      val (_, fullyDeleted, touched) = hitScan(spark, root, t.schema, candidates)(
        scan => (scan, coalesce(predicate, lit(false))))
      val replaced = (touched ++ fullyDeleted).toSet
      val untouched = prev.files.filterNot(replaced)
      // ONE pass over the touched files: the predicate routes each row to
      // the survivor rewrite (false/null — SQL DELETE keeps null-valued
      // rows) or the CDC tombstone pre-images (true). Replaces a filter +
      // negated-filter pair that scanned twice.
      val (newFiles, newStats, tombFiles) = t.split(touched, cdc)(
        _.withColumn("__kept", not(coalesce(predicate, lit(false)))))
      val live = untouched ++ newFiles
      val stats = prev.stats.filter { case (f, _) => !replaced.contains(f) } ++ newStats
      // fully-matched originals become tombstones only when this commit
      // records CDC; with cdc = false they simply leave the live list
      val zeroCopyTombs = if (cdc) fullyDeleted else Seq.empty[String]
      Snapshot(t.v, base, "delete", live.map(stats(_).rows).sum, live, stats,
        prev.schema, removed = zeroCopyTombs ++ tombFiles, cdcOff = !cdc && replaced.nonEmpty)
    }
  }

  /** Full CDC stream over (fromV, toV]: every row change with a
    * `_change_type` column — 'insert' for appended/upserted rows, 'delete'
    * for rows a DELETE removed or a MERGE replaced (the pre-images, from
    * the manifest's tombstone files — written in the same touched-file
    * pass, so no row-set diffing ever runs) or an OVERWRITE dropped (the
    * parent's live files, read lazily). Updates appear as the standard
    * delete(pre-image) + insert(post-image) pair keyed by the caller.
    * compact/rollback contribute nothing. The adds-only [[changes]]
    * remains the cheap path when deletes don't matter. */
  def changesCdc(spark: SparkSession, root: String, fromV: Int,
                 toV: Int): DataFrame =
    new ChangeRange(root, fromV, toV).cdc(spark)

  /** Roll the table back to `toV` as a NEW snapshot (history stays intact,
    * like Iceberg's rollback: the old file list is re-published). */
  def rollback(spark: SparkSession, root: String, toV: Int): Int = {
    val target = snapshot(root, toV)
    // markers carry from the CURRENT version (the transaction's base), not
    // the rollback target: rollback discards data, not stream-idempotence
    // history (Delta RESTORE's latest-wins txn semantics) — a replayed
    // epoch whose rows were rolled back stays skipped; re-ingesting it is
    // an explicit re-run with a fresh checkpoint, never an accidental replay
    transact(spark, root, currentVersion(root)) { t =>
      Snapshot(t.v, t.base, "rollback", target.rows, target.files, target.stats,
        target.schema)
    }
  }

  /** Compaction — Iceberg's `rewrite_data_files`: rewrite the CURRENT
    * snapshot's rows into `targetFiles` larger files and commit the result
    * as a new snapshot (op = "compact", same row count, fresh stats). Old
    * versions keep reading their old files until `expire` reclaims them —
    * the small-files problem is the first maintenance job any snapshot
    * catalog needs at 100 TB ingest rates. */
  def compact(spark: SparkSession, root: String, targetFiles: Int = 1,
              sortCols: Seq[String] = Nil): Int = rewriteCurrent(spark, root) { cur =>
    // sort-ordered rewrite (Iceberg's sort `rewrite_data_files` strategy):
    // range-partition on the sort key then sort within partitions, so the
    // rewritten files hold DISJOINT key ranges and the fresh manifest
    // stats are tight — planFiles on a key range then plans ~1 file
    // instead of every file (a hash repartition smears each key range
    // across all files, making the per-file [min, max] span the table)
    if (sortCols.isEmpty) cur.repartition(targetFiles)
    else {
      import org.apache.spark.sql.functions.col
      val keys = sortCols.map(col)
      cur.repartitionByRange(targetFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
    }
  }

  /** Both compactions' commit: `arrange` the current rows, write them as
    * one attempt, publish as op "compact" (fresh stats). */
  private def rewriteCurrent(spark: SparkSession, root: String)(
      arrange: DataFrame => DataFrame): Int = {
    val base = currentVersion(root)
    require(base >= 1, s"nothing to compact at $root")
    transact(spark, root, base) { t =>
      val cur = read(spark, root, asOf = base)
      val (files, stats) = t.write(arrange(cur))
      Snapshot(t.v, base, "compact", stats.valuesIterator.map(_.rows).sum, files, stats,
        cur.schema)
    }
  }

  /** Z-ORDER compaction (Delta's OPTIMIZE ZORDER BY / Iceberg's z-order
    * `rewrite_data_files`): rewrite the current rows ordered by the
    * bit-interleaving of 2 or 3 quantized key columns, so every rewritten
    * file covers a compact HYPER-RECTANGLE-ish region of the key space and
    * carries tight manifest bounds on EVERY key — `planFiles` with a
    * conjunct on ANY of the keys prunes ~√(selectivity) of the files,
    * where a 1-D sort's stripes prune only on the leading key (a trailing-
    * key-only predicate plans every file). The curve key is built from
    * min/max-normalized 21-bit ranks spread with the classic magic-number
    * shift chains — plain Column bit ops, fully codegen'd, and dropped
    * before the write (order survives the projection). */
  def compactZOrder(spark: SparkSession, root: String, targetFiles: Int,
                    zCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    require(zCols.size == 2 || zCols.size == 3,
      s"z-order interleaves 2 or 3 columns, got ${zCols.size}")
    rewriteCurrent(spark, root) { cur =>
      val bits = 21 // 2×21 or 3×21 ≤ 63 bits
      // per-column [min, max] over the table: one bounded agg (2k doubles)
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val mm = cur.agg(aggs.head, aggs.tail: _*).head()
      val zkey = zCols.zipWithIndex.map { case (c, i) =>
        val lo = mm.getDouble(2 * i); val hi = mm.getDouble(2 * i + 1)
        val span = if (hi > lo) hi - lo else 1.0
        val rank = ((col(c).cast("double") - lit(lo)) / lit(span) *
          lit(((1L << bits) - 1).toDouble)).cast("long")
        shiftleft(spreadBits(rank, zCols.size), i)
      }.reduce(_.bitwiseOR(_))
      cur.withColumn("__z", zkey)
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }
  }

  /** Space the low 21 bits of `x` `stride` apart (Morton spread) with the
    * standard mask chains — stride 2: …F0F/…333/…555; stride 3 the 3-D
    * chain. Pure Column arithmetic so the whole z-key stays inside
    * whole-stage codegen. */
  private def spreadBits(x: org.apache.spark.sql.Column,
                         stride: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def step(c: org.apache.spark.sql.Column, sh: Int, mask: Long) =
      c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(mask))
    val masked = x.bitwiseAND(lit(0x1fffffL))
    if (stride == 2) {
      val a = step(masked, 16, 0x0000FFFF0000FFFFL)
      val b = step(a, 8, 0x00FF00FF00FF00FFL)
      val c = step(b, 4, 0x0F0F0F0F0F0F0F0FL)
      val d = step(c, 2, 0x3333333333333333L)
      step(d, 1, 0x5555555555555555L)
    } else {
      val a = step(masked, 32, 0x1f00000000ffffL)
      val b = step(a, 16, 0x1f0000ff0000ffL)
      val c = step(b, 8, 0x100f00f00f00f00fL)
      val d = step(c, 4, 0x10c30c30c30c30c3L)
      step(d, 2, 0x1249249249249249L)
    }
  }

  /** Snapshot expiry + orphan GC — Iceberg's `expire_snapshots` +
    * `remove_orphan_files`: drop every version older than the newest
    * `keepLast`, then delete (a) data attempt-dirs referenced by NO
    * retained manifest whose version is ≤ current — the orphaned dirs of
    * committers that crashed before publishing or before [[transact]]
    * could delete a lost attempt; dirs at versions > current belong to
    * in-flight commits that would win and are never touched — and
    * (b) the `.v<N>.json.<uuid>.tmp` residue of crashed publishes for
    * versions < the retention window (never by an exists() probe: a tmp at
    * or above the window may belong to an in-flight [[publish]]). Time
    * travel to an expired version becomes an error by design. Returns
    * (versionsDropped, dataDirsDeleted). */
  def expire(root: String, keepLast: Int = 3): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val cur = currentVersion(root)
    if (cur == 0) return (0, 0)
    val keepFrom = math.max(1, cur - keepLast + 1)
    // a prior expire with a smaller keepLast may already have removed
    // manifests inside this window — retain what actually exists
    val retained = (keepFrom to cur)
      .filter(hasSnapshot(root, _))
      .map(snapshot(root, _))
    val liveDirs = retained.flatMap(sn => sn.files ++ sn.removed)
      .map(f => f.split("/")(1)).toSet // "data/<attempt>/<file>" → attempt
    // drop expired manifests and the publish tmp residue below the window
    val man = "v(\\d+)\\.json".r
    val tmp = "\\.v(\\d+)\\.json\\.[0-9a-f-]+\\.tmp".r
    var dropped = 0
    listNames(metaDir(root)).foreach {
      case n @ man(d) if d.toInt < keepFrom =>
        Files.delete(metaDir(root).resolve(n)); dropped += 1
      case n @ tmp(d) if d.toInt < keepFrom =>
        Files.deleteIfExists(metaDir(root).resolve(n))
      case _ =>
    }
    // GC attempt dirs no retained manifest references — but ONLY versions
    // ≤ cur: a dir at version > cur belongs to an in-flight commit that
    // would WIN its publish (deleting it would corrupt the winner), while
    // an unreferenced dir at ≤ cur can only belong to a definite LOSER
    // (its version is already taken, its publish must throw)
    val dataRoot = Paths.get(root, "data")
    var gcd = 0
    if (Files.isDirectory(dataRoot)) listNames(dataRoot).foreach { d =>
      val dv = "^s(\\d+)-".r.findFirstMatchIn(d).map(_.group(1).toInt)
      if (!liveDirs(d) && dv.exists(_ <= cur)) {
        deleteRecursively(dataRoot.resolve(d).toString); gcd += 1
      }
    }
    (dropped, gcd)
  }

  def deleteRecursively(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }
}
