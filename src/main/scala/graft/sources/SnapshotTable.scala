package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * A snapshot manifest lists EVERY live file (not a delta), so a read plans
  * one parquet scan over an explicit file list — no directory listing on the
  * hot path, the property that matters on object stores at 100 TB. Commits
  * are optimistic: the writer materializes data files, then publishes
  * `meta/v<N>.json` with a create-exclusive move — a concurrent committer of
  * the same N loses with `ConcurrentCommitException` and must retry on top
  * of the new state (Iceberg's CAS-on-metadata-pointer model; a cluster
  * deployment swaps the filesystem move for the catalog's CAS). */
object SnapshotTable {
  final class ConcurrentCommitException(v: Int)
    extends RuntimeException(s"snapshot v$v was committed concurrently")

  /** Per-file pruning stats recorded at commit: row count + [min, max] per
    * numeric/timestamp column (Iceberg's manifest column stats — the
    * split-planning half of the spec; the reference analog is the OGR
    * `SetSpatialFilter` scan pushdown, geolib.py:663). Bounds are doubles;
    * values whose source type can exceed double precision (BIGINT,
    * DECIMAL, epoch-micro timestamps ≥ 2^53) are converted with DIRECTED
    * rounding — lo toward −∞, hi toward +∞ — so the recorded interval
    * always CONTAINS the true one and pruning stays conservative (a
    * nearest-rounding cast can shrink the interval and silently drop a
    * file holding matching rows; hash-like int64 ids are realistic). */
  final case class FileStats(rows: Long, cols: Map[String, (Double, Double)])

  final case class Snapshot(version: Int, parent: Int, op: String,
                            rows: Long, files: Seq[String],
                            stats: Map[String, FileStats] = Map.empty,
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            delta: Seq[String] = Nil,
                            tsMs: Long = 0L,
                            removed: Seq[String] = Nil,
                            txn: Option[(String, Long)] = None,
                            txns: Option[Map[String, Long]] = None,
                            cdcOff: Boolean = false)

  /** A conjunct for scan planning: keep files whose [min, max] for `colName`
    * intersects [lo, hi]. Files lacking stats for the column are kept
    * (conservative — pruning must never change results). Units: timestamp
    * and timestamp_ntz columns record bounds in epoch MICROSECONDS (NTZ
    * pinned as-if-UTC), so callers must construct [lo, hi] in micros. */
  final case class ColRange(colName: String, lo: Double, hi: Double)

  /** [[ColRange]] from exact Long bounds with DIRECTED rounding (lo toward
    * −∞, hi toward +∞) — a plain `.toDouble` nearest-rounds and can shrink
    * the interval by ½ ulp above 2⁵³, silently pruning a matching file in
    * any consumer that lacks planFiles' comparison-time widening. */
  def colRangeLong(colName: String, lo: Long, hi: Long): ColRange =
    ColRange(colName, dirDouble(lo, up = false), dirDouble(hi, up = true))

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

  def snapshot(root: String, version: Int): Snapshot = {
    import org.json4s._
    val txt = Files.readString(metaDir(root).resolve(s"v$version.json"))
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    def num(k: String): Long = (j \ k) match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case _ => throw new IllegalStateException(s"manifest v$version lacks $k")
    }
    val op = (j \ "op") match {
      case JString(s) => s
      case _ => throw new IllegalStateException(s"manifest v$version lacks op")
    }
    val files = (j \ "files") match {
      case JArray(fs) => fs.collect { case JString(f) => f }
      case _ => Nil
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
          val rows = (fj \ "rows") match {
            case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L
          }
          val cols = (fj \ "cols") match {
            // bounds are loaded VERBATIM — the one-ulp outward widening for
            // legacy (nearest-rounded) manifests is applied at COMPARISON
            // time in planFiles, not here: widening on load would be
            // re-serialized for carried-forward files by every
            // commit/merge/delete and drift the persisted bounds one ulp
            // outward per commit, blurring the directed-rounded invariant
            case JObject(cf) => cf.collect {
              case (c, JArray(List(lo, hi))) => c -> (dbl(lo), dbl(hi))
            }.toMap.filter { case (_, (lo, hi)) => !lo.isNaN && !hi.isNaN }
            case _ => Map.empty[String, (Double, Double)]
          }
          file -> FileStats(rows, cols)
      }.toMap
      case _ => Map.empty[String, FileStats]
    }
    val delta = (j \ "delta") match {
      case JArray(fs) => fs.collect { case JString(f) => f }
      case _ => Nil
    }
    val tsMs = (j \ "ts_ms") match {
      case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L
    }
    val removed = (j \ "removed") match {
      case JArray(fs) => fs.collect { case JString(f) => f }
      case _ => Nil
    }
    val schema = (j \ "schema") match {
      case JNothing => None
      case sj =>
        val txt = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(sj))
        org.apache.spark.sql.types.DataType.fromJson(txt) match {
          case st: org.apache.spark.sql.types.StructType => Some(st)
          case _ => None
        }
    }
    val txn = ((j \ "txn_id"), (j \ "txn_epoch")) match {
      case (JString(id), JInt(e)) => Some(id -> e.toLong)
      case (JString(id), JLong(e)) => Some(id -> e)
      case _ => None
    }
    // merged idempotence markers (Delta's setTransactions): None = legacy
    // manifest written before the carry-forward — readers fall back to the
    // chain walk ONCE and the next commit upgrades the chain to O(1)
    val txns = (j \ "txns") match {
      case JObject(fs) => Some(fs.collect {
        case (id, JInt(e)) => id -> e.toLong
        case (id, JLong(e)) => id -> e
      }.toMap)
      case _ => None
    }
    val cdcOff = (j \ "cdc_off") match {
      case JBool(b) => b
      case _ => false
    }
    Snapshot(num("version").toInt, num("parent").toInt, op, num("rows"),
             files, stats, schema, delta, tsMs, removed, txn, txns, cdcOff)
  }

  /** Schema compatibility gate for append-family commits: the commit schema
    * must carry exactly the parent's (name → type) map — a same-name TYPE
    * drift or an added/dropped column would make the live file set
    * footer-inconsistent (plain parquet reads take ONE footer's schema, so
    * drift reads differently depending on which file plans first — silent).
    * Widening the table shape goes through `overwrite` (full rewrite, new
    * schema) by design. */
  private def requireCompatible(parent: Option[org.apache.spark.sql.types.StructType],
                                next: org.apache.spark.sql.types.StructType,
                                v: Int): Unit = parent.foreach { p =>
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
    val v = base + 1
    // data dir is unique PER ATTEMPT, not per version: two racers of the
    // same v must not clobber each other's files before the manifest CAS
    // resolves — the loser's orphaned directory is unreferenced garbage
    // (cleaned by maintenance), never a dangling reference in the winner's
    // manifest (Iceberg's uuid-named data files, same reasoning)
    val prev = if (op == "overwrite" || base == 0) None else Some(snapshot(root, base))
    prev.foreach(p => requireCompatible(p.schema, df.schema, base))
    val (newFiles, newStats) = writeAttempt(spark, root, v, df)
    val live = prev.map(_.files).getOrElse(Nil) ++ newFiles
    val rows = prev.map(_.rows).getOrElse(0L) + newStats.valuesIterator.map(_.rows).sum
    val stats = prev.map(_.stats).getOrElse(Map.empty) ++ newStats
    // overwrite replaces DATA, not stream-idempotence history: markers
    // carry through so a replayed epoch stays a no-op after a reshape
    val ptxns = prev.fold(carriedTxns(root, base))(mergedTxns(root, _))
    publish(root, v, manifestJson(v, base, op, rows, live, stats, df.schema,
                                  txn = txn, txns = ptxns ++ txn))
    v
  }

  /** The full (streamId → latest epoch) marker map as of snapshot `sn` —
    * the carried-forward `txns` field when present; for a legacy chain
    * (pre-carry-forward manifests) reconstructed by walking the retained
    * manifests oldest→newest (later epochs win). The walk result is
    * MEMOIZED per (root, version): a published manifest is immutable, so
    * the reconstruction can never go stale — without the cache a read-only
    * check loop against a legacy table (no commit ever follows to persist
    * the map) pays O(versions) manifest parses per lastCommittedEpoch call.
    * The cache holds entries only for pre-upgrade manifests and is
    * size-capped as a leak guard (JVM-lifetime process, many temp tables). */
  private val legacyTxnsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Map[String, Long]]()

  private def mergedTxns(root: String, sn: Snapshot): Map[String, Long] =
    sn.txns.getOrElse {
      if (legacyTxnsCache.size > 4096) legacyTxnsCache.clear()
      legacyTxnsCache.computeIfAbsent((root, sn.version), _ =>
        (1 to sn.version).foldLeft(Map.empty[String, Long]) { (m, v) =>
          if (!Files.exists(metaDir(root).resolve(s"v$v.json"))) m
          else m ++ snapshot(root, v).txn
        })
    }

  /** [[mergedTxns]] for a version number, empty below v1. */
  private def carriedTxns(root: String, base: Int): Map[String, Long] =
    if (base < 1) Map.empty else mergedTxns(root, snapshot(root, base))

  /** Latest committed epoch for an idempotent-writer id (Delta's
    * txnAppId/txnVersion pattern), or -1 if none. O(1): every commit
    * carries the MERGED (streamId → epoch) map forward in its manifest
    * (Delta's setTransactions-in-checkpoint), so one manifest read answers
    * the question — a per-micro-batch chain walk would be O(versions) reads
    * each of which hauls the full per-file stats block, i.e. O(V²) metadata
    * I/O over a stream's life at one-commit-per-epoch rates. Markers
    * survive `compact`/`rollback`/`expire` with the carry (an expired
    * history no longer forces a re-ingest). Legacy chains (manifests
    * without the map) fall back to the one-time reconstruction walk. */
  def lastCommittedEpoch(root: String, streamId: String): Long = {
    val cur = currentVersion(root)
    if (cur < 1) return -1L
    mergedTxns(root, snapshot(root, cur)).getOrElse(streamId, -1L)
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

  /** Write `df` into a fresh attempt dir for version `v` and return its
    * (relative file list, per-file stats — ONE pass, O(new data); the
    * parent's stats are carried forward as manifest text by the caller).
    * Shared by commitFrom and compact so the write/list/stats sequence
    * cannot diverge. */
  private def writeAttempt(spark: SparkSession, root: String, v: Int,
                           df: DataFrame): (Seq[String], Map[String, FileStats]) = {
    val attempt = newAttempt(v)
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/data/$attempt")
    val newFiles = attemptFiles(root, s"data/$attempt")
    (newFiles, computeStats(spark, root, newFiles))
  }

  /** Fresh attempt-dir name for version `v` (see [[commitFrom]]). */
  private def newAttempt(v: Int): String =
    s"s$v-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Root-relative paths of the part files under root-relative `dir`. */
  private def attemptFiles(root: String, dir: String): Seq[String] =
    ParquetFiles.partFiles(s"$root/$dir").map(f => s"$dir/${f.getName}")

  /** Single-pass copy-on-write split for merge/delete: one scan of the
    * touched files writes BOTH the survivor rewrite and the CDC tombstone
    * pre-images, routed by the boolean `keptCol` through a
    * `partitionBy` dynamic write (kept=true → survivors, kept=false →
    * tombstones) — the touched data is read ONCE per commit, where an
    * anti-join + semi-join pair read it twice. `partitionBy` drops the
    * routing column from the data files, so both halves keep the exact
    * table schema. Stats run over the SURVIVOR files only: tombstones
    * live under `removed`, never in the live list, so their stats would
    * be computed and thrown away (one wasted scan per merge/delete). */
  private def writeSplit(spark: SparkSession, root: String, v: Int,
                         df: DataFrame, keptCol: String)
      : (Seq[String], Map[String, FileStats], Seq[String]) = {
    val attempt = newAttempt(v)
    df.write.mode(SaveMode.Overwrite).partitionBy(keptCol)
      .parquet(s"$root/data/$attempt")
    val survivors = attemptFiles(root, s"data/$attempt/$keptCol=true")
    val tombstones = attemptFiles(root, s"data/$attempt/$keptCol=false")
    (survivors, computeStats(spark, root, survivors), tombstones)
  }

  /** Column expression whose min/max are the manifest-stat bounds for a
    * field: epoch MICROS for timestamps (NTZ pinned as-if-UTC), the NATIVE
    * value for long/decimal (directed-rounded on the driver), a double cast
    * otherwise. Shared by commit-time stats and merge's key-envelope agg so
    * the two sides of the pruning comparison can never diverge in units. */
  private def statExpr(f: org.apache.spark.sql.types.StructField,
                       sessionTz: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    f.dataType match {
      case TimestampType => unix_micros(col(f.name))
      case TimestampNTZType =>
        unix_micros(to_utc_timestamp(col(f.name).cast("timestamp"), sessionTz))
      case LongType | _: DecimalType => col(f.name) // native: see dirDouble
      case _ => col(f.name).cast("double")
    }
  }

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

  /** Manifest stats for freshly-written files: per-file row count + min/max
    * of every numeric / timestamp column (timestamps as epoch MICROS).
    * Fast path ([[footerStats]], guide §6 — stats from metadata, not data):
    * the parquet FOOTERS the write just produced already carry exact
    * per-column min/max and row counts, readable on the driver with zero
    * Spark jobs; used whenever every tracked column's footer statistics are
    * provably bit-identical to the scan aggregation's (plain signed
    * int32/int64, float/double, int64 micro timestamps). Anything else
    * (INT96 timestamps, decimals, unsigned ints) falls back to the one-pass
    * [[scanStats]] so recorded bounds never change meaning. */
  private def computeStats(spark: SparkSession, root: String,
                           files: Seq[String]): Map[String, FileStats] = {
    if (files.isEmpty) return Map.empty
    footerStats(spark, root, files).getOrElse(scanStats(spark, root, files))
  }

  /** Driver-side footer read for [[computeStats]]. Returns None when any
    * column the scan path would track cannot be replicated exactly from
    * footer statistics — the caller then runs the scan; bounds in the two
    * paths are otherwise identical (per-file directed rounding is monotone,
    * so per-file mins/maxes compose to the same global envelope the agg
    * computed; parquet's ±0.0 widening compares identically in planFiles).
    * Float/double stats carrying NaN drop that column for the file — the
    * same "no usable bound, keep the file" outcome the scan's NaN bounds
    * produce through the manifest's NaN filter. */
  private def footerStats(spark: SparkSession, root: String,
                          files: Seq[String]): Option[Map[String, FileStats]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val out = Map.newBuilder[String, FileStats]
    for (f <- files) {
      val md = ParquetFiles.footer(s"$root/$f", conf)
      val msg = md.getFileMetaData.getSchema
      // classify top-level fields: Some(name) = track, None = skip; a
      // tracked-but-unreplicable type aborts the whole fast path
      val tracked: Seq[String] = msg.getFields.asScala.toSeq.flatMap { t =>
        if (!t.isPrimitive) None // arrays/structs: scan skips them too
        else {
          val pt = t.asPrimitiveType().getPrimitiveTypeName
          val ann = t.getLogicalTypeAnnotation
          pt match {
            case PrimitiveTypeName.BOOLEAN => None
            case PrimitiveTypeName.BINARY |
                 PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => ann match {
              case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                return None // decimal: scan tracks natively — fall back
              case _ => None // strings/uuids: scan skips
            }
            case PrimitiveTypeName.INT96 => return None // legacy ts: fall back
            case PrimitiveTypeName.INT32 => ann match {
              case null => Some(t.getName)
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.isSigned => Some(t.getName)
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                None // DateType: scan skips it
              case _ => return None
            }
            case PrimitiveTypeName.INT64 => ann match {
              case null => Some(t.getName)
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.isSigned => Some(t.getName)
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                // LTZ: instant micros == unix_micros; NTZ: wall micros ==
                // the as-if-UTC pin — both equal the scan's statExpr
                Some(t.getName)
              case _ => return None
            }
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
              Some(t.getName)
          }
        }
      }
      var rows = 0L
      val lo = scala.collection.mutable.Map.empty[String, Double]
      val hi = scala.collection.mutable.Map.empty[String, Double]
      val dropped = scala.collection.mutable.Set.empty[String] // NaN bounds
      for (b <- md.getBlocks.asScala) {
        rows += b.getRowCount
        for (cc <- b.getColumns.asScala if cc.getPath.size == 1) {
          val name = cc.getPath.toDotString
          if (tracked.contains(name)) {
            val st = cc.getStatistics
            if (st == null) return None // stats absent: fall back
            if (!st.hasNonNullValue) {
              // all-null chunk contributes nothing; an unset-stats chunk
              // with values present cannot be distinguished from it safely
              // unless null counts are recorded — fall back in that case
              if (!st.isNumNullsSet || st.getNumNulls != cc.getValueCount)
                return None
            } else {
              val bLo = dirDouble(st.genericGetMin, up = false)
              val bHi = dirDouble(st.genericGetMax, up = true)
              if (bLo.isNaN || bHi.isNaN) dropped += name
              else {
                lo.updateWith(name)(o => Some(o.fold(bLo)(math.min(_, bLo))))
                hi.updateWith(name)(o => Some(o.fold(bHi)(math.max(_, bHi))))
              }
            }
          }
        }
      }
      dropped.foreach { n => lo.remove(n); hi.remove(n) }
      out += f -> FileStats(rows,
        lo.keys.map(n => n -> (lo(n), hi(n))).toMap)
    }
    Some(out.result())
  }

  /** One scan over `files`: per-file row count + min/max of every numeric /
    * timestamp column (timestamps as epoch MICROS). min/max run in the
    * column's NATIVE type (long for BIGINT/timestamps, decimal for
    * DECIMAL); the lossy narrowing to the manifest's double bounds happens
    * once on the driver via [[dirDouble]], outward. */
  private def scanStats(spark: SparkSession, root: String,
                        files: Seq[String]): Map[String, FileStats] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (files.isEmpty) return Map.empty
    val df = spark.read.parquet(files.map(f => s"$root/$f"): _*)
    // timestamps are recorded as epoch MICROS; NTZ wall-clocks are pinned
    // AS-IF-UTC regardless of the committing session's timezone (cast to
    // LTZ interprets the wall in the session tz, to_utc_timestamp undoes
    // exactly that offset) — otherwise a non-UTC committer writes shifted
    // bounds and a reader's pruning can silently drop matching files
    val sessionTz = spark.conf.get("spark.sql.session.timeZone")
    def statExpr(f: StructField) = SnapshotTable.statExpr(f, sessionTz)
    val statFields = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[NumericType] ||
      f.dataType == TimestampType || f.dataType == TimestampNTZType).toSeq
    val statCols = statFields.map(_.name)
    val aggs = count(lit(1)).as("__n") +:
      statFields.flatMap(f => Seq(min(statExpr(f)).as(s"__lo_${f.name}"),
                                  max(statExpr(f)).as(s"__hi_${f.name}")))
    val byFile = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val resolve = fileResolver(root, files)
    byFile.map { r =>
      val rel = resolve(r.getString(0))
      val cols = statCols.zipWithIndex.flatMap { case (c, i) =>
        val lo = r.get(2 * i + 2); val hi = r.get(2 * i + 3)
        if (lo == null || hi == null) None
        else Some(c -> (dirDouble(lo, up = false), dirDouble(hi, up = true)))
      }.toMap
      rel -> FileStats(r.getLong(1), cols)
    }.toMap
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
    * yields, per file, (rows, rows where the hit column is true), grouped
    * on `input_file_name()`. `hits` receives the scan with the file name
    * captured in `__f` (before any join — input_file_name is
    * single-source) and returns the frame to count and its hit column.
    * Files with no rows get no entry. */
  private def hitScan(root: String, reader: org.apache.spark.sql.DataFrameReader,
                      files: Seq[String])(
      hits: DataFrame => (DataFrame, org.apache.spark.sql.Column))
      : Map[String, (Long, Long)] = {
    import org.apache.spark.sql.functions._
    val (scan, hit) = hits(reader.parquet(files.map(f => s"$root/$f"): _*)
      .withColumn("__f", input_file_name()))
    val resolve = fileResolver(root, files)
    scan.groupBy(col("__f"))
      .agg(count(lit(1)), count(when(hit, 1)))
      .collect()
      .map(r => resolve(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  private def manifestJson(v: Int, parent: Int, op: String, rows: Long,
                           files: Seq[String], stats: Map[String, FileStats],
                           schema: org.apache.spark.sql.types.StructType,
                           delta: Seq[String] = Nil,
                           removed: Seq[String] = Nil,
                           txn: Option[(String, Long)] = None,
                           txns: Map[String, Long] = Map.empty,
                           cdcOff: Boolean = false): String = {
    // every string is escaped: stream ids embed caller paths (e.g.
    // "statsview:/tmp/…"), and one id with a quote would otherwise corrupt
    // every later manifest (the merged txns map carries forward forever)
    import graft.Json.{str => js}
    def jd(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    val statsJson = files.filter(stats.contains).map { f =>
      val fs = stats(f)
      val cols = fs.cols.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"${js(c)}: [${jd(lo)}, ${jd(hi)}]" }
        .mkString(", ")
      s"${js(f)}: {\"rows\": ${fs.rows}, \"cols\": {$cols}}"
    }.mkString(", ")
    val txnJson = txn.fold("") { case (id, e) =>
      s"""\n       | "txn_id": ${js(id)}, "txn_epoch": $e,""".stripMargin
    }
    // the MERGED marker map is always emitted (even empty): its presence is
    // what tells lastCommittedEpoch this manifest supports the O(1) lookup
    val txnsJson = "\n \"txns\": {" +
      txns.toSeq.sortBy(_._1).map { case (id, e) => s"${js(id)}: $e" }
        .mkString(", ") + "}," +
      (if (cdcOff) "\n \"cdc_off\": true," else "")
    s"""{"version": $v, "parent": $parent, "op": "$op", "rows": $rows,$txnJson$txnsJson
       | "files": [${files.map(js).mkString(", ")}],
       | "stats": {$statsJson},
       | "delta": [${delta.map(js).mkString(", ")}],
       | "removed": [${removed.map(js).mkString(", ")}],
       | "ts_ms": ${System.currentTimeMillis()},
       | "schema": ${schema.json}}""".stripMargin
  }

  /** Lease window for abandoned publish claims: a claim older than this
    * with no matching manifest is treated as a CRASHED fallback publish and
    * may be broken by a later committer (or deleted by maintenance). Must
    * exceed any plausible write-claim→move gap — the gap holds no data
    * write, only two metadata ops, so minutes is conservative.
    * `private[sources] var` so tests can shrink the lease. */
  @volatile private[sources] var claimGraceMs: Long = 15L * 60 * 1000
  /** Test hook: route publish through the no-hardlink fallback. */
  @volatile private[sources] var forceFallbackPublish: Boolean = false

  private def claimIsStale(claim: Path): Boolean =
    try {
      val age = System.currentTimeMillis() -
        Files.getLastModifiedTime(claim).toMillis
      age > claimGraceMs
    } catch { case _: java.nio.file.NoSuchFileException => true }

  private def tryCreateNew(p: Path, content: Array[Byte] = Array.emptyByteArray): Boolean =
    try {
      Files.write(p, content,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Break an expired claim lease, serialized through a create-exclusive
    * BREAKER lock so two breakers can never both delete-and-reclaim (a
    * naive delete+recreate is a TOCTOU: breaker B could delete breaker A's
    * FRESH claim and both would publish — POSIX rename replaces, so the
    * second move silently overwrites the first manifest and a committer
    * that returned success loses its rows). Holding the breaker, the claim
    * is re-checked and deleted; the breaker is removed afterwards. A crash
    * INSIDE this window leaves a breaker file that blocks further
    * auto-breaks (fail-safe: the table waits for maintenance — expire
    * sweeps lease-expired breakers — rather than risking a double
    * publish). Before deleting the claim, its owner token is recorded in a
    * FENCE file (`v<N>.json.fence.<token>`): a broken claimant that was
    * merely PAUSED (not crashed) re-reads its claim before moving and
    * checks its fence after moving, so a break can never silently orphan
    * a resumed mover — see [[publish]]. Returns true iff this caller
    * broke the lease and may try to re-claim. */
  private def breakStaleClaim(root: String, v: Int): Boolean = {
    val claim = metaDir(root).resolve(s"v$v.json.claim")
    val breaker = metaDir(root).resolve(s"v$v.json.breaker")
    if (!tryCreateNew(breaker)) return false // another breaker is live (or crashed: maintenance)
    try {
      if (claimIsStale(claim)) {
        val token = try Files.readString(claim).trim
                    catch { case _: java.io.IOException => "" }
        if (token.nonEmpty)
          tryCreateNew(metaDir(root).resolve(s"v$v.json.fence.$token"))
        Files.deleteIfExists(claim); true
      }
      else false
    } finally Files.deleteIfExists(breaker)
  }

  /** Publish a snapshot manifest create-exclusively — this IS the
    * optimistic-concurrency gate: a racing committer of the same version
    * finds the target name taken and loses cleanly. NOT a rename: POSIX
    * rename() silently REPLACES an existing target (ATOMIC_MOVE included),
    * so the atomic claim is a hard link, which fails with
    * FileAlreadyExistsException when the version is taken. */
  private[sources] def publish(root: String, v: Int, json: String): Unit = {
    val target = metaDir(root).resolve(s"v$v.json")
    val tmp = metaDir(root).resolve(s".v$v.json.tmp")
    Files.createDirectories(metaDir(root))
    Files.writeString(tmp, json)
    try {
      if (forceFallbackPublish) throw new UnsupportedOperationException("test hook")
      Files.createLink(target, tmp)
    }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(v)
      case _: UnsupportedOperationException =>
        // filesystems without hard links (some network/object-store mounts):
        // two-phase fallback — (1) a create-exclusive CLAIM file serializes
        // writers of this version, (2) ATOMIC_MOVE publishes the complete
        // manifest, so readers NEVER observe partial JSON (a raw CREATE_NEW
        // write of the target would expose truncated content mid-write and
        // a crash would brick the version). A crash between claim and move
        // leaves an orphan claim at v = cur+1 that every later committer of
        // the table recomputes — without recovery the table is permanently
        // unwritable (expire's version rule only reaches claims BELOW the
        // retention window). Recovery is lease-based: a claim older than
        // `claimGraceMs` with no published manifest is a definite crash
        // (the claim→move gap holds no long operation) and is broken ONCE;
        // a fresh claim still loses cleanly to the in-flight owner.
        // claims carry an owner TOKEN so a break is fenced, not silent:
        // (1) the claim file's content identifies its owner; (2) a breaker
        // records that token in a fence file BEFORE deleting the claim;
        // (3) the owner re-reads its claim immediately before moving — a
        // broken-and-reclaimed claim has a different token and the paused
        // owner loses loudly instead of replacing the new winner's
        // manifest (POSIX rename replaces); (4) after the move the owner
        // checks for its own fence — if present, the break raced the move
        // itself and the clobber is DETECTED (loud error naming the lost
        // version) rather than a silent lost commit. The residual window
        // is the single move syscall; a pause longer than claimGraceMs
        // between two adjacent metadata ops is required to reach it.
        val token = java.util.UUID.randomUUID().toString
        val claim = metaDir(root).resolve(s"v$v.json.claim")
        val fence = metaDir(root).resolve(s"v$v.json.fence.$token")
        val tokenBytes = token.getBytes("UTF-8")
        val claimed = tryCreateNew(claim, tokenBytes) || {
          (!Files.exists(target) && claimIsStale(claim) &&
            breakStaleClaim(root, v)) && tryCreateNew(claim, tokenBytes)
        }
        if (!claimed) throw new ConcurrentCommitException(v)
        if (Files.exists(target)) throw new ConcurrentCommitException(v)
        val owned = try Files.readString(claim).trim == token
                    catch { case _: java.io.IOException => false }
        if (!owned) throw new ConcurrentCommitException(v)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(fence)) {
          Files.deleteIfExists(fence)
          throw new IllegalStateException(
            s"snapshot v$v: this publish's claim was lease-broken during " +
              "the move; the manifest may have replaced a concurrently " +
              "committed one — manual reconciliation required (republish " +
              "from the surviving attempt dirs)")
        }
    }
    finally Files.deleteIfExists(tmp)
  }

  /** Plan the file list for a read: the snapshot's live files, minus every
    * file whose recorded [min, max] proves no row can satisfy ALL `prune`
    * conjuncts. Files without stats for a referenced column are kept —
    * pruning is an optimization, never a semantic filter. Exposed so tests
    * (and operators) can assert the planned list. */
  def planFiles(root: String, version: Int, prune: Seq[ColRange]): Seq[String] = {
    val snap = snapshot(root, version)
    snap.files.filter { f =>
      val st = snap.stats.get(f)
      prune.forall { p =>
        st.flatMap(_.cols.get(p.colName)) match {
          // recorded bounds widen one ulp outward AT COMPARISON TIME:
          // manifests written before directed-rounding stats may carry
          // nearest-rounded bounds one ulp too tight (silent pruning of a
          // matching file). Widening here instead of on load keeps the
          // PERSISTED bounds byte-stable across carried-forward
          // re-serialization (no per-commit ulp drift); one ulp of extra
          // keep-probability per read is free.
          case Some((lo, hi)) => Math.nextUp(hi) >= p.lo && Math.nextDown(lo) <= p.hi
          case None => true
        }
      }
    }
  }

  /** Version visible at wall-clock `tsMs` — the newest snapshot whose
    * commit timestamp is ≤ tsMs (Iceberg's timestamp time travel). Commit
    * timestamps are the PUBLISHER's clock at manifest-write time; they are
    * monotone per table under the single-winner publish protocol up to
    * clock skew between committers (document the skew, don't hide it —
    * resolution walks versions, not timestamps, so a skewed pair only
    * affects reads aimed INSIDE the skew window). 0 when no snapshot is
    * old enough. */
  def versionAsOfTime(root: String, tsMs: Long): Int = {
    val cur = currentVersion(root)
    (1 to cur).filter { v =>
      Files.exists(metaDir(root).resolve(s"v$v.json")) &&
        snapshot(root, v).tsMs <= tsMs
    }.foldLeft(0)(math.max)
  }

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
    val reader = snap.schema.fold(spark.read)(spark.read.schema)
    val files = planFiles(root, v, prune)
    if (files.nonEmpty) reader.parquet(files.map(f => s"$root/$f"): _*)
    else snap.schema match {
      // pruning legitimately eliminated every file: an EMPTY result with
      // the manifest schema, not an error (a range query before the data's
      // time window is a normal empty read, not a bug)
      case Some(st) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None => // pre-schema manifest: any live file's footer
        require(snap.files.nonEmpty, s"snapshot v$v has no files at $root")
        spark.read.parquet(s"$root/${snap.files.head}").limit(0)
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
  /** Files ADDED over (fromV, toV] — the walk shared by [[changes]] and
    * [[changedRange]] so the two can never disagree on what the delta is. */
  private def addedFilesIn(root: String, fromV: Int, toV: Int): Seq[String] = {
    (math.max(1, fromV + 1) to toV).flatMap { v =>
      require(Files.exists(metaDir(root).resolve(s"v$v.json")),
        s"changes(v$fromV, v$toV) needs manifest v$v, which is expired")
      val snap = snapshot(root, v)
      snap.op match {
        case "append" | "overwrite" =>
          val parentFiles =
            if (snap.parent >= 1) {
              require(Files.exists(metaDir(root).resolve(s"v${snap.parent}.json")),
                s"changes(v$fromV, v$toV) needs parent manifest v${snap.parent}, which is expired")
              snapshot(root, snap.parent).files.toSet
            } else Set.empty[String]
          snap.files.filterNot(parentFiles)
        // merge: ONLY its recorded delta files (the upserted rows); the
        // survivor-rewrite carriers are not data changes — including them
        // would replay untouched rows to CDC consumers after every merge
        case "merge" => snap.delta
        // compact/rollback rewrites + delete (rows REMOVED, none added):
        // nothing for an adds stream
        case _ => Nil
      }
    }.distinct
  }

  /** Row count + bounds of one column over the files a [[changes]] call
    * for the same range would read, straight from the manifests — zero
    * Spark jobs (the incremental views' envelope shortcut). Returns None
    * when any added file lacks recorded stats, or the column's bounds are
    * missing on a file that has rows — callers fall back to aggregating.
    * Bounds are the commit-time directed-rounded values, so intervals are
    * conservative and identical in meaning to the scan-side stats. */
  def changedRange(root: String, fromV: Int, toV: Int,
                   colName: String): Option[(Long, Option[(Double, Double)])] = {
    val added = addedFilesIn(root, fromV, toV)
    if (added.isEmpty) return Some((0L, None))
    // each added file's stats live in the manifest of the version that
    // introduced it (and ride forward while live); walk the range newest-
    // last so later re-records win
    val statsByFile = (math.max(1, fromV + 1) to toV)
      .foldLeft(Map.empty[String, FileStats]) { (m, v) =>
        m ++ snapshot(root, v).stats
      }
    var rows = 0L
    var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
    var haveBounds = true
    added.foreach { f =>
      statsByFile.get(f) match {
        case None => return None // legacy file without stats: aggregate
        case Some(fs) =>
          rows += fs.rows
          fs.cols.get(colName) match {
            case Some((l, h)) => lo = math.min(lo, l); hi = math.max(hi, h)
            case None => if (fs.rows > 0) haveBounds = false
          }
      }
    }
    Some((rows, if (haveBounds && rows > 0) Some((lo, hi)) else None))
  }

  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int,
              prune: Seq[ColRange] = Nil): DataFrame = {
    require(toV > fromV && toV >= 1, s"bad change range v$fromV..v$toV")
    val allAdded = addedFilesIn(root, fromV, toV)
    val planned = planFiles(root, toV, prune).toSet ++
      // files added mid-range but no longer live in toV carry no toV stats;
      // keep them (conservative) unless their own snapshot pruned them out
      allAdded.filterNot(snapshot(root, toV).files.toSet)
    val added = allAdded.filter(planned)
    // surface the recorded schema: every contributing version must agree on
    // (name -> type) or the union scan silently reads whichever footer
    // plans first — a mid-range overwrite that reshaped the table is a
    // LOUD error directing the caller to read per-version instead
    val schemas = (math.max(1, fromV + 1) to toV)
      .map(snapshot(root, _))
      .filter(s => s.op == "append" || s.op == "overwrite" || s.op == "merge")
      .flatMap(_.schema)
    schemas.headOption.foreach { first =>
      val fm = first.fields.map(f => f.name -> f.dataType).toMap
      schemas.foreach { st =>
        require(st.fields.map(f => f.name -> f.dataType).toMap == fm,
          s"changes(v$fromV, v$toV) spans a schema change; read per-version")
      }
    }
    val reader = schemas.headOption.fold(spark.read)(spark.read.schema)
    if (added.nonEmpty) reader.parquet(added.map(f => s"$root/$f"): _*)
    else schemas.headOption match {
      case Some(st) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None =>
        val live = snapshot(root, toV).files
        require(live.nonEmpty || allAdded.nonEmpty,
          s"snapshot v$toV has no files at $root")
        val schemaFrom = allAdded.headOption.getOrElse(live.head)
        spark.read.parquet(s"$root/$schemaFrom").limit(0)
    }
  }

  /** Row totals for a live file list: manifest stats where recorded, one
    * counting scan for legacy files without stats. */
  private def liveRows(spark: SparkSession, root: String, live: Seq[String],
                       stats: Map[String, FileStats]): Long = {
    val missing = live.filterNot(stats.contains)
    val counted = if (missing.isEmpty) 0L
      else spark.read.parquet(missing.map(f => s"$root/$f"): _*).count()
    live.flatMap(stats.get).map(_.rows).sum + counted
  }

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
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // replaceAll skips the tombstone pre-image pass, so row-level CDC for
    // such a commit cannot be recorded — callers must opt out of CDC too
    require(replaceAllPrune.isEmpty || !cdc,
      "replaceAllPrune requires cdc = false (no pre-image pass runs)")
    val base = currentVersion(root)
    require(base >= 1, s"merge into an empty table at $root — commit first")
    val prev = snapshot(root, base)
    requireCompatible(prev.schema, df.schema, base)
    val v = base + 1
    // incoming key envelope → pruning conjuncts; key columns without stats
    // support (strings, arrays) contribute no conjunct — planFiles then
    // keeps more files, which is conservative, never wrong
    val statKeys = df.schema.fields.filter(f => keyCols.contains(f.name) &&
      (f.dataType.isInstanceOf[NumericType] ||
       f.dataType == TimestampType || f.dataType == TimestampNTZType)).toSeq
    // the delta lands first; BOTH the key envelope and the anti-join read
    // it back from its own files, so `df` is computed exactly once — the
    // previous pre-write envelope agg recomputed the caller's whole plan a
    // second time (for the incremental views: the entire old⊕new merge
    // join, measured ~40% of a refresh at sf0.1)
    val (deltaFiles, deltaStats) = writeAttempt(spark, root, v, df)
    // an EMPTY incoming batch (or all-null keys → no stats) must not
    // degrade to a full-table rewrite: zero delta rows replace nothing
    val deltaRows = deltaStats.valuesIterator.map(_.rows).sum
    // incoming key envelope from the delta's own per-file stats (same
    // statExpr units; directed rounding is monotone, so the min/max over
    // per-file directed-rounded bounds equals the directed-rounded global
    // envelope the old agg computed). Key columns without stats support
    // (strings, arrays, all-null files) contribute no conjunct — planFiles
    // then keeps more files, which is conservative, never wrong.
    val ranges: Seq[ColRange] = statKeys.flatMap { f =>
      val bs = deltaStats.valuesIterator.flatMap(_.cols.get(f.name)).toSeq
      if (bs.isEmpty) None
      else Some(ColRange(f.name, bs.map(_._1).min, bs.map(_._2).max))
    }
    // replaceAllPrune (the incremental views' refresh contract): the caller
    // read EXACTLY planFiles(base, p), merged every surviving row of those
    // files into `df` itself (full-outer combine), and commits the result as
    // the touched files' full replacement — no survivor-routing scan, so the
    // old rows are read ONCE per refresh (by the caller) instead of twice.
    // The touched set is recomputed here from the SAME prune against the
    // SAME base manifest (planFiles is pure), so caller and merge can never
    // disagree on which files are replaced.
    val candidates =
      if (deltaRows == 0L) Nil
      else replaceAllPrune.fold(planFiles(root, base, ranges))(
        p => planFiles(root, base, p))
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
    // scale — thus decodes and re-encodes nothing.
    val reader = prev.schema.fold(spark.read)(spark.read.schema)
    // the distinct incoming keys, read back from the delta's own files
    // (`df` is computed once): the join side of the hit scan and the split
    def incomingKeys: DataFrame =
      (if (deltaFiles.nonEmpty)
         spark.read.schema(df.schema).parquet(deltaFiles.map(f => s"$root/$f"): _*)
       else df).select(keyCols.map(col): _*).distinct()
    val (zeroHit, fullHit, partial) =
      if (candidates.isEmpty || replaceAllPrune.isDefined)
        (Seq.empty[String], Seq.empty[String], candidates)
      else {
        val hit = hitScan(root, reader, candidates) { scan =>
          (scan.select((keyCols :+ "__f").map(col): _*)
             .join(incomingKeys.withColumn("__hit", lit(1)), keyCols, "left"),
           col("__hit").isNotNull)
        }
        // a candidate with stats but no scan row is empty — zero matches
        (candidates.filter(f => hit.get(f).forall(_._2 == 0L)),
         candidates.filter(f => hit.get(f).exists(x => x._2 > 0 && x._2 == x._1)),
         candidates.filter(f => hit.get(f).exists(x => x._2 > 0 && x._2 < x._1)))
      }
    val untouched = prev.files.filterNot(candidates.toSet)
    // byte-identical replacements for the match-free candidates: hardlink
    // when the filesystem allows it, plain copy otherwise — either way the
    // original's stats describe the new file exactly. An original without
    // recorded stats (a legacy manifest) gets them from the copy's footer:
    // left stats-less, it would stay a merge candidate forever. The copy
    // never replaces an existing file: live basenames are unique per
    // Spark write job, so a collision is a broken invariant, not a retry.
    val (copyFiles, copyStats) =
      if (zeroHit.isEmpty) (Seq.empty[String], Map.empty[String, FileStats])
      else {
        val attempt = newAttempt(v)
        Files.createDirectories(Paths.get(root, "data", attempt))
        val moved = zeroHit.map { f =>
          val n = s"data/$attempt/${Paths.get(f).getFileName}"
          ParquetFiles.linkOrCopy(Paths.get(root, f), Paths.get(root, n))
          f -> n
        }
        val (known, unknown) = moved.partition { case (o, _) => prev.stats.contains(o) }
        (moved.map(_._2),
         known.map { case (o, n) => n -> prev.stats(o) }.toMap ++
           computeStats(spark, root, unknown.map(_._2)))
      }
    val (survFiles, survStats, tombFiles) =
      if (partial.isEmpty || replaceAllPrune.isDefined)
        (Seq.empty[String], Map.empty[String, FileStats], Seq.empty[String])
      else {
        val old = reader.parquet(partial.map(f => s"$root/$f"): _*)
        // ONE pass over the partially-hit files: a left join against the
        // (distinct, broadcastable) incoming keys routes each row to the
        // survivor rewrite (no key match) or the CDC tombstone pre-images
        // (key match, i.e. the rows this upsert replaces — recorded under
        // `removed`, outside the live list, so changesCdc streams deletes
        // without diffing row sets). Replaces an anti-join + semi-join
        // pair that scanned the touched set twice.
        val marked = incomingKeys.withColumn("__hit", lit(1))
        val routed = old.join(marked, keyCols, "left")
          .withColumn("__kept", col("__hit").isNull)
          .drop("__hit")
        if (cdc) writeSplit(spark, root, v, routed, "__kept")
        else {
          // CDC off (Delta's change-data-feed-off default analog): skip
          // writing the tombstone pre-images entirely — a high-churn
          // derived table (e.g. the incremental views) would otherwise
          // persist a full copy of every replaced row per refresh for a
          // stream nobody reads. Row-level history for such a commit is
          // declared ABSENT in the manifest and changesCdc fails loudly
          // over the range instead of silently missing deletes.
          val (sf, ss) = writeAttempt(spark, root, v,
            routed.filter(col("__kept")).drop("__kept"))
          (sf, ss, Seq.empty[String])
        }
      }
    val live = untouched ++ copyFiles ++ survFiles ++ deltaFiles
    val stats = prev.stats.filter { case (f, _) => !candidates.contains(f) } ++
      copyStats ++ survStats ++ deltaStats
    // fully-replaced originals become tombstones only when this commit
    // records CDC; with cdc = false they simply leave the live list (the
    // manifest's cdcOff flag already declares the history absent)
    val zeroCopyTombs = if (cdc) fullHit else Seq.empty[String]
    publish(root, v, manifestJson(v, base, "merge",
      liveRows(spark, root, live, stats), live, stats, df.schema,
      delta = deltaFiles, removed = zeroCopyTombs ++ tombFiles, txn = txn,
      txns = mergedTxns(root, prev) ++ txn,
      cdcOff = !cdc && candidates.nonEmpty))
    v
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
    val prev = snapshot(root, base)
    val v = base + 1
    val reader = prev.schema.fold(spark.read)(spark.read.schema)
    val candidates = planFiles(root, base, prune)
    // ONE pass over the candidates counts, per file, its rows and its
    // predicate matches: match-free candidates carry forward untouched
    // (as before), and FULLY-matched files — every row deleted — need no
    // rewrite at all: the original file becomes the CDC tombstone
    // (`removed` references it directly; changesCdc reads it as the exact
    // pre-image set, expire's GC tracks `removed` references), so a
    // delete that drops whole files moves no payload bytes.
    val (touched: Seq[String], fullyDeleted: Seq[String]) =
      if (candidates.isEmpty) (Nil, Nil)
      else {
        val hit = hitScan(root, reader, candidates)(
          scan => (scan, coalesce(predicate, lit(false))))
        val withHits = candidates.filter(f => hit.get(f).exists(_._2 > 0))
        (withHits.filter(f => { val (n, h) = hit(f); h < n }),
         withHits.filter(f => { val (n, h) = hit(f); h == n }))
      }
    val replaced = (touched ++ fullyDeleted).toSet
    val untouched = prev.files.filterNot(replaced)
    val (newFiles, newStats, tombFiles) =
      if (touched.isEmpty)
        (Seq.empty[String], Map.empty[String, FileStats], Seq.empty[String])
      else {
        // ONE pass over the touched files: the predicate routes each row
        // to the survivor rewrite (false/null — SQL DELETE keeps
        // null-valued rows) or the CDC tombstone pre-images (true).
        // Replaces a filter + negated-filter pair that scanned twice.
        val routed = reader.parquet(touched.map(f => s"$root/$f"): _*)
          .withColumn("__kept", not(coalesce(predicate, lit(false))))
        if (cdc) writeSplit(spark, root, v, routed, "__kept")
        else {
          // CDC off: survivors only (see merge) — deleted pre-images are
          // declared absent in the manifest, changesCdc fails loudly
          val (sf, ss) = writeAttempt(spark, root, v,
            routed.filter(col("__kept")).drop("__kept"))
          (sf, ss, Seq.empty[String])
        }
      }
    val live = untouched ++ newFiles
    val stats = prev.stats.filter { case (f, _) => !replaced.contains(f) } ++ newStats
    val schema = prev.schema.getOrElse {
      require(prev.files.nonEmpty, s"snapshot v$base has no files at $root")
      spark.read.parquet(s"$root/${prev.files.head}").schema
    }
    // fully-matched originals become tombstones only when this commit
    // records CDC; with cdc = false they simply leave the live list
    val zeroCopyTombs = if (cdc) fullyDeleted else Seq.empty[String]
    publish(root, v, manifestJson(v, base, "delete",
      liveRows(spark, root, live, stats), live, stats, schema,
      removed = zeroCopyTombs ++ tombFiles, txns = mergedTxns(root, prev),
      cdcOff = !cdc && replaced.nonEmpty))
    v
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
                 toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(toV > fromV && toV >= 1, s"bad change range v$fromV..v$toV")
    val snaps = (math.max(1, fromV + 1) to toV).map { v =>
      require(Files.exists(metaDir(root).resolve(s"v$v.json")),
        s"changesCdc(v$fromV, v$toV) needs manifest v$v, which is expired")
      snapshot(root, v)
    }
    snaps.filter(_.cdcOff).foreach(sn => throw new IllegalStateException(
      s"changesCdc(v$fromV, v$toV): v${sn.version} (${sn.op}) was committed " +
        "with cdc=false — its delete pre-images were never recorded; read " +
        "per-version snapshots instead"))
    // the agreement set includes the PARENT schema of every in-range
    // overwrite: its delete pre-images are the parent's files, scanned
    // below with the common reader — when the range starts AT the
    // overwrite's parent (fromV = parent) that schema is otherwise
    // outside the range, and a reshaping overwrite would silently
    // null-pad / drop pre-image columns instead of the loud error
    val preImageSchemas = snaps
      .filter(sn => sn.op == "overwrite" && sn.parent >= 1)
      .flatMap(sn => snapshot(root, sn.parent).schema)
    val schemas = snaps.filter(sn => sn.op != "compact" && sn.op != "rollback")
      .flatMap(_.schema)
    schemas.headOption.foreach { first =>
      val fm = first.fields.map(f => f.name -> f.dataType).toMap
      (schemas ++ preImageSchemas).foreach { st =>
        require(st.fields.map(f => f.name -> f.dataType).toMap == fm,
          s"changesCdc(v$fromV, v$toV) spans a schema change; read per-version")
      }
    }
    val reader = schemas.headOption.fold(spark.read)(spark.read.schema)
    def scan(files: Seq[String], kind: String): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(reader.parquet(files.map(f => s"$root/$f"): _*)
        .withColumn("_change_type", lit(kind)))
    val parts = snaps.flatMap { sn =>
      sn.op match {
        case "append" =>
          val parentFiles = if (sn.parent >= 1) snapshot(root, sn.parent).files.toSet
                            else Set.empty[String]
          scan(sn.files.filterNot(parentFiles), "insert").toSeq
        case "overwrite" =>
          val dels = if (sn.parent >= 1)
            scan(snapshot(root, sn.parent).files, "delete") else None
          dels.toSeq ++ scan(sn.files, "insert").toSeq
        case "merge" =>
          scan(sn.removed, "delete").toSeq ++ scan(sn.delta, "insert").toSeq
        case "delete" => scan(sn.removed, "delete").toSeq
        case _ => Nil // compact / rollback: rewrites, not data changes
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val live = snapshot(root, toV).files
      require(live.nonEmpty, s"snapshot v$toV has no files at $root")
      reader.parquet(s"$root/${live.head}")
        .withColumn("_change_type", lit("insert")).limit(0)
    }
  }

  /** Roll the table back to `toV` as a NEW snapshot (history stays intact,
    * like Iceberg's rollback: the old file list is re-published). */
  def rollback(spark: SparkSession, root: String, toV: Int): Int = {
    val target = snapshot(root, toV)
    val base = currentVersion(root)
    val v = base + 1
    // markers carry from the CURRENT version, not the rollback target:
    // rollback discards data, not stream-idempotence history (Delta
    // RESTORE's latest-wins txn semantics) — a replayed epoch whose rows
    // were rolled back stays skipped; re-ingesting it is an explicit
    // re-run with a fresh checkpoint, never an accidental replay
    publish(root, v, manifestJson(v, base, "rollback", target.rows,
      target.files, target.stats,
      target.schema.getOrElse(read(spark, root, toV).schema),
      txns = carriedTxns(root, base)))
    v
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
    * one attempt, publish as op "compact" (fresh stats, markers carried). */
  private def rewriteCurrent(spark: SparkSession, root: String)(
      arrange: DataFrame => DataFrame): Int = {
    val base = currentVersion(root)
    require(base >= 1, s"nothing to compact at $root")
    val v = base + 1
    val cur = read(spark, root)
    val (newFiles, stats) = writeAttempt(spark, root, v, arrange(cur))
    publish(root, v, manifestJson(v, base, "compact",
      stats.valuesIterator.map(_.rows).sum, newFiles, stats, cur.schema,
      txns = carriedTxns(root, base)))
    v
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
      val bits = if (zCols.size == 2) 21 else 21 // 2×21 or 3×21 ≤ 63 bits
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
    * retained manifest whose version is ≤ current — including the orphaned
    * dirs of LOSING concurrent committers, which commitFrom documents as
    * "cleaned by maintenance"; dirs at versions > current belong to
    * in-flight commits that would win and are never touched — and
    * (b) `.claim`/`.tmp` publish residue for versions < the retention
    * window (never by an exists() probe, which would race an in-flight
    * fallback publish), plus (c) LEASE-EXPIRED claims at any version with
    * no published manifest — the crashed-fallback-publish case, aged out
    * via `claimGraceMs` so a live publish's fresh claim survives. Time
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
      .filter(v => Files.exists(metaDir(root).resolve(s"v$v.json")))
      .map(snapshot(root, _))
    val liveDirs = retained.flatMap(sn => sn.files ++ sn.removed)
      .map(f => f.split("/")(1)).toSet // "data/<attempt>/<file>" → attempt
    // drop expired manifests; claims and publish tmp residue are deleted by
    // the SAME version rule (< keepFrom), never by a point-in-time
    // exists() probe — a claim/tmp of an IN-FLIGHT publish must survive or
    // the fallback path's mutual exclusion breaks (two movers onto one
    // target; POSIX rename silently replaces)
    var dropped = 0
    listNames(metaDir(root)).foreach { n =>
      val man = "^v(\\d+)\\.json$".r.findFirstMatchIn(n).map(_.group(1).toInt)
      val residue = "^\\.?v(\\d+)\\.json(\\.claim|\\.tmp|\\.fence\\.[A-Za-z0-9._-]+)$".r
        .findFirstMatchIn(n).map(_.group(1).toInt)
      if (man.exists(_ < keepFrom)) {
        Files.delete(metaDir(root).resolve(n)); dropped += 1
      }
      if (residue.exists(_ < keepFrom))
        Files.deleteIfExists(metaDir(root).resolve(n))
      // claims AT OR ABOVE the window with no published manifest: a crashed
      // fallback publish (the common crash point — publish recovers these
      // lazily on the next commit of the same version; maintenance sweeps
      // them too). Lease-gated AND breaker-serialized (the same protocol as
      // publish's recovery — an exists()/stat probe alone races a live
      // breaker that just re-created a fresh claim); stale BREAKERS (a
      // crash inside the break window) are lease-aged too, restoring
      // auto-recovery after such a crash.
      residue.filter(_ >= keepFrom).foreach { rv =>
        if (n.endsWith(".claim") &&
            !Files.exists(metaDir(root).resolve(s"v$rv.json")) &&
            claimIsStale(metaDir(root).resolve(n)))
          breakStaleClaim(root, rv)
      }
      val breakerV = "^v(\\d+)\\.json\\.breaker$".r
        .findFirstMatchIn(n).map(_.group(1).toInt)
      breakerV.foreach { _ =>
        val p = metaDir(root).resolve(n)
        if (claimIsStale(p)) Files.deleteIfExists(p)
      }
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
