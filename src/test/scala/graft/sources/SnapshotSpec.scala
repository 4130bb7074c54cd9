package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TestSpark
import graft.operators.TestSpark.usage

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import SnapshotTable._

  private def freshRoot(tag: String): String = {
    val r = s"/tmp/graft_snap_test_$tag"
    deleteRecursively(r); r
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row_$i")).toDF("id", "s")
  }

  test("append commits accumulate; time travel reads exact history") {
    val root = freshRoot("append")
    assert(commit(spark, root, df(0 until 10)) == 1)
    assert(commit(spark, root, df(10 until 15)) == 2)
    assert(commit(spark, root, df(15 until 30)) == 3)
    assert(currentVersion(root) == 3)
    assert(read(spark, root).count() == 30)
    assert(read(spark, root, asOf = 1).count() == 10)
    assert(read(spark, root, asOf = 2).count() == 15)
    // historical snapshot is the exact row set, not just the count
    val v2 = read(spark, root, asOf = 2).select("id").collect().map(_.getLong(0)).sorted
    assert(v2.toSeq == (0L until 15L).toSeq)
    assert(snapshot(root, 3).rows == 30 && snapshot(root, 3).parent == 2)
  }

  test("overwrite replaces visible data; history stays readable") {
    val root = freshRoot("overwrite")
    commit(spark, root, df(0 until 10))
    commit(spark, root, df(100 until 104), op = "overwrite")
    assert(read(spark, root).count() == 4)
    assert(read(spark, root, asOf = 1).count() == 10)
    assert(snapshot(root, 2).op == "overwrite")
  }

  test("incremental changes() returns exactly the appended rows") {
    val root = freshRoot("changes")
    commit(spark, root, df(0 until 10))
    commit(spark, root, df(10 until 15))
    commit(spark, root, df(15 until 18))
    val c = changes(spark, root, fromV = 1, toV = 3)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(c.toSeq == (10L until 18L).toSeq)
  }

  test("rollback publishes the old file list as a new snapshot") {
    val root = freshRoot("rollback")
    commit(spark, root, df(0 until 10))
    commit(spark, root, df(10 until 20))
    val v = rollback(spark, root, toV = 1)
    assert(v == 3)
    assert(read(spark, root).count() == 10)
    // lineage continues on top of the rollback
    commit(spark, root, df(50 until 55))
    assert(read(spark, root).count() == 15)
    assert(read(spark, root, asOf = 2).count() == 20)
  }

  test("racing FULL commits: loser's data files never clobber the winner's") {
    val root = freshRoot("race")
    commit(spark, root, df(0 until 5))
    val staleBase = currentVersion(root) // both racers read base = 1
    // winner commits v2 fully
    SnapshotTable.commitFrom(spark, root, staleBase, df(5 until 9), "append")
    // loser wrote its own (attempt-unique) data files, loses only at publish
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.commitFrom(spark, root, staleBase, df(100 until 120), "append")
    }
    // winner's snapshot reads intact — every manifest file still exists
    assert(read(spark, root).count() == 9)
    val s2 = snapshot(root, 2)
    assert(s2.files.forall(f => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, f))), s"dangling files in ${s2.files}")
  }

  test("concurrent commit of the same version loses with a clean exception") {
    val root = freshRoot("cas")
    commit(spark, root, df(0 until 5))
    commit(spark, root, df(5 until 8)) // the "winner" publishes v2
    // the loser read base=1 before the winner's publish and now tries to
    // publish its own v2 — the create-exclusive move must reject it
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.publish(root, 2, """{"version": 2, "parent": 1}""")
    }
    // the winner's state is untouched and no tmp debris of any name remains
    assert(read(spark, root).count() == 8)
    assert(snapshot(root, 2).rows == 8)
    val meta = new java.io.File(s"$root/meta").list().toSet
    assert(meta == Set("v1.json", "v2.json"), s"meta holds $meta")
  }

  test("same-version publish racers: one winner, its own manifest bytes, no tmp left") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    val root = freshRoot("publishrace")
    val rounds = 300
    val barrier = new CyclicBarrier(2)
    // racer r's manifest for version v: ~600 distinct bytes per racer
    def json(r: Int, v: Int) = s"""{"version": $v, "racer": $r, "pad": "${r.toString * 600}"}"""
    val won = Array.fill(2, rounds)(false)
    val lost = Array.fill[Throwable](2, rounds)(null)
    val racers = (0 until 2).map { r =>
      new Thread(() => (1 to rounds).foreach { v =>
        barrier.await(60, TimeUnit.SECONDS)
        try { publish(root, v, json(r, v)); won(r)(v - 1) = true }
        catch { case e: Exception => lost(r)(v - 1) = e }
      })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    val versions = 1 to rounds
    val notOneWinner = versions.filter(v => won.count(_(v - 1)) != 1)
    val badLoser = versions.filterNot(v => lost.exists(_(v - 1).isInstanceOf[ConcurrentCommitException]))
    val foreign = versions.filter { v =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(root, "meta", s"v$v.json"))
      !(0 until 2).exists(r => won(r)(v - 1) && text == json(r, v))
    }
    val loserErrors = badLoser.flatMap(v => lost.map(_(v - 1))).filter(_ != null)
      .map(_.getClass.getSimpleName).distinct
    val tmps = new java.io.File(s"$root/meta").list().filter(_.endsWith(".tmp"))
    assert(notOneWinner.isEmpty && badLoser.isEmpty && foreign.isEmpty && tmps.isEmpty,
      s"of $rounds rounds: ${notOneWinner.size} without exactly one winner, " +
        s"${badLoser.size} whose loser got $loserErrors, " +
        s"${foreign.size} whose manifest is not the winner's bytes; ${tmps.length} tmp left")
    deleteRecursively(root)
  }

  test("manifest stats prune the planned file list; pruned read stays exact") {
    val root = freshRoot("prune")
    // three commits with disjoint id ranges → disjoint per-file [min, max]
    commit(spark, root, df(0 until 100))
    commit(spark, root, df(100 until 200))
    commit(spark, root, df(200 until 300))
    val v = currentVersion(root)
    val all = planFiles(root, v, Nil)
    val sel = planFiles(root, v, Seq(ColRange("id", 120, 180)))
    assert(sel.nonEmpty && sel.size < all.size,
      s"selective plan must scan strictly fewer files: ${sel.size} vs ${all.size}")
    // every id in [120, 180] lives in commit 2's files only
    assert(sel.forall(_.startsWith("data/s2-")), sel.toString)
    // pruned read + row filter ≡ unpruned read + row filter (pruning is an
    // optimization, never a semantic filter)
    import org.apache.spark.sql.functions.col
    val got = read(spark, root, asOf = v, prune = Seq(ColRange("id", 120, 180)))
      .filter(col("id").between(120, 180)).count()
    assert(got == 61)
    // a column without stats (string) never prunes
    assert(planFiles(root, v, Seq(ColRange("s", 0, 1))).size == all.size)
    // stats survive rollback (carried from the target manifest)
    rollback(spark, root, toV = 2)
    val afterRb = planFiles(root, currentVersion(root), Seq(ColRange("id", 0, 50)))
    assert(afterRb.nonEmpty && afterRb.forall(_.startsWith("data/s1-")))
    // changes() accepts the same pruning
    val ch = changes(spark, root, fromV = 1, toV = 3, prune = Seq(ColRange("id", 250, 260)))
      .select("id").collect().map(_.getLong(0))
    assert(ch.forall(id => id >= 200 && id < 300))
    // an add replaced later in the range is pruned by the stats of the
    // manifest that introduced it: the delete rewrites the v2 file holding
    // id 150, which lies outside [250, 260]
    delete(spark, root, col("id") === 150)
    val (v4, v5) = (snapshot(root, 4), snapshot(root, 5))
    val replaced = v4.files.filterNot(v5.files.toSet)
    assert(replaced.nonEmpty && replaced.forall(_.startsWith("data/s2-")), replaced.toString)
    val replacedRange = changes(spark, root, fromV = 1, toV = 5, prune = Seq(ColRange("id", 250, 260)))
    val scanned = replacedRange.inputFiles
    assert(replaced.forall(f => !scanned.exists(_.endsWith(f))),
      s"replaced $replaced must be pruned, scanned ${scanned.toSeq}")
    assert(replacedRange.select("id").collect().map(_.getLong(0))
      .forall(id => id >= 200 && id < 300))
  }

  test("stats edge cases: all-null columns never prune; timestamps prune in epoch micros") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = freshRoot("statsedge")
    val mk = (lo: Int, hi: Int, allNull: Boolean) =>
      (lo until hi).map(i => (i.toLong,
        if (allNull) None else Some(i.toDouble),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000L * i))))
        .toDF("id", "maybe", "ts")
    commit(spark, root, mk(0, 50, true))
    commit(spark, root, mk(50, 100, false))
    val v = currentVersion(root)
    // an all-null column in file 1: its stats entry is absent → file kept
    val onMaybe = planFiles(root, v, Seq(ColRange("maybe", 1000, 2000)))
    val s1Files = snapshot(root, v).files.filter(_.startsWith("data/s1-"))
    assert(s1Files.forall(onMaybe.contains),
      "files without stats for the pruned column must be kept")
    // timestamp bounds recorded as epoch MICROS: commit 2 spans
    // [50,000 s, 99,000 s] → pruning below that range drops its files
    val tsLow = planFiles(root, v, Seq(ColRange("ts", 0, 49.0e9))) // ≤49,000 s in µs
    assert(tsLow.nonEmpty && tsLow.forall(_.startsWith("data/s1-")), tsLow.toString)
    val tsHit = planFiles(root, v, Seq(ColRange("ts", 60.0e9, 70.0e9)))
    assert(tsHit.exists(_.startsWith("data/s2-")))
    // a zero-row file has a footer with no row groups: the empty commit's
    // zero-row part file still gets an entry, with zero rows and no bounds
    val dec = freshRoot("statsedge_decimal")
    commit(spark, dec, Seq.empty[(Long, BigDecimal)].toDF("id", "d"))
    val sn = snapshot(dec, 1)
    assert(sn.files.nonEmpty, "an empty commit writes one zero-row part file")
    assert(sn.files.forall(f => sn.stats.get(f).contains(FileStats(0L, Map.empty))),
      s"files ${sn.files}, stats ${sn.stats}")
    deleteRecursively(dec)
  }

  test("pruning that eliminates every file yields an EMPTY read with the table schema") {
    val root = freshRoot("pruneempty")
    commit(spark, root, df(0 until 100))
    commit(spark, root, df(100 until 200))
    val out = read(spark, root, prune = Seq(ColRange("id", 1e6, 2e6)))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("id", "s")) // schema survives
    val ch = changes(spark, root, fromV = 1, toV = 2,
      prune = Seq(ColRange("id", 1e6, 2e6)))
    assert(ch.count() == 0 && ch.columns.toSeq == Seq("id", "s"))
  }

  test("compact rewrites current rows into fewer files; history intact until expired") {
    val root = freshRoot("compact")
    commit(spark, root, df(0 until 40).repartition(4))
    commit(spark, root, df(40 until 80).repartition(4))
    val before = snapshot(root, currentVersion(root)).files.size
    val v = compact(spark, root, targetFiles = 1)
    assert(snapshot(root, v).op == "compact")
    assert(snapshot(root, v).files.size == 1 && before == 8)
    // same row set through the compacted snapshot
    val ids = read(spark, root).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 80L).toSet)
    // pre-compaction history still readable
    assert(read(spark, root, asOf = 1).count() == 40)
    // stats were recomputed: pruning still works on the compacted file
    assert(planFiles(root, v, Seq(ColRange("id", 10, 20))).size == 1)
  }

  test("expire drops old versions and GCs unreferenced attempt dirs incl. losing racers") {
    val root = freshRoot("expire")
    commit(spark, root, df(0 until 10))
    commit(spark, root, df(10 until 20))
    val dataDirs = (p: String) => new java.io.File(s"$p/data").listFiles().length
    // a losing racer deletes its own attempt dir: its manifest never
    // became visible, so nothing can reference the data it wrote
    val nRace = dataDirs(root)
    intercept[ConcurrentCommitException] {
      SnapshotTable.commitFrom(spark, root, 1, df(100 until 110), "append")
    }
    assert(dataDirs(root) == nRace, "the losing racer left an attempt dir")
    // a committer that crashed after its data write leaves an orphan
    java.nio.file.Files.writeString(java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "data", "s2-deadbeef")).resolve("part-0.parquet"), "")
    commit(spark, root, df(20 until 30), op = "overwrite") // v3 drops v1/v2 files
    commit(spark, root, df(30 until 40))                   // v4
    val nBefore = dataDirs(root)
    val (dropped, gcd) = expire(root, keepLast = 2) // retain v3, v4
    assert(dropped == 2, s"dropped $dropped")
    assert(gcd >= 3, s"gcd $gcd") // v1 + v2 + the crashed write's orphan at least
    assert(dataDirs(root) == nBefore - gcd)
    // retained versions read fine; expired time travel errors
    assert(read(spark, root, asOf = 4).count() == 20)
    assert(read(spark, root, asOf = 3).count() == 10)
    intercept[Exception] { read(spark, root, asOf = 1).count() }
  }

  test("changes() walks the chain: compaction contributes NOTHING to CDC consumers") {
    val root = freshRoot("cdc")
    commit(spark, root, df(0 until 40))
    commit(spark, root, df(40 until 80))
    compact(spark, root, targetFiles = 1) // v3: rewrite, zero new rows
    commit(spark, root, df(80 until 90))  // v4
    // v2..v3 (compact only): EMPTY increment, not the whole table replayed
    assert(changes(spark, root, fromV = 2, toV = 3).count() == 0)
    // v1..v4: exactly the rows added after v1, the compaction invisible
    val ids = changes(spark, root, fromV = 1, toV = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (40L until 90L).toSet, s"got ${ids.size}")
  }

  test("expire is idempotent across widening retention; in-flight attempt dirs survive GC") {
    val root = freshRoot("expire2")
    (0 until 4).foreach(i => commit(spark, root, df(i * 10 until (i + 1) * 10)))
    expire(root, keepLast = 1) // drops v1-v3
    commit(spark, root, df(100 until 110)) // v5
    // widening window: v3/v4 manifests partially missing — must not crash
    val (dropped, _) = expire(root, keepLast = 3)
    assert(dropped == 0) // nothing below the (already clean) window remains
    assert(read(spark, root).count() == 50)
    // a dir for a version ABOVE current (in-flight commit) is never GC'd
    val inflight = java.nio.file.Paths.get(root, "data", "s99-deadbeef")
    java.nio.file.Files.createDirectories(inflight)
    // a crashed publish's tmp below the window is swept; one at or above it
    // may belong to an in-flight publish and is kept
    val tmp = (v: Int) => java.nio.file.Paths.get(root, "meta", s".v$v.json.${java.util.UUID.randomUUID()}.tmp")
    val (crashed, atWindow, above) = (tmp(4), tmp(5), tmp(6))
    Seq(crashed, atWindow, above).foreach(java.nio.file.Files.writeString(_, "{}"))
    expire(root, keepLast = 1)
    assert(java.nio.file.Files.exists(inflight), "in-flight attempt dir must survive")
    assert(!java.nio.file.Files.exists(crashed), "tmp below the window must be swept")
    assert(java.nio.file.Files.exists(atWindow) && java.nio.file.Files.exists(above),
      "tmp at or above the window must survive")
  }

  test("property: random op sequences match an in-memory model, incl. all history") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val root = freshRoot(s"model$trial")
      // model: visible row-id set after each committed version (index = v)
      var history = Vector.empty[Set[Long]]
      var nextId = 0L
      def freshIds(n: Int): Set[Long] = { val s = (nextId until nextId + n).toSet; nextId += n; s }
      for (_ <- 0 until 8) {
        rnd.nextInt(3) match {
          case 0 => // append
            val ids = freshIds(1 + rnd.nextInt(5))
            commit(spark, root, df(ids.min.toInt to ids.max.toInt))
            history :+= history.lastOption.getOrElse(Set.empty) ++ ids
          case 1 => // overwrite
            val ids = freshIds(1 + rnd.nextInt(4))
            commit(spark, root, df(ids.min.toInt to ids.max.toInt), op = "overwrite")
            history :+= ids
          case 2 if history.nonEmpty => // rollback to a random older version
            val to = 1 + rnd.nextInt(history.length)
            rollback(spark, root, to)
            history :+= history(to - 1)
          case _ => // rollback on empty table: skip (nothing to roll to)
        }
      }
      // EVERY version must still read back exactly its model state
      for (v <- 1 to history.length) {
        val got = read(spark, root, asOf = v).select("id").collect()
          .map(_.getLong(0)).toSet
        assert(got == history(v - 1), s"trial $trial v$v: $got != ${history(v - 1)}")
        assert(snapshot(root, v).rows == history(v - 1).size.toLong)
      }
      // every change range agrees with changes() over it: the manifest row
      // count is its row count, and the id envelope contains its ids and
      // the ids of every changesCdc() row (an overwrite's pre-images too)
      for (to <- 1 to history.length; from <- 0 until to) {
        import org.apache.spark.sql.functions.{count, lit, max, min}
        val got = changes(spark, root, from, to)
          .agg(count(lit(1)), min("id"), max("id")).head()
        val (rows, env) = new ChangeRange(root, from, to).envelope("id")
        assert(rows == got.getLong(0), s"trial $trial ($from, $to]: $rows rows")
        val cdc = changesCdc(spark, root, from, to)
          .agg(count(lit(1)), min("id"), max("id")).head()
        for (r <- Seq(got, cdc) if r.getLong(0) > 0) {
          assert(env.isDefined, s"trial $trial ($from, $to]: no envelope")
          val (lo, hi) = env.get
          assert(lo <= r.getLong(1) && hi >= r.getLong(2),
            s"trial $trial ($from, $to]: [$lo, $hi] misses [${r.get(1)}, ${r.get(2)}]")
        }
      }
    }
  }

  test("stats bounds are directed-rounded: int64 beyond 2^53 stays contained") {
    import spark.implicits._
    val root = freshRoot("bigint")
    // 2^53+3 is not double-representable; nearest-rounds UP to 2^53+4 — an
    // un-widened lo would exceed the true min and pruning could drop the file
    val big = 9007199254740995L // 2^53 + 3
    commit(spark, root, Seq((big, "x"), (big + 100, "y")).toDF("id", "s").coalesce(1))
    val st = snapshot(root, 1)
    val (lo, hi) = st.stats(st.files.head).cols("id")
    assert(BigDecimal(lo) <= BigDecimal(big), s"lo $lo > true min $big")
    assert(BigDecimal(hi) >= BigDecimal(big + 100), s"hi $hi < true max")
    // and an exact-range probe around the true min still plans the file
    assert(planFiles(root, 1, Seq(ColRange("id", lo, lo))).nonEmpty)
    // bounds compare exactly: nearest-rounded probes still reach the
    // outward-rounded bounds, because rounding is monotone
    for (probe <- Seq(ColRange("id", big.toDouble, big.toDouble),
                      ColRange("id", (big + 100).toDouble, (big + 100).toDouble),
                      ColRange("id", (big + 100).toDouble, (big + 200).toDouble)))
      assert(planFiles(root, 1, Seq(probe)).nonEmpty, s"$probe pruned the file")
    // decimals are bounded from the footer's unscaled values, scaled before
    // the directed rounding: INT32-backed decimal(5,2), INT64-backed
    // decimal(15,3), and a two's-complement FIXED_LEN_BYTE_ARRAY
    // decimal(30,2) with unscaled values of ±(2^53 + 3) and beyond
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val decCols = Seq(
      "d5" -> (DecimalType(5, 2), Seq("-999.99", "-0.01", "123.45", "999.99")),
      "d15" -> (DecimalType(15, 3), Seq("-123456789012.345", "0.001", "999999999999.999", "7.5")),
      "d30" -> (DecimalType(30, 2), Seq("-90071992547409.95", "-0.05", "90071992547409.95",
                                        "1234567890123456789012345.67")))
    val schema = StructType(StructField("id", LongType) +:
      decCols.map { case (c, (t, _)) => StructField(c, t) })
    val rows = (0 until 4).map(i => Row.fromSeq(i.toLong +:
      decCols.map { case (_, (_, vs)) => new java.math.BigDecimal(vs(i)) }))
    val dec = freshRoot("bigdecimal")
    commit(spark, dec, spark.createDataFrame(rows.asJava, schema).coalesce(1))
    val ds = snapshot(dec, 1)
    val dcols = ds.stats(ds.files.head).cols
    for ((c, (_, vs)) <- decCols) {
      val exact = vs.map(new java.math.BigDecimal(_))
      val (min, max) = (exact.reduce(_ min _), exact.reduce(_ max _))
      val (lo, hi) = dcols(c)
      assert(new java.math.BigDecimal(lo).compareTo(min) <= 0 &&
             new java.math.BigDecimal(hi).compareTo(max) >= 0,
        s"$c: [$lo, $hi] misses [$min, $max]")
      for (v <- Seq(min, max))
        assert(planFiles(dec, 1, Seq(ColRange(c, v.doubleValue, v.doubleValue))).nonEmpty,
          s"$c: exact probe $v pruned the file")
      assert(planFiles(dec, 1, Seq(ColRange(c, hi * 2 + 1, hi * 2 + 2))).isEmpty)
    }
    // bit-equal to the bounds of a min/max aggregate in the decimal type,
    // directed-rounded to doubles
    def bits(b: (Double, Double)) =
      (java.lang.Double.doubleToRawLongBits(b._1), java.lang.Double.doubleToRawLongBits(b._2))
    assert(decCols.map { case (c, _) => c -> bits(dcols(c)) }.toMap == Map(
      "d5" -> (0xc08f3feb851eb852L, 0x408f3feb851eb852L),
      "d15" -> (0xc23cbe991a145852L, 0x426d1a94a1fffff8L),
      "d30" -> (0xc2d47ae147ae147dL, 0x44f056e0f36a6444L)))
    deleteRecursively(dec)
  }

  test("a commit with a decimal or timestamp column runs as many Spark jobs as one without") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val plain = df(0 until 100)
    // (tag, frame, the column it must record bounds for)
    val jobs = Seq(
      ("plain", plain, "id"),
      ("decimal", plain.withColumn("d", (col("id") / 4).cast("decimal(15,3)")), "d"),
      ("timestamp", plain.withColumn("ts", timestamp_micros(col("id") * 1000L)), "ts")).map {
      case (tag, in, bounded) =>
        val root = freshRoot(s"jobs_$tag")
        val n = usage { commit(spark, root, in) }.jobs.size
        val sn = snapshot(root, 1)
        assert(sn.files.exists(f => sn.stats(f).cols.contains(bounded)),
          s"$tag: no bounds recorded for $bounded")
        deleteRecursively(root)
        tag -> n
    }
    assert(jobs.head._2 >= 1 && jobs.forall(_._2 == jobs.head._2), s"jobs per commit: $jobs")
  }

  test("empty merge is a metadata-only commit: zero files rewritten") {
    import spark.implicits._
    val root = freshRoot("emptymerge")
    commit(spark, root, df(0 until 100))
    val before = snapshot(root, 1).files
    val v = merge(spark, root, df(0 until 0), Seq("id"))
    val after = snapshot(root, v)
    assert(after.op == "merge" && after.rows == 100)
    assert(before.forall(after.files.contains),
      "an empty incoming batch must not rewrite any live file")
    assert(read(spark, root).count() == 100)
  }

  test("manifest-recorded schema: pinned time travel, incompatible append rejected") {
    import spark.implicits._
    val root = freshRoot("schema")
    commit(spark, root, df(0 until 5))                            // (id BIGINT, s STRING)
    // same-name TYPE drift must be rejected loudly
    val drift = Seq((1, "x")).toDF("id", "s")                     // id INT, not BIGINT
    val e1 = intercept[IllegalArgumentException] { commit(spark, root, drift) }
    assert(e1.getMessage.contains("schema-incompatible"), e1.getMessage)
    // an added column must be rejected on append (plain-parquet footers
    // would disagree) and directed to overwrite
    val wider = Seq((1L, "x", 3.5)).toDF("id", "s", "extra")
    val e2 = intercept[IllegalArgumentException] { commit(spark, root, wider) }
    assert(e2.getMessage.contains("overwrite"), e2.getMessage)
    // overwrite DOES reshape; each version then time-travels with ITS schema
    commit(spark, root, wider, op = "overwrite")                  // v2
    assert(read(spark, root, asOf = 1).columns.toSeq == Seq("id", "s"))
    assert(read(spark, root, asOf = 2).columns.toSeq == Seq("id", "s", "extra"))
    assert(snapshot(root, 1).schema.fieldNames.toSeq == Seq("id", "s"))
    // appends on the reshaped table enforce the NEW schema
    intercept[IllegalArgumentException] { commit(spark, root, df(9 until 10)) }
    commit(spark, root, Seq((2L, "y", 4.5)).toDF("id", "s", "extra")) // v3 ok
    assert(read(spark, root).count() == 2)
    // changes() across the schema boundary is a loud error, within it works
    val ch = changes(spark, root, fromV = 2, toV = 3)
    assert(ch.columns.toSeq == Seq("id", "s", "extra") && ch.count() == 1)
    val e3 = intercept[IllegalArgumentException] {
      changes(spark, root, fromV = 0, toV = 3).count()
    }
    assert(e3.getMessage.contains("schema change"), e3.getMessage)
  }

  test("merge: upserts exact; only key-range-intersecting files rewritten; delta-only CDC") {
    import spark.implicits._
    val root = freshRoot("merge")
    import org.apache.spark.sql.functions.col
    def mk(r: Range, tag: String) =
      r.map(i => (i.toLong, s"$tag$i")).toDF("id", "s").coalesce(1)
    commit(spark, root, mk(0 until 100, "base"))    // v1, one file
    commit(spark, root, mk(100 until 200, "base"))  // v2
    commit(spark, root, mk(200 until 300, "base"))  // v3
    val before = snapshot(root, 3)
    val f1 = before.files.find(_.startsWith("data/s1-")).get
    // upsert 150..219 (hits files 2 and 3, never file 1) + insert 300..309
    val incoming = (150 until 220).map(i => (i.toLong, s"new$i")) ++
      (300 until 310).map(i => (i.toLong, s"new$i"))
    val v = merge(spark, root, incoming.toDF("id", "s").coalesce(1), Seq("id"))
    val after = snapshot(root, v)
    assert(after.op == "merge")
    // file 1 carried forward byte-for-byte (same path); files 2/3 rewritten
    assert(after.files.contains(f1), "non-intersecting file must not be rewritten")
    assert(!after.files.exists(_.startsWith("data/s2-")) &&
           !after.files.exists(_.startsWith("data/s3-")),
      "intersecting files must be replaced")
    // upsert semantics: exact final row set
    val got = read(spark, root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 310 && after.rows == 310)
    assert(got(0L) == "base0" && got(149L) == "base149")
    assert(got(150L) == "new150" && got(219L) == "new219")
    assert(got(220L) == "base220" && got(305L) == "new305")
    // CDC: exactly the incoming rows, never the survivor-rewrite carriers
    val cdc = changes(spark, root, fromV = 3, toV = v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdc == incoming.toMap.map { case (k, x) => k -> x }, s"cdc size ${cdc.size}")
    // FULL CDC: inserts = incoming; deletes = the 70 replaced pre-images
    // (upserted EXISTING keys only — fresh inserts have no pre-image)
    val full = changesCdc(spark, root, fromV = 3, toV = v).collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
    assert(full.count(_._1 == "insert") == 80)
    val pre = full.collect { case ("delete", id, x) => id -> x }.toMap
    assert(pre.keySet == (150L until 220L).toSet && pre(150L) == "base150")
    // history intact: v3 still reads the pre-merge rows
    assert(read(spark, root, asOf = 3).filter(col("id") === 150)
      .head().getString(1) == "base150")
  }

  test("merge: a delta file holding rows without key bounds disables key pruning") {
    import spark.implicits._
    val root = freshRoot("mergenan")
    commit(spark, root, Seq((1.0, "old1")).toDF("k", "s").coalesce(1)) // k in [1, 1]
    commit(spark, root, Seq((5.0, "old5")).toDF("k", "s").coalesce(1)) // k in [5, 5]
    // two delta files: {1.0, NaN} records no k bounds (NaN), {5.0} records
    // [5, 5]; an envelope over the bounded file alone would prune the file
    // holding key 1.0 and leave its old row beside the upsert
    val delta = spark.sparkContext
      .parallelize(Seq((5.0, "new5"), (1.0, "new1"), (Double.NaN, "newNaN")), 2).toDF("k", "s")
    val v = merge(spark, root, delta, Seq("k"))
    val sn = snapshot(root, v)
    assert(sn.delta.size == 2 && sn.delta.count(f => sn.stats(f).cols.contains("k")) == 1,
      s"delta stats ${sn.delta.map(sn.stats)}")
    val got = read(spark, root).collect().map(r => r.getDouble(0) -> r.getString(1))
    assert(got.filter(_._1 == 1.0).map(_._2).toSeq == Seq("new1"), got.toSeq)
    assert(got.filter(_._1 == 5.0).map(_._2).toSeq == Seq("new5"), got.toSeq)
    assert(got.length == 3)
  }

  test("delete: predicate rows gone; match-free candidates and non-candidates untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("delete")
    def mk(r: Range) = r.map(i => (i.toLong, s"row$i")).toDF("id", "s").coalesce(1)
    commit(spark, root, mk(0 until 100))
    commit(spark, root, mk(100 until 200))
    commit(spark, root, mk(200 until 300))
    val before = snapshot(root, 3)
    val f2 = before.files.find(_.startsWith("data/s2-")).get
    val f3 = before.files.find(_.startsWith("data/s3-")).get
    // prune hint admits files 1+2; predicate only matches in file 1 —
    // file 2 is a candidate with zero matches and must NOT be rewritten
    val v = delete(spark, root, col("id") % 10 === 7 && col("id") < 100,
      prune = Seq(ColRange("id", 0, 199)))
    val after = snapshot(root, v)
    assert(after.op == "delete")
    assert(after.files.contains(f2), "match-free candidate must not be rewritten")
    assert(after.files.contains(f3), "non-candidate must not be rewritten")
    assert(!after.files.exists(_.startsWith("data/s1-")))
    val ids = read(spark, root).select("id").collect().map(_.getLong(0)).toSet
    val want = (0L until 300L).toSet -- (0L until 100L).filter(_ % 10 == 7)
    assert(ids == want && after.rows == want.size.toLong)
    // deletes add nothing to the adds-only CDC stream…
    assert(changes(spark, root, fromV = 3, toV = v).count() == 0)
    // …and appear as 'delete' rows (the exact removed set) in the full one
    val cdcDel = changesCdc(spark, root, fromV = 3, toV = v).collect()
      .map(r => (r.getString(2), r.getLong(0)))
    assert(cdcDel.forall(_._1 == "delete"))
    assert(cdcDel.map(_._2).toSet ==
      (0L until 100L).filter(_ % 10 == 7).toSet)
    // time travel unaffected
    assert(read(spark, root, asOf = 3).count() == 300)
  }

  test("timestamp time travel: newest snapshot at-or-before the clock instant") {
    val root = freshRoot("tstravel")
    commit(spark, root, df(0 until 10))
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    commit(spark, root, df(10 until 30))
    assert(snapshot(root, 1).tsMs > 0 &&
           snapshot(root, 2).tsMs >= snapshot(root, 1).tsMs)
    assert(versionAsOfTime(root, mid) == 1)
    assert(readAsOfTime(spark, root, mid).count() == 10)
    assert(readAsOfTime(spark, root, System.currentTimeMillis()).count() == 30)
    intercept[IllegalArgumentException] {
      readAsOfTime(spark, root, snapshot(root, 1).tsMs - 1000)
    }
    // the walk down skips expired manifests: once v1 is expired, an instant
    // before the oldest retained version resolves to 0
    Thread.sleep(15)
    val mid2 = System.currentTimeMillis()
    Thread.sleep(15)
    commit(spark, root, df(30 until 40))
    expire(root, keepLast = 2)
    assert(!hasSnapshot(root, 1) && hasSnapshot(root, 2))
    assert(versionAsOfTime(root, mid) == 0)
    intercept[IllegalArgumentException] { readAsOfTime(spark, root, mid) }
    assert(versionAsOfTime(root, mid2) == 2)
    assert(readAsOfTime(spark, root, mid2).count() == 30)
    assert(versionAsOfTime(root, System.currentTimeMillis()) == 3)
  }

  test("merge and delete scan the touched files ONCE per commit (single-pass split)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("singlepass")
    def mk(r: Range) = r.map(i => (i.toLong, s"row$i")).toDF("id", "s").coalesce(1)
    commit(spark, root, mk(0 until 1000))
    commit(spark, root, mk(1000 until 2000))
    commit(spark, root, mk(2000 until 3000))
    // upsert keys 0..99: envelope hits ONLY file 1 (1000 rows touched).
    // Input-record accounting for the merge, all parquet scans:
    //   delta stats scan        100   (the freshly written incoming rows)
    //   keys read-back          100   (delta files -> distinct key join side)
    //   touched scan            1000  (ONE pass: split write routes rows)
    //   survivor stats scan      900  (tombstones skip stats by design)
    // = 2100. The previous anti+semi shape added a second 1000-row touched
    // scan plus a 100-row tombstone stats scan (~3200). Bound at 2600:
    // fails loudly if either the double scan or tombstone stats return.
    val rr = usage {
      merge(spark, root, mk(0 until 100), Seq("id"))
    }.recordsRead
    assert(rr <= 2600, s"merge read $rr records; touched set must be scanned once")
    assert(read(spark, root).count() == 3000)
    // delete in file 2 only: candidates via prune = file 2 (1000 rows).
    //   hit-count scan          1000  (which candidates hold matches)
    //   touched scan            1000  (ONE pass split write)
    //   survivor stats           900
    // = 2900; the old shape re-scanned touched for tombstones (+1000) and
    // ran tombstone stats (+100).
    val rrDel = usage {
      delete(spark, root, col("id") % 10 === 3 && col("id") < 2000,
        prune = Seq(ColRange("id", 1000, 1999)))
    }.recordsRead
    assert(rrDel <= 3400, s"delete read $rrDel records; touched set must be scanned once")
    assert(read(spark, root).count() == 2900)
  }

  test("sort-ordered compact: disjoint key ranges prune to strictly fewer files") {
    import spark.implicits._
    import scala.util.Random
    val root = freshRoot("sortcompact")
    val rnd = new Random(7)
    val ids = rnd.shuffle((0 until 4000).toList)
    ids.grouped(1000).foreach { g =>
      commit(spark, root, g.map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(2))
    }
    // unsorted rewrite: every file's [min, max] spans ~the whole id domain
    compact(spark, root, targetFiles = 8)
    val unsorted = planFiles(root, currentVersion(root),
      Seq(ColRange("id", 100, 299))).size
    // sort rewrite: range partition + sortWithinPartitions -> disjoint files
    compact(spark, root, targetFiles = 8, sortCols = Seq("id"))
    val sorted = planFiles(root, currentVersion(root),
      Seq(ColRange("id", 100, 299))).size
    assert(sorted < unsorted,
      s"sorted compact planned $sorted files vs unsorted $unsorted")
    assert(sorted <= 2, s"a 200-id slice of 4000 ids over 8 disjoint files " +
      s"must plan at most 2 files, planned $sorted")
    // the rewrite is still the identical row set
    assert(read(spark, root).count() == 4000)
  }

  test("changesCdc: reshaping overwrite fails loudly even when the range starts at its parent") {
    import spark.implicits._
    val root = freshRoot("cdcreshape")
    commit(spark, root, df(0 until 10))                         // v1 (id, s)
    commit(spark, root,
      Seq((1L, "x", 2.5)).toDF("id", "s", "extra"), op = "overwrite") // v2 reshapes
    // range (1, 2]: only v2 is IN range, but its delete pre-images are
    // v1's files — the parent schema must join the agreement check, else
    // the pre-image scan silently null-pads the dropped column
    val e = intercept[IllegalArgumentException] {
      changesCdc(spark, root, fromV = 1, toV = 2).collect()
    }
    assert(e.getMessage.contains("spans a schema change"))
    // same-shape overwrite stays readable
    val root2 = freshRoot("cdcsame")
    commit(spark, root2, df(0 until 10))
    commit(spark, root2, df(100 until 104), op = "overwrite")
    val full = changesCdc(spark, root2, fromV = 1, toV = 2).collect()
    assert(full.count(_.getString(2) == "delete") == 10)
    assert(full.count(_.getString(2) == "insert") == 4)
  }

  test("carried-forward stats are byte-stable: no per-commit ulp drift") {
    val root = freshRoot("ulpdrift")
    commit(spark, root, df(0 until 50))
    val f1 = snapshot(root, 1).files.head
    val s1 = snapshot(root, 1).stats(f1)
    // every later append re-serializes v1's carried-forward stats; the
    // recorded bounds must stay EXACTLY the directed-rounded interval
    (0 until 5).foreach(i => commit(spark, root, df((i + 1) * 50 until (i + 2) * 50)))
    val s6 = snapshot(root, 6).stats(f1)
    assert(s6 == s1, s"stats drifted across carries: $s1 -> $s6")
    // a probe AT the exact recorded bound still plans the file
    val (lo, hi) = s1.cols("id")
    assert(planFiles(root, 6, Seq(ColRange("id", hi, hi + 5))).contains(f1))
    assert(planFiles(root, 6, Seq(ColRange("id", lo - 5, lo))).contains(f1))
  }

  test("z-order compact: a trailing-key predicate prunes files a 1-D sort cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 64×64 grid of (x, y) points — the footprint-cell shape of a spatial
    // catalog. 16 files; query = a thin y-stripe (x unbounded).
    val pts = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, (x * 64 + y).toLong)).toDF("x", "y", "payload")
    val yStripe = Seq(ColRange("y", 24, 31))

    val rootX = freshRoot("zx")
    commit(spark, rootX, pts)
    compact(spark, rootX, targetFiles = 16, sortCols = Seq("x"))
    val xFiles = planFiles(rootX, currentVersion(rootX), yStripe).size

    val rootZ = freshRoot("zz")
    commit(spark, rootZ, pts)
    compactZOrder(spark, rootZ, targetFiles = 16, zCols = Seq("x", "y"))
    val zFiles = planFiles(rootZ, currentVersion(rootZ), yStripe).size

    // x-stripes each span the full y range -> nothing prunes; z-order files
    // cover compact blocks -> at most half the files intersect a thin stripe
    assert(xFiles == 16, s"1-D x-sort should retain all 16 files, got $xFiles")
    assert(zFiles <= 8, s"z-order should prune the y-stripe to <=8 files, got $zFiles")
    // and pruning never changes results
    val got = read(spark, rootZ, prune = yStripe)
      .filter(col("y").between(24, 31)).count()
    assert(got == 64 * 8)
    // the leading key still prunes too (z-order is symmetric in its keys)
    val xStripe = Seq(ColRange("x", 0, 7))
    assert(planFiles(rootZ, currentVersion(rootZ), xStripe).size <= 8)
  }

  test("streaming epochs: replay is a no-op; markers survive foreign commits") {
    val root = freshRoot("txn")
    assert(lastCommittedEpoch(root, "sA") == -1L)
    assert(commitStreamBatch(spark, root, df(0 until 5), "sA", 0L).contains(1))
    assert(commitStreamBatch(spark, root, df(5 until 9), "sA", 1L).contains(2))
    assert(lastCommittedEpoch(root, "sA") == 1L)
    // crash-window replays: at-or-below the marker is SKIPPED, no rows added
    assert(commitStreamBatch(spark, root, df(5 until 9), "sA", 1L).isEmpty)
    assert(commitStreamBatch(spark, root, df(0 until 5), "sA", 0L).isEmpty)
    assert(read(spark, root).count() == 9 && currentVersion(root) == 2)
    // a DIFFERENT stream and a plain batch commit interleave freely: each
    // stream's marker is resolved by id, not by the latest manifest
    assert(commitStreamBatch(spark, root, df(9 until 12), "sB", 0L).contains(3))
    assert(commit(spark, root, df(12 until 14)) == 4)
    assert(lastCommittedEpoch(root, "sA") == 1L)
    assert(lastCommittedEpoch(root, "sB") == 0L)
    assert(commitStreamBatch(spark, root, df(5 until 9), "sA", 1L).isEmpty)
    assert(commitStreamBatch(spark, root, df(14 until 16), "sA", 2L).contains(5))
    assert(read(spark, root).count() == 16)
    // the marker is manifest state, not memory: a fresh walk still sees it
    assert(snapshot(root, 5).txn.contains("sA" -> 2L))
    assert(snapshot(root, 4).txn.isEmpty)
    // changes() streams each epoch exactly once
    assert(changes(spark, root, 4, 5).count() == 2)
  }

  test("cdc=false merge/delete: no tombstones; changesCdc fails loudly") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot("cdcoff")
    commit(spark, root, df(0 until 20))
    // cdc-off merge: upsert rows 0..4, live data exact, zero pre-images
    merge(spark, root, df(0 until 5), Seq("id"), cdc = false)
    assert(read(spark, root).count() == 20)
    assert(snapshot(root, 2).removed.isEmpty && snapshot(root, 2).cdcOff)
    // insert-level changes still stream (the delta files are recorded)
    assert(changes(spark, root, 1, 2).count() == 5)
    // row-level CDC over the range is DECLARED absent, not silently empty
    val e = intercept[IllegalStateException] { changesCdc(spark, root, 1, 2) }
    assert(e.getMessage.contains("cdc=false"))
    // cdc-off delete: rows gone, no tombstones, same loud contract
    delete(spark, root, col("id") >= 15L, cdc = false)
    assert(read(spark, root).count() == 15)
    assert(snapshot(root, 3).removed.isEmpty && snapshot(root, 3).cdcOff)
    intercept[IllegalStateException] { changesCdc(spark, root, 2, 3) }
    // a later cdc=true commit is unaffected; its own range works
    merge(spark, root, df(0 until 2), Seq("id"))
    assert(changesCdc(spark, root, 3, 4).count() == 4) // 2 inserts + 2 deletes
  }

  test("txn markers: O(1) carried map; survive compact/rollback/expire") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot("txncarry")
    commitStreamBatch(spark, root, df(0 until 5), "sA", 0L)
    commitStreamBatch(spark, root, df(5 until 9), "sA", 1L)
    commitStreamBatch(spark, root, df(9 until 12), "sB", 7L)
    // the CURRENT manifest carries the full merged map — one read answers
    // any stream's lookup (no chain walk)
    assert(snapshot(root, currentVersion(root)).txns == Map("sA" -> 1L, "sB" -> 7L))
    // maintenance ops carry markers: compact, z-order, rollback
    compact(spark, root, targetFiles = 1, sortCols = Seq("id"))
    assert(lastCommittedEpoch(root, "sA") == 1L)
    assert(lastCommittedEpoch(root, "sB") == 7L)
    rollback(spark, root, toV = 2) // discards sB's rows, NOT its marker
    assert(lastCommittedEpoch(root, "sB") == 7L)
    assert(commitStreamBatch(spark, root, df(9 until 12), "sB", 7L).isEmpty)
    // merge/delete carry too
    merge(spark, root, df(0 until 2), Seq("id"))
    delete(spark, root, col("id") === 999L)
    assert(lastCommittedEpoch(root, "sA") == 1L)
    // expire the whole marker-bearing history: the carried map in the
    // surviving head still answers — an expired history no longer forces
    // a re-ingest
    expire(root, keepLast = 1)
    assert(lastCommittedEpoch(root, "sA") == 1L)
    assert(lastCommittedEpoch(root, "sB") == 7L)
    assert(commitStreamBatch(spark, root, df(5 until 9), "sA", 1L).isEmpty)
    assert(commitStreamBatch(spark, root, df(12 until 13), "sA", 2L).isDefined)
  }

  test("streaming epoch commit retries through a CAS loss, still exactly once") {
    val root = freshRoot("txnrace")
    commit(spark, root, df(0 until 4))
    // a foreign committer steals v2 between this stream's base read and its
    // publish: replay the race via commitFrom on a stale base, then the
    // stream commit must land on v3 (retry), not duplicate or fail
    intercept[SnapshotTable.ConcurrentCommitException] {
      val stale = currentVersion(root)
      commit(spark, root, df(4 until 6)) // winner takes v2
      commitFrom(spark, root, stale, df(6 until 8), "append",
        txn = Some("sR" -> 0L))
    }
    assert(commitStreamBatch(spark, root, df(6 until 8), "sR", 0L).contains(3))
    assert(commitStreamBatch(spark, root, df(6 until 8), "sR", 0L).isEmpty)
    assert(read(spark, root).count() == 8)
  }

  test("merge and delete resolve scanned files exactly under a root with a space and a %") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("odd dir%41")
    def mk(r: Range, tag: String) =
      r.map(i => (i.toLong, s"$tag$i")).toDF("id", "s").coalesce(1)
    commit(spark, root, mk(0 until 100, "base"))
    commit(spark, root, mk(100 until 200, "base"))
    commit(spark, root, mk(200 until 300, "base"))
    val f2 = snapshot(root, 3).files.find(_.startsWith("data/s2-")).get
    // envelope 0..259 plans all three files: file 1 every row hit, file 2
    // none (copied), file 3 partly (split)
    val incoming = (0 until 100) ++ (250 until 260)
    val v = merge(spark, root,
      incoming.map(i => (i.toLong, s"new$i")).toDF("id", "s").coalesce(1), Seq("id"))
    val sn = snapshot(root, v)
    val copy = sn.files.find(_.endsWith(java.nio.file.Paths.get(f2).getFileName.toString)).get
    assert(copy != f2 && sn.stats.contains(copy))
    assert(sn.removed.exists(_.startsWith("data/s1-")), "the fully-hit file is a tombstone")
    val got = read(spark, root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 300 && got(5L) == "new5" && got(150L) == "base150" &&
      got(255L) == "new255" && got(260L) == "base260")
    val vd = delete(spark, root, col("id") % 10 === 3)
    val ids = read(spark, root).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 300L).filter(_ % 10 != 3).toSet)
    assert(changesCdc(spark, root, v, vd).count() == 30)
    deleteRecursively(root)
  }

  test("a manifest lacking schema, txns or a live file's stats fails to load") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val root = freshRoot("strict")
    commit(spark, root, df(0 until 10))
    commit(spark, root, df(10 until 20))
    val man = java.nio.file.Paths.get(root, "meta", "v2.json")
    val good = java.nio.file.Files.readString(man)
    val f1 = snapshot(root, 2).files.head
    val edits = Seq(
      "schema" -> parse(good).removeField(_._1 == "schema"),
      "txns" -> parse(good).removeField(_._1 == "txns"),
      "files" -> parse(good).removeField(_._1 == "files"),
      s"stats for $f1" -> parse(good).transformField {
        case ("stats", JObject(fs)) => ("stats", JObject(fs.filterNot(_._1 == f1)))
      })
    for ((missing, j) <- edits) {
      java.nio.file.Files.writeString(man, compact(render(j)))
      val e = intercept[IllegalStateException](snapshot(root, 2))
      assert(e.getMessage == s"manifest v2 lacks $missing", e.getMessage)
    }
    java.nio.file.Files.writeString(man, good)
    assert(read(spark, root).count() == 20)
    deleteRecursively(root)
  }

  test("golden manifests: commit/merge/delete/rollback/compact write pinned text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("golden")
    def mk(r: Seq[Int], tag: String) =
      r.map(i => (i.toLong, s"$tag$i")).toDF("id", "s").coalesce(1)
    commit(spark, root, mk(0 until 10, "a"))                              // v1
    commitWithTxn(spark, root, mk(10 until 20, "b"), "append", "g" -> 3L) // v2
    // v3: file 1 is partly hit (split, with CDC pre-images), file 2 has no
    // hit (copied)
    merge(spark, root, mk((5 until 10) ++ (25 until 30), "m"), Seq("id"))
    // v4: the survivor file is fully deleted, the delta partly (no CDC)
    delete(spark, root, col("id") < 5L || col("id") >= 25L, cdc = false)
    rollback(spark, root, toV = 2)                                        // v5
    compact(spark, root)                                                  // v6
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val text = (1 to 6).map { v =>
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, "meta", s"v$v.json"))
    }.mkString("\n").replaceAll("\"ts_ms\": \\d+", "\"ts_ms\": <ts>")
      .replaceAll(uuid, "<uuid>")
    // attempt dirs are numbered in order of first appearance, so the pin
    // still shows which files share a dir
    val got = "s\\d+-[0-9a-f]{8}/".r.findAllIn(text).distinct.zipWithIndex
      .foldLeft(text) { case (t, (a, i)) => t.replace(a, a.take(a.indexOf('-')) + s"-<a$i>/") }
    assert(got == GoldenManifests, s"\n$got")
    deleteRecursively(root)
  }

  private val GoldenManifests =
    """{"version": 1, "parent": 0, "op": "append", "rows": 10,
      | "txns": {},
      | "files": ["data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [0.0, 9.0]}}},
      | "delta": [],
      | "removed": [],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}
      |{"version": 2, "parent": 1, "op": "append", "rows": 20,
      | "txn_id": "g", "txn_epoch": 3,
      | "txns": {"g": 3},
      | "files": ["data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet", "data/s2-<a1>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [0.0, 9.0]}}, "data/s2-<a1>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [10.0, 19.0]}}},
      | "delta": [],
      | "removed": [],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}
      |{"version": 3, "parent": 2, "op": "merge", "rows": 25,
      | "txns": {"g": 3},
      | "files": ["data/s3-<a2>/part-00000-<uuid>-c000.snappy.parquet", "data/s3-<a3>/__kept=true/part-00000-<uuid>.c000.snappy.parquet", "data/s3-<a4>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s3-<a2>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [10.0, 19.0]}}, "data/s3-<a3>/__kept=true/part-00000-<uuid>.c000.snappy.parquet": {"rows": 5, "cols": {"id": [0.0, 4.0]}}, "data/s3-<a4>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [5.0, 29.0]}}},
      | "delta": ["data/s3-<a4>/part-00000-<uuid>-c000.snappy.parquet"],
      | "removed": ["data/s3-<a3>/__kept=false/part-00000-<uuid>.c000.snappy.parquet"],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}
      |{"version": 4, "parent": 3, "op": "delete", "rows": 15,
      | "txns": {"g": 3},
      | "cdc_off": true,
      | "files": ["data/s3-<a2>/part-00000-<uuid>-c000.snappy.parquet", "data/s4-<a5>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s3-<a2>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [10.0, 19.0]}}, "data/s4-<a5>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 5, "cols": {"id": [5.0, 9.0]}}},
      | "delta": [],
      | "removed": [],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}
      |{"version": 5, "parent": 4, "op": "rollback", "rows": 20,
      | "txns": {"g": 3},
      | "files": ["data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet", "data/s2-<a1>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s1-<a0>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [0.0, 9.0]}}, "data/s2-<a1>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 10, "cols": {"id": [10.0, 19.0]}}},
      | "delta": [],
      | "removed": [],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}
      |{"version": 6, "parent": 5, "op": "compact", "rows": 20,
      | "txns": {"g": 3},
      | "files": ["data/s6-<a6>/part-00000-<uuid>-c000.snappy.parquet"],
      | "stats": {"data/s6-<a6>/part-00000-<uuid>-c000.snappy.parquet": {"rows": 20, "cols": {"id": [0.0, 19.0]}}},
      | "delta": [],
      | "removed": [],
      | "ts_ms": <ts>,
      | "schema": {"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"s","type":"string","nullable":true,"metadata":{}}]}}""".stripMargin

  test("a failed commit or merge leaves no attempt dir, manifest or tmp behind") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val root = freshRoot("failclean")
    commit(spark, root, df(0 until 10))
    def names(dir: String) =
      Option(new java.io.File(s"$root/$dir").list()).map(_.toSet).getOrElse(Set.empty)
    val dataBefore = names("data")
    val rowsBefore = read(spark, root).collect().toSet
    def poisoned(ids: Range) = df(ids).withColumn("s",
      when(col("id") === ids.head.toLong, raise_error(lit("boom"))).otherwise(col("s")))
    intercept[Exception] { commit(spark, root, poisoned(10 until 20)) }
    intercept[Exception] { merge(spark, root, poisoned(5 until 15), Seq("id")) }
    // a merge whose delta write lands and whose hit scan then fails in a
    // task, on a live file that is not parquet
    val live = java.nio.file.Paths.get(root, snapshot(root, 1).files.last)
    val bytes = java.nio.file.Files.readAllBytes(live)
    java.nio.file.Files.write(live, "not parquet".getBytes)
    try intercept[Exception] { merge(spark, root, df(0 until 15), Seq("id")) }
    finally java.nio.file.Files.write(live, bytes)
    assert(names("data") == dataBefore, "no data/s2-* attempt dir may survive")
    assert(names("meta") == Set("v1.json"), s"meta holds ${names("meta")}")
    assert(currentVersion(root) == 1)
    assert(read(spark, root).collect().toSet == rowsBefore)
    deleteRecursively(root)
  }

  test("catalog reads plan from the manifest: no listing job over 40+ files") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot("nolisting")
    commit(spark, root, df(0 until 400).repartition(40))
    commit(spark, root, df(400 until 800).repartition(40))
    assert(snapshot(root, 2).files.size >= 80)
    def listing(u: TestSpark.Usage) = u.jobs.filter(_.startsWith("Listing leaf files"))
    // creating each DataFrame runs no job at all; the reads stay exact
    var got: Seq[org.apache.spark.sql.DataFrame] = Nil
    val planned = usage {
      got = Seq(read(spark, root), changes(spark, root, 0, 2), changesCdc(spark, root, 0, 2))
    }
    assert(planned.jobs.isEmpty, s"planning the reads ran ${planned.jobs}")
    assert(got.map(_.count()) == Seq(800L, 800L, 800L))
    // merge's and delete's hit scans (and their splits) over every live file
    val mergeUse = usage { merge(spark, root, df(0 until 800 by 100), Seq("id")) }
    assert(listing(mergeUse).isEmpty, s"merge listed files: ${listing(mergeUse)}")
    val deleteUse = usage { delete(spark, root, col("id") % 7 === 0) }
    assert(listing(deleteUse).isEmpty, s"delete listed files: ${listing(deleteUse)}")
    assert(read(spark, root).count() == 800L - (0 until 800 by 7).size)
    // two threads scanning at once leave the session's own threshold
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    val racers = usage {
      val ts = (0 until 2).map(_ => new Thread(() => (0 until 20).foreach(_ => read(spark, root))))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    assert(racers.jobs.isEmpty, s"concurrent reads ran ${racers.jobs}")
    assert(spark.conf.getOption(key) == before)
    deleteRecursively(root)
  }
}
