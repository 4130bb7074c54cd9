package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Options passed by `perfbench/run.py`, all as `--key value` pairs:
  * workload, seed, seconds, trace (0|1), cores, setup_reps, work (scratch
  * directory), out (result JSON), spans (span JSON), plus any number of
  * `--conf.<spark key> value` and `--size.<name> value`. */
final case class Opts(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def prefixed(p: String): Map[String, String] =
    args.collect { case (k, v) if k.startsWith(p) => k.stripPrefix(p) -> v }
}

object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0, "arguments come in --key value pairs")
    val opts = Opts(argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val code = try new Run(opts).run() catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }
}

/** One benchmark run: repeated set-up, a warm-up pass, then measured passes
  * for the given number of seconds, one call at a time (closed loop, one
  * driver thread), then the end-of-run checks. */
final class Run(o: Opts) {
  val seed: Long = o("seed").toLong
  val work: String = o("work")
  private val cores = o("cores").toInt
  private val traced = o("trace") == "1"
  private val sizes = o.prefixed("size.").map { case (k, v) => k -> v.toInt }
  def size(name: String): Int = sizes.getOrElse(name, throw new IllegalArgumentException(s"missing size $name"))

  var spark: SparkSession = _
  val tracer = new Tracer
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private val records = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var sums = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var reference = Map.empty[String, (Long, Long)]
  /** Output digests of the latest pass, by sink name. */
  def lastSums: Map[String, (Long, Long)] = sums.toMap

  def op[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Row count and an order-independent hash of `cols` over `df`. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val row = df.agg(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Materializes an operator's output by digesting it; the digest must
    * repeat in every pass. */
  def sink(name: String, df: DataFrame, cols: Seq[String]): Long = {
    val d = digest(df, cols)
    sums(name) = d
    d._1
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[graftbench] check failed: $name $d")
    checks += ((name, ok, d))
  }

  /** A per-pass value the workload measures itself (ratios, amplification). */
  def record(name: String, v: Double): Unit =
    if (tracer.pass > 0) records.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** A count pinned for the default seed. */
  def pin(name: String, v: Long): Unit = counts(name) = v

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
    o.prefixed("conf.").foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.bind(s.sparkContext)
    s
  }

  private def listen(on: Boolean): Unit = {
    val sc = spark.sparkContext
    if (on) sc.addSparkListener(tracer.rollup)
    else {
      org.apache.spark.graftbench.ListenerBus.drain(sc)
      sc.removeSparkListener(tracer.rollup)
    }
    tracer.labelling = on
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def run(): Int = {
    val wl = Workloads(o("workload"), this)
    Files.createDirectories(Paths.get(work))

    // set-up: each repetition starts its own session
    val setupSeconds = (1 to o("setup_reps").toInt).map { _ =>
      if (spark != null) { wl.release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = newSession()
      if (traced) listen(true)
      tracer.span("sources.gen")(wl.setup())
      if (traced) listen(false)
      (System.nanoTime() - t0) / 1e9
    }

    var error: Option[Throwable] = None
    def runPass(n: Int, label: Boolean): Unit = {
      tracer.pass = n
      wl.prepare()
      sums = mutable.LinkedHashMap.empty
      if (label) listen(true)
      try tracer.span("bench.pass")(wl.pass())
      finally if (label) listen(false)
    }
    try {
      runPass(0, label = false) // warm-up; its digests are the reference
      reference = sums.toMap
      heapPools.foreach(_.resetPeakUsage())
      val budgetNs = (o("seconds").toDouble * 1e9).toLong
      val t0 = System.nanoTime()
      var n = 0
      // a pass starts while the budget lasts. A traced run labels passes in
      // the order unlabelled, labelled, labelled, unlabelled (repeating), so
      // the warm-up trend cancels from the tracing overhead; it runs at
      // least those four.
      val minPasses = if (traced) 4 else 1
      while (n < minPasses || System.nanoTime() - t0 < budgetNs) {
        n += 1
        runPass(n, label = traced && n % 4 >= 2)
        val differ = reference.keySet.union(sums.keySet).filter(k => reference.get(k) != sums.get(k))
        check(s"pass$n.outputs_repeat", differ.isEmpty, differ.mkString(","))
      }
      wl.verify()
    } catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    reference.foreach { case (k, (rows, _)) => if (!counts.contains(k)) counts(k) = rows }
    val report = Report(tracer, cores, wl.items, setupSeconds,
      records.map { case (k, v) => k -> v.toSeq }.toMap, peakHeapMb)
    val measuredOps = tracer.spans.count(s => s.pass > 0 && s.layer != "bench")
    val failedChecks = checks.count(!_._2)
    val attempted = measuredOps + checks.size + (if (error.isDefined) 1 else 0)
    val failed = failedChecks + (if (error.isDefined) 1 else 0)
    val out = Json.obj(
      "workload" -> Json.str(o("workload")),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "error" -> Json.str(error.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse("")),
      "end_to_end" -> Json.metrics(report.endToEnd),
      "per_layer" -> Json.metrics(report.perLayer),
      "series" -> report.series,
      "counts" -> Json.obj(counts.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "checksums" -> Json.obj(reference.toSeq.map { case (k, (r, h)) => k -> s"\"$r:$h\"" }: _*),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, d) =>
        Json.obj("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)) }))
    Files.writeString(Paths.get(o("out")), out)
    Files.writeString(Paths.get(o("spans")), report.spansJson)

    wl.release()
    spark.stop()
    if (failed > 0) 1 else 0
  }
}

/** Turns the recorded spans into the named metrics. */
final case class Report(tracer: Tracer, cores: Int, items: Long, setupSeconds: Seq[Double],
                        records: Map[String, Seq[Double]], peakHeapMb: Double) {
  import Report._
  private val spans = tracer.spans.toSeq
  private val measured = spans.filter(_.pass > 0)
  private val passes = measured.filter(_.name == "bench.pass")
  private val tracedPasses = measured.filter(_.traced).map(_.pass).distinct.sorted

  private def usage(ss: Seq[Span]): Usage = {
    val u = new Usage
    ss.foreach(s => tracer.rollup.of(s.id).foreach(u.add))
    u
  }

  val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setupSeconds), "s"),
    ("wall_s", median(passes.map(_.seconds)), "s"),
    ("items_per_s", items * passes.size / passes.map(_.seconds).sum, "1/s"))

  val perLayer: Seq[(String, Double, String)] = {
    // per layer, per labelled pass (set-up repetitions for `sources`), then
    // the median over passes; a layer the workload never calls reads 0
    def perPass(layer: String)(f: Seq[Span] => Double): Double = {
      val groups =
        if (layer == "sources") spans.filter(s => s.pass < 0 && s.traced).map(Seq(_))
        else tracedPasses.map(p => measured.filter(s => s.pass == p && s.layer == layer))
      median(groups.filter(_.nonEmpty).map(f))
    }
    val generic = Layers.flatMap { l =>
      def u(f: Usage => Double) = perPass(l)(ss => f(usage(ss)))
      Seq(
        (s"$l.jobs", u(_.jobs.toDouble), "count"),
        (s"$l.tasks", u(_.tasks.toDouble), "count"),
        (s"$l.cpu_s", u(_.cpuNs / 1e9), "s"),
        (s"$l.gc_s", u(_.gcMs / 1e3), "s"),
        (s"$l.shuffle_mb", u(_.shuffleBytes / Mb), "MB"),
        (s"$l.spill_mb", u(_.spillBytes / Mb), "MB"),
        (s"$l.output_mb", u(_.outputBytes / Mb), "MB"),
        (s"$l.self_s", perPass(l)(_.map(tracer.selfSeconds).sum), "s"),
        (s"$l.busy_frac", perPass(l)(ss => usage(ss).runMs / 1e3 / (ss.map(_.seconds).sum * cores)), "ratio"))
    }
    val tracedSpans = measured.filter(_.traced)
    def callS(name: String): Double = median(tracedSpans.filter(_.name == name).map(_.seconds))
    def rec(name: String): Double = median(records.getOrElse(name, Nil))
    val writes = tracedSpans.filter(s => Set("snapshot.commit", "snapshot.merge", "snapshot.delete")(s.name))
    val pipS = callS("spatialjoin.pip")
    val unlabelled = passes.filterNot(_.traced).map(_.seconds)
    val labelled = passes.filter(_.traced).map(_.seconds)
    val named = Seq(
      ("warp.analyze_s", callS("warp.analyze"), "s"),
      ("warp.tiles_s", callS("warp.tiles"), "s"),
      ("stackops.stats_s", callS("stackops.stats"), "s"),
      ("stackops.trend_s", callS("stackops.trend"), "s"),
      ("stencil.gauss_s", callS("stencil.gauss"), "s"),
      ("spatialjoin.pip_s", pipS, "s"),
      ("spatialjoin.heat_s", callS("spatialjoin.heat"), "s"),
      ("spatialjoin.clip_s", callS("spatialjoin.clip"), "s"),
      ("spatialjoin.pip_rows_per_s", if (pipS > 0) rec("spatialjoin.pip_rows") / pipS else 0.0, "1/s"),
      ("knn.s", callS("knn.knn"), "s"),
      ("snapshot.commit_s", callS("snapshot.commit"), "s"),
      ("snapshot.merge_s", callS("snapshot.merge"), "s"),
      ("snapshot.delete_s", callS("snapshot.delete"), "s"),
      ("snapshot.compact_s", callS("snapshot.compact"), "s"),
      ("snapshot.jobs_per_commit", if (writes.isEmpty) 0.0 else usage(writes).jobs.toDouble / writes.size, "count"),
      ("snapshot.write_amp", rec("snapshot.write_amp"), "ratio"),
      ("snapshot.space_amp", rec("snapshot.space_amp"), "ratio"),
      ("view.refresh_append_s", callS("view.refresh_append"), "s"),
      ("view.refresh_churn_s", callS("view.refresh_churn"), "s"),
      ("view.read_s", callS("view.read"), "s"),
      ("checkpoint.fresh_s", callS("checkpoint.fresh"), "s"),
      ("checkpoint.resume_s", callS("checkpoint.resume"), "s"),
      ("checkpoint.reuse_frac", rec("checkpoint.reuse_frac"), "ratio"),
      ("sources.gen_s", median(spans.filter(s => s.pass < 0 && s.name == "sources.gen").map(_.seconds)), "s"),
      ("fresh_append_s", callS("bench.fresh_append"), "s"),
      ("fresh_churn_s", callS("bench.fresh_churn"), "s"),
      ("heap.peak_mb", peakHeapMb, "MB"),
      ("trace.overhead_frac",
        if (unlabelled.isEmpty || labelled.isEmpty) 0.0 else median(labelled) / median(unlabelled) - 1, "ratio"),
      ("bench.self_s", perPass("bench")(_.map(tracer.selfSeconds).sum), "s"))
    generic ++ named
  }

  /** Every timed call over the measured passes: sample count, median and,
    * from 20 samples on, the highest percentile with ten samples above it. */
  def series: String = Json.obj(measured.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
    val v = ss.map(_.seconds).sorted
    val i = v.size - 11 // ten samples lie above index i
    val hi = if (v.size >= 20) Seq(s"p${100 * (i + 1) / v.size}_s" -> Json.num(v(i))) else Nil
    name -> Json.obj((Seq("n" -> v.size.toString, "median_s" -> Json.num(median(v))) ++ hi): _*)
  }: _*)

  def spansJson: String = Json.arr(spans.map { s =>
    val u = tracer.rollup.of(s.id)
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "pass" -> s.pass.toString, "traced" -> s.traced.toString,
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_s" -> Json.num(tracer.selfSeconds(s))) ++ u.toSeq.flatMap(x => Seq(
      "jobs" -> x.jobs.toString, "tasks" -> x.tasks.toString, "run_ms" -> x.runMs.toString,
      "cpu_ns" -> x.cpuNs.toString, "gc_ms" -> x.gcMs.toString, "shuffle_bytes" -> x.shuffleBytes.toString,
      "spill_bytes" -> x.spillBytes.toString, "output_bytes" -> x.outputBytes.toString)): _*)
  })
}

object Report {
  val Layers = Seq("warp", "stackops", "stencil", "spatialjoin", "knn", "snapshot", "view", "checkpoint", "sources")
  val Mb = 1048576.0

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
