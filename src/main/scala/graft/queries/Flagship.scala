package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.SnapshotTable

/** q97 — the end-to-end training-data flagship (VERDICT r3 #8): ingest →
  * quality/lang filter → text near-dup dedup (MinHash-LSH pairs →
  * connected components → keepers) → image near-dup dedup (aHash bands →
  * hash-level components → keepers) → snapshot commit of the keeper
  * manifest, every stage checkpoint-resumable (the `loadstack`
  * recompute-only-missing contract, malib.py:482-542, via
  * graft.operators.Pipeline) and the final manifest read back through the
  * snapshot catalog. The driver hash-compares the keeper manifest against a
  * full DuckDB replay of the chain (EngineOracle.trainingFlagshipSql). */
object Flagship {
  /** Quality/lang ingest filter: the q21 composite quality ≥ 0.5 and the
    * q22 n-gram language vote = 'en' — both already strict-oracle-proven
    * expressions, reused verbatim. */
  def filteredDocs(s: SparkSession, d: String): DataFrame =
    Text.docs(s, d)
      .join(Text.qualityScore(s, d).select(col("doc_id"), col("quality")), Seq("doc_id"))
      .join(Text.langId(s, d).select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
      .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
      .select(col("doc_id"), col("text"))

  /** The staged pipeline under `root`: five checkpointed stages + one
    * snapshot commit. Returns the Pipeline (for resume introspection: which
    * stages actually recomputed) and the committed snapshot version. */
  def runStages(s: SparkSession, d: String, root: String): (Pipeline, Int) = {
    val p = new Pipeline(s, s"$root/stages")
    // the image leg shares no dependency with the text chain — overlap
    // them (guide §2.6): image_keepers runs on a driver thread while
    // docs_filtered → text_pairs → text_keepers runs here; both join at
    // `keepers`. Stage bookkeeping is lock-guarded in Pipeline; outputs
    // and fingerprints are identical to the serial order.
    val (textKeepers, imgKeepers) = Overlap(s) { ov =>
      val imgLeg = ov.fork {
        p.stage("image_keepers", Map("src" -> d, "maxDist" -> "8")) {
          // keeper image = the component label itself (min image id
          // across the hash-level near-dup component — the q91
          // contracted-graph path)
          EngineOracle.neardupClusters(s, d)
            .filter(col("image_id") === col("comp_all"))
            .select(col("image_id").as("id"))
        }
      }
      // the source dir is part of BOTH ingest fingerprints: resuming the
      // same root against different data must invalidate, not silently
      // reuse
      val filtered = p.stage("docs_filtered",
          Map("src" -> d, "minQ" -> "0.5", "lang" -> "en")) {
        filteredDocs(s, d)
      }
      val pairs = p.stage("text_pairs", deps = Seq("docs_filtered")) {
        Text.minhashPairsOf(filtered)
      }
      val tk = p.stage("text_keepers",
          deps = Seq("text_pairs", "docs_filtered")) {
        graft.operators.Similarity.connectedComponents(s,
            filtered.select(col("doc_id").as("id")),
            pairs.select(col("d1").as("a"), col("d2").as("b")))
          .filter(col("id") === col("component"))
          .select(col("id"))
      }
      (tk, imgLeg.get())
    }
    val keepers = p.stage("keepers", deps = Seq("text_keepers", "image_keepers")) {
      // doc ids are BIGINT, image ids strings — the manifest is string-keyed
      textKeepers.select(lit("doc").as("kind"), col("id").cast("string").as("id"))
        .unionByName(imgKeepers.select(lit("img").as("kind"), col("id")))
    }
    val v = SnapshotTable.commit(s, s"$root/snap", keepers)
    (p, v)
  }

  /** Roots this JVM created, removed on exit — the lazy-read contract
    * below needs the files alive until the caller materializes. */
  private lazy val exitCleanup: java.util.Set[String] = {
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      set.forEach(r => SnapshotTable.deleteRecursively(r))))
    set
  }

  /** Driver query: run under a deterministic per-dataset root, read the
    * keeper manifest back THROUGH the snapshot catalog (the commit/read
    * roundtrip is part of what the oracle hash checks) and return that read
    * LAZY — the driver materializes it straight from the snapshot's parquet
    * scan, so driver memory stays O(1) while the manifest scales with the
    * corpus (hundreds of millions of ids at 100 TB). Lifecycle: the
    * previous run's root is removed up front, this run's on JVM exit —
    * re-invoking within one JVM invalidates any still-unread result of the
    * prior call, the standard trade of a deterministic scratch root. */
  def trainingPipeline(s: SparkSession, d: String): DataFrame = {
    // per-(dataset, PROCESS) root: a dataset-only key lets two JVMs on one
    // host (Bench ∥ Verify, two CI jobs) clobber each other's in-flight
    // snapshot; the pid suffix isolates them, the exit hook cleans normal
    // exits, and SIGKILL leftovers are swept here by any later run once
    // their owning pid is dead (never while alive)
    val pid = ProcessHandle.current().pid()
    val tag = Integer.toHexString(d.hashCode)
    val root = s"/tmp/graft_flagship_${tag}_$pid"
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"graft_flagship_${tag}_"))
      .foreach { f =>
        val owner = f.getName.stripPrefix(s"graft_flagship_${tag}_")
        val dead = owner.toLongOption
          .exists(p => p != pid && !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        if (dead) SnapshotTable.deleteRecursively(f.getPath)
      }
    SnapshotTable.deleteRecursively(root) // same-JVM re-invocation resets
    exitCleanup.add(root)
    val (_, v) = runStages(s, d, root)
    SnapshotTable.read(s, s"$root/snap", asOf = v).select(col("kind"), col("id"))
  }
}
