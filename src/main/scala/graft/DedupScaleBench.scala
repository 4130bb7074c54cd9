package graft

import org.apache.spark.sql.functions._

/** Dedup-at-scale benchmark (VERDICT r3 #6): the q91/q92 pipeline class —
  * MinHash signatures → LSH band pairs → connected components → keepers —
  * on a synthetic corpus 16× the sf0.1 document scale (16k → 256k docs),
  * at local[SPARK_GRAFT_CPUS]. Done-criteria measured here: completes without driver
  * OOM, wall-clock within ~4× of the 16k run (per-item sublinear), and the
  * CC round count stays O(log diameter).
  *
  * Corpus shape: 20% of docs live in planted near-dup families of 4 (one
  * mutated token per member), 80% are unique token streams — the standard
  * web-dedup mix. All closed-form deterministic (FIXTURES.md F7). */
object DedupScaleBench {
  def docText(i: Int): String = {
    val inFamily = i % 5 == 0
    val seed = if (inFamily) 7919L * (i / 20) else 104729L * i + 13
    // a real mix per (seed, position) — an arithmetic token stream would give
    // every doc pair long shared shingle runs and melt the corpus into a few
    // giant components (measured: 105k pairs / 1.2k keepers at 16k docs)
    def tok(j: Int): String = {
      var h = seed * 1000003L + j.toLong * 0x9e3779b97f4a7c15L
      h ^= h >>> 29; h *= 0xbf58476d1ce4e5b9L; h ^= h >>> 32
      s"w${java.lang.Long.remainderUnsigned(h, 50021L)}"
    }
    val toks = (0 until 120).map(tok)
    val mutated = if (inFamily) toks.updated(17 + (i / 5) % 3 * 29, s"mut$i") else toks
    mutated.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_N_DOCS", "262144").toInt
    val spark = Local.session()
    // one reducer per core for the LSH band shuffle and the CC rounds
    spark.conf.set("spark.sql.shuffle.partitions", Local.cpus.toString)
    import spark.implicits._

    val docs = spark.range(n)
      .select(col("id").as("doc_id"))
      .as[Long].map(i => (i, docText(i.toInt)))
      .toDF("doc_id", "text")
      .cache()
    docs.count() // materialize input outside the timed window

    val t0 = System.nanoTime()
    val pairs = graft.queries.Text.minhashPairsOf(docs).cache()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val cc = graft.operators.Similarity.connectedComponents(spark,
      docs.select(col("doc_id").as("id")),
      pairs.select(col("d1").as("a"), col("d2").as("b")))
    val nKeepers = cc.filter(col("id") === col("component")).count()
    val tCc = (System.nanoTime() - t1) / 1e9
    pairs.unpersist(); docs.unpersist()

    val total = tPairs + tCc
    val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1 << 20)
    println(s"""{"metric":"dedup_scale","unit":"sec","cpus":${Local.cpus},"n_docs":$n,"n_pairs":$nPairs,"n_keepers":$nKeepers,"pairs_sec":${f"$tPairs%.1f"},"cc_sec":${f"$tCc%.1f"},"total_sec":${f"$total%.1f"},"driver_heap_mb":$heapMb}""")
    spark.stop()
  }
}
