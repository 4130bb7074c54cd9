package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Training-data text pipeline operators over the `documents` table —
  * dedup (exact, MinHash, SimHash, n-gram Jaccard), language scoring,
  * quality scoring, token counting, fingerprinting — each with a DuckDB
  * oracle twin. Hash parity across engines comes from md5 (identical hex in
  * both) with the first 8 hex digits as a 32-bit integer hash:
  * Spark `conv(substr(md5(x),1,8),16,10)::long` ≡ DuckDB
  * `('0x'||substr(md5(x),1,8))::BIGINT`. */
object Text {
  def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  /** Token counting — whitespace tokenizer (the BPE-ish regex variant is in
    * the engine test suite); plus chars-per-token. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      size(split(trim(col("text")), " +")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_obs"),
      round(length(col("text")) / size(split(trim(col("text")), " +")), 6)
        .as("chars_per_token"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), ' +'))::BIGINT AS n_tokens,
      |  length(text)::BIGINT AS n_chars_obs,
      |  round(length(text) / len(string_split_regex(trim(text), ' +')), 6)
      |    AS chars_per_token
      |FROM documents""".stripMargin

  /** Document fingerprinting: md5 of whitespace-normalized lowercase text
    * (deterministic content address for exact dedup at scale). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      expr("md5(lower(regexp_replace(trim(text), '\\\\s+', ' ')))").as("fp"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin

  /** Exact dedup by content key: keeper = min(doc_id) per group (hash-groupBy
    * dedup; at 100 TB this is the shuffle-on-fingerprint pass). Key is a
    * prefix so synthetic docs actually collide. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(lower(substring(col("text"), 1, 20)).as("dup_key"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))

  val dedupExactSql: String =
    """SELECT lower(substr(text, 1, 20)) AS dup_key,
      |  min(doc_id) AS keeper, count(*)::BIGINT AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  /** Quality scoring: punctuation ratio, stopword ratio (non-overlapping
    * replace-count — identical semantics in both engines), mean token
    * length, composite score. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = size(split(trim(col("text")), " +"))
    def occurrences(w: String): Column =
      ((length(col("text")) - length(regexp_replace(col("text"), s" $w ", " "))) /
        (w.length + 1)).cast("long")
    val stop = occurrences("the") + occurrences("a") + occurrences("of") + occurrences("and")
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.!?,;:]", ""))
    docs(s, d).select(col("doc_id"),
      round(punct.cast("double") / length(col("text")), 6).as("punct_ratio"),
      round(stop.cast("double") / toks, 6).as("stop_ratio"),
      round(length(col("text")).cast("double") / toks, 6).as("mean_tok_len"),
      round(least(stop.cast("double") / toks * 4, lit(1.0)) * 0.5 +
            when(length(col("text")).between(100, 2000), 0.5).otherwise(0.0), 6)
        .as("quality"))
  }

  // each occurrence of " w " collapses to " ": removes len(w)+1 chars
  val qualityScoreSql: String =
    """SELECT doc_id,
      |  round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
      |        / length(text)::DOUBLE, 6) AS punct_ratio,
      |  round(((length(text) - length(regexp_replace(text, ' the ', ' ', 'g'))) / 4
      |       + (length(text) - length(regexp_replace(text, ' a ', ' ', 'g'))) / 2
      |       + (length(text) - length(regexp_replace(text, ' of ', ' ', 'g'))) / 3
      |       + (length(text) - length(regexp_replace(text, ' and ', ' ', 'g'))) / 4)::DOUBLE
      |        / len(string_split_regex(trim(text), ' +')), 6) AS stop_ratio,
      |  round(length(text)::DOUBLE / len(string_split_regex(trim(text), ' +')), 6)
      |    AS mean_tok_len,
      |  round(least(((length(text) - length(regexp_replace(text, ' the ', ' ', 'g'))) / 4
      |       + (length(text) - length(regexp_replace(text, ' a ', ' ', 'g'))) / 2
      |       + (length(text) - length(regexp_replace(text, ' of ', ' ', 'g'))) / 3
      |       + (length(text) - length(regexp_replace(text, ' and ', ' ', 'g'))) / 4)::DOUBLE
      |        / len(string_split_regex(trim(text), ' +')) * 4, 1.0) * 0.5
      |     + CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 0.5 ELSE 0.0 END, 6)
      |    AS quality
      |FROM documents""".stripMargin

  /** Language-ID heuristic: function-word scores per language, argmax with
    * deterministic preference order (n-gram heuristic family). */
  def langId(s: SparkSession, d: String): DataFrame = {
    def score(ws: Seq[String]): Column = ws.map { w =>
      ((length(col("text")) - length(regexp_replace(col("text"), s" $w ", " "))) /
        (w.length + 1)).cast("long")
    }.reduce(_ + _)
    val en = score(Seq("the", "of", "and"))
    val de = score(Seq("der", "und", "das"))
    val es = score(Seq("el", "los", "que"))
    docs(s, d).select(col("doc_id"),
      when(en >= de && en >= es, "en").when(de >= es, "de").otherwise("es")
        .as("pred_lang"),
      en.as("score_en"), de.as("score_de"), es.as("score_es"))
  }

  val langIdSql: String =
    """WITH sc AS (SELECT doc_id,
      |  ((length(text) - length(regexp_replace(text, ' the ', ' ', 'g'))) / 4
      | + (length(text) - length(regexp_replace(text, ' of ',  ' ', 'g'))) / 3
      | + (length(text) - length(regexp_replace(text, ' and ', ' ', 'g'))) / 4)::BIGINT AS score_en,
      |  ((length(text) - length(regexp_replace(text, ' der ', ' ', 'g'))) / 4
      | + (length(text) - length(regexp_replace(text, ' und ', ' ', 'g'))) / 4
      | + (length(text) - length(regexp_replace(text, ' das ', ' ', 'g'))) / 4)::BIGINT AS score_de,
      |  ((length(text) - length(regexp_replace(text, ' el ',  ' ', 'g'))) / 3
      | + (length(text) - length(regexp_replace(text, ' los ', ' ', 'g'))) / 4
      | + (length(text) - length(regexp_replace(text, ' que ', ' ', 'g'))) / 4)::BIGINT AS score_es
      |FROM documents)
      |SELECT doc_id,
      |  CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
      |       WHEN score_de >= score_es THEN 'de' ELSE 'es' END AS pred_lang,
      |  score_en, score_de, score_es
      |FROM sc""".stripMargin

  /** Word 3-shingles, exploded — shared base for MinHash/Jaccard.
    * Docs shorter than 3 tokens are dropped (both sides). */
  private[queries] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
        .as("sh"))

  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(docs(s, d))

  /** The shingle CTE over any doc-shaped relation (doc_id, text) — the
    * flagship pipeline (q97) runs it over the quality/lang-filtered set. */
  private[queries] def shinglesSqlFrom(table: String): String =
    s"""sh AS (
      |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
      |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts)-2)) AS i
      |        FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS ts
      |              FROM $table)
      |        WHERE len(ts) >= 3))""".stripMargin

  private val shinglesSqlBase: String = shinglesSqlFrom("documents")

  /** MinHash signatures (4 hash families over word 3-shingles) + the
    * LSH band key (md5 of the signature pair-bands) — the shingle→minhash→
    * band→bucket pipeline; the bucket self-join runs in minhashPairs. */
  def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigOf(docs(s, d))

  private[queries] def minhashSigOf(docsDf: DataFrame): DataFrame = {
    def h(i: Int): Column =
      expr(s"cast(conv(substr(md5(concat('$i:', sh)), 1, 8), 16, 10) as bigint)")
    // the doc table is a single small file (one scan split), but each
    // shingle pays 4 md5s — measured ~1 s single-task stages in the
    // minhash paths; spreading the docs first costs a sub-MB shuffle and
    // parallelizes the hash work (guide §2.1: the scan is cheap, the
    // per-row work is not)
    shinglesOf(docsDf.repartition(docsDf.sparkSession.sparkContext.defaultParallelism))
      .groupBy(col("doc_id"))
      .agg(min(h(0)).as("mh0"), min(h(1)).as("mh1"),
           min(h(2)).as("mh2"), min(h(3)).as("mh3"))
      .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"),
        expr("md5(concat(cast(mh0 as string), ':', cast(mh1 as string)))").as("band0"),
        expr("md5(concat(cast(mh2 as string), ':', cast(mh3 as string)))").as("band1"))
  }

  val minhashSigSql: String =
    s"""WITH $shinglesSqlBase
      |SELECT doc_id,
      |  min(('0x'||substr(md5('0:'||sh),1,8))::BIGINT) AS mh0,
      |  min(('0x'||substr(md5('1:'||sh),1,8))::BIGINT) AS mh1,
      |  min(('0x'||substr(md5('2:'||sh),1,8))::BIGINT) AS mh2,
      |  min(('0x'||substr(md5('3:'||sh),1,8))::BIGINT) AS mh3,
      |  md5(min(('0x'||substr(md5('0:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
      |      min(('0x'||substr(md5('1:'||sh),1,8))::BIGINT)::VARCHAR) AS band0,
      |  md5(min(('0x'||substr(md5('2:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
      |      min(('0x'||substr(md5('3:'||sh),1,8))::BIGINT)::VARCHAR) AS band1
      |FROM sh GROUP BY doc_id""".stripMargin

  /** LSH bucket self-join: candidate near-dup pairs sharing either band.
    * Unpivoted to (band_idx, band_val) rows and equi-joined on both — an
    * `ON a=x OR b=y` join has no equi keys and degenerates to a
    * BroadcastNestedLoopJoin; the exploded form is a pure hash join with the
    * identical result set (a pair shares band i ⟺ its (i, val) rows meet),
    * and is the only pair-join shape that survives 100 TB. */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(docs(s, d))

  def minhashPairsOf(docsDf: DataFrame): DataFrame = {
    val sig = minhashSigOf(docsDf)
    val bands = sig.select(col("doc_id"), explode(array(
        struct(lit(0).as("bi"), col("band0").as("bv")),
        struct(lit(1).as("bi"), col("band1").as("bv")))).as("b"))
      .select(col("doc_id"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    // SHUFFLE_HASH hint: the two sides are the same (expensive: shingle →
    // 4×md5 → min) subtree; a broadcast join would EXECUTE it twice, while
    // identical shuffle exchanges canonicalize to one ReusedExchange.
    bands.select(col("doc_id").as("d1"), col("bi"), col("bv")).hint("shuffle_hash")
      .join(bands.select(col("doc_id").as("d2"), col("bi"), col("bv")).hint("shuffle_hash"),
            Seq("bi", "bv"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  val minhashPairsSql: String =
    s"""WITH $shinglesSqlBase,
      |sig AS (
      |  SELECT doc_id,
      |    md5(min(('0x'||substr(md5('0:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
      |        min(('0x'||substr(md5('1:'||sh),1,8))::BIGINT)::VARCHAR) AS band0,
      |    md5(min(('0x'||substr(md5('2:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
      |        min(('0x'||substr(md5('3:'||sh),1,8))::BIGINT)::VARCHAR) AS band1
      |  FROM sh GROUP BY doc_id)
      |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |FROM sig a JOIN sig b
      |  ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id""".stripMargin

  /** SimHash (16-bit) over word tokens: per-bit vote sum, sign → bit. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " +")).as("tok"))
      .withColumn("h", expr("cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)"))
    val votes = (0 until 16).map { b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agged = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sh = (0 until 16).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agged.select(col("doc_id"), sh.as("simhash"))
  }

  val simhashSql: String = {
    val votes = (0 until 16).map { b =>
      s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n      ")
    val bits = (0 until 16).map { b =>
      s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (
      |  SELECT doc_id, ('0x'||substr(md5(t.tok),1,8))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
      |        FROM documents) t),
      |v AS (SELECT doc_id,
      |      $votes
      |      FROM tok GROUP BY doc_id)
      |SELECT doc_id, ($bits)::BIGINT AS simhash FROM v""".stripMargin
  }

  /** n-gram Jaccard similarity — exact pairwise over distinct word
    * 3-shingles for a bounded doc subset (the verify-scale twin of the
    * LSH-candidate refine step). */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d).filter(col("doc_id") < 40).distinct()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("d1"), col("sh"))
      .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ni"))
    inter
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("ni"),
        round(col("ni") / (col("n1") + col("n2") - col("ni")), 6).as("jaccard"))
  }

  val ngramJaccardSql: String =
    s"""WITH $shinglesSqlBase,
      |shd AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id < 40),
      |cnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM shd GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS ni
      |          FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT d1, d2, ni, round(ni / (c1.n + c2.n - ni)::DOUBLE, 6) AS jaccard
      |FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2""".stripMargin

  /** q92 — text dedup END-TO-END: connected components over the q24
    * MinHash-LSH pair graph (shingle → minhash → band → bucket join →
    * cluster), canonical keeper = min doc_id per component. The documents
    * graph complements q91's shape: 475 components (451 singletons, 23
    * pairs, 1 triple) instead of one deep chain. */
  def neardupDocClusters(s: SparkSession, d: String): DataFrame = {
    val nodes = docs(s, d).select(col("doc_id").as("id"))
    val edges = minhashPairs(s, d).select(col("d1").as("a"), col("d2").as("b"))
    val cc = graft.operators.Similarity.connectedComponents(s, nodes, edges)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("component", "comp_near")
    val sizes = cc.groupBy(col("comp_near")).agg(count(lit(1)).as("csize"))
    cc.join(sizes, Seq("comp_near"))
      .select(col("doc_id"), col("comp_near"), col("csize"),
        when(col("doc_id") === col("comp_near"), 1).otherwise(0).as("is_keeper"))
  }

  /** DuckDB twin of q92: the q24 pair SQL + 4 unrolled MATERIALIZED
    * pointer-doubling rounds (the graph's dist-to-min is 1; the fixpoint,
    * not intermediate states, is compared). */
  val neardupDocClustersSql: String = {
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
         |  SELECT id, lbl FROM l${r - 1}
         |  UNION ALL
         |  SELECT e.b AS id, l${r - 1}.lbl FROM sym e JOIN l${r - 1} ON e.a = l${r - 1}.id)
         |  GROUP BY id),
         |l$r AS MATERIALIZED (SELECT a.id, least(a.lbl, b.lbl) AS lbl
         |  FROM p$r a JOIN p$r b ON a.lbl = b.id)""".stripMargin
    s"""WITH $shinglesSqlBase,
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    md5(min(('0x'||substr(md5('0:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
       |        min(('0x'||substr(md5('1:'||sh),1,8))::BIGINT)::VARCHAR) AS band0,
       |    md5(min(('0x'||substr(md5('2:'||sh),1,8))::BIGINT)::VARCHAR || ':' ||
       |        min(('0x'||substr(md5('3:'||sh),1,8))::BIGINT)::VARCHAR) AS band1
       |  FROM sh GROUP BY doc_id),
       |pr AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sig a JOIN sig b
       |    ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
       |sym AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pr
       |        UNION ALL SELECT d2, d1 FROM pr),
       |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |${(1 to 4).map(round).mkString(",\n")},
       |sz AS (SELECT lbl, count(*)::BIGINT AS csize FROM l4 GROUP BY lbl)
       |SELECT l4.id AS doc_id, l4.lbl AS comp_near, sz.csize,
       |  (l4.id = l4.lbl)::INT AS is_keeper
       |FROM l4 JOIN sz USING (lbl)""".stripMargin
  }
}
