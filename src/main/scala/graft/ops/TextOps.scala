package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, applied
  * to the driver's `documents` table. All row-local ops are Catalyst
  * expressions/HOFs (codegen'd, no UDFs); the TF-IDF decomposition is the
  * relational form SURVEY.md §2.4 A6 prescribes for `matcher.py:117-153`.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Spread expensive per-row stages (regex tokenize, hash signatures) across
    * the session's cores when the scan yields fewer input splits than that:
    * a sub-`maxPartitionBytes` parquet file is ONE split, which serializes
    * every downstream per-row stage onto one core (measured: the whole sf0.1
    * TF-IDF tokenize ran single-threaded behind a 0.6 MB file). The
    * repartition is deliberately CONDITIONAL — at real data scale the scan
    * already has ≥ cores splits and this is a no-op, so no gratuitous
    * full-corpus shuffle is ever added. Same lesson as the crawl fetch stage:
    * size expensive per-row stages by work units, not input bytes.
    */
  private[ops] def parallelized(df: DataFrame): DataFrame = {
    val spark  = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's input-split count from file-index metadata alone —
    // no `df.rdd`, which would force building a physical plan + RDD lineage
    // per query just to count splits (and count the pre-AQE ones at that;
    // ADVICE r3). ceil(bytes / maxPartitionBytes) per file upper-bounds the
    // scan partitions (file packing can only lower it); the sandbox tables
    // are one file each, where the bound is exact — and at real data scale
    // the estimate clears `target` and this stays a no-op.
    val files = df.inputFiles
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits: Long =
      if (files.isEmpty)
        // not file-backed (in-memory view): no metadata to estimate from —
        // fall back to the physical partition count. Rare (every production
        // caller hands a parquet scan), so the plan-build cost is confined
        // to that case rather than paid per query (ADVICE r3).
        df.rdd.getNumPartitions.toLong
      else {
        val openCost = spark.sessionState.conf.filesOpenCostInBytes
        val hconf    = spark.sessionState.newHadoopConf()
        val lens = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hconf).getFileStatus(p).getLen
        }
        // Two bounds on the packed scan's partition count (ADVICE r4): the
        // per-file ceil sum is exact for few large files but OVERCOUNTS a
        // table of many sub-split files (FilePartition packs those together,
        // each padded by openCostInBytes), where the packing bound
        // ceil(paddedBytes / maxSplit) is the right estimate. Take the min —
        // underestimating only risks a repartition of a corpus small enough
        // to have packed below `target`, which is exactly the case the
        // repartition exists for.
        val perFile = lens.iterator.map(l => math.max(1L, (l + maxSplit - 1) / maxSplit)).sum
        val packed  = (lens.sum + lens.length.toLong * openCost + maxSplit - 1) / maxSplit
        math.min(perFile, math.max(1L, packed))
      }
    if (splits < target) df.repartition(target) else df
  }

  /** Shared token definition (parity-critical with the DuckDB oracles):
    * lowercase alphabetic runs. Mirrors the reference's fallback tokenizer
    * (`matcher.py:295-304`: `\b[a-zA-Z]{3,}\b` minus stopwords — here the
    * length floor is 1 and stopwords are a fixed literal list).
    *
    * Compiled as the native byte-run scanner
    * ([[graft.functions.AsciiTokens]] — bit-identical to the regex by the
    * UTF-8 argument on its doc; OpsSpec pins parity).
    */
  def tokens(text: Column): Column =
    graft.functions.TextExprs.asciiTokens(lower(text))

  /** The regex reference form of [[tokens]] — the declarative spec the
    * native scanner is bit-parity-tested against (OpsSpec).
    */
  def tokensRegex(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "in", "to", "is")
  private def stopwordsLit: Column = array(Stopwords.map(lit): _*)
  private val stopwordsSqlList: String = Stopwords.mkString("['", "', '", "']")

  /** Distinct non-stopword tokens (array_except dedups — mirrored in SQL). */
  def contentTokens(text: Column): Column =
    array_except(tokens(text), stopwordsLit)

  /** Non-stopword tokens with duplicates kept (for tf counting): the native
    * one-pass hashed-probe filter; the HOF reference form below is the
    * parity spec.
    */
  def nonStopTokens(text: Column): Column =
    graft.functions.TextExprs.nonStop(tokens(text))

  /** HOF reference form of [[nonStopTokens]] (parity spec). */
  def nonStopTokensHof(text: Column): Column =
    filter(tokens(text), t => !t.isin(Stopwords.map(_.asInstanceOf[Any]): _*))

  /** Adjacent-token bigrams joined by a single space, from an already-filtered
    * token array (the reference vectorizer builds ngrams AFTER stopword
    * removal — sklearn semantics, `matcher.py:46-50`). Row-local; compiled
    * as the fused native k-gram scan ([[graft.functions.WordGrams]]); empty
    * for arrays shorter than 2 (and for a NULL array — both forms).
    */
  def bigrams(toks: Column): Column =
    graft.functions.TextExprs.grams(toks, 2)

  /** HOF reference form of [[bigrams]] (parity spec). */
  def bigramsHof(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  // ---- year extraction (reference `main.py:263-265`, F5) ----

  /** Regex year extraction over deterministically synthesized publication
    * strings (the driver's documents carry no years; the string is built the
    * same way on both sides so the regex machinery itself is what's tested).
    */
  def yearExtract(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("pub",
        concat(col("source"), lit(" published in "),
          (lit(1990) + pmod(col("doc_id"), lit(30))).cast("string"), lit(" proc.")))
      .withColumn("year",
        nullif(regexp_extract(col("pub"), """\b(19|20)\d{2}\b""", 0), lit(""))
          .cast("int"))
      .groupBy(col("year")).agg(count(lit(1)).as("n"))

  val yearExtractSql: String =
    """SELECT CAST(regexp_extract(source || ' published in ' ||
      |         CAST(1990 + doc_id % 30 AS VARCHAR) || ' proc.',
      |         '\b(19|20)\d{2}\b', 0) AS INT) AS year,
      |       count(*) AS n
      |FROM documents
      |GROUP BY 1""".stripMargin

  // ---- token counting (training-data pipeline op) ----

  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val tks = tokens(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      size(tks).as("n_tokens"),
      size(array_distinct(tks)).as("n_distinct"),
      size(array_except(tks, stopwordsLit)).as("n_content"),
      length(col("text")).as("n_chars_calc"))
  }

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_tokens,
       |  len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS n_distinct,
       |  len(list_filter(list_distinct(regexp_extract_all(lower(text), '[a-z]+')),
       |      t -> NOT list_contains($stopwordsSqlList, t))) AS n_content,
       |  length(text) AS n_chars_calc
       |FROM documents""".stripMargin

  // ---- corpus length-distribution stats (training-data QA op) ----

  /** Per-language token-count distribution over the corpus: doc count, total
    * tokens, mean, sample stddev, and EXACT interpolated p50/p90/p99 — the
    * pre-training mix QA readout ("how long are my documents per language,
    * and where are the tails"). Quantiles use Spark's exact `percentile`
    * aggregate (type-7 linear interpolation — the same definition as
    * DuckDB's `quantile_cont`, so the oracle matches bit-for-bit after the
    * shared 4-decimal rounding). One corpus scan, partial-aggregating
    * group-by on the (tiny) language key; at 100 TB this is a single
    * shuffle of per-partition percentile buffers, never a global sort.
    */
  def corpusLengthStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("t")).as("total_tokens"),
        round(avg(col("t")), 4).as("mean_tokens"),
        round(stddev_samp(col("t")), 4).as("sd_tokens"),
        round(percentile(col("t"), lit(0.5)), 4).as("p50_tokens"),
        round(percentile(col("t"), lit(0.9)), 4).as("p90_tokens"),
        round(percentile(col("t"), lit(0.99)), 4).as("p99_tokens"))

  val corpusLengthStatsSql: String =
    """SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(t) AS BIGINT) AS total_tokens,
      |  round(avg(t), 4) AS mean_tokens,
      |  round(stddev_samp(t), 4) AS sd_tokens,
      |  round(quantile_cont(t, 0.5), 4) AS p50_tokens,
      |  round(quantile_cont(t, 0.9), 4) AS p90_tokens,
      |  round(quantile_cont(t, 0.99), 4) AS p99_tokens
      |FROM (SELECT lang,
      |        len(regexp_extract_all(lower(text), '[a-z]+')) AS t
      |      FROM documents)
      |GROUP BY lang""".stripMargin

  // ---- language identification (n-gram/marker heuristic) ----

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "et", "des"))

  /** Adds `predicted` (argmax of marker hits, fixed tie order) from a token
    * column — shared by [[langId]] and [[corpusPrep]]. Marker-count columns
    * are materialized as their own projection so the tie-break expression
    * references attributes, not re-evaluated filters.
    */
  private def withPredictedLang(df: DataFrame, tks: Column): DataFrame = {
    val withHits = langMarkers.foldLeft(df) { case (d, (l, ms)) =>
      // native hashed-probe membership count — exact semantics of
      // size(filter(tks, isin(ms…))), see [[graft.functions.SetHits]]
      d.withColumn(s"__c_$l", graft.functions.TextExprs.setHits(tks, ms))
    }
    val pred = langMarkers.map(_._1).foldRight(lit("und"): Column) { (l, els) =>
      val c = col(s"__c_$l")
      val geAll = langMarkers.map(_._1).filter(_ != l)
        .map(o => c >= col(s"__c_$o")).reduce(_ && _)
      when(c > 0 && geAll, lit(l)).otherwise(els)
    }
    withHits.withColumn("predicted", pred)
      .drop(langMarkers.map(m => s"__c_${m._1}"): _*)
  }

  /** Marker-stopword language-ID heuristic: predicted = argmax of marker hits
    * with a fixed tie order. Compared per (actual, predicted) cell against
    * the table's `lang` column.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    withPredictedLang(parallelized(docs(spark, dir)), tokens(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  val langIdSql: String = {
    val hits = langMarkers.map { case (l, ms) =>
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), " +
        s"t -> list_contains(${ms.mkString("['", "', '", "']")}, t))) AS c_$l"
    }.mkString(",\n    ")
    val langs = langMarkers.map(_._1)
    val cases = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN c_$l > 0 AND $ge THEN '$l'"
    }.mkString("\n      ")
    s"""SELECT lang, predicted, count(*) AS n FROM (
       |  SELECT lang,
       |    CASE $cases
       |      ELSE 'und' END AS predicted
       |  FROM (SELECT lang, $hits FROM documents) h) p
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- quality scoring (length/stopword/word-shape heuristics) ----

  /** Quality in exact integer basis points (0..10000):
    *   50·min(n_words,100)  (length)           — weight .5
    * + ⌊2500·stop_hits / n_words⌋ (stopword ratio) — weight .25
    * + min(⌊250·sum_len / n_words⌋, 2500) (avg word length /10, capped) — .25
    * Integer arithmetic end-to-end: no float rounding-boundary divergence
    * between engines (a double formulation flaked at exactly .xxxx5).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val tks    = tokens(col("text"))
    val nWords = size(tks).cast("long")
    // native one-pass membership count and character sum — exact semantics
    // of size(filter(isin)) / aggregate(acc + length) (OpsSpec parity)
    val stopHits = graft.functions.TextExprs.setHits(tks, Stopwords).cast("long")
    val sumLen = graft.functions.TextExprs.charSum(tks)
    parallelized(docs(spark, dir))
      .withColumn("__nw", nWords)
      .withColumn("__sh", stopHits)
      .withColumn("__sl", sumLen)
      .select(
        col("doc_id"),
        (lit(50L) * least(col("__nw"), lit(100L)) +
          expr("(2500 * __sh) DIV greatest(__nw, 1)") +
          least(expr("(250 * __sl) DIV greatest(__nw, 1)"), lit(2500L)))
          .cast("long").as("quality_bp"))
  }

  val qualityScoreSql: String =
    s"""SELECT doc_id,
       |  CAST(50 * least(n_words, 100)
       |    + (2500 * stop_hits) // greatest(n_words, 1)
       |    + least((250 * sum_len) // greatest(n_words, 1), 2500)
       |    AS BIGINT) AS quality_bp
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(toks, t -> list_contains($stopwordsSqlList, t)))
       |      AS BIGINT) AS stop_hits,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
       |        FROM documents) tt) s""".stripMargin

  // ---- document fingerprinting ----

  /** Normalized-text fingerprint (whitespace-collapsed, lowercased, md5/16)
    * + duplicate-group counting: the cheap exact-dedup key of a training
    * pipeline.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    parallelized(docs(spark, dir))
      .withColumn("fp",
        substring(md5(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 16))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))

  val fingerprintSql: String =
    """SELECT substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp,
      |  count(*) AS n, min(doc_id) AS first_doc
      |FROM documents
      |GROUP BY 1""".stripMargin

  // ---- composed corpus-prep pipeline (training-data prep end-to-end) ----

  /** The training-data prep pipeline a 100 TB corpus actually runs, composed
    * from this module's operators in ONE pass: exact dedup (keep min doc_id
    * per content hash) → quality gate (≥ `minQualityBp`) → language gate
    * (predicted "en") → per-doc token counts. Everything after the dedup
    * semi-join is row-local: one corpus scan, one hash shuffle for the dedup
    * keep-set, no other exchange. Output: (doc_id, n_tokens, quality_bp).
    */
  def corpusPrep(spark: SparkSession, dir: String,
      minQualityBp: Long = 4000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d0 = docs(spark, dir)
    // exact dedup keep-min as a PARTITIONED window (rank within each content
    // hash), not a groupBy + self-semi-join — the join form reads the corpus
    // twice; this is one scan + one hash-partitioned shuffle
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    // explicit hash repartition on the window key: it satisfies the window's
    // clustering requirement AND pins the post-shuffle parallelism — AQE
    // would coalesce this sub-MB exchange to ~1 partition and serialize the
    // tokenize/scoring stages that follow it.
    //
    // __h and __tks are computed BELOW the window on purpose (round 6, guide
    // §4.4 — stop the optimizer duplicating expensive expressions): with
    // __tks projected ABOVE the window, the final quality/language filter
    // was pushed down through the projections with alias SUBSTITUTION,
    // yielding a predicate that re-evaluated `asciitokens(lower(text))` 15×
    // per row (plus 8 sethits/charsum re-derivations) before the projections
    // computed it all again — measured at ~40 s of summed task time against
    // ~0.1 s for the same corpus in q_token_stats. A predicate cannot push
    // through a window except on partition keys, so anchoring __tks below
    // the window makes the filter reference the ATTRIBUTE: tokenize runs
    // once per row. (The window's sort rows carry __tks instead of text —
    // same order of bytes, text itself is projected away.)
    val P = spark.sparkContext.defaultParallelism
    val base = d0
      .withColumn("__h", md5(col("text")))
      .repartition(P, col("__h"))
      .withColumn("__tks", tokens(col("text")))
      .select(col("doc_id"), col("__h"), col("__tks"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("__nw", size(col("__tks")).cast("long"))
      .withColumn("__sh",
        graft.functions.TextExprs.setHits(col("__tks"), Stopwords).cast("long"))
      .withColumn("__sl", graft.functions.TextExprs.charSum(col("__tks")))
      .withColumn("quality_bp",
        (lit(50L) * least(col("__nw"), lit(100L)) +
          expr("(2500 * __sh) DIV greatest(__nw, 1)") +
          least(expr("(250 * __sl) DIV greatest(__nw, 1)"), lit(2500L)))
          .cast("long"))
    withPredictedLang(base, col("__tks"))
      .filter(col("quality_bp") >= minQualityBp && col("predicted") === "en")
      .select(col("doc_id"), col("__nw").as("n_tokens"), col("quality_bp"))
  }

  val corpusPrepSql: String =
    s"""WITH keep AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) r
       |  WHERE rn = 1),
       |stats AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(toks, t -> list_contains($stopwordsSqlList, t)))
       |      AS BIGINT) AS stop_hits,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
       |    toks
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
       |        FROM keep) d),
       |scored AS (
       |  SELECT doc_id, n_words,
       |    CAST(50 * least(n_words, 100)
       |      + (2500 * stop_hits) // greatest(n_words, 1)
       |      + least((250 * sum_len) // greatest(n_words, 1), 2500)
       |      AS BIGINT) AS quality_bp,
       |    ${langMarkers.map { case (l, ms) =>
            s"len(list_filter(toks, t -> list_contains(" +
              ms.mkString("['", "', '", "']") + s", t))) AS c_$l" }
            .mkString(",\n    ")}
       |  FROM stats),
       |lang AS (
       |  SELECT doc_id, n_words, quality_bp,
       |    CASE ${langMarkers.map(_._1).map { l =>
              val ge = langMarkers.map(_._1).filter(_ != l)
                .map(o => s"c_$l >= c_$o").mkString(" AND ")
              s"WHEN c_$l > 0 AND $ge THEN '$l'" }.mkString("\n      ")}
       |      ELSE 'und' END AS predicted
       |  FROM scored)
       |SELECT doc_id, n_words AS n_tokens, quality_bp
       |FROM lang
       |WHERE quality_bp >= 4000 AND predicted = 'en'""".stripMargin

  // ---- TF-IDF cosine (reference `matcher.py:117-153`, SURVEY A6) ----

  /** Vocabulary cap, per the reference vectorizer's `max_features=5000`
    * (`matcher.py:46-50`): keep the 5000 terms with the highest corpus term
    * frequency, ties broken ascending by term (deterministic in both engines).
    */
  val MaxFeatures = 5000

  /** Relational TF-IDF + cosine against a query document (min doc_id), with
    * the reference vectorizer's configuration (`matcher.py:46-50`): ngram
    * range (1,2) over stopword-filtered tokens, vocabulary capped at
    * [[MaxFeatures]] by corpus term frequency, smoothed idf
    * ln((N+1)/(df+1))+1, L2-normalized weights, cosine vs the query vector.
    * Top 20.
    *
    * Cost model (the round-2 regression fix): the corpus text is tokenized
    * EXACTLY ONCE and `tf` is the ONLY materialization — everything
    * downstream (weights, norms, the query vector, the dot products) is a
    * broadcast-join + aggregate re-derivation over the cached `tf`, which is
    * orders of magnitude narrower than the text it came from. Persisting the
    * derived `w`/`norms` lineages too (round 2) tripled the materialized
    * volume for intermediates that cost one cache pass to recompute.
    * Corpus size and the query id come from ONE doc_id-only scan (they are
    * deliberately NOT derived from `tf`: a document tokenizing to zero terms
    * is absent there, and the reference's N counts it). Shuffle profile at
    * scale: one shuffle for tf, one for the vocab agg, top-k via
    * TakeOrderedAndProject; vocab/query vectors broadcast (≤5000 rows).
    * Sessions running many queries release the cache via `clearCache()`.
    */
  def tfidfCosine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def terms(df: DataFrame): DataFrame = df
      .select(col("doc_id"), nonStopTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        concat(col("toks"), bigrams(col("toks"))).as("terms"))
    // HASH-repartition the corpus by doc_id (round 6, guide §2.4 — share one
    // exchange): HashPartitioning(doc_id) satisfies the clustering
    // requirement of BOTH the (doc_id, term) tf aggregation AND the final
    // per-doc dot/norm aggregation, so the raw text is shuffled ONCE and no
    // term-level rows ever cross the network — the old round-robin
    // `parallelized()` form paid a tf exchange of every (doc_id, term)
    // partial (~3× the text bytes: unigrams + bigrams + per-row overhead)
    // plus a second exchange of the weighted rows into the dot/norm
    // aggregation. The explicit partition count pins post-shuffle
    // parallelism exactly as `corpusPrep` does (AQE would coalesce the
    // sub-MB sandbox exchange to 1 partition and serialize the tokenize).
    // Results are unchanged: aggregation contents are partitioning-
    // independent, and the per-doc float sums were already order-free
    // (cached tf row order, AQE) before the 4-decimal rounding.
    val P = spark.sparkContext.defaultParallelism
    val tf = terms(docs(spark, dir).repartition(P, col("doc_id")))
      .select(col("doc_id"), explode(col("terms")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vocabulary cap + document frequency in ONE pass over tf; persisted
    // (5000 rows) — consumed by both the query-vector and corpus weight plans
    val vocab = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("cnt"), count(lit(1)).as("df"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(MaxFeatures)
      .select(col("term"), col("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // corpus size + query id: one skinny doc_id-only scan, collected (two
    // scalars) so they fold into downstream plans as LITERALS — q_id becomes
    // a pushed parquet filter for the query-vector scan, and no
    // crossJoin/broadcast jobs exist just to ship two numbers. Deliberately
    // NOT derived from tf: a document tokenizing to zero terms is absent
    // there, and the reference's N counts it.
    val meta = docs(spark, dir)
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("q_id")).head()
    val nDocs = meta.getLong(0)
    val qId   = meta.get(1)
    def weighted(tfDf: DataFrame): DataFrame = tfDf
      .join(broadcast(vocab), "term")
      .withColumn("w",
        col("tf") * (log(lit(nDocs + 1.0) / (col("df") + 1.0)) + 1.0))
    // query vector: ONE document via pushed-filter scan — never a corpus
    // pass; ≤ MaxFeatures rows by construction, collected so the query norm
    // is a literal and the vector broadcasts from a local relation
    val qRows = weighted(
      terms(docs(spark, dir).filter(col("doc_id") === lit(qId)))
        .select(explode(col("terms")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf")))
      .select(col("term"), col("w")).collect()
    val qNorm = math.sqrt(qRows.map(r => r.getDouble(1) * r.getDouble(1)).sum)
    import spark.implicits._
    val qw = qRows.map(r => (r.getString(0), r.getDouble(1))).toSeq.toDF("term", "qw")
    // dot AND norm in ONE aggregation over one tf-cache pass: the left join
    // gives non-shared terms an exact +0.0 dot contribution (IEEE: x+0.0 == x,
    // so the sum is bit-identical to the inner-join form), and dot > 0 ⟺ the
    // doc shares ≥1 vocab term with the query (every shared term contributes
    // ≥ 1), so the filter reproduces the inner-join row set exactly.
    weighted(tf)
      .join(broadcast(qw), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * coalesce(col("qw"), lit(0.0))).as("dot"),
        sqrt(sum(col("w") * col("w"))).as("norm"))
      .filter(col("dot") > 0)
      .select(col("doc_id"),
        round(col("dot") / (col("norm") * lit(qNorm)), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
      .limit(20)
  }

  val tfidfCosineSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[a-z]+'),
       |    t -> NOT list_contains($stopwordsSqlList, t)) AS ts
       |  FROM documents),
       |terms AS (
       |  SELECT doc_id, unnest(ts || list_transform(
       |    generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i + 1])) AS term
       |  FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |vocab AS (SELECT term, count(*) AS df FROM tf GROUP BY term
       |          ORDER BY sum(tf) DESC, term ASC LIMIT $MaxFeatures),
       |n AS (SELECT count(*) AS n FROM documents),
       |w AS (SELECT tf.doc_id, tf.term,
       |        tf.tf * (ln((n.n + 1.0) / (vocab.df + 1.0)) + 1.0) AS w
       |      FROM tf JOIN vocab USING (term) CROSS JOIN n),
       |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1),
       |q AS (SELECT term, w AS qw FROM w WHERE doc_id = (SELECT min(doc_id) FROM documents)),
       |qn AS (SELECT norm AS q_norm FROM norms
       |       WHERE doc_id = (SELECT min(doc_id) FROM documents))
       |SELECT w.doc_id AS doc_id,
       |  round(sum(w.w * q.qw) / (any_value(norms.norm) * any_value(qn.q_norm)), 4) AS cosine
       |FROM w JOIN q USING (term)
       |JOIN norms ON w.doc_id = norms.doc_id
       |CROSS JOIN qn
       |GROUP BY w.doc_id
       |ORDER BY cosine DESC, w.doc_id ASC
       |LIMIT 20""".stripMargin
}
