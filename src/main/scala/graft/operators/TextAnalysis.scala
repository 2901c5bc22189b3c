package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.engine.Qf._
import graft.functions.VectorFunctions

/** Text analysis for LLM-data pipelines (SURVEY.md §2.5) over `documents`.
  * All kernels are native Column expressions (codegen'd, no UDFs):
  * tokenization via split+filter, counting via length arithmetic, so the
  * hot path stays inside whole-stage codegen and the identical integer
  * arithmetic runs on the DuckDB oracle side.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Non-empty whitespace tokens: filter(split(text,' '), x -> x != ''). */
  private[operators] val wordsCol: Column = expr("filter(split(text, ' '), x -> x != '')")
  private[operators] val wordsSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  private val stopList = Seq("the", "a", "of", "to", "and", "in")
  private[operators] val stopSqlIn = stopList.map(s => s"'$s'").mkString("(", ", ", ")")

  // ---------------------------------------------------------------- t01
  /** Per-language token statistics: whitespace tokens plus a BPE-ish
    * regex tokenization (alpha runs / digit runs / single symbols — the
    * shape subword tokenizers pre-split on). */
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def t01(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(wordsCol).cast("long"))
      .withColumn("n_bpe", size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("n_bpe")).as("total_bpe_tokens"),
           (dbl(sum(col("n_tok"))) / count(lit(1))).as("avg_tokens"),
           max(col("n_tok")).as("max_tokens"),
           min(col("n_tok")).as("min_tokens"))
      .orderBy("lang")
  val t01Sql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       |  CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
       |  CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
       |  CAST(MIN(n_tok) AS BIGINT) AS min_tokens
       |FROM (SELECT lang, CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |        CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS n_bpe
       |      FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t02
  /** Adds `n_tok`/`n_stop`/`n_punct`/`quality` (t02's exact arithmetic) to
    * any frame with a `text` column; drops zero-token rows. Shared with the
    * composed curation pipeline (p01) so both run the identical score. */
  private[graft] def addQuality(df: DataFrame): DataFrame =
    df.withColumn("n_tok", size(wordsCol).cast("long"))
      .filter(col("n_tok") >= 1)
      .withColumn("n_stop",
        size(expr(s"filter(filter(split(text, ' '), x -> x != ''), w -> w IN $stopSqlIn)")).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
      .withColumn("quality",
        round(lit(0.3d) * (lit(1.0d) - dbl(col("n_punct")) / dbl(length(col("text"))))
          + lit(0.3d) * (lit(1.0d) - dbl(col("n_stop")) / dbl(col("n_tok")))
          + lit(0.4d) * (dbl(least(col("n_tok"), lit(100L))) / lit(100.0d)), 6))

  /** DuckDB mirror of [[addQuality]]'s quality expression over a relation
    * exposing n_tok/n_stop/n_punct/n_char. */
  private[operators] val qualitySqlExpr: String =
    """ROUND(0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_char AS DOUBLE))
      |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
      |      + 0.4 * (CAST(LEAST(n_tok, 100) AS DOUBLE) / 100.0), 6)""".stripMargin

  /** Per-document quality score: stopword ratio, punctuation ratio,
    * length saturation — one weighted sum, identical op order both sides. */
  def t02(spark: SparkSession, dir: String): DataFrame =
    addQuality(Tables.documents(spark, dir))
      .select("doc_id", "n_tok", "n_stop", "n_punct", "quality")
      .orderBy("doc_id")
  val t02Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1)
       |SELECT doc_id, n_tok, n_stop, n_punct,
       |  ROUND(0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_char AS DOUBLE))
       |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |      + 0.4 * (CAST(LEAST(n_tok, 100) AS DOUBLE) / 100.0), 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** Marker-word language-ID heuristic: count marker occurrences per
    * language, argmax with a fixed tie order; confusion-matrix output. */
  private val markers: Seq[(String, String)] = Seq(
    "en" -> " the ", "es" -> " la ", "de" -> " der ", "fr" -> " le ", "zh" -> " zh ")

  /** Adds a `predicted` language column (t03's exact argmax heuristic) to
    * any frame with a `text` column; shared with the curation pipeline. */
  private[graft] def addPredicted(df: DataFrame): DataFrame = {
    // occurrences of marker m in padded text (non-overlapping, exact ints)
    def score(m: String): Column =
      (length(concat(lit(" "), col("text"), lit(" ")))
        - length(expr(s"replace(concat(' ', text, ' '), '$m', '')"))) / lit(m.length)
    val scored = markers.foldLeft(df) {
      case (d, (lang, m)) => d.withColumn(s"s_$lang", score(m))
    }
    val best = markers.map(_._1).map(l => col(s"s_$l"))
    val predicted = markers.map(_._1).foldRight(lit("und")) {
      case (l, acc) => when(col(s"s_$l") === greatest(best: _*) && greatest(best: _*) > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted", predicted)
  }

  /** DuckDB mirror of [[addPredicted]]: (score select-list, CASE argmax). */
  private[operators] val predictedSqlScores: String = markers.map { case (l, m) =>
    s"(LENGTH(' ' || text || ' ') - LENGTH(replace(' ' || text || ' ', '$m', ''))) / ${m.length} AS s_$l"
  }.mkString(",\n    ")
  private[operators] val predictedSqlCase: String = {
    val bestExpr = markers.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
    markers.map { case (l, _) =>
      s"WHEN s_$l = $bestExpr AND $bestExpr > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }

  def t03(spark: SparkSession, dir: String): DataFrame =
    addPredicted(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  val t03Sql: String =
    s"""WITH s AS (
       |  SELECT lang,
       |    $predictedSqlScores
       |  FROM documents)
       |SELECT lang, $predictedSqlCase AS predicted, COUNT(*) AS n
       |FROM s GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- t05
  /** PII-style redaction pass: scrub number-like and email-like spans,
    * report redaction counts per source — the pre-training scrub shape.
    * Counting trick: spans = (len(orig) - len(replace-with-empty)) is
    * fragile for variable-length matches, so count via extract_all. */
  private val numPat = "[0-9]+"
  private val mailPat = "[a-z0-9]+@[a-z0-9.]+"
  def t05(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_num", size(regexp_extract_all(col("text"), lit(numPat), lit(0))).cast("long"))
      .withColumn("n_mail", size(regexp_extract_all(col("text"), lit(mailPat), lit(0))).cast("long"))
      .withColumn("clean", regexp_replace(regexp_replace(col("text"), mailPat, "<EMAIL>"), numPat, "<NUM>"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_num")).as("n_num_redactions"),
           sum(col("n_mail")).as("n_mail_redactions"),
           sum(length(col("clean")).cast("long")).as("clean_chars"))
      .orderBy("source")
  val t05Sql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '$numPat'))) AS BIGINT) AS n_num_redactions,
       |  CAST(SUM(len(regexp_extract_all(text, '$mailPat'))) AS BIGINT) AS n_mail_redactions,
       |  CAST(SUM(LENGTH(regexp_replace(regexp_replace(text, '$mailPat', '<EMAIL>', 'g'), '$numPat', '<NUM>', 'g'))) AS BIGINT) AS clean_chars
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Normalized-text fingerprint; per-source duplication stats. */
  def t04(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fp")).as("n_unique"),
           (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
      .orderBy("source")
  val t04Sql: String =
    """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT fp) AS n_dups
      |FROM (SELECT source, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t06
  /** Deterministic hash-stratified sampling — the reproducible
    * training-mix step. The keep decision is "first md5 hex nibble of the
    * content below the stratum's rate": no RNG state, no sampleBy
    * non-determinism — the same document is kept by every engine, every
    * run, at any parallelism, and the sample composition is auditable
    * after the fact. Here `en` is kept at 8/16 and every other language
    * at 4/16 (rates are parameters; hex-char comparison is lexicographic
    * so no hex→int conversion is needed on either engine).
    *
    * Scale: a pure scan-parallel filter — predicate and projection push
    * to the parquet scan; the only shuffle is the final tiny sort. */
  def t06(spark: SparkSession, dir: String): DataFrame = {
    val nib = substring(md5(col("text")), 1, 1)
    Tables.documents(spark, dir)
      .filter(when(col("lang") === "en", nib < "8").otherwise(nib < "4"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }
  val t06Sql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE CASE WHEN lang = 'en' THEN substr(md5(text), 1, 1) < '8'
      |           ELSE substr(md5(text), 1, 1) < '4' END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t07
  /** Token-length histogram per language: decade buckets capped at 200+.
    * Corpus-shape analytics for training-mix decisions (how much long-form
    * text each language contributes). Pure scan → map-side-combinable
    * groupBy: one shuffle of (lang x ~21 buckets) partials. */
  def t07(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(wordsCol).cast("long"))
      .groupBy(col("lang"),
        least(col("n_tok") - pmod(col("n_tok"), lit(10L)), lit(200L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy("lang", "bucket")
  val t07Sql: String =
    s"""SELECT lang, LEAST(n_tok - n_tok % 10, 200) AS bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
       |FROM (SELECT lang, CAST(len($wordsSql) AS BIGINT) AS n_tok FROM documents)
       |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  // ---------------------------------------------------------------- t08
  /** Char-level near-dup pairs via ROLLING-HASH winnowing fingerprints
    * (the MOSS scheme): Rabin-Karp base-256 polynomial hash over char
    * 8-grams (each hash derived from the previous in O(1) inside the
    * winnow_fps kernel), minimum of every 4-gram-hash window, dedup'd —
    * any shared substring of >= 11 chars yields a shared fingerprint.
    * Complements the word-level shingles of d03 (robust to
    * word-boundary edits); pairs via the same inverted-index join, never
    * a cross join. As in MOSS itself, fingerprints appearing in more
    * than maxDf documents are dropped as boilerplate BEFORE the pair
    * join — on this corpus that is 99.4% of would-be join rows (one
    * 8-gram occurs in 76% of docs), and at any scale it bounds each
    * posting bucket to maxDf^2 pairs. The cap is part of the operator's
    * semantics and the oracle applies the identical cap, so the pair
    * set stays hash-exact. The oracle folds the identical (h*256+c)
    * mod p per gram — algebraically equal to the rolling update. */
  def t08(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val maxDf = 50
    // cache: the boilerplate-df count and the kept-posting join BOTH
    // explode this frame — uncached, the winnow kernel ran twice
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("winnow_fps(text, 8, 4)").as("fps"))
      .filter(size(col("fps")) >= 1)
      .cache()
    val posting0 = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    // boilerplate filter: one map-side-combinable count per fp, then an
    // equi-join (AQE broadcasts the small keep-list at gate scale)
    val keep = posting0.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val posting = posting0.join(keep, "fp").cache()
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // containment >= 1/2 of the smaller KEPT fingerprint set (integer
    // cross-multiplied — measured: random template pairs top out ~0.38,
    // true near-dups sit at 1.0, so 0.5 separates cleanly)
    posting.as("a").join(posting.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .filter(col("n_shared") * 2 >= least(col("na"), col("nb")))
      .select("doc_a", "doc_b", "n_shared")
      .orderBy("doc_a", "doc_b")
  }
  val t08Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(text) - 8 + 2),
      |      i -> list_reduce(
      |             list_transform(range(0, 8),
      |               j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)),
      |             (h, c) -> (h * 256 + c) % 1000000007)) AS hs
      |  FROM documents WHERE len(text) >= 11),
      |f AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(hs) - 4 + 2),
      |      i -> list_aggregate(hs[i:i+3], 'min'))) AS fps
      |  FROM g),
      |p0 AS (SELECT doc_id, UNNEST(fps) AS fp FROM f),
      |keep AS (SELECT fp FROM p0 GROUP BY fp HAVING COUNT(*) <= 50),
      |p AS (SELECT p0.doc_id, p0.fp FROM p0 JOIN keep USING (fp)),
      |sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM p GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared
      |FROM pairs JOIN sz na ON doc_a = na.doc_id JOIN sz nb ON doc_b = nb.doc_id
      |WHERE n_shared * 2 >= LEAST(na.n, nb.n)
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- t09
  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf * ln(N/df), ties broken lexicographically.
    *
    * Both term frequencies and document frequencies are integer
    * aggregations; the only float work is ONE division and ONE ln on
    * each scored row, computed in the identical op order on both
    * engines (ln is correctly rounded on both — bit-equality probed
    * over the full df range) and rounded to 6dp. Ranking orders by the
    * ROUNDED score so both engines rank identical values.
    *
    * Scale: tf is a map-side-combinable (doc, word) count; df is a
    * count over the tf rows (word keyspace ~ vocabulary, Zipf-skewed —
    * AQE skew-split backstops the word join, and the join output is
    * |tf| rows, never |corpus|^2). N comes from a 1-row broadcast
    * cross join, not a driver collect. The per-doc top-3 window is
    * partitioned by doc_id — bounded per-key state, pruned by Spark 4's
    * WindowGroupLimit before the shuffle. */
  def t09(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    tf.join(df_, "word").crossJoin(broadcast(n))
      .withColumn("tfidf", round(dbl(col("tf")) * log(dbl(col("n")) / dbl(col("df"))), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rk")
  }
  val t09Sql: String =
    s"""WITH toks AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
       |sc AS (SELECT doc_id, word, tf, df,
       |         ROUND(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
       |       FROM tf JOIN df USING (word) CROSS JOIN n)
       |SELECT doc_id, rk, word, tf, df, tfidf
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                  ORDER BY tfidf DESC, word ASC) AS rk FROM sc)
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Within-document repetition scoring — the duplicate n-gram fraction
    * family of quality filters (Gopher/MassiveText): for n = 2,3,4 the
    * fraction of n-gram slots occupied by a repeat of an earlier n-gram,
    * plus the drop verdict at the published 0.2 threshold.
    *
    * dup_n = total n-gram slots (n_tok - n + 1) minus DISTINCT n-grams —
    * both integers from the single-pass word_ngrams kernel, so the whole
    * operator is a scan-bound projection (no explode, no shuffle except
    * the final order). Fractions are one IEEE division each; the drop
    * flag cross-multiplies (5*dup > total) so no float boundary. */
  def t10(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    def dup(n: Int) = (col(s"t$n") - size(expr(s"word_ngrams(text, $n)"))).cast("long")
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(wordsCol).cast("long"))
      .filter(col("n_tok") >= 4)
      .withColumn("t2", col("n_tok") - 1).withColumn("t3", col("n_tok") - 2)
      .withColumn("t4", col("n_tok") - 3)
      .withColumn("dup2", dup(2)).withColumn("dup3", dup(3)).withColumn("dup4", dup(4))
      .withColumn("frac2", dbl(col("dup2")) / col("t2"))
      .withColumn("frac3", dbl(col("dup3")) / col("t3"))
      .withColumn("frac4", dbl(col("dup4")) / col("t4"))
      .withColumn("would_drop", col("dup2") * 5 > col("t2"))
      .select("doc_id", "n_tok", "dup2", "dup3", "dup4",
              "frac2", "frac3", "frac4", "would_drop")
      .orderBy("doc_id")
  }
  val t10Sql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |st AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |  CAST(len(w) - 1 AS BIGINT) AS t2,
       |  CAST(len(w) - 2 AS BIGINT) AS t3,
       |  CAST(len(w) - 3 AS BIGINT) AS t4,
       |  CAST(len(w) - 1 - len(list_distinct(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i+1]))) AS BIGINT) AS dup2,
       |  CAST(len(w) - 2 - len(list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS dup3,
       |  CAST(len(w) - 3 - len(list_distinct(list_transform(range(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS BIGINT) AS dup4
       |  FROM w WHERE len(w) >= 4)
       |SELECT doc_id, n_tok, dup2, dup3, dup4,
       |  CAST(dup2 AS DOUBLE) / t2 AS frac2,
       |  CAST(dup3 AS DOUBLE) / t3 AS frac3,
       |  CAST(dup4 AS DOUBLE) / t4 AS frac4,
       |  dup2 * 5 > t2 AS would_drop
       |FROM st ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t11
  /** Corpus-LM quality scoring (the CCNet recipe, unigram form): build a
    * unigram language model FROM the corpus itself (word → occurrence
    * count), then score every document by its mean token log-probability.
    * Low scores flag gibberish / boilerplate; high scores flag natural
    * text — the standard perplexity-bucket pre-filter for training data.
    *
    * Scale shape: tokens collapse to per-(doc, word) tf FIRST (map-side
    * combinable, shrinks the model join input from Σtokens to Σdistinct);
    * the model is a groupBy(word) re-aggregation of tf (vocabulary-sized,
    * AQE broadcast-promotes it while it fits; stopword-skewed joins split
    * under AQE skew handling beyond that); the corpus total is a 1-row
    * broadcast. Float discipline: each word's log-prob is quantized ONCE
    * to DECIMAL(18,9), so the per-doc sum Σ tf·logp is exact integer
    * arithmetic — order-independent across partials and bit-identical on
    * the oracle — with one double division + round at the end. */
  def t11(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir).orderBy("doc_id")

  /** t11's scored frame (doc_id, lang, n_tok, avg_logp), materialized
    * ONCE per (session, dir) and shared by every consumer of the LM
    * score (t11, t14's terciles, p03's budget cut) — the tokenize + LM
    * subplan is the most expensive text kernel, and each of those
    * operators previously paid it in full. */
  private[operators] def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    Memo.shared(spark, dir, Memo.Key.Scored)(
      scoredFrame(spark, dir)
        // narrow input → one row per doc: persist at a few partitions so
        // consumer stages aren't full task waves (Tables.smallFrameParts)
        .transform(d => Tables.smallFrameParts(spark, dir).fold(d)(d.coalesce))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def scoredFrame(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(wordsCol).as("word"))
    // cache: tf feeds the join probe side, the model aggregation AND
    // (via model) the corpus total — uncached, the corpus-wide
    // explode + groupBy re-runs per consumer
    val tf = toks.groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("tf"))
      .cache()
    val model = tf.groupBy("word").agg(sum(col("tf")).as("cnt"))
    val n = model.agg(sum(col("cnt")).as("n"))
    tf.join(model, "word").crossJoin(broadcast(n))
      .withColumn("logp_q",
        round(log(dbl(col("cnt")) / dbl(col("n"))), 9).cast("decimal(18,9)"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_tok"),
           sum(col("tf").cast("decimal(10,0)") * col("logp_q")).as("s"))
      .withColumn("avg_logp", round(dbl(col("s")) / dbl(col("n_tok")), 6))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("avg_logp"))
  }
  val t11Sql: String =
    s"""WITH toks AS (SELECT doc_id, lang, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, lang, word, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1,2,3),
       |model AS (SELECT word, SUM(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
       |n AS (SELECT SUM(cnt)::BIGINT AS n FROM model)
       |SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  ROUND(CAST(SUM(CAST(tf AS DECIMAL(10,0))
       |          * CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
       |                 AS DECIMAL(18,9))) AS DOUBLE)
       |        / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logp
       |FROM tf JOIN model USING (word) CROSS JOIN n
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t12
  /** Temperature-rebalanced language mixing (the mT5 / CCNet α-sampling
    * recipe, α = 0.5): languages are kept at rate ∝ c_lang^(α−1),
    * normalized so the rarest language keeps everything — high-resource
    * languages are down-sampled toward a flatter training mix.
    *
    * Selection is DETERMINISTIC, not rand(): each doc's uniform draw is
    * its md5(text) 8-hex-digit prefix, compared against the rate
    * converted to an 8-hex threshold string — re-runs, retries and the
    * oracle all pick the identical sample (same trick as t06). Rates
    * derive from a languages-sized aggregate broadcast onto the scan;
    * sqrt and one division are IEEE-correctly-rounded so the threshold
    * can't disagree across engines. One scan, one tiny broadcast, no
    * shuffle of the corpus at all. */
  def t12(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val cs = d.groupBy("lang").agg(count(lit(1)).as("c"))
    val mn = cs.agg(min(col("c")).as("cmin"))
    val rt = cs.crossJoin(broadcast(mn))
      .withColumn("rate", sqrt(dbl(col("cmin")) / dbl(col("c"))))
      .withColumn("thr", lpad(lower(hex(
        least(floor(col("rate") * lit(4294967296.0d)), lit(4294967295.0d))
          .cast("long"))), 8, "0"))
      .select(col("lang"), col("rate"), col("thr"))
    d.join(broadcast(rt), "lang")
      .filter(substring(md5(col("text")), 1, 8) <= col("thr"))
      .select(col("doc_id"), col("lang"), col("source"),
        round(col("rate"), 6).as("rate"))
      .orderBy("doc_id")
  }
  val t12Sql: String =
    """WITH cs AS (SELECT lang, COUNT(*)::BIGINT AS c FROM documents GROUP BY 1),
      |mn AS (SELECT MIN(c) AS cmin FROM cs),
      |rt AS (SELECT lang,
      |         sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) AS rate,
      |         lpad(lower(to_hex(CAST(LEAST(
      |           FLOOR(sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) * 4294967296.0),
      |           4294967295.0) AS BIGINT))), 8, '0') AS thr
      |       FROM cs CROSS JOIN mn)
      |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source,
      |  ROUND(rt.rate, 6) AS rate
      |FROM documents d JOIN rt USING (lang)
      |WHERE substr(md5(d.text), 1, 8) <= rt.thr
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t13
  /** Source-overlap matrix: pairwise n-gram Jaccard BETWEEN sources —
    * the corpus-analytics view that surfaces mirrored content and shared
    * boilerplate across crawl sources before any per-document dedup.
    *
    * The scale trick is the order of collapse: (source, gram) pairs are
    * DISTINCT-ed first (map-side combinable; output bounded by
    * |sources| × vocab, independent of corpus row count), so the gram
    * self-join fans out at most |sources|² rows per gram no matter how
    * many documents share it — the hot-shingle O(df²) hazard of
    * document-level pair joins (d03) cannot occur at source granularity.
    * Zero-overlap pairs are absent by construction (inner join). */
  def t13(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val posting = Tables.documents(spark, dir)
      .select(col("source"), explode(expr("word_ngrams(text, 3)")).as("g"))
      .distinct()
      .cache() // feeds both join sides and the per-source sizes
    val sizes = posting.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("un"),
        round(dbl(col("inter")) / dbl(col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }
  val t13Sql: String =
    s"""WITH posting AS (
       |  SELECT DISTINCT source,
       |    UNNEST(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
       |  FROM (SELECT source, $wordsSql AS w FROM documents)
       |  WHERE len(w) >= 3),
       |sizes AS (SELECT source, COUNT(*)::BIGINT AS n FROM posting GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*)::BIGINT AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, inter,
       |  na.n + nb.n - inter AS un,
       |  ROUND(CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
       |FROM inter
       |JOIN sizes na ON source_a = na.source
       |JOIN sizes nb ON source_b = nb.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- t14
  /** CCNet perplexity bucketing: split each language's corpus into
    * head / middle / tail terciles by the t11 corpus-LM score — the
    * standard "keep head+middle, drop tail" quality gate for web-crawl
    * training data.
    *
    * Scale shape: tercile CUTOFFS, not a per-document ntile. A
    * partitionBy(lang) window over raw documents would funnel each
    * language (billions of docs at corpus scale) through one partition;
    * instead the window runs over per-(lang, score) COUNTS — the score
    * is round6-quantized by t11, so the distinct-score domain is bounded
    * by the quantization (≤ a few million values) regardless of corpus
    * row count. Cut selection is integer arithmetic (cum·3 ≥ n) on exact
    * bigint counts; documents then bucket by comparing their score
    * against the broadcast languages-sized cutoff table. Ties at a
    * boundary score all land in the higher bucket (deterministic — no
    * row_number lottery). */
  def t14(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the memoized scored frame feeds the cutoff aggregation AND the
    // final bucket join — and is shared with t11/p03 across queries
    val scored = scoredDocs(spark, dir) // doc_id, lang, n_tok, avg_logp (round6)
    // The (lang, score) count frame is bounded by |lang| × the round6
    // quantization domain, so everything downstream of it is tiny: pin
    // it to ONE small hash(lang) exchange and let the running-sum
    // window, the per-lang total (an unbounded-frame window — no second
    // pass over `scored`) and the cuts aggregation all reuse that
    // partitioning (guide §2.4). Width is scale-adaptive: full
    // parallelism on a real corpus, a few partitions on a narrow one —
    // previously this chain was four full-width exchanges of KB data
    // plus an extra scan of `scored`, a pure task-wave tax that grows
    // with core count (the t14 anti-scaling row in PERF_r08).
    val scParts = Tables.smallFrameParts(spark, dir)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val sc = scored.groupBy("lang", "avg_logp").agg(count(lit(1)).as("c"))
      .repartition(scParts, col("lang"))
    val cum = sc
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("lang").orderBy(col("avg_logp").desc)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
    val cuts = cum.groupBy("lang")
      .agg(max(when(col("cum") * 3 >= col("n"), col("avg_logp"))).as("head_cut"),
           max(when(col("cum") * 3 >= col("n") * 2, col("avg_logp"))).as("mid_cut"))
    scored.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("avg_logp") >= col("head_cut"), "head")
          .when(col("avg_logp") >= col("mid_cut"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
           min(col("avg_logp")).as("min_lp"), max(col("avg_logp")).as("max_lp"))
      .orderBy("lang", "bucket")
  }
  val t14Sql: String =
    s"""WITH toks AS (SELECT doc_id, lang, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, lang, word, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1,2,3),
       |model AS (SELECT word, SUM(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT SUM(cnt)::BIGINT AS n FROM model),
       |scored AS (SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  ROUND(CAST(SUM(CAST(tf AS DECIMAL(10,0))
       |          * CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
       |                 AS DECIMAL(18,9))) AS DOUBLE)
       |        / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logp
       |  FROM tf JOIN model USING (word) CROSS JOIN tot GROUP BY 1, 2),
       |sc AS (SELECT lang, avg_logp, COUNT(*)::BIGINT AS c FROM scored GROUP BY 1, 2),
       |cum AS (SELECT lang, avg_logp,
       |  SUM(c) OVER (PARTITION BY lang ORDER BY avg_logp DESC) AS cum FROM sc),
       |nl AS (SELECT lang, COUNT(*)::BIGINT AS n FROM scored GROUP BY 1),
       |cuts AS (SELECT lang,
       |  MAX(CASE WHEN cum * 3 >= n THEN avg_logp END) AS head_cut,
       |  MAX(CASE WHEN cum * 3 >= n * 2 THEN avg_logp END) AS mid_cut
       |  FROM cum JOIN nl USING (lang) GROUP BY 1)
       |SELECT s.lang AS lang,
       |  CASE WHEN s.avg_logp >= head_cut THEN 'head'
       |       WHEN s.avg_logp >= mid_cut THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*)::BIGINT AS n_docs, CAST(SUM(s.n_tok) AS BIGINT) AS n_tok,
       |  MIN(s.avg_logp) AS min_lp, MAX(s.avg_logp) AS max_lp
       |FROM scored s JOIN cuts USING (lang)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- t15
  /** Chunk-level duplicate inventory (the RefinedWeb/CCNet "paragraph
    * dedup" recipe, adapted: this corpus has no newlines, so the dedup
    * unit is a deterministic non-overlapping 3-word chunk instead of a
    * paragraph — the pipeline shape is identical, only the splitter
    * changes). Emits every chunk that appears in 2+ documents with its
    * document and occurrence counts; dropping those rows from an exploded
    * corpus and re-assembling in (doc_id, chunk_index) order is then a
    * trivial anti-join.
    *
    * Scale: explode fans each doc into len/3 chunk rows (linear, no
    * pairs), the groupBy shuffles on the uniform chunk hash with map-side
    * combine, and the n_docs >= 2 filter cuts the long unique tail before
    * any downstream join. This is exactly d01's exact-dedup machinery one
    * level below the document. */
  def t15(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("word_tokens(text)").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(w) - 3) div 3)," +
          " i -> concat_ws(' ', slice(w, i*3 + 1, 3)))")).as("chunk"))
      .groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk")
  }
  val t15Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |           FROM documents),
      |c AS (SELECT doc_id, UNNEST(list_transform(range(0, ((len(w) - 3) // 3) + 1),
      |        i -> w[i*3 + 1] || ' ' || w[i*3 + 2] || ' ' || w[i*3 + 3])) AS chunk
      |      FROM w WHERE len(w) >= 3)
      |SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
      |FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY chunk""".stripMargin

  // ---------------------------------------------------------------- t16
  /** Zipf head: the corpus's top-100 tokens by occurrence count, with
    * document frequency — the vocabulary-skew profile that sizes
    * stopword lists, BPE merge tables, and df-caps (t08/d06 pick their
    * caps from exactly this shape).
    *
    * Linear explode → ONE map-combinable groupBy on the uniform token
    * key → TakeOrderedAndProject top-100 (k rows per partition reach the
    * driver-side merge, never a global sort). No windows, no second
    * shuffle. */
  def t16(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("word_tokens(text)")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("tok"))
      .limit(100)
  }
  val t16Sql: String =
    """WITH t AS (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |           FROM documents)
      |SELECT tok, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
      |FROM t GROUP BY 1
      |ORDER BY n_occ DESC, tok LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Lexical diversity per document: type-token ratio and hapax fraction
    * — the Gopher-family vocabulary-quality signals (template/spam text
    * has low TTR; rich prose has high hapax share).
    *
    * All numerators are exact integers (distinct-type and hapax counts
    * from one tf aggregation); each ratio is ONE IEEE division — no
    * float sums anywhere, so rows hash-match at any parallelism. Two
    * uniform-key shuffles ((doc, word) then doc), both map-combinable. */
  def t17(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tok"),
           count(lit(1)).as("n_types"),
           sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tok"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tok")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
      .orderBy("doc_id")
  }
  val t17Sql: String =
    s"""WITH toks AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  COUNT(*)::BIGINT AS n_types,
       |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  CAST(COUNT(*) AS DOUBLE) / SUM(tf) AS ttr,
       |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hapax_frac
       |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t18
  /** N-gram novelty: per document, the fraction of its distinct word
    * 3-grams that appear FIRST in this document (by doc_id ingestion
    * order) — the marginal-contribution metric for curation ("does doc
    * N add anything the corpus hasn't seen?"); near-zero novelty late
    * in a crawl means the source is exhausted.
    *
    * One shingle explode, one min-aggregation per gram (map-combinable
    * on the uniform gram key), one join back on the same key, one
    * per-doc count — all integer-exact; the fraction is one IEEE
    * division. */
  def t18(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val posting = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("word_ngrams(text, 3)").as("grams"))
      .filter(size(col("grams")) >= 1)
      .select(col("doc_id"), explode(col("grams")).as("g"))
    val firstSeen = posting.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    posting.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }
  val t18Sql: String = {
    s"""WITH sh AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
       |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)
       |WHERE len(w) >= 3),
       |p AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |f AS (SELECT g, MIN(doc_id) AS first_doc FROM p GROUP BY 1)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
       |FROM p JOIN f USING (g)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t19
  /** Character-class profile per document: digit / symbol / uppercase /
    * non-ASCII counts and fractions — the C4/Gopher scan-level filters
    * (symbol-heavy boilerplate, ALL-CAPS shouting, mojibake detection)
    * that complement t02's token-level quality score.
    *
    * Counts come from the one-pass char_class_counts kernel (ONE scan of
    * each string; the composable `length(regexp_replace(...))` form runs
    * four regex engines per row — at 100 TB that quadruples the scan
    * bill; a kernel property test proves count parity with the regexp
    * form). Each fraction is one IEEE division of integer-exact counts,
    * round6. Scale: embarrassingly parallel scan, no shuffle at all
    * except the output sort. */
  def t19(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    def frac(c: Column) = round(dbl(c) / dbl(col("n_chars")), 6)
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr("char_class_counts(text)").as("cc"))
      .select(col("doc_id"), col("n_chars"),
        col("cc.n_digit").as("n_digit"),
        col("cc.n_sym").as("n_sym"),
        col("cc.n_upper").as("n_upper"))
      .withColumn("digit_frac", frac(col("n_digit")))
      .withColumn("sym_frac", frac(col("n_sym")))
      .withColumn("upper_frac", frac(col("n_upper")))
      .orderBy("doc_id")
  }
  val t19Sql: String =
    """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^0-9A-Za-z ]', '', 'g')) AS BIGINT) AS n_sym,
      |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
      |  ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      |        / CAST(LENGTH(text) AS DOUBLE), 6) AS digit_frac,
      |  ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^0-9A-Za-z ]', '', 'g')) AS DOUBLE)
      |        / CAST(LENGTH(text) AS DOUBLE), 6) AS sym_frac,
      |  ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
      |        / CAST(LENGTH(text) AS DOUBLE), 6) AS upper_frac
      |FROM documents WHERE LENGTH(text) > 0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t20
  /** Bigram-LM quality scoring — t11's corpus-LM recipe at conditional
    * order 1: score every document by its mean bigram log-probability
    * P(w|v) = c(v,w)/c(v·) under the corpus's OWN bigram counts (MLE;
    * every scored bigram exists in the model by construction, so no
    * smoothing is needed). Catches word-salad that unigram frequency
    * can't (common words in impossible orders score low).
    *
    * Scale shape: bigrams collapse to per-(doc, bigram) tf first
    * (map-combinable); the model is a re-aggregation of tf; context
    * counts c(v·) derive FROM the bigram model (Σ_w c(v,w)) — no second
    * corpus pass. Same float discipline as t11: each bigram's log-prob
    * quantizes once to DECIMAL(18,9), per-doc sums are exact integer
    * arithmetic, one division + round6 at the end. */
  def t20(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "word")))
      .withColumn("prev", lag(col("word"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("prev"), col("word")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      .cache()
    val mb = tf.groupBy("b").agg(sum(col("tf")).as("cb"))
    val mu = mb.groupBy(substring_index(col("b"), " ", 1).as("v"))
      .agg(sum(col("cb")).as("cu"))
    tf.join(mb, "b")
      .join(mu, substring_index(col("b"), " ", 1) === col("v"))
      .withColumn("logp_q",
        round(log(dbl(col("cb")) / dbl(col("cu"))), 9).cast("decimal(18,9)"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_big"),
           sum(col("tf").cast("decimal(10,0)") * col("logp_q")).as("s"))
      .withColumn("avg_logp2", round(dbl(col("s")) / dbl(col("n_big")), 6))
      .select(col("doc_id"), col("n_big"), col("avg_logp2"))
      .orderBy("doc_id")
  }
  val t20Sql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |bg AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
       |         i -> w[i] || ' ' || w[i+1])) AS b
       |       FROM w WHERE len(w) >= 2),
       |tf AS (SELECT doc_id, b, COUNT(*)::BIGINT AS tf FROM bg GROUP BY 1, 2),
       |mb AS (SELECT b, SUM(tf)::BIGINT AS cb FROM tf GROUP BY 1),
       |mu AS (SELECT split_part(b, ' ', 1) AS v, SUM(cb)::BIGINT AS cu FROM mb GROUP BY 1)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_big,
       |  ROUND(CAST(SUM(CAST(tf AS DECIMAL(10,0))
       |          * CAST(ROUND(ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)), 9)
       |                 AS DECIMAL(18,9))) AS DOUBLE)
       |        / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logp2
       |FROM tf JOIN mb USING (b) JOIN mu ON split_part(b, ' ', 1) = v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t21
  /** Vocabulary coverage: build the top-20 corpus vocabulary (count desc,
    * token asc — a total order, so both engines pick the same set), then
    * measure per-language out-of-vocabulary token share. The vocab is a
    * deterministic TakeOrdered (no global-window rank) and joins the
    * posting stream as a broadcast; all numerators are exact integers and
    * the rate is ONE IEEE division per output row. */
  def t21(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val posting = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr("word_tokens(text)")).as("tok"))
    val vocab = posting.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(20)
      .select(col("tok"), lit(1L).as("in_vocab"))
    posting.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("total_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("lang"), col("total_tokens"), col("oov_tokens"),
        (col("oov_tokens").cast("double") / col("total_tokens")).as("oov_rate"))
      .orderBy("lang")
  }
  val t21Sql: String =
    s"""WITH t AS (SELECT lang, UNNEST($wordsSql) AS tok FROM documents),
       |v AS (SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1
       |    ORDER BY cnt DESC, tok LIMIT 20)),
       |j AS (SELECT lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |      FROM t LEFT JOIN v ON t.tok = v.tok)
       |SELECT lang, COUNT(*) AS total_tokens, CAST(SUM(oov) AS BIGINT) AS oov_tokens,
       |  CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t22
  /** Per-document unigram entropy (token-level analog of the byte screen
    * m08): low entropy flags repetitive/templated text, high entropy
    * flags word salad. Each p·ln p term is round9-quantized to
    * DECIMAL(18,9) before the sum (t11's recipe) so the per-doc
    * aggregation is order-independent under map-side combine; the only
    * float ops are one division and one ln per distinct (doc, word). */
  def t22(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id")
    tf.withColumn("n", sum(col("tf")).over(w))
      .withColumn("p", dbl(col("tf")) / col("n"))
      .withColumn("term", round(col("p") * log(col("p")), 9).cast("decimal(18,9)"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tok"),
           count(lit(1)).as("n_types"),
           sum(col("term")).as("s"))
      // + 0.0 folds the -0.0 of single-type docs to +0.0 on both engines
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        (round(-dbl(col("s")), 6) + lit(0.0d)).as("entropy"))
      .orderBy("doc_id")
  }
  val t22Sql: String =
    s"""WITH t AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |s AS (
       |  SELECT doc_id, tf,
       |    SUM(tf) OVER (PARTITION BY doc_id) AS n
       |  FROM tf),
       |q AS (
       |  SELECT doc_id, n,
       |    CAST(ROUND((CAST(tf AS DOUBLE) / n) * ln(CAST(tf AS DOUBLE) / n), 9)
       |         AS DECIMAL(18,9)) AS term
       |  FROM s)
       |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tok, COUNT(*) AS n_types,
       |  ROUND(-CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS entropy
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t23
  /** Per-source vocabulary drift: KL(source ‖ corpus) over unigram
    * distributions — the "this source stopped looking like the corpus"
    * alarm. Every probability is a ratio of exact integer counts; the
    * ln argument is cross-multiplied into ONE division
    * (c_sw·N / n_s·c_w), each p·ln term round9-quantized to DECIMAL
    * before the order-independent sum (t11's recipe). The corpus total
    * joins as a 1-row broadcast. */
  def t23(spark: SparkSession, dir: String): DataFrame = {
    val csw = Tables.documents(spark, dir)
      .select(col("source"), explode(wordsCol).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
      .cache() // feeds the term join AND both marginal aggregations
    val ns = csw.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
    val cw = csw.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val n = cw.agg(sum(col("c_w")).as("n"))
    csw.join(ns, "source").join(cw, "word").crossJoin(broadcast(n))
      .withColumn("ps", dbl(col("c_sw")) / col("n_s"))
      .withColumn("ratio", dbl(col("c_sw") * col("n")) / dbl(col("n_s") * col("c_w")))
      .withColumn("term", round(col("ps") * log(col("ratio")), 9).cast("decimal(18,9)"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term")).as("s"))
      .select(col("source"), col("n_tokens"),
        (round(dbl(col("s")), 6) + lit(0.0d)).as("kl_div"))
      .orderBy("source")
  }
  val t23Sql: String =
    s"""WITH t AS (SELECT source, UNNEST($wordsSql) AS word FROM documents),
       |csw AS (SELECT source, word, COUNT(*) AS c_sw FROM t GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM csw GROUP BY 1),
       |cw AS (SELECT word, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
       |nn AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw),
       |q AS (
       |  SELECT source, n_s,
       |    CAST(ROUND((CAST(c_sw AS DOUBLE) / n_s)
       |      * ln(CAST(c_sw * n AS DOUBLE) / CAST(n_s * c_w AS DOUBLE)), 9)
       |      AS DECIMAL(18,9)) AS term
       |  FROM csw JOIN ns USING (source) JOIN cw USING (word) CROSS JOIN nn)
       |SELECT source, MAX(n_s) AS n_tokens,
       |  ROUND(CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS kl_div
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t24
  /** BPE iteration zero: corpus-wide adjacent character-pair frequencies
    * within words — the statistic the first tokenizer merge is chosen
    * from. Pair extraction is a per-word transform over index sequences
    * (no UDF); the count is one map-combinable groupBy; top-30 by
    * (count desc, pair) is a total order, so both engines pick the same
    * set via TakeOrdered (no global window). */
  def t24(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(30)
  val t24Sql: String =
    s"""WITH w AS (SELECT UNNEST($wordsSql) AS w FROM documents),
       |p AS (
       |  SELECT UNNEST(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
       |  FROM w WHERE length(w) >= 2)
       |SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- t25
  /** Heap's-law vocabulary growth curve: cumulative distinct vocabulary
    * and token volume after each tenth of the corpus (by doc_id range) —
    * the "is new data still adding new words" saturation diagnostic.
    * Each word contributes at its FIRST doc (min doc_id — one
    * map-combinable agg over the posting stream, no order-dependent
    * scan); binning is integer range arithmetic off a 1-row min/max
    * broadcast (no global window, no ntile); the cumulative sums run as
    * a 10-row band self-join, bounded by the bin count at any scale. */
  def t25(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(wordsCol).cast("long").as("n_tok"))
    val bounds = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val perBin = d.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("(doc_id - lo) * 10 div (hi - lo + 1)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
    val firsts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("word").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(bounds))
      .withColumn("bin", expr("(fd - lo) * 10 div (hi - lo + 1)"))
      .groupBy("bin").agg(count(lit(1)).as("new_words"))
    val g = perBin.join(firsts, Seq("bin"), "left")
      .na.fill(0L, Seq("new_words"))
    g.join(broadcast(g.select(col("bin").as("b2"),
        col("bin_tokens").as("t2"), col("new_words").as("w2"))),
        col("b2") <= col("bin"))
      .groupBy("bin")
      .agg(max(col("n_docs")).as("n_docs"),
           max(col("bin_tokens")).as("bin_tokens"),
           max(col("new_words")).as("new_words"),
           sum(col("t2")).as("cum_tokens"),
           sum(col("w2")).as("cum_vocab"))
      .orderBy("bin")
  }
  val t25Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tok FROM documents),
       |bnd AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM d),
       |per AS (
       |  SELECT (doc_id - lo) * 10 // (hi - lo + 1) AS bin,
       |    COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
       |  FROM d CROSS JOIN bnd GROUP BY 1),
       |fw AS (
       |  SELECT word, MIN(doc_id) AS fd
       |  FROM (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents)
       |  GROUP BY 1),
       |nf AS (
       |  SELECT (fd - lo) * 10 // (hi - lo + 1) AS bin, COUNT(*) AS new_words
       |  FROM fw CROSS JOIN bnd GROUP BY 1),
       |g AS (
       |  SELECT per.bin AS bin, n_docs, bin_tokens,
       |    COALESCE(new_words, 0)::BIGINT AS new_words
       |  FROM per LEFT JOIN nf ON per.bin = nf.bin)
       |SELECT a.bin AS bin, MAX(a.n_docs) AS n_docs,
       |  MAX(a.bin_tokens) AS bin_tokens, MAX(a.new_words) AS new_words,
       |  CAST(SUM(c.bin_tokens) AS BIGINT) AS cum_tokens,
       |  CAST(SUM(c.new_words) AS BIGINT) AS cum_vocab
       |FROM g a JOIN g c ON c.bin <= a.bin
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t26
  /** Sentence-granularity profile per language: sentence counts from a
    * [.!?]+ split (identical regex semantics in both engines), words per
    * sentence as exact-integer totals with ONE division per output row.
    * Short-sentence corpora (listicles, tables-as-text) and run-on walls
    * both show up here before they poison a training mix. */
  def t26(spark: SparkSession, dir: String): DataFrame = {
    val sentences = expr("filter(split(text, '[.!?]+'), x -> trim(x) != '')")
    Tables.documents(spark, dir)
      .select(col("lang"), size(wordsCol).cast("long").as("n_tok"),
        size(sentences).cast("long").as("n_sent"))
      .filter(col("n_sent") >= 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_sent")).as("total_sentences"),
           (dbl(sum(col("n_tok"))) / sum(col("n_sent"))).as("words_per_sentence"),
           (dbl(sum(col("n_sent"))) / count(lit(1))).as("sentences_per_doc"))
      .orderBy("lang")
  }
  val t26Sql: String =
    s"""WITH d AS (
       |  SELECT lang, CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> ''))
       |      AS BIGINT) AS n_sent
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_sent) AS BIGINT) AS total_sentences,
       |  CAST(SUM(n_tok) AS DOUBLE) / SUM(n_sent) AS words_per_sentence,
       |  CAST(SUM(n_sent) AS DOUBLE) / COUNT(*) AS sentences_per_doc
       |FROM d WHERE n_sent >= 1 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t27
  /** Per-source template rate: share of each source's documents whose
    * normalized 64-char prefix (d23's boilerplate key) is shared by 2+
    * docs — the "which feed is pumping templated pages" ranking. Key
    * group sizes come from one map-combinable groupBy joined back on the
    * key (uniform hash shuffle, no window over doc volume); the rate is
    * ONE division per source row. */
  def t27(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 64).as("pfx"))
    val grp = d.filter(length(col("pfx")) >= 16)
      .groupBy("pfx").agg(count(lit(1)).as("n_key"))
    d.join(grp, Seq("pfx"), "left")
      .withColumn("is_template",
        when(length(col("pfx")) >= 16 && coalesce(col("n_key"), lit(0L)) >= 2, 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_template")).as("n_template"))
      .withColumn("template_rate",
        round(dbl(col("n_template")) / col("n_docs"), 6) + lit(0.0d))
      .orderBy("source")
  }
  val t27Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS pfx
      |  FROM documents),
      |grp AS (
      |  SELECT pfx, COUNT(*) AS n_key FROM d WHERE length(pfx) >= 16 GROUP BY 1),
      |f AS (
      |  SELECT source,
      |    CASE WHEN length(d.pfx) >= 16 AND COALESCE(n_key, 0) >= 2 THEN 1 ELSE 0 END AS is_template
      |  FROM d LEFT JOIN grp ON d.pfx = grp.pfx)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(is_template) AS BIGINT) AS n_template,
      |  ROUND(CAST(SUM(is_template) AS DOUBLE) / COUNT(*), 6) + 0.0 AS template_rate
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t28
  /** Corpus word-length histogram (tokenizer sanity profile): token and
    * distinct-word counts per character length, lengths above 20 lumped
    * into one bucket — a spike at odd lengths means markup or encoding
    * junk survived ingestion. One explode + one map-combinable groupBy
    * with an exact distinct; 21-row-bounded output, all integers. */
  def t28(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wordsCol).as("w"))
      .select(least(length(col("w")), lit(21)).cast("long").as("word_len"), col("w"))
      .groupBy("word_len")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_distinct"))
      .orderBy("word_len")
  val t28Sql: String =
    s"""WITH w AS (SELECT UNNEST($wordsSql) AS w FROM documents)
       |SELECT CAST(LEAST(length(w), 21) AS BIGINT) AS word_len,
       |  COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_distinct
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t29
  /** 3-gram coverage curve: what share of the corpus posting mass
    * (per-document DISTINCT word 3-grams — exactly the stream d03's
    * inverted index shuffles) the top-10/100/1000 grams account for —
    * the repetitiveness knee that predicts how hard dedup will bite.
    * Gram document-counts are one map-combinable groupBy (cached —
    * three TakeOrdered heads and the total share ONE pass); each K-row
    * is a bounded top-K by the deterministic (count desc, gram) total
    * order joined to the 1-row corpus total; ONE division per row. */
  def t29(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val g = Tables.documents(spark, dir)
      .select(explode(expr("word_ngrams(text, 3)")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .cache()
    val tot = g.agg(sum(col("cnt")).as("total_occ"))
    def kRow(k: Int): DataFrame =
      g.orderBy(col("cnt").desc, col("g")).limit(k)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered_occ"))
        .crossJoin(broadcast(tot))
        .select(lit(k.toLong).as("k"), col("covered_occ"), col("total_occ"),
          (round(dbl(col("covered_occ")) / dbl(col("total_occ")), 6) + lit(0.0d)).as("coverage"))
    kRow(10).unionByName(kRow(100)).unionByName(kRow(1000)).orderBy("k")
  }
  val t29Sql: String = {
    s"""WITH sh AS (${Dedup.shingledSql}),
       |g AS (
       |  SELECT g, COUNT(*) AS cnt
       |  FROM (SELECT UNNEST(grams) AS g FROM sh) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_occ FROM g),
       |k10 AS (SELECT COALESCE(SUM(cnt), 0)::BIGINT AS covered_occ
       |        FROM (SELECT cnt FROM g ORDER BY cnt DESC, g LIMIT 10)),
       |k100 AS (SELECT COALESCE(SUM(cnt), 0)::BIGINT AS covered_occ
       |         FROM (SELECT cnt FROM g ORDER BY cnt DESC, g LIMIT 100)),
       |k1000 AS (SELECT COALESCE(SUM(cnt), 0)::BIGINT AS covered_occ
       |          FROM (SELECT cnt FROM g ORDER BY cnt DESC, g LIMIT 1000))
       |SELECT 10::BIGINT AS k, covered_occ, total_occ,
       |  ROUND(CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6) + 0.0 AS coverage
       |FROM k10 CROSS JOIN tot
       |UNION ALL SELECT 100::BIGINT, covered_occ, total_occ,
       |  ROUND(CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6) + 0.0
       |FROM k100 CROSS JOIN tot
       |UNION ALL SELECT 1000::BIGINT, covered_occ, total_occ,
       |  ROUND(CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6) + 0.0
       |FROM k1000 CROSS JOIN tot
       |ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------- t30
  /** Cross-document contamination rate per source: for each document
    * (with ≥1 word 3-gram), the share of its DISTINCT 3-grams appearing
    * in 2+ documents, averaged per source — how much of a feed is
    * recycled phrasing even when no pair clears a dedup threshold.
    * Posting + df are two map-combinable aggregations; the df join back
    * onto the posting stream is LINEAR (per-posting, never pairwise);
    * per-doc rates are round6-DECIMAL-quantized before the
    * order-independent per-source mean. */
  def t30(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val post = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(expr("word_ngrams(text, 3)")).as("g"))
      .cache() // feeds the df aggregation AND the per-doc rollup
    val df = post.groupBy("g").agg(count(lit(1)).as("df"))
    val perDoc = post.join(df, "g")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("rate",
        round(dbl(col("n_shared")) / col("n_grams"), 6).cast("decimal(9,6)"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           (round(dbl(sum(col("rate"))) / count(lit(1)), 6) + lit(0.0d)).as("mean_shared_rate"))
      .orderBy("source")
  }
  val t30Sql: String =
    s"""WITH sh AS (${Dedup.shingledSql}),
       |post AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |dfc AS (SELECT g, COUNT(*) AS df FROM post GROUP BY 1),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
       |  FROM post JOIN dfc USING (g) GROUP BY 1),
       |r AS (
       |  SELECT d.source AS source,
       |    CAST(ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS DECIMAL(9,6)) AS rate
       |  FROM per JOIN documents d ON per.doc_id = d.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  ROUND(CAST(SUM(rate) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_shared_rate
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t31
  /** Document-length quartiles per source (PERCENTILE_CONT interpolation
    * — q44's bracketing-rank machinery on n_chars): the length-drift
    * fingerprint that catches a feed silently switching from articles to
    * snippets. Source-partitioned windows only (bounded state per key);
    * ≤6 rows per source reach the aggregation combine; interpolation
    * arithmetic is identical in both engines. */
  def t31(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("v"), col("doc_id"))
    val wc = Window.partitionBy("source")
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("double").as("v"), col("doc_id"))
      .select(col("source"), col("v"),
        (row_number().over(w).cast("long") - 1).as("idx"),
        count(lit(1)).over(wc).as("cnt"))
    def pos(q: Double): Column = (col("cnt") - 1).cast("double") * lit(q)
    def lo(q: Double, nm: String): Column =
      max(when(col("idx") === floor(pos(q)), col("v"))).as(s"${nm}_lo")
    def hi(q: Double, nm: String): Column =
      max(when(col("idx") === ceil(pos(q)), col("v"))).as(s"${nm}_hi")
    def interp(nm: String, q: Double): Column = {
      val p = (col("n") - 1).cast("double") * lit(q)
      col(s"${nm}_lo") + (col(s"${nm}_hi") - col(s"${nm}_lo")) * (p - floor(p))
    }
    ranked.groupBy("source")
      .agg(max(col("cnt")).as("n"),
           lo(0.25, "q1"), hi(0.25, "q1"), lo(0.5, "q2"), hi(0.5, "q2"),
           lo(0.75, "q3"), hi(0.75, "q3"))
      .select(col("source"), col("n"),
        interp("q1", 0.25).as("p25"), interp("q2", 0.5).as("p50"),
        interp("q3", 0.75).as("p75"))
      .orderBy("source")
  }
  val t31Sql: String =
    """WITH r AS (
      |  SELECT source, CAST(n_chars AS DOUBLE) AS v,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |a AS (
      |  SELECT source, MAX(cnt) AS n,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN v END) AS q1_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN v END) AS q1_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN v END) AS q2_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN v END) AS q2_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN v END) AS q3_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN v END) AS q3_hi
      |  FROM r GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  q1_lo + (q1_hi - q1_lo) * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
      |  q2_lo + (q2_hi - q2_lo) * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
      |  q3_lo + (q3_hi - q3_lo) * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75
      |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t32
  /** Numeric-token density per source: share of whitespace tokens that
    * are number-like — the table-dump / price-list / sensor-log detector
    * that length and language filters miss. One explode + one
    * map-combinable groupBy, identical anchored regex in both engines,
    * ONE division per source row. */
  def t32(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(wordsCol).as("w"))
      .withColumn("is_num", when(col("w").rlike("^[0-9][0-9.,]*$"), 1L).otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("is_num")).as("n_numeric"))
      .withColumn("numeric_share",
        round(dbl(col("n_numeric")) / col("n_tokens"), 6) + lit(0.0d))
      .orderBy("source")
  val t32Sql: String =
    s"""WITH w AS (SELECT source, UNNEST($wordsSql) AS w FROM documents)
       |SELECT source, COUNT(*) AS n_tokens,
       |  SUM(CASE WHEN regexp_full_match(w, '[0-9][0-9.,]*') THEN 1 ELSE 0 END)::BIGINT
       |    AS n_numeric,
       |  ROUND(CAST(SUM(CASE WHEN regexp_full_match(w, '[0-9][0-9.,]*') THEN 1 ELSE 0 END)
       |             AS DOUBLE) / COUNT(*), 6) + 0.0 AS numeric_share
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t33
  /** Stopword coverage per LABELED language: share of tokens in the
    * (English) stopword list — near the corpus norm for genuine English,
    * near zero for other languages, and in between for mislabeled or
    * code-mixed feeds (the cross-check on the lang column that t03's
    * prediction can't give for its own training markers). One explode +
    * one map-combinable groupBy, exact integer counts, ONE division per
    * language row. */
  def t33(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(wordsCol).as("w"))
      .withColumn("is_stop", when(col("w").isin(stopList: _*), 1L).otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"), sum(col("is_stop")).as("n_stopwords"))
      .withColumn("stopword_share",
        round(dbl(col("n_stopwords")) / col("n_tokens"), 6) + lit(0.0d))
      .orderBy("lang")
  val t33Sql: String =
    s"""WITH w AS (SELECT lang, UNNEST($wordsSql) AS w FROM documents)
       |SELECT lang, COUNT(*) AS n_tokens,
       |  SUM(CASE WHEN w IN $stopSqlIn THEN 1 ELSE 0 END)::BIGINT AS n_stopwords,
       |  ROUND(CAST(SUM(CASE WHEN w IN $stopSqlIn THEN 1 ELSE 0 END) AS DOUBLE)
       |        / COUNT(*), 6) + 0.0 AS stopword_share
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t35
  /** Quality-by-length profile: mean t02 quality score per document
    * length band — the correlation check run BEFORE using either signal
    * as an independent filter (if quality is just length in disguise,
    * two gates are one gate and the mix math is wrong). One scan,
    * integer CASE bands, per-doc scores round6-DECIMAL-quantized before
    * the order-independent band mean. */
  def t35(spark: SparkSession, dir: String): DataFrame = {
    val band = when(col("n_chars") < 200, "a<200").when(col("n_chars") < 400, "b<400")
      .when(col("n_chars") < 800, "c<800").otherwise("d>=800")
    addQuality(Tables.documents(spark, dir))
      .select(band.as("length_band"),
        round(col("quality"), 6).cast("decimal(9,6)").as("q"))
      .groupBy("length_band")
      .agg(count(lit(1)).as("n_docs"),
           (round(dbl(sum(col("q"))) / count(lit(1)), 6) + lit(0.0d)).as("mean_quality"))
      .orderBy("length_band")
  }
  val t35Sql: String =
    s"""WITH m AS (
       |  SELECT n_chars,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter($wordsSql, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM documents WHERE len($wordsSql) >= 1),
       |q AS (
       |  SELECT CASE WHEN n_chars < 200 THEN 'a<200' WHEN n_chars < 400 THEN 'b<400'
       |              WHEN n_chars < 800 THEN 'c<800' ELSE 'd>=800' END AS length_band,
       |    CAST(ROUND($qualitySqlExpr, 6) AS DECIMAL(9,6)) AS q
       |  FROM m)
       |SELECT length_band, COUNT(*) AS n_docs,
       |  ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_quality
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t36
  /** Corpus bigram conditional entropy H(w\|v) = −Σ p(v,w)·ln p(w\|v) —
    * the predictability scalar that falls as boilerplate takes over
    * (t22 is the per-doc unigram view; this is the corpus-level order-1
    * signal). Counts come from t20's bigram construction (doc-partitioned
    * lag windows, map-combinable rollups); both probability factors are
    * single divisions of exact integers; each term is round9-DECIMAL-
    * quantized before the order-independent sum; the corpus total joins
    * as a 1-row broadcast. */
  def t36(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cb = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "word")))
      .withColumn("prev", lag(col("word"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(concat_ws(" ", col("prev"), col("word")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cb"))
      .cache() // feeds the context rollup AND the term sum
    val cv = cb.groupBy(substring_index(col("b"), " ", 1).as("v"))
      .agg(sum(col("cb")).as("cv"))
    val tot = cb.agg(sum(col("cb")).as("bt"))
    cb.withColumn("v", substring_index(col("b"), " ", 1))
      .join(cv, "v")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        round((dbl(col("cb")) / col("bt")) * log(dbl(col("cb")) / dbl(col("cv"))), 9)
          .cast("decimal(18,9)"))
      .agg(max(col("bt")).as("n_bigrams"),
           count(lit(1)).as("n_distinct_bigrams"),
           sum(col("term")).as("s"))
      .select(col("n_bigrams"), col("n_distinct_bigrams"),
        (round(-dbl(col("s")), 6) + lit(0.0d)).as("cond_entropy"))
  }
  val t36Sql: String =
    s"""WITH ww AS (SELECT $wordsSql AS w FROM documents),
       |bg AS (SELECT UNNEST(list_transform(range(1, len(w)),
       |         i -> w[i] || ' ' || w[i+1])) AS b
       |       FROM ww WHERE len(w) >= 2),
       |cb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY 1),
       |cv AS (
       |  SELECT split_part(b, ' ', 1) AS v, CAST(SUM(cb) AS BIGINT) AS cv
       |  FROM cb GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS bt FROM cb),
       |q AS (
       |  SELECT bt,
       |    CAST(ROUND((CAST(cb AS DOUBLE) / bt) * ln(CAST(cb AS DOUBLE) / CAST(cv AS DOUBLE)), 9)
       |      AS DECIMAL(18,9)) AS term
       |  FROM cb JOIN cv ON split_part(b, ' ', 1) = cv.v CROSS JOIN tot)
       |SELECT MAX(bt) AS n_bigrams, COUNT(*) AS n_distinct_bigrams,
       |  ROUND(-CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS cond_entropy
       |FROM q""".stripMargin

  // ---------------------------------------------------------------- t37
  /** Zipf slope of the top-100 vocabulary: least-squares slope of
    * ln(count) against ln(rank) — natural corpora sit near −1; flatter
    * means templated/repetitive text, steeper means narrow vocabulary.
    * The top-100 head is a deterministic TakeOrdered; ranks come from a
    * bounded 100×100 broadcast self-join (COUNT of rows sorting
    * earlier — no global window); both logs are round9-DECIMAL-quantized
    * and the regression moments sum exactly (q38's recipe), so the
    * slope is ONE identical arithmetic expression in both engines. */
  def t37(spark: SparkSession, dir: String): DataFrame = {
    val head = Tables.documents(spark, dir)
      .select(explode(wordsCol).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(100)
      .cache() // both sides of the bounded rank self-join
    val ranked = head.as("a").join(broadcast(head.select(col("w").as("w2"), col("cnt").as("c2"))),
        col("c2") > col("cnt") || (col("c2") === col("cnt") && col("w2") < col("w")), "left")
      .groupBy(col("w"), col("cnt"))
      .agg((count(col("w2")) + 1).as("rank"))
    val q = ranked
      .withColumn("x", round(log(dbl(col("rank"))), 9).cast("decimal(18,9)"))
      .withColumn("y", round(log(dbl(col("cnt"))), 9).cast("decimal(18,9)"))
    q.agg(count(lit(1)).as("n"),
          dbl(sum(col("x"))).as("sx"), dbl(sum(col("y"))).as("sy"),
          dbl(sum(col("x") * col("y"))).as("sxy"),
          dbl(sum(col("x") * col("x"))).as("sx2"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sx2") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }
  val t37Sql: String =
    s"""WITH head AS (
       |  SELECT w, COUNT(*) AS cnt
       |  FROM (SELECT UNNEST($wordsSql) AS w FROM documents)
       |  GROUP BY 1 ORDER BY cnt DESC, w LIMIT 100),
       |r AS (
       |  SELECT cnt,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank
       |  FROM head),
       |q AS (
       |  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
       |         CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
       |  FROM r),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sx2
       |  FROM q)
       |SELECT n,
       |  ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) AS zipf_slope
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- t38
  /** Per-source character-length z-outlier screen: documents whose length
    * sits >3σ from their source's mean, split high/low — the cheap
    * truncation/concatenation-artifact detector a corpus intake runs
    * per feed (a source whose n_hi spikes is concatenating records; a
    * n_lo spike is a truncating scraper).
    *
    * e13's exact recipe: per-source integer moments (n, Σx, Σx²) in one
    * map-combinable pass, broadcast back (\|sources\| rows), and the z>3
    * test as the cross-multiplied integer compare
    * (n·x − S)²·(n−1) > 9·n·(nΣx² − S²) in DECIMAL(38,0)/HUGEINT — no
    * float σ, no per-row division, exact at any corpus size. */
  def t38(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("x"))
    val st = docs.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
           sum(col("x") * col("x")).as("q"))
      .filter(col("n") >= 2)
    val nD = col("n").cast(d38)
    val dev = nD * col("x").cast(d38) - col("s").cast(d38)
    val varNum = nD * col("q").cast(d38) - col("s").cast(d38) * col("s").cast(d38)
    val out = dev * dev * (nD - 1) > lit(9).cast(d38) * nD * varNum
    docs.join(broadcast(st), "source")
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
           (dbl(max(col("s"))) / max(col("n"))).as("mean_chars"),
           sum(when(out && dev > 0, 1L).otherwise(0L)).as("n_hi"),
           sum(when(out && dev < 0, 1L).otherwise(0L)).as("n_lo"))
      .withColumn("out_share",
        round(dbl(col("n_hi") + col("n_lo")) / col("n_docs"), 6) + lit(0.0d))
      .orderBy("source")
  }
  val t38Sql: String =
    """WITH d AS (SELECT source, CAST(LENGTH(text) AS BIGINT) AS x FROM documents),
      |st AS (SELECT source, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s,
      |         SUM(x*x)::BIGINT AS q
      |       FROM d GROUP BY 1 HAVING COUNT(*) >= 2),
      |f AS (SELECT d.source, x, n, s, q,
      |    CAST(n AS HUGEINT)*x - s AS dev,
      |    CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s AS varnum
      |  FROM d JOIN st ON d.source = st.source)
      |SELECT source, MAX(n) AS n_docs,
      |  CAST(MAX(s) AS DOUBLE) / MAX(n) AS mean_chars,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev > 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_hi,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev < 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_lo,
      |  ROUND(CAST(SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum
      |      THEN 1 ELSE 0 END) AS DOUBLE) / MAX(n), 6) + 0.0 AS out_share
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t39
  /** Quality-score quartiles per source (PERCENTILE_CONT interpolation):
    * the distribution view behind per-feed quality gates — a source
    * whose p25 sits under the keep threshold is mostly filler even if
    * its mean looks fine. t02's exact score feeds q44's bracketing-rank
    * machinery: rank within source (source-partitioned window, bounded
    * per-key state), ≤6 bracketing rows per source reach the agg, and
    * the interpolation arithmetic is identical in both engines. */
  def t39(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))
    val wc = Window.partitionBy("source")
    val ranked = addQuality(Tables.documents(spark, dir))
      .select(col("source"), col("quality"),
        (row_number().over(w).cast("long") - 1).as("idx"),
        count(lit(1)).over(wc).as("cnt"))
    def pos(q: Double): Column = (col("cnt") - 1).cast("double") * lit(q)
    def lo(q: Double, nm: String): Column =
      max(when(col("idx") === floor(pos(q)), col("quality"))).as(s"${nm}_lo")
    def hi(q: Double, nm: String): Column =
      max(when(col("idx") === ceil(pos(q)), col("quality"))).as(s"${nm}_hi")
    def interp(nm: String, q: Double): Column = {
      val p = (col("n") - 1).cast("double") * lit(q)
      col(s"${nm}_lo") + (col(s"${nm}_hi") - col(s"${nm}_lo")) * (p - floor(p))
    }
    ranked.groupBy("source")
      .agg(max(col("cnt")).as("n"),
           lo(0.25, "q1"), hi(0.25, "q1"), lo(0.5, "q2"), hi(0.5, "q2"),
           lo(0.75, "q3"), hi(0.75, "q3"))
      .select(col("source"), col("n"),
        interp("q1", 0.25).as("p25"), interp("q2", 0.5).as("p50"),
        interp("q3", 0.75).as("p75"))
      .orderBy("source")
  }
  val t39Sql: String =
    s"""WITH base AS (SELECT doc_id, source, text, $wordsSql AS w FROM documents),
       |m AS (SELECT doc_id, source,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |s AS (SELECT doc_id, source, $qualitySqlExpr AS quality FROM m),
       |r AS (SELECT source, quality,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS BIGINT) - 1 AS idx,
       |    COUNT(*) OVER (PARTITION BY source) AS cnt
       |  FROM s),
       |a AS (SELECT source, MAX(cnt) AS n,
       |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN quality END) AS q1_lo,
       |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN quality END) AS q1_hi,
       |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN quality END) AS q2_lo,
       |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN quality END) AS q2_hi,
       |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN quality END) AS q3_lo,
       |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN quality END) AS q3_hi
       |  FROM r GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n,
       |  q1_lo + (q1_hi - q1_lo) * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
       |  q2_lo + (q2_hi - q2_lo) * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
       |  q3_lo + (q3_hi - q3_lo) * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t40
  /** Casing profile per source: sentence-case share (tokens starting
    * [A-Z]) and ALL-CAPS share (tokens of ≥2 uppercase letters) — the
    * shouting/headline/boilerplate signal that separates prose feeds
    * from scraped navigation chrome.
    *
    * Both counters are lambda filters over the shared token split
    * (codegen'd HOFs, no UDF), summed as exact longs in one
    * map-combinable groupBy; ONE division per share. The identical
    * regex runs on the DuckDB side. */
  def t40(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(wordsCol).cast("long"))
      .filter(col("n_tok") >= 1)
      .withColumn("n_ustart",
        size(expr("filter(filter(split(text, ' '), x -> x != ''), x -> x rlike '^[A-Z]')")).cast("long"))
      .withColumn("n_allcaps",
        size(expr("filter(filter(split(text, ' '), x -> x != ''), x -> x rlike '^[A-Z]{2,}$')")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
           sum(col("n_ustart")).as("n_upper_start"),
           sum(col("n_allcaps")).as("n_allcaps"))
      .withColumn("upper_start_share",
        round(dbl(col("n_upper_start")) / col("n_tokens"), 6) + lit(0.0d))
      .withColumn("allcaps_share",
        round(dbl(col("n_allcaps")) / col("n_tokens"), 6) + lit(0.0d))
      .orderBy("source")
  val t40Sql: String =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '^[A-Z]'))) AS BIGINT) AS n_ustart,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '^[A-Z]{2,}$$'))) AS BIGINT) AS n_allcaps
       |  FROM (SELECT source, $wordsSql AS w FROM documents)
       |  WHERE len(w) >= 1)
       |SELECT source, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
       |  SUM(n_ustart)::BIGINT AS n_upper_start, SUM(n_allcaps)::BIGINT AS n_allcaps,
       |  ROUND(CAST(SUM(n_ustart) AS DOUBLE) / SUM(n_tok), 6) + 0.0 AS upper_start_share,
       |  ROUND(CAST(SUM(n_allcaps) AS DOUBLE) / SUM(n_tok), 6) + 0.0 AS allcaps_share
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t41
  /** Corpus-level hapax profile per source: how much of each source's
    * vocabulary occurs exactly once (hapax legomena) — high hapax share
    * signals rich/noisy text, low signals templated text. One tf
    * aggregation on uniform (source, word) keys, then a ≤|sources|
    * rollup; all ratios are exact-integer numerators with ONE IEEE
    * division. Complements t17 (per-document TTR/hapax). */
  def t41(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(wordsCol).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
           count(when(col("tf") === 1, lit(1))).as("hapax"),
           sum(col("tf")).as("n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("n_tokens"),
        round(dbl(col("hapax")) / col("vocab"), 6).as("hapax_rate"))
      .orderBy("source")
  val t41Sql: String =
    s"""WITH tok AS (SELECT source, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT source, word, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2)
       |SELECT source, COUNT(*)::BIGINT AS vocab,
       |  COUNT(CASE WHEN tf = 1 THEN 1 END)::BIGINT AS hapax,
       |  SUM(tf)::BIGINT AS n_tokens,
       |  ROUND(CAST(COUNT(CASE WHEN tf = 1 THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS hapax_rate
       |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t42
  /** Word-frequency inequality per language: exact Gini coefficient of
    * the unigram frequency distribution — the single-number cousin of
    * t37's Zipf slope (1 = one word dominates, 0 = uniform vocabulary).
    * e48's banded two-level prefix sum on the (tf, #words) frame keyed
    * by lang: windows partition by (lang, tf-band), cross-band offsets
    * come from a broadcast equi-join, DECIMAL(38,0) tie-block rank
    * arithmetic, ONE IEEE division, round6. */
  def t42(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sc = Tables.documents(spark, dir)
      .select(col("lang"), explode(wordsCol).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .groupBy("lang", "c").agg(count(lit(1)).as("nc"))
      .withColumn("band", expr("c div 1024"))
      .cache()
    val wIn = Window.partitionBy("lang", "band").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBelow = sc.withColumn("ibelow", coalesce(sum(col("nc")).over(wIn), lit(0L)))
    val bt = sc.groupBy("lang", "band").agg(sum(col("nc")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("lang").as("l2"), col("band").as("lb"), col("bc").as("lc"))),
        col("lang") === col("l2") && col("lb") < col("band"), "left")
      .groupBy("lang", "band").agg(coalesce(sum(col("lc")), lit(0L)).as("off"))
    val cD = col("c").cast(d38); val ncD = col("nc").cast(d38)
    val mD = (col("ibelow") + col("off")).cast(d38)
    inBelow.join(broadcast(off), Seq("lang", "band"))
      .groupBy("lang")
      .agg(sum(col("nc")).as("n"),
           sum(cD * ncD).as("s"),
           sum(cD * (lit(2).cast(d38) * ncD * mD + ncD * (ncD + lit(1).cast(d38)))).as("w2"))
      .select(col("lang"), col("n").as("vocab"), col("s").cast("long").as("n_tokens"),
        round(dbl(col("w2") - (col("n").cast(d38) + lit(1).cast(d38)) * col("s"))
          / dbl(col("n").cast(d38) * col("s")), 6).as("gini"))
      .orderBy("lang")
  }
  val t42Sql: String =
    s"""WITH tok AS (SELECT lang, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT lang, word, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
       |sc AS (SELECT lang, c, COUNT(*)::BIGINT AS nc FROM tf GROUP BY 1, 2),
       |cum AS (SELECT lang, c, nc, COALESCE(SUM(nc) OVER (PARTITION BY lang
       |    ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
       |  FROM sc),
       |agg AS (SELECT lang, SUM(nc)::BIGINT AS n,
       |    SUM(CAST(c AS HUGEINT) * nc) AS s,
       |    SUM(CAST(c AS HUGEINT) * (2 * CAST(nc AS HUGEINT) * m
       |        + CAST(nc AS HUGEINT) * (nc + 1))) AS w2
       |  FROM cum GROUP BY 1)
       |SELECT lang, n AS vocab, CAST(s AS BIGINT) AS n_tokens,
       |  ROUND(CAST(w2 - (CAST(n AS HUGEINT) + 1) * s AS DOUBLE)
       |        / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
       |FROM agg ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t43
  /** Collocation mining: top PMI word pairs among the 100 most frequent
    * words. The candidate space is df-capped BY CONSTRUCTION — only the
    * broadcast top-100 vocabulary forms pairs, so per-doc fan-out is
    * ≤C(100,2) regardless of corpus size (the d06 df-cap argument). All
    * counts are exact integers; PMI's ln() runs on one identical IEEE
    * quotient in both engines, round6 absorbs the libm ulp. */
  def t43(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(wordsCol).as("word"))
    val top = tok.groupBy("word").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("word")).limit(100).select("word")
    // cache: fdw (bounded by n_docs × 100 top words) feeds BOTH
    // self-join sides and the df rollup — uncached, each consumer
    // re-ran the corpus explode + top-100 join
    val fdw = tok.join(broadcast(top), "word").select("doc_id", "word").distinct().cache()
    val df = fdw.groupBy("word").agg(count(lit(1)).as("n_docs"))
    val nn = docs.agg(count(lit(1)).as("n"))
    fdw.as("a").join(fdw.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
      .groupBy(col("a.word").as("word_a"), col("b.word").as("word_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 5)
      .join(broadcast(df.select(col("word").as("word_a"), col("n_docs").as("na"))), "word_a")
      .join(broadcast(df.select(col("word").as("word_b"), col("n_docs").as("nb"))), "word_b")
      .join(broadcast(nn))
      .select(col("word_a"), col("word_b"), col("n_both"), col("na"), col("nb"),
        round(log(dbl(col("n_both") * col("n")) / dbl(col("na") * col("nb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("word_a"), col("word_b"))
      .limit(50)
  }
  val t43Sql: String =
    s"""WITH tok AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |top AS (SELECT word FROM (SELECT word, COUNT(*) AS n_occ FROM tok GROUP BY 1)
       |        ORDER BY n_occ DESC, word LIMIT 100),
       |fdw AS (SELECT DISTINCT doc_id, word FROM tok JOIN top USING (word)),
       |df AS (SELECT word, COUNT(*)::BIGINT AS n_docs FROM fdw GROUP BY 1),
       |nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
       |pairs AS (
       |  SELECT a.word AS word_a, b.word AS word_b, COUNT(*)::BIGINT AS n_both
       |  FROM fdw a JOIN fdw b ON a.doc_id = b.doc_id AND a.word < b.word
       |  GROUP BY 1, 2)
       |SELECT word_a, word_b, n_both, da.n_docs AS na, db.n_docs AS nb,
       |  ROUND(ln(CAST(n_both * n AS DOUBLE) / CAST(da.n_docs * db.n_docs AS DOUBLE)), 6) AS pmi
       |FROM pairs
       |JOIN df da ON word_a = da.word
       |JOIN df db ON word_b = db.word
       |CROSS JOIN nn
       |WHERE n_both >= 5
       |ORDER BY pmi DESC, word_a, word_b LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- t44
  /** Cross-document sentence duplication per source: the share of a
    * source's sentences that also appear (verbatim, trimmed) in at least
    * one OTHER document — the boilerplate signal sentence-level dedup
    * would remove. Sentence keys pre-collapse to a distinct (doc,
    * sentence) frame map-side before the df count, and the rate is an
    * exact-integer numerator with ONE division. Complements t15 (fixed
    * token-window chunks) with natural sentence boundaries. */
  def t44(spark: SparkSession, dir: String): DataFrame = {
    val sentCol =
      expr("filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x != '')")
    val sent = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), explode(sentCol).as("s"))
    val df = sent.select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("sdocs"))
    sent.join(df, "s")
      .groupBy("source")
      .agg(count(lit(1)).as("n_sentences"),
           count(when(col("sdocs") >= 2, lit(1))).as("n_shared"))
      .select(col("source"), col("n_sentences"), col("n_shared"),
        round(dbl(col("n_shared")) / col("n_sentences"), 6).as("shared_rate"))
      .orderBy("source")
  }
  val t44Sql: String =
    """WITH sent AS (
      |  SELECT source, doc_id,
      |    UNNEST(list_filter(list_transform(string_split_regex(text, '[.!?]+'),
      |      x -> trim(x)), x -> x <> '')) AS s
      |  FROM documents),
      |df AS (
      |  SELECT s, COUNT(DISTINCT doc_id)::BIGINT AS sdocs FROM sent GROUP BY 1)
      |SELECT source, COUNT(*)::BIGINT AS n_sentences,
      |  COUNT(CASE WHEN sdocs >= 2 THEN 1 END)::BIGINT AS n_shared,
      |  ROUND(CAST(COUNT(CASE WHEN sdocs >= 2 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
      |    AS shared_rate
      |FROM sent JOIN df USING (s) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t45
  /** Word-graph branching factor per source: distinct bigram types over
    * distinct head words — the average out-degree of each source's word
    * graph. Templated/boilerplate text branches low; diverse prose
    * branches high (a corpus-level complement to t17's per-doc TTR).
    * Bigrams collapse map-side per (source, bigram); both distincts ride
    * one shuffle on the bigram key; |sources|-bounded output. */
  def t45(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), posexplode(wordsCol).as(Seq("pos", "word")))
      .withColumn("prev", lag(col("word"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigram_tokens"),
           countDistinct(concat_ws(" ", col("prev"), col("word"))).as("n_bigram_types"),
           countDistinct(col("prev")).as("n_heads"))
      .withColumn("branching",
        round(dbl(col("n_bigram_types")) / dbl(col("n_heads")), 6))
      .orderBy("source")
  }
  val t45Sql: String =
    s"""WITH w AS (SELECT source, doc_id, $wordsSql AS w FROM documents),
       |bg AS (SELECT source, doc_id, UNNEST(list_transform(range(1, len(w)),
       |         i -> w[i] || ' ' || w[i+1])) AS b
       |       FROM w WHERE len(w) >= 2)
       |SELECT source, COUNT(*)::BIGINT AS n_bigram_tokens,
       |  COUNT(DISTINCT b)::BIGINT AS n_bigram_types,
       |  COUNT(DISTINCT split_part(b, ' ', 1))::BIGINT AS n_heads,
       |  ROUND(CAST(COUNT(DISTINCT b) AS DOUBLE)
       |        / CAST(COUNT(DISTINCT split_part(b, ' ', 1)) AS DOUBLE), 6) AS branching
       |FROM bg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t46
  /** Word burstiness (Katz): variance-to-mean ratio of per-document
    * counts for the corpus's top-50 words — function words sit near
    * Poisson (VMR≈1), topical/template words burst high. All moments
    * are exact integer sums (counts are small longs; N·Σc² is
    * 38-digit-safe via DECIMAL), ONE float expression at the end; the
    * top-50 cut is a TakeOrderedAndProject (k rows per partition to the
    * driver merge — t16's shape, no global window) with a pinned
    * (tf desc, word) tiebreak. */
  def t46(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val w = tf.groupBy("word")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
           sum(col("c") * col("c")).as("s2"))
    val nD = col("df").cast(d38)
    val sD = col("tf").cast(d38)
    val qD = col("s2").cast(d38)
    w.orderBy(col("tf").desc, col("word")).limit(50)
      .withColumn("vmr", round(dbl(nD * qD - sD * sD) / dbl(nD * sD), 6))
      .orderBy(col("tf").desc, col("word"))
  }
  val t46Sql: String =
    s"""WITH w AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS c FROM w GROUP BY 1, 2),
       |m AS (SELECT word, COUNT(*)::BIGINT AS df, SUM(c)::BIGINT AS tf,
       |    SUM(c * c)::BIGINT AS s2
       |  FROM tf GROUP BY 1
       |  QUALIFY row_number() OVER (ORDER BY SUM(c) DESC, word) <= 50)
       |SELECT word, df, tf, s2,
       |  ROUND(CAST(CAST(df AS HUGEINT) * s2 - CAST(tf AS HUGEINT) * tf AS DOUBLE)
       |        / CAST(CAST(df AS HUGEINT) * tf AS DOUBLE), 6) AS vmr
       |FROM m ORDER BY tf DESC, word""".stripMargin

  // ---------------------------------------------------------------- t47
  /** Per-language quality profile: docs, tokens, quantized-mean quality
    * and the below-gate share per declared lang — the per-language
    * counterpart of t39's per-source quartiles, and the table a
    * language-balanced curation budget starts from. One map-combinable
    * rollup, \|langs\|-bounded. */
  def t47(spark: SparkSession, dir: String): DataFrame =
    addQuality(Tables.documents(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           (sum(col("quality").cast("decimal(10,6)")).cast("double") / count(lit(1)))
             .as("avg_quality"),
           count(when(col("quality") < 0.5d, lit(1))).as("n_below_gate"))
      .withColumn("below_gate_rate",
        round(dbl(col("n_below_gate")) / col("n_docs"), 6))
      .orderBy("lang")
  val t47Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, lang, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (SELECT lang, n_tok, $qualitySqlExpr AS quality FROM m)
       |SELECT lang, COUNT(*)::BIGINT AS n_docs,
       |  SUM(n_tok)::BIGINT AS total_tokens,
       |  CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS avg_quality,
       |  COUNT(CASE WHEN quality < 0.5 THEN 1 END)::BIGINT AS n_below_gate,
       |  ROUND(CAST(COUNT(CASE WHEN quality < 0.5 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
       |    AS below_gate_rate
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t48
  /** Character-bigram entropy per language — the sub-word signal t03's
    * marker heuristic and t36's WORD-bigram entropy both miss (char
    * statistics separate languages and flag mojibake/ciphertext without
    * any tokenizer). The bigram explode is the t-family's standard gram
    * fan-out (~\|chars\| rows per doc, map-combinable counts straight
    * off the scan); the census frame is \|langs\|×\|char-pairs\|-bounded
    * and entropy uses e20's round9-DECIMAL quantized ln terms. */
  def t48(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 2)
      .select(col("lang"), col("text"))
      .withColumn("pos", explode(sequence(lit(1), length(col("text")) - 1)))
      .select(col("lang"), expr("substring(text, pos, 2)").as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("c"))
      .withColumn("lq", round(log(col("c").cast("double")), 9).cast("decimal(18,9)"))
      .groupBy("lang")
      .agg(sum(col("c")).as("n_bigrams"),
           count(lit(1)).as("n_distinct"),
           sum(col("c").cast("decimal(10,0)") * col("lq")).as("s"))
      .select(col("lang"), col("n_bigrams"), col("n_distinct"),
        round(log(col("n_bigrams").cast("double")) -
          col("s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("char2_entropy"))
      .orderBy("lang")
  val t48Sql: String =
    """WITH g AS (
      |  SELECT lang, substr(text, CAST(i AS INTEGER), 2) AS bg
      |  FROM documents, UNNEST(range(1, length(text))) AS t(i)
      |  WHERE length(text) >= 2),
      |c AS (SELECT lang, bg, COUNT(*)::BIGINT AS c FROM g GROUP BY 1, 2),
      |q AS (SELECT lang, c,
      |        CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lq
      |      FROM c),
      |u AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |        COUNT(*)::BIGINT AS n_distinct,
      |        SUM(CAST(c AS DECIMAL(10,0)) * lq) AS s
      |      FROM q GROUP BY 1)
      |SELECT lang, n_bigrams, n_distinct,
      |  ROUND(ln(CAST(n_bigrams AS DOUBLE))
      |        - CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS char2_entropy
      |FROM u ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t49
  /** Ingestion-drift audit: mean quality and length per doc_id decile —
    * "did the corpus get worse as ingestion progressed", the positional
    * view t35's length bands and t39's quartiles can't show. Deciles
    * are pure integer arithmetic (`doc_id·10 div (max_id+1)`, capped)
    * against a 1-row corpus-max broadcast (q65's as-of shape), so no
    * float edge or global rank window decides a band at any corpus
    * size; quality means use t35's quantized DECIMAL sums. */
  def t49(spark: SparkSession, dir: String): DataFrame = {
    val d = addQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars"),
        round(col("quality"), 6).cast("decimal(9,6)").as("q"))
    val mx = d.agg(max(col("doc_id")).as("max_id"))
    d.join(broadcast(mx))
      .groupBy(least(expr("doc_id * 10 div (max_id + 1)"), lit(9L)).as("decile"))
      .agg(count(lit(1)).as("n_docs"),
           (round(dbl(sum(col("q"))) / count(lit(1)), 6) + lit(0.0d)).as("mean_quality"),
           (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
      .orderBy("decile")
  }
  val t49Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter($wordsSql, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM documents WHERE len($wordsSql) >= 1),
       |q AS (
       |  SELECT doc_id, n_chars,
       |    CAST(ROUND($qualitySqlExpr, 6) AS DECIMAL(9,6)) AS q
       |  FROM m),
       |x AS (SELECT MAX(doc_id) AS max_id FROM q)
       |SELECT LEAST(doc_id * 10 // (max_id + 1), 9) AS decile,
       |  COUNT(*)::BIGINT AS n_docs,
       |  ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_quality,
       |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
       |FROM q CROSS JOIN x GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t51
  /** Vocabulary drift as ONE number: Jensen–Shannon divergence between
    * the word distributions of the first and second ingestion halves —
    * the scalar that turns the t49/m21/s26/d46 drift quartet into an
    * alertable metric (JS is symmetric and bounded [0, ln 2], unlike
    * t23's per-source KL). One gram fan-out, one conditional-sum
    * groupBy per word, 1-row totals broadcast; each word's two JS
    * terms are round9-DECIMAL quantized before the exact global sum. */
  def t51(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    val wc = docs.select(col("doc_id"), explode(wordsCol).as("w"))
      .join(broadcast(mx))
      .withColumn("half", least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)))
      .groupBy("w")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
           sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = wc.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = dbl(col("ca")) / col("na")
    val pb = dbl(col("cb")) / col("nb")
    val tp = when(col("ca") > 0,
      round(pa * log(lit(2.0) * pa / (pa + pb)), 9)).otherwise(lit(0.0d))
    val tq = when(col("cb") > 0,
      round(pb * log(lit(2.0) * pb / (pa + pb)), 9)).otherwise(lit(0.0d))
    wc.join(broadcast(tot))
      .select(col("ca"), col("cb"),
        tp.cast("decimal(18,9)").as("tp"), tq.cast("decimal(18,9)").as("tq"))
      .agg(sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_first"),
           sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_second"),
           sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
             .as("vocab_shared"),
           round(lit(0.5d) * (dbl(sum(col("tp"))) + dbl(sum(col("tq")))), 6)
             .as("js_divergence"))
  }
  val t51Sql: String =
    s"""WITH x AS (SELECT MAX(doc_id) AS max_id FROM documents),
       |g AS (
       |  SELECT LEAST(doc_id * 2 // (max_id + 1), 1) AS half, UNNEST($wordsSql) AS w
       |  FROM documents CROSS JOIN x),
       |wc AS (
       |  SELECT w,
       |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM g GROUP BY 1),
       |tot AS (SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM wc),
       |t AS (
       |  SELECT ca, cb,
       |    CAST(CASE WHEN ca > 0 THEN ROUND((CAST(ca AS DOUBLE) / na) *
       |        ln(2.0 * (CAST(ca AS DOUBLE) / na) /
       |           ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb))), 9)
       |      ELSE 0.0 END AS DECIMAL(18,9)) AS tp,
       |    CAST(CASE WHEN cb > 0 THEN ROUND((CAST(cb AS DOUBLE) / nb) *
       |        ln(2.0 * (CAST(cb AS DOUBLE) / nb) /
       |           ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb))), 9)
       |      ELSE 0.0 END AS DECIMAL(18,9)) AS tq
       |  FROM wc CROSS JOIN tot)
       |SELECT SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_first,
       |  SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_second,
       |  SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_shared,
       |  ROUND(0.5 * (CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)), 6)
       |    AS js_divergence
       |FROM t""".stripMargin

  // ---------------------------------------------------------------- t52
  /** Trending terms: top-20 words RISING from the first to the second
    * ingestion half by smoothed log-odds z-score (Monroe et al.'s
    * informative-prior log-odds — robust where raw ratios blow up on
    * rare words) — t51 says HOW MUCH the vocabulary moved; this says
    * WHICH words moved it. Rides t51's per-word half-count frame and
    * 1-row totals broadcast; the cut is TakeOrderedAndProject top-20
    * with a pinned tiebreak. */
  def t52(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    val wc = docs.select(col("doc_id"), explode(wordsCol).as("w"))
      .join(broadcast(mx))
      .withColumn("half", least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)))
      .groupBy("w")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
           sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = wc.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val a0 = lit(0.5d) // Dirichlet prior pseudo-count
    val la = log((dbl(col("cb")) + a0) / (dbl(col("nb")) - col("cb") + a0))
    val lb = log((dbl(col("ca")) + a0) / (dbl(col("na")) - col("ca") + a0))
    val z = (la - lb) /
      sqrt(lit(1.0d) / (dbl(col("cb")) + a0) + lit(1.0d) / (dbl(col("ca")) + a0))
    wc.join(broadcast(tot))
      .select(col("w"), col("ca").as("n_first"), col("cb").as("n_second"),
        round(z, 6).as("rise_z"))
      .orderBy(col("rise_z").desc, col("w"))
      .limit(20)
  }
  val t52Sql: String =
    s"""WITH x AS (SELECT MAX(doc_id) AS max_id FROM documents),
       |g AS (
       |  SELECT LEAST(doc_id * 2 // (max_id + 1), 1) AS half, UNNEST($wordsSql) AS w
       |  FROM documents CROSS JOIN x),
       |wc AS (
       |  SELECT w,
       |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM g GROUP BY 1),
       |tot AS (SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM wc)
       |SELECT w, ca AS n_first, cb AS n_second,
       |  ROUND((ln((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) - cb + 0.5))
       |       - ln((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) - ca + 0.5)))
       |    / sqrt(1.0 / (CAST(cb AS DOUBLE) + 0.5)
       |         + 1.0 / (CAST(ca AS DOUBLE) + 0.5)), 6) AS rise_z
       |FROM wc CROSS JOIN tot
       |ORDER BY rise_z DESC, w LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- t53
  /** Language-ID reliability by document length: per length band, the
    * share of docs whose t03 prediction matches the label — the
    * calibration that sets the MINIMUM doc length at which marker
    * routing can be trusted (t03's confusion matrix says WHERE errors
    * go; this says WHEN they happen). One scan, integer band edges,
    * exact counts, ONE division per ≤4-row output. */
  def t53(spark: SparkSession, dir: String): DataFrame =
    addPredicted(Tables.documents(spark, dir))
      .groupBy(when(col("n_chars") < 100, "a<100")
        .when(col("n_chars") < 300, "b<300")
        .when(col("n_chars") < 600, "c<600")
        .otherwise("d>=600").as("length_band"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("predicted") === col("lang"), 1L).otherwise(0L))
             .as("n_correct"))
      .select(col("length_band"), col("n_docs"), col("n_correct"),
        round(dbl(col("n_correct")) / col("n_docs"), 6).as("accuracy"))
      .orderBy("length_band")
  val t53Sql: String =
    s"""WITH s AS (
       |  SELECT lang, n_chars,
       |    $predictedSqlScores
       |  FROM documents),
       |p AS (SELECT lang, n_chars, $predictedSqlCase AS predicted FROM s)
       |SELECT CASE WHEN n_chars < 100 THEN 'a<100'
       |            WHEN n_chars < 300 THEN 'b<300'
       |            WHEN n_chars < 600 THEN 'c<600'
       |            ELSE 'd>=600' END AS length_band,
       |  COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |  ROUND(CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS DOUBLE)
       |        / COUNT(*), 6) AS accuracy
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t54
  /** Language-ID confidence calibration: accuracy per MARGIN band, where
    * margin = best marker score − runner-up score. t53 says how length
    * gates trust; this says how the router's own confidence does — the
    * margin is the signal a production router thresholds on ("route
    * low-margin docs to the expensive model"), and this artifact is the
    * calibration curve that picks that threshold. Margin 0 is a tie or
    * an all-zero score vector (the 'und' route).
    *
    * Scale: one scan through the marker-count kernel (exact integer
    * occurrence counts), a sort of a 5-element array per row, integer
    * bands, map-combinable counts, ONE division per ≤4-row output. */
  def t54(spark: SparkSession, dir: String): DataFrame = {
    val scores = array(markers.map { case (l, _) => col(s"s_$l") }: _*)
    addPredicted(Tables.documents(spark, dir))
      .withColumn("margin",
        (element_at(array_sort(scores), -1) - element_at(array_sort(scores), -2))
          .cast("long"))
      .groupBy(when(col("margin") >= 3, "d_3plus")
        .when(col("margin") === 2, "c_2")
        .when(col("margin") === 1, "b_1")
        .otherwise("a_0").as("margin_band"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("predicted") === col("lang"), 1L).otherwise(0L))
             .as("n_correct"))
      .select(col("margin_band"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6).as("accuracy"))
      .orderBy("margin_band")
  }
  val t54Sql: String = {
    val arr = markers.map { case (l, _) => s"s_$l + 0.0" }.mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT lang,
       |    $predictedSqlScores
       |  FROM documents),
       |p AS (
       |  SELECT lang, $predictedSqlCase AS predicted,
       |    CAST(list_sort($arr)[-1] - list_sort($arr)[-2] AS BIGINT) AS margin
       |  FROM s)
       |SELECT CASE WHEN margin >= 3 THEN 'd_3plus'
       |            WHEN margin = 2 THEN 'c_2'
       |            WHEN margin = 1 THEN 'b_1'
       |            ELSE 'a_0' END AS margin_band,
       |  COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |  ROUND(CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS DOUBLE)
       |        / COUNT(*), 6) AS accuracy
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- t55
  /** Quality-gate attribution: per gate outcome (accepted/rejected at
    * 0.5), which of t02's three components binds — i.e. carries the
    * largest shortfall from its weight budget (punct 0.3·punct_ratio,
    * stop 0.3·stop_ratio, length 0.4·(1−len_sat); the three sum to
    * 1−quality). t39 shows the score distribution; this says WHICH
    * filter knob to tune to recover mass — "rejected mostly on length"
    * asks for a different fix than "rejected on punctuation" — and the
    * accepted side shows each kept doc's weakest aspect (the margin the
    * gate would eat first if tightened).
    *
    * Scale: one scan through addQuality's exact counters, identical
    * double arithmetic for the three shortfalls on both engines (exact
    * integer counters → one division each, fixed tie order), round9
    * DECIMAL quantization before the order-independent mean sum, ≤3
    * rows. */
  def t55(spark: SparkSession, dir: String): DataFrame = {
    val q = addQuality(Tables.documents(spark, dir))
      .withColumn("sp", lit(0.3d) * dbl(col("n_punct")) / dbl(length(col("text"))))
      .withColumn("ss", lit(0.3d) * dbl(col("n_stop")) / dbl(col("n_tok")))
      .withColumn("sl",
        lit(0.4d) * (lit(1.0d) - dbl(least(col("n_tok"), lit(100L))) / lit(100.0d)))
    q.withColumn("gate",
        when(col("quality") < 0.5d, "rejected").otherwise("accepted"))
      .withColumn("binding",
        when(col("sp") >= col("ss") && col("sp") >= col("sl"), "a_punct")
          .when(col("ss") >= col("sl"), "b_stop")
          .otherwise("c_len"))
      .withColumn("shortfall",
        when(col("binding") === "a_punct", col("sp"))
          .when(col("binding") === "b_stop", col("ss"))
          .otherwise(col("sl")))
      .groupBy("gate", "binding")
      .agg(count(lit(1)).as("n_docs"),
        sum(round(col("shortfall"), 9).cast("decimal(18,9)")).as("s"))
      .select(col("gate"), col("binding").as("binding_component"), col("n_docs"),
        round(dbl(col("s")) / col("n_docs"), 6).as("mean_binding_shortfall"))
      .orderBy("gate", "binding_component")
  }
  val t55Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |s AS (
       |  SELECT doc_id,
       |    ROUND(0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_char AS DOUBLE))
       |        + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |        + 0.4 * (CAST(LEAST(n_tok, 100) AS DOUBLE) / 100.0), 6) AS quality,
       |    0.3 * CAST(n_punct AS DOUBLE) / CAST(n_char AS DOUBLE) AS sp,
       |    0.3 * CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ss,
       |    0.4 * (1.0 - CAST(LEAST(n_tok, 100) AS DOUBLE) / 100.0) AS sl
       |  FROM m),
       |r AS (
       |  SELECT CASE WHEN quality < 0.5 THEN 'rejected' ELSE 'accepted' END AS gate,
       |    CASE WHEN sp >= ss AND sp >= sl THEN 'a_punct'
       |         WHEN ss >= sl THEN 'b_stop'
       |         ELSE 'c_len' END AS binding_component,
       |    CASE WHEN sp >= ss AND sp >= sl THEN sp
       |         WHEN ss >= sl THEN ss ELSE sl END AS shortfall
       |  FROM s)
       |SELECT gate, binding_component, COUNT(*)::BIGINT AS n_docs,
       |  ROUND(CAST(SUM(CAST(ROUND(shortfall, 9) AS DECIMAL(18,9))) AS DOUBLE)
       |        / COUNT(*), 6) AS mean_binding_shortfall
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- t56
  /** Template syndication matrix: for the top-20 boilerplate shingles
    * (d43's head — highest document frequency), how many each SOURCE
    * PAIR shares — d43 names the offending n-grams and their spread;
    * this shows which feeds carry the SAME boilerplate (syndicated
    * headers, shared scrapers, mirrored sites), which is where
    * cross-source near-dup mass (d20) comes from before it costs a
    * pair join to find.
    *
    * Scale: one shingle fan-out + map-combinable df counts,
    * TakeOrdered top-20 with pinned (df desc, gram) tiebreak, then a
    * distinct (gram, source) projection whose self-join is bounded by
    * 20·\|sources\|² — constants, not data. */
  def t56(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val posting = Tables.documents(spark, dir)
      .select(col("source"), explode(expr("word_ngrams(text, 3)")).as("g"))
    val hot = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g")).limit(20).select("g")
    // cache: ps (≤ 20 hot grams × |sources|) feeds both self-join
    // sides — uncached, each side re-ran the corpus explode TWICE
    // (once for itself, once inside its copy of the hot-20 subplan)
    val ps = posting.join(hot, "g").select("g", "source").distinct().cache()
    ps.as("a").join(ps.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_templates"))
      .orderBy("source_a", "source_b")
  }
  val t56Sql: String = {
    import graft.operators.Dedup
    s"""WITH sh AS (${Dedup.shingledSql}),
       |p AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |hot AS (SELECT g FROM p GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT 20),
       |ps AS (
       |  SELECT DISTINCT p.g, d.source
       |  FROM p JOIN hot USING (g) JOIN documents d USING (doc_id))
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*)::BIGINT AS n_shared_templates
       |FROM ps a JOIN ps b ON a.g = b.g AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- t57
  /** Corpus n-gram redundancy curve: at n ∈ {1, 2, 4, 8}, total gram
    * occurrences vs distinct grams and redundancy = 1 − distinct/total
    * — the compression-style scalar for "how much of the training
    * token stream is repeated material". Unigram redundancy is just
    * Zipf (always high); the 8-gram number is the one that predicts
    * memorization risk and dedup payoff, and the SLOPE between them
    * says whether repetition is vocabulary-level or passage-level
    * (t30 measures within-doc repetition per doc; this is the
    * corpus-level cross-doc curve).
    *
    * Scale: per n one fan-out + one count + one approx-free distinct
    * count via groupBy (map-combinable partial aggregation — the same
    * shuffle any dedup pays), ≤4 rows out. Occurrence grams (not
    * per-doc distinct): word_ngrams dedups within doc, so totals come
    * from sliding counts len−n+1. */
  def t57(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val rows = Seq(1, 2, 4, 8).map { n =>
      // per-doc distinct grams under-count occurrences; rebuild the
      // sliding stream: explode positions via the tokens array
      val toks = Tables.documents(spark, dir)
        .select(expr("word_tokens(text)").as("w"))
        .select(col("w"), size(col("w")).as("len"))
        .filter(col("len") >= n)
      val grams = toks.select(explode(
        expr(s"transform(sequence(0, len - $n), i -> " +
          s"array_join(slice(w, i + 1, $n), ' '))")).as("g"))
      grams.agg(count(lit(1)).as("total_grams"))
        .join(broadcast(grams.distinct().agg(count(lit(1)).as("distinct_grams"))))
        .select(lit(n).cast("int").as("n"), col("total_grams"),
          col("distinct_grams"),
          round(lit(1.0d) - col("distinct_grams").cast("double")
            / col("total_grams"), 6).as("redundancy"))
    }
    rows.reduce(_.unionByName(_)).orderBy("n")
  }
  val t57Sql: String = {
    val per = Seq(1, 2, 4, 8).map { n =>
      s"""SELECT $n AS n, COUNT(*)::BIGINT AS total_grams,
         |  COUNT(DISTINCT g)::BIGINT AS distinct_grams,
         |  ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
         |    AS redundancy
         |FROM (
         |  SELECT UNNEST(list_transform(range(1, len(w) - $n + 2),
         |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS g
         |  FROM toks WHERE len(w) >= $n)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT $wordsSql AS w FROM documents)
       |$per
       |ORDER BY n""".stripMargin
  }

  // ---------------------------------------------------------------- t58
  /** Cross-language vocabulary confusability: for every unordered
    * language pair, the two vocabulary sizes, the shared-type count,
    * and the vocabulary Jaccard — the matrix that predicts where an
    * n-gram language-ID (t03) will confuse languages: pairs whose
    * vocabularies overlap heavily are exactly the pairs whose docs
    * misroute, so this is the confusion-PRIOR the langid calibration
    * suite reads before trusting per-language splits.
    *
    * Scale: one (lang, word) distinct (shuffle on the pair key), a
    * word-keyed self-join bounded at |langs|² rows per word, and a
    * |langs|-row size frame broadcast twice. Output is |langs|²/2. */
  def t58(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val v = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr("word_tokens(text)")).as("w"))
      .distinct()
    val sz = v.groupBy("lang").agg(count(lit(1)).as("nv"))
    val inter = v.as("a")
      .join(v.as("b"),
        col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("shared_types"))
    inter
      .join(broadcast(sz.select(col("lang").as("lang_a"), col("nv").as("vocab_a"))), "lang_a")
      .join(broadcast(sz.select(col("lang").as("lang_b"), col("nv").as("vocab_b"))), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("vocab_a"), col("vocab_b"),
        col("shared_types"),
        round(dbl(col("shared_types")) /
          (col("vocab_a") + col("vocab_b") - col("shared_types")), 6)
          .as("vocab_jaccard"))
      .orderBy("lang_a", "lang_b")
  }
  val t58Sql: String =
    s"""WITH v AS (
       |  SELECT DISTINCT lang, w
       |  FROM (SELECT lang, UNNEST($wordsSql) AS w FROM documents)),
       |s AS (SELECT lang, COUNT(*)::BIGINT AS nv FROM v GROUP BY 1),
       |i AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*)::BIGINT AS shared_types
       |  FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
       |  GROUP BY 1, 2)
       |SELECT lang_a, lang_b, sa.nv AS vocab_a, sb.nv AS vocab_b, shared_types,
       |  ROUND(CAST(shared_types AS DOUBLE) / (sa.nv + sb.nv - shared_types), 6)
       |    AS vocab_jaccard
       |FROM i JOIN s sa ON lang_a = sa.lang JOIN s sb ON lang_b = sb.lang
       |ORDER BY lang_a, lang_b""".stripMargin

  // ---------------------------------------------------------------- t59
  /** Readability profile per source: words/sentence (t26's [.!?]+ split),
    * syllables/word via the vowel-group proxy ([aeiouy]+ runs in the
    * lowercased text — the standard cheap syllable estimate), and the
    * Flesch reading-ease composite 206.835 − 1.015·wps − 84.6·spw.
    * Docs need ≥1 sentence and ≥1 token to contribute. A source whose
    * ease collapses is boilerplate/code leaking into prose — the
    * quality screens (t02) don't see sentence structure at all.
    *
    * Scale: one map-combinable pass; every per-doc count is codegen'd
    * regex/length arithmetic, totals are exact integers, and the three
    * ratios are ONE division each on the |sources|-bounded frame. */
  def t59(spark: SparkSession, dir: String): DataFrame = {
    val sentences = expr("filter(split(text, '[.!?]+'), x -> trim(x) != '')")
    val syllables = expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
    val wps = dbl(col("tw")) / col("ts")
    val spw = dbl(col("ty")) / col("tw")
    Tables.documents(spark, dir)
      .select(col("source"),
        size(wordsCol).cast("long").as("n_tok"),
        size(sentences).cast("long").as("n_sent"),
        syllables.cast("long").as("n_syl"))
      .filter(col("n_sent") >= 1 && col("n_tok") >= 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tw"),
           sum(col("n_sent")).as("ts"), sum(col("n_syl")).as("ty"))
      .select(col("source"), col("n_docs"),
        round(wps, 6).as("words_per_sentence"),
        round(spw, 6).as("syllables_per_word"),
        round(lit(206.835d) - lit(1.015d) * wps - lit(84.6d) * spw, 6)
          .as("flesch_ease"))
      .orderBy("source")
  }
  val t59Sql: String =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
       |      x -> trim(x) <> '')) AS BIGINT) AS n_sent,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syl
       |  FROM documents),
       |a AS (
       |  SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS tw,
       |    SUM(n_sent)::BIGINT AS ts, SUM(n_syl)::BIGINT AS ty
       |  FROM m WHERE n_sent >= 1 AND n_tok >= 1 GROUP BY 1)
       |SELECT source, n_docs,
       |  ROUND(CAST(tw AS DOUBLE) / ts, 6) AS words_per_sentence,
       |  ROUND(CAST(ty AS DOUBLE) / tw, 6) AS syllables_per_word,
       |  ROUND(206.835 - 1.015 * (CAST(tw AS DOUBLE) / ts)
       |      - 84.6 * (CAST(ty AS DOUBLE) / tw), 6) AS flesch_ease
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t60
  /** Code-contamination screen per source: marker density (share of
    * {}();=[]<> characters) per doc, a doc is flagged `code` at ≥5%
    * density (exact-integer predicate markers·20 ≥ chars), and each
    * source reports its flagged share and mean density. Code in a prose
    * corpus is a ROUTING decision (keep for a code mix, drop for a
    * prose one) — the quality screens score it mid-range, which is the
    * worst outcome: this flag makes the routing explicit.
    *
    * Scale: one map-combinable pass, all counts codegen'd length
    * arithmetic, densities round6-quantized decimals summed exactly;
    * output |sources|. */
  def t60(spark: SparkSession, dir: String): DataFrame = {
    val markers =
      (length(col("text")) - length(regexp_replace(col("text"), "[{}();=\\[\\]<>]", "")))
        .cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("nc"),
        markers.as("nm"))
      .filter(col("nc") >= 1)
      .withColumn("is_code", when(col("nm") * 20L >= col("nc"), 1L).otherwise(0L))
      .withColumn("density", round(dbl(col("nm")) / col("nc"), 6).cast("decimal(18,6)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_code")).as("n_code"),
        round(dbl(sum(col("is_code"))) / count(lit(1)), 6).as("code_share"),
        round(dbl(sum(col("density"))) / count(lit(1)), 6).as("mean_marker_density"))
      .orderBy("source")
  }
  val t60Sql: String =
    """WITH m AS (
      |  SELECT source, CAST(LENGTH(text) AS BIGINT) AS nc,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[{}();=\[\]<>]', '', 'g'))
      |      AS BIGINT) AS nm
      |  FROM documents WHERE LENGTH(text) >= 1),
      |f AS (
      |  SELECT source, CASE WHEN nm * 20 >= nc THEN 1 ELSE 0 END AS is_code,
      |    CAST(ROUND(CAST(nm AS DOUBLE) / nc, 6) AS DECIMAL(18,6)) AS density
      |  FROM m)
      |SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(is_code)::BIGINT AS n_code,
      |  ROUND(CAST(SUM(is_code) AS DOUBLE) / COUNT(*), 6) AS code_share,
      |  ROUND(CAST(SUM(density) AS DOUBLE) / COUNT(*), 6) AS mean_marker_density
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t61
  /** Link/contact density census per source: URL and email mention
    * counts (identical regexes in both engines), share of docs carrying
    * at least one of each, and mentions per doc — linkspam and
    * contact-scrape feeds light up here long before a quality score
    * moves, and the email column doubles as the PII exposure ranking
    * that decides where t05's redaction must run first.
    *
    * Scale: one map-combinable pass, counts are codegen'd
    * regexp_extract_all lengths, ratios are ONE division each on the
    * |sources|-bounded frame. */
  def t61(spark: SparkSession, dir: String): DataFrame = {
    val urls = expr("size(regexp_extract_all(text, 'https?://[^ ]+', 0))").cast("long")
    val mails = expr(
      "size(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', 0))").cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), urls.as("nu"), mails.as("ne"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nu") > 0, 1L).otherwise(0L)).as("docs_with_url"),
        sum(col("nu")).as("n_urls"),
        sum(when(col("ne") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(col("ne")).as("n_emails"))
      .select(col("source"), col("n_docs"),
        col("docs_with_url"), col("n_urls"),
        round(dbl(col("n_urls")) / col("n_docs"), 6).as("urls_per_doc"),
        col("docs_with_email"), col("n_emails"),
        round(dbl(col("n_emails")) / col("n_docs"), 6).as("emails_per_doc"))
      .orderBy("source")
  }
  val t61Sql: String =
    """WITH m AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS nu,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS BIGINT) AS ne
      |  FROM documents)
      |SELECT source, COUNT(*)::BIGINT AS n_docs,
      |  SUM(CASE WHEN nu > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_url,
      |  SUM(nu)::BIGINT AS n_urls,
      |  ROUND(CAST(SUM(nu) AS DOUBLE) / COUNT(*), 6) AS urls_per_doc,
      |  SUM(CASE WHEN ne > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_email,
      |  SUM(ne)::BIGINT AS n_emails,
      |  ROUND(CAST(SUM(ne) AS DOUBLE) / COUNT(*), 6) AS emails_per_doc
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t62
  /** Deterministic k-per-group exemplar sample: the 3 docs with the
    * smallest content hash per language — the distributed "show me a
    * few examples of each slice" primitive. Hash-ranking makes the
    * sample content-addressed (re-ingest stable, order-independent,
    * identical in both engines), unlike any RNG-based sample; ties on
    * identical text break by doc_id.
    *
    * Scale: one scan + a lang-partitioned top-k window (WindowGroupLimit
    * prunes to k per partition map-side); output |langs|·k rows. */
  def t62(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("lang"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("n_chars"), col("h"))
      .orderBy("lang", "rnk")
  }
  val t62Sql: String =
    """SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars, h FROM (
      |  SELECT lang, doc_id, n_chars, md5(text) AS h,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rnk
      |  FROM documents)
      |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------- t63
  /** Language-anchor terms: the 5 terms most distinctive of each
    * language by document-frequency concentration (df in lang / df
    * corpus-wide, df_lang ≥ 5) — the data-derived lexicon a langID
    * heuristic (t03) should be seeded from, and the audit for terms
    * that leak across languages. Per-doc term sets are distinct-ed
    * BEFORE counting (df, not term frequency), score is one IEEE
    * division of exact counts, ties break (df desc, term asc).
    *
    * Scale: (lang, term) df frame is map-combinable and bounded by
    * |langs| × vocab; the corpus df join is term-keyed; top-k per lang
    * via a lang-partitioned row_number (WindowGroupLimit prunes to k
    * map-side). */
  def t63(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), explode(array_distinct(wordsCol)).as("term"))
    val dfLang = tok.groupBy("lang", "term").agg(count(lit(1)).as("df_lang"))
    val dfAll = dfLang.groupBy("term").agg(sum(col("df_lang")).as("df_total"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("df_lang").desc, col("term"))
    dfLang.filter(col("df_lang") >= 5)
      .join(dfAll, "term")
      .withColumn("score", dbl(col("df_lang")) / col("df_total"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("rnk").cast("long").as("rnk"), col("term"),
        col("df_lang"), col("df_total"), round(col("score"), 6).as("score"))
      .orderBy("lang", "rnk")
  }
  val t63Sql: String =
    s"""WITH tok AS (
       |  SELECT lang, UNNEST(list_distinct($wordsSql)) AS term FROM documents),
       |dl AS (SELECT lang, term, COUNT(*)::BIGINT AS df_lang FROM tok GROUP BY 1, 2),
       |da AS (SELECT term, SUM(df_lang)::BIGINT AS df_total FROM dl GROUP BY 1),
       |s AS (
       |  SELECT dl.lang, dl.term, dl.df_lang, da.df_total,
       |    CAST(dl.df_lang AS DOUBLE) / da.df_total AS score
       |  FROM dl JOIN da USING (term) WHERE dl.df_lang >= 5),
       |r AS (
       |  SELECT lang, term, df_lang, df_total, score,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, df_lang DESC, term) AS rnk
       |  FROM s)
       |SELECT lang, CAST(rnk AS BIGINT) AS rnk, term, df_lang, df_total,
       |  ROUND(score, 6) AS score
       |FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin

  // ---------------------------------------------------------------- t64
  /** OCR/extraction-noise screen per source: the two token shapes clean
    * born-digital text rarely produces — tokens mixing letters AND
    * digits ("l0rem", "1ine") and stray single-character tokens (the
    * shrapnel of broken hyphenation and column misreads). A doc is
    * flagged when mixed tokens reach 5% or singletons reach 20% of its
    * tokens — both EXACT integer cross-multiplications (20·mixed ≥ n,
    * 5·single ≥ n), no float thresholds. Per-source averages are round6
    * decimal-quantized means of per-doc IEEE shares.
    *
    * Scale: pure scan-parallel per-doc token filters (codegen'd lambda
    * over the split array, no UDF), then one |sources|-key
    * map-combinable rollup. */
  def t64(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(wordsCol).cast("long").as("n_tok"),
        size(expr("filter(filter(split(text, ' '), x -> x != ''), " +
          "x -> x rlike '[0-9]' and x rlike '[A-Za-z]')")).cast("long").as("mixed"),
        size(expr("filter(filter(split(text, ' '), x -> x != ''), " +
          "x -> length(x) = 1)")).cast("long").as("single"))
      .filter(col("n_tok") >= 1)
      .withColumn("flagged",
        col("mixed") * 20 >= col("n_tok") || col("single") * 5 >= col("n_tok"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        round(dbl(sum(when(col("flagged"), 1L).otherwise(0L))) / count(lit(1)), 6)
          .as("flag_rate"),
        round(dbl(sum(round(dbl(col("mixed")) / col("n_tok"), 6)
          .cast("decimal(18,6)"))) / count(lit(1)), 6).as("avg_mixed_share"),
        round(dbl(sum(round(dbl(col("single")) / col("n_tok"), 6)
          .cast("decimal(18,6)"))) / count(lit(1)), 6).as("avg_single_share"))
      .orderBy("source")
  }
  val t64Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len($wordsSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter($wordsSql,
       |      x -> regexp_matches(x, '[0-9]') AND regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS mixed,
       |    CAST(len(list_filter($wordsSql, x -> length(x) = 1)) AS BIGINT) AS single
       |  FROM documents),
       |f AS (
       |  SELECT source, n_tok, mixed, single,
       |    (mixed * 20 >= n_tok OR single * 5 >= n_tok) AS flagged
       |  FROM d WHERE n_tok >= 1)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN flagged THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       |  ROUND(CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
       |    AS flag_rate,
       |  ROUND(CAST(SUM(CAST(ROUND(CAST(mixed AS DOUBLE) / n_tok, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS avg_mixed_share,
       |  ROUND(CAST(SUM(CAST(ROUND(CAST(single AS DOUBLE) / n_tok, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS avg_single_share
       |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t65
  /** Cross-language vocabulary rank correlation: Spearman's ρ between
    * every language pair over the shared top-100 vocabulary (terms are
    * ranked per language by count with the term string as the
    * deterministic tie-break, re-ranked inside each pair over the common
    * terms, ρ = 1 − 6Σd²/(n(n²−1)) on exact integers). High ρ between
    * two "languages" means the split is cosmetic (same underlying
    * distribution — a synthetic-corpus or mislabeled-langID tell); low ρ
    * licenses per-language LM/quality models (t11/t47) instead of one
    * global one.
    *
    * Scale: the vocab census is one map-combinable groupBy; the top-100
    * cut is a lang-partitioned WindowGroupLimit window, so the pair
    * domain is ≤ |langs|²·100 rows no matter how large the corpus —
    * everything after the census is driver-scale arithmetic run
    * distributed. */
  def t65(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val wRank = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))
    val vocab = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr("word_tokens(text)")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wRank))
      .filter(col("r") <= 100)
    val a = vocab.select(col("lang").as("lang_a"), col("term"),
      col("cnt").as("ca"))
    val b = vocab.select(col("lang").as("lang_b"), col("term"),
      col("cnt").as("cb"))
    val wA = Window.partitionBy("lang_a", "lang_b")
      .orderBy(col("ca").desc, col("term"))
    val wB = Window.partitionBy("lang_a", "lang_b")
      .orderBy(col("cb").desc, col("term"))
    val pairs = a.join(b, Seq("term")).filter(col("lang_a") < col("lang_b"))
      .withColumn("ra", row_number().over(wA).cast("long"))
      .withColumn("rb", row_number().over(wB).cast("long"))
      .withColumn("d2", (col("ra") - col("rb")) * (col("ra") - col("rb")))
    pairs.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_common"), sum(col("d2")).as("sum_d2"))
      .select(col("lang_a"), col("lang_b"), col("n_common"),
        round(lit(1d) - dbl(lit(6L) * col("sum_d2")) /
          dbl(col("n_common") * (col("n_common") * col("n_common") - 1L)), 6)
          .as("spearman_rho"))
      .orderBy("lang_a", "lang_b")
  }
  val t65Sql: String =
    s"""WITH w AS (
       |  SELECT lang, UNNEST($wordsSql) AS term FROM documents),
       |v AS (
       |  SELECT lang, term, COUNT(*)::BIGINT AS cnt FROM w GROUP BY 1, 2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) <= 100),
       |p AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.term AS term,
       |    a.cnt AS ca, b.cnt AS cb
       |  FROM v a JOIN v b ON a.term = b.term AND a.lang < b.lang),
       |r AS (
       |  SELECT lang_a, lang_b,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b ORDER BY ca DESC, term) AS BIGINT) AS ra,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b ORDER BY cb DESC, term) AS BIGINT) AS rb
       |  FROM p),
       |d AS (
       |  SELECT lang_a, lang_b, (ra - rb) * (ra - rb) AS d2 FROM r)
       |SELECT lang_a, lang_b, COUNT(*)::BIGINT AS n_common,
       |  ROUND(1.0 - CAST(6 * SUM(d2) AS DOUBLE) /
       |    CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE), 6) AS spearman_rho
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- t66
  /** Tokenizer-fertility profile per language: chars per token, tokens
    * per doc, and corpus token share — the conversion rates that turn a
    * char-budgeted crawl into a token-budgeted training mix (a
    * high-fertility language eats p03/p35's token budget faster than its
    * char volume suggests; CJK-vs-Latin fertility is THE classic
    * surprise). Sums are exact integers; each rate is one IEEE division.
    *
    * Scale: one tokenize pass, |langs|-key map-combinable rollup, 1-row
    * corpus-total broadcast for the share. */
  def t66(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val per = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").cast("long").as("nc"),
        expr("size(word_tokens(text))").cast("long").as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("total_chars"), sum(col("nt")).as("total_tokens"))
    per.crossJoin(broadcast(per.agg(sum(col("total_tokens")).as("tot"))))
      .select(col("lang"), col("n_docs"), col("total_chars"), col("total_tokens"),
        round(dbl(col("total_chars")) / dbl(col("total_tokens")), 6)
          .as("chars_per_token"),
        round(dbl(col("total_tokens")) / dbl(col("n_docs")), 6)
          .as("tokens_per_doc"),
        round(dbl(col("total_tokens")) / dbl(col("tot")), 6).as("token_share"))
      .orderBy("lang")
  }
  val t66Sql: String =
    s"""WITH p AS (
       |  SELECT lang, COUNT(*)::BIGINT AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |    CAST(SUM(len($wordsSql)) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS tot FROM p)
       |SELECT lang, n_docs, total_chars, total_tokens,
       |  ROUND(CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
       |    AS chars_per_token,
       |  ROUND(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS tokens_per_doc,
       |  ROUND(CAST(total_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS token_share
       |FROM p CROSS JOIN t ORDER BY lang""".stripMargin


  // ---------------------------------------------------------------- t67
  /** Punctuation-style fingerprint per source: each source's share of
    * periods / commas / exclamations / questions / semicolons+colons
    * among its sentence punctuation, plus punct-per-kchar density —
    * register drift (marketing copy exclaims, reference prose semicolons)
    * that survives paraphrase, so it complements t27/t56's exact
    * template matching as a provenance signal. Counts are exact
    * (LENGTH minus the char-stripped LENGTH), shares single divisions.
    *
    * Scale: ONE map-combinable groupBy over documents; \|sources\| rows. */
  def t67(spark: SparkSession, dir: String): DataFrame = {
    def cnt(ch: String): org.apache.spark.sql.Column =
      (length(col("text")) - length(regexp_replace(col("text"), ch, ""))).cast("long")
    val src = Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("nc"),
        cnt("[.]").as("np"), cnt("[,]").as("ncm"), cnt("[!]").as("nx"),
        cnt("[?]").as("nq"), cnt("[;:]").as("nsc"))
      .groupBy("source")
      .agg(sum(col("nc")).as("chars"), sum(col("np")).as("n_period"),
        sum(col("ncm")).as("n_comma"), sum(col("nx")).as("n_exclaim"),
        sum(col("nq")).as("n_question"), sum(col("nsc")).as("n_semi"))
      .withColumn("n_punct", col("n_period") + col("n_comma") + col("n_exclaim")
        + col("n_question") + col("n_semi"))
    def share(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(when(col("n_punct") > 0, dbl(c) / dbl(col("n_punct"))).otherwise(0d), 6)
    src.select(col("source"), col("n_punct"),
      round(dbl(col("n_punct")) * 1000 / dbl(col("chars")), 6).as("punct_per_kchar"),
      share(col("n_period")).as("period_share"),
      share(col("n_comma")).as("comma_share"),
      share(col("n_exclaim")).as("exclaim_share"),
      share(col("n_question")).as("question_share"),
      share(col("n_semi")).as("semi_share"))
      .orderBy("source")
  }
  val t67Sql: String =
    """WITH d AS (
      |  SELECT source, CAST(LENGTH(text) AS BIGINT) AS nc,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.]', '', 'g')) AS BIGINT) AS np,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[,]', '', 'g')) AS BIGINT) AS ncm,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[!]', '', 'g')) AS BIGINT) AS nx,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[?]', '', 'g')) AS BIGINT) AS nq,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[;:]', '', 'g')) AS BIGINT) AS nsc
      |  FROM documents),
      |s AS (
      |  SELECT source, SUM(nc)::BIGINT AS chars, SUM(np)::BIGINT AS n_period,
      |    SUM(ncm)::BIGINT AS n_comma, SUM(nx)::BIGINT AS n_exclaim,
      |    SUM(nq)::BIGINT AS n_question, SUM(nsc)::BIGINT AS n_semi
      |  FROM d GROUP BY 1),
      |w AS (SELECT *, (n_period + n_comma + n_exclaim + n_question + n_semi)::BIGINT AS n_punct FROM s)
      |SELECT source, n_punct,
      |  ROUND(CAST(n_punct AS DOUBLE) * 1000 / CAST(chars AS DOUBLE), 6) AS punct_per_kchar,
      |  ROUND(CASE WHEN n_punct > 0 THEN CAST(n_period AS DOUBLE) / CAST(n_punct AS DOUBLE) ELSE 0.0 END, 6) AS period_share,
      |  ROUND(CASE WHEN n_punct > 0 THEN CAST(n_comma AS DOUBLE) / CAST(n_punct AS DOUBLE) ELSE 0.0 END, 6) AS comma_share,
      |  ROUND(CASE WHEN n_punct > 0 THEN CAST(n_exclaim AS DOUBLE) / CAST(n_punct AS DOUBLE) ELSE 0.0 END, 6) AS exclaim_share,
      |  ROUND(CASE WHEN n_punct > 0 THEN CAST(n_question AS DOUBLE) / CAST(n_punct AS DOUBLE) ELSE 0.0 END, 6) AS question_share,
      |  ROUND(CASE WHEN n_punct > 0 THEN CAST(n_semi AS DOUBLE) / CAST(n_punct AS DOUBLE) ELSE 0.0 END, 6) AS semi_share
      |FROM w ORDER BY source""".stripMargin


  // ---------------------------------------------------------------- t68
  /** Source vocabulary-overlap matrix: Jaccard of each source pair's
    * top-200 word vocabularies — near-identical vocabularies flag
    * mirrored/syndicated sources BEFORE any pair join runs (t13 overlaps
    * documents, t23 compares distributions; this compares the lexicons
    * themselves, the cheapest cross-source signal there is). Ties rank
    * deterministically by (count DESC, word).
    *
    * Scale: the rank window partitions by source over the per-source
    * vocab frame (vocab-bounded, not corpus-bounded; at extreme vocab a
    * df-threshold prefilter caps the frame); the top-200 sets self-join
    * on word (≤ 200·\|sources\| rows per side), |sources|²/2 output. */
  def t68(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(expr("word_tokens(text)")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val top = counts
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("cnt").desc, col("word"))))
      .filter(col("rn") <= 200)
      .select(col("source"), col("word"))
    val sizes = top.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = top.as("a").join(top.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        round(dbl(col("inter")) / dbl(col("na") + col("nb") - col("inter")), 6)
          .as("vocab_jaccard"))
      .orderBy("source_a", "source_b")
  }
  val t68Sql: String =
    s"""WITH counts AS (
       |  SELECT source, UNNEST($wordsSql) AS word, 1 AS one FROM documents),
       |c AS (SELECT source, word, COUNT(*)::BIGINT AS cnt FROM counts GROUP BY 1, 2),
       |top AS (
       |  SELECT source, word FROM (
       |    SELECT source, word,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rn
       |    FROM c)
       |  WHERE rn <= 200),
       |sizes AS (SELECT source, COUNT(*)::BIGINT AS n FROM top GROUP BY 1),
       |i AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*)::BIGINT AS inter
       |  FROM top a JOIN top b ON a.word = b.word AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, inter,
       |  ROUND(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS vocab_jaccard
       |FROM i JOIN sizes sa ON i.source_a = sa.source
       |       JOIN sizes sb ON i.source_b = sb.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- t69
  /** PII-density band census per source: documents banded by redaction
    * density (clean / ≤5 PII spans per kChar / heavier), with doc counts,
    * total spans, and each band's doc share — t05 totals the scrub; this
    * is the DROP-vs-SCRUB decision table (a source whose heavy band
    * dominates gets dropped, not redacted). Bands are exact integer
    * cross-multiplied compares; shares are ppm BIGINTs.
    *
    * Scale: one scan with two regexp extract counts (codegen'd), one
    * map-combinable rollup; \|sources\|×3 rows. */
  def t69(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n_pii",
        (size(regexp_extract_all(col("text"), lit(numPat), lit(0))) +
         size(regexp_extract_all(col("text"), lit(mailPat), lit(0)))).cast("long"))
      .withColumn("chars", length(col("text")).cast("long"))
      .withColumn("band",
        when(col("n_pii") === 0, "a_clean")
          .when(col("n_pii") * 1000 <= col("chars") * 5, "b_light")
          .otherwise("c_heavy"))
    val per = d.groupBy("source", "band")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_pii")).as("n_pii_total"))
    val tot = d.groupBy("source").agg(count(lit(1)).as("src_docs"))
    per.join(broadcast(tot), "source")
      .selectExpr("source", "band", "n_docs", "n_pii_total",
        "(cast(n_docs as decimal(38,0)) * 1000000) div src_docs as doc_share_ppm")
      .orderBy("source", "band")
  }
  val t69Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '$numPat'))
       |       + len(regexp_extract_all(text, '$mailPat')) AS BIGINT) AS n_pii,
       |    CAST(LENGTH(text) AS BIGINT) AS chars
       |  FROM documents),
       |b AS (SELECT source,
       |    CASE WHEN n_pii = 0 THEN 'a_clean'
       |         WHEN n_pii * 1000 <= chars * 5 THEN 'b_light'
       |         ELSE 'c_heavy' END AS band, n_pii FROM d),
       |per AS (SELECT source, band, COUNT(*)::BIGINT AS n_docs,
       |        SUM(n_pii)::BIGINT AS n_pii_total FROM b GROUP BY 1, 2),
       |tot AS (SELECT source, COUNT(*)::BIGINT AS src_docs FROM d GROUP BY 1)
       |SELECT source, band, n_docs, n_pii_total,
       |  CAST((n_docs::HUGEINT * 1000000) // src_docs AS BIGINT) AS doc_share_ppm
       |FROM per JOIN tot USING (source) ORDER BY source, band""".stripMargin

  // ---------------------------------------------------------------- t70
  /** Affix-boilerplate census per source: docs sharing their first-64-char
    * prefix with another doc of the SAME source (scrape headers, licence
    * banners) and likewise their last-64-char suffix (footers), with
    * distinct-affix counts and ppm rates — the boilerplate-TRIM audit
    * that precedes d43's shingle-level view (an affix census is one
    * rollup; shingle evidence costs a posting join). Exact integers.
    *
    * Scale: two map-combinable (source, affix) rollups; suffix uses an
    * explicit length guard so both engines slice identically. */
  def t70(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("pre", substring(col("text"), 1, 64))
      .withColumn("suf", when(length(col("text")) <= 64, col("text"))
        .otherwise(expr("substring(text, length(text) - 63, 64)")))
    def dupStats(affix: String, dupName: String, distName: String): DataFrame =
      d.groupBy(col("source"), col(affix)).agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(dupName),
          count(lit(1)).as(distName))
    val tot = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    tot.join(dupStats("pre", "pre_dup_docs", "distinct_prefixes"), "source")
      .join(dupStats("suf", "suf_dup_docs", "distinct_suffixes"), "source")
      .selectExpr("source", "n_docs",
        "distinct_prefixes", "pre_dup_docs",
        "(cast(pre_dup_docs as decimal(38,0)) * 1000000) div n_docs as pre_dup_ppm",
        "distinct_suffixes", "suf_dup_docs",
        "(cast(suf_dup_docs as decimal(38,0)) * 1000000) div n_docs as suf_dup_ppm")
      .orderBy("source")
  }
  val t70Sql: String =
    """WITH d AS (
      |  SELECT source, substr(text, 1, 64) AS pre,
      |    CASE WHEN LENGTH(text) <= 64 THEN text
      |         ELSE substr(text, LENGTH(text) - 63, 64) END AS suf
      |  FROM documents),
      |pg AS (SELECT source, pre, COUNT(*)::BIGINT AS c FROM d GROUP BY 1, 2),
      |p AS (SELECT source,
      |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS pre_dup_docs,
      |    COUNT(*)::BIGINT AS distinct_prefixes FROM pg GROUP BY 1),
      |sg AS (SELECT source, suf, COUNT(*)::BIGINT AS c FROM d GROUP BY 1, 2),
      |s AS (SELECT source,
      |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS suf_dup_docs,
      |    COUNT(*)::BIGINT AS distinct_suffixes FROM sg GROUP BY 1),
      |tot AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM d GROUP BY 1)
      |SELECT source, n_docs, distinct_prefixes, pre_dup_docs,
      |  CAST((pre_dup_docs::HUGEINT * 1000000) // n_docs AS BIGINT) AS pre_dup_ppm,
      |  distinct_suffixes, suf_dup_docs,
      |  CAST((suf_dup_docs::HUGEINT * 1000000) // n_docs AS BIGINT) AS suf_dup_ppm
      |FROM tot JOIN p USING (source) JOIN s USING (source)
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t71
  /** Quality-gate × LM-gate confusion matrix: every scored doc cross-
    * classified by the heuristic t02 gate (quality ≥ 0.5, p01's shipped
    * setting) and the corpus-LM gate (t11's avg_logp above its
    * DECIMAL-exact corpus mean), with doc and token bills per cell —
    * the table that says whether the cheap heuristic can stand in for
    * the LM screen and what the disagreement costs in tokens. Gate
    * compares are identical-operand double compares (both quantities
    * are round6-quantized the same way in both engines); the hashed
    * outputs are booleans and BIGINTs only.
    *
    * Scale: rides the memoized LM-scored frame (the expensive kernel is
    * already shared with t11/t14/p03) + one quality scan; 4-row output. */
  def t71(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val q = addQuality(Tables.documents(spark, dir)).select(col("doc_id"), col("quality"))
    val lm = scoredDocs(spark, dir).select(col("doc_id"), col("n_tok"), col("avg_logp"))
    // cache: j (4 narrow columns per doc) feeds the global-mean pass AND
    // the confusion rollup — uncached, the quality kernel scan re-ran
    val j = q.join(lm, "doc_id")
      .transform(d => Tables.smallFrameParts(spark, dir).fold(d)(d.coalesce))
      .cache()
    val thr = j.agg((sum(col("avg_logp").cast("decimal(18,6)")).cast("double")
      / count(lit(1))).as("lm_thr"))
    j.crossJoin(broadcast(thr))
      .select((col("quality") >= 0.5d).as("q_keep"),
        (col("avg_logp") >= col("lm_thr")).as("lm_keep"),
        col("n_tok"))
      .groupBy("q_keep", "lm_keep")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .orderBy("q_keep", "lm_keep")
  }
  val t71Sql: String =
    s"""WITH base AS (SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (SELECT doc_id, $qualitySqlExpr AS quality FROM m),
       |toks AS (SELECT doc_id, UNNEST($wordsSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
       |model AS (SELECT word, SUM(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
       |n AS (SELECT SUM(cnt)::BIGINT AS n FROM model),
       |lm AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |    ROUND(CAST(SUM(CAST(tf AS DECIMAL(10,0))
       |            * CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
       |                   AS DECIMAL(18,9))) AS DOUBLE)
       |          / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logp
       |  FROM tf JOIN model USING (word) CROSS JOIN n GROUP BY 1),
       |j AS (SELECT q.doc_id, quality, lm.n_tok, avg_logp FROM q JOIN lm USING (doc_id)),
       |thr AS (SELECT CAST(SUM(CAST(avg_logp AS DECIMAL(18,6))) AS DOUBLE)
       |          / COUNT(*) AS lm_thr FROM j)
       |SELECT quality >= 0.5 AS q_keep, avg_logp >= lm_thr AS lm_keep,
       |  COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS tokens
       |FROM j CROSS JOIN thr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- t72
  /** Mojibake / encoding-damage census per source: documents carrying
    * U+FFFD replacement characters (a decoder already gave up), stray C0
    * control characters (binary bleed, broken escapes), and the
    * non-ASCII character load (ppm of chars) — the cheap screen that
    * catches a mis-decoded feed BEFORE tokenization garbles it (a
    * real-corpus staple; on clean synthetic data the damage columns
    * read zero, which is the point of a sentinel). Exact integers.
    *
    * Scale: one scan, three codegen'd regexp counts, one map-combinable
    * rollup; \|sources\| rows. */
  private val replPat = "�"
  private val ctlPat = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
  private val nonAsciiPat = "[^\\x00-\\x7f]"
  def t72(spark: SparkSession, dir: String): DataFrame = {
    def nMatch(pat: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), pat, ""))).cast("long")
    Tables.documents(spark, dir)
      .withColumn("n_repl", nMatch(replPat))
      .withColumn("n_ctl", nMatch(ctlPat))
      .withColumn("n_nonascii", nMatch(nonAsciiPat))
      .withColumn("chars", length(col("text")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("docs_with_replacement"),
        sum(when(col("n_ctl") > 0, 1L).otherwise(0L)).as("docs_with_control"),
        sum(col("n_nonascii")).as("nonascii_chars"),
        sum(col("chars")).as("chars"))
      .selectExpr("source", "n_docs", "docs_with_replacement",
        "docs_with_control", "nonascii_chars", "chars",
        "(cast(nonascii_chars as decimal(38,0)) * 1000000) div chars as nonascii_ppm")
      .orderBy("source")
  }
  val t72Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '$replPat', '', 'g')) AS BIGINT) AS n_repl,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '$ctlPat', '', 'g')) AS BIGINT) AS n_ctl,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '$nonAsciiPat', '', 'g')) AS BIGINT) AS n_nonascii,
       |    CAST(LENGTH(text) AS BIGINT) AS chars
       |  FROM documents)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_replacement,
       |  SUM(CASE WHEN n_ctl > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_control,
       |  SUM(n_nonascii)::BIGINT AS nonascii_chars,
       |  SUM(chars)::BIGINT AS chars,
       |  CAST((SUM(n_nonascii)::HUGEINT * 1000000) // SUM(chars) AS BIGINT) AS nonascii_ppm
       |FROM d GROUP BY 1 ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "t72_mojibake_census" -> (t72 _),
    "t71_gate_confusion" -> (t71 _),
    "t70_affix_boilerplate" -> (t70 _),
    "t69_pii_density_bands" -> (t69 _),
    "t68_source_vocab_jaccard" -> (t68 _),
    "t67_punct_style" -> (t67 _),
    "t66_fertility" -> (t66 _),
    "t65_rank_correlation" -> (t65 _),
    "t64_ocr_noise" -> (t64 _),
    "t63_anchor_terms" -> (t63 _),
    "t62_group_sample" -> (t62 _),
    "t61_link_density" -> (t61 _),
    "t60_code_screen" -> (t60 _),
    "t59_readability" -> (t59 _),
    "t58_lang_confusability" -> (t58 _),
    "t57_gram_redundancy" -> (t57 _),
    "t56_template_flow" -> (t56 _),
    "t55_quality_attribution" -> (t55 _),
    "t54_langid_margin" -> (t54 _),
    "t53_langid_by_length" -> (t53 _),
    "t52_trending_terms" -> (t52 _),
    "t51_vocab_half_divergence" -> (t51 _),
    "t49_ingestion_quality_drift" -> (t49 _),
    "t48_char_bigram_entropy" -> (t48 _),
    "t47_lang_quality" -> (t47 _),
    "t46_word_burstiness" -> (t46 _),
    "t45_word_branching" -> (t45 _),
    "t44_sentence_dup" -> (t44 _),
    "t43_pmi_collocations" -> (t43 _),
    "t42_vocab_gini" -> (t42 _),
    "t41_hapax_profile" -> (t41 _),
    "t40_casing_profile" -> (t40 _),
    "t39_quality_quartiles" -> (t39 _),
    "t38_length_outliers" -> (t38 _),
    "t37_zipf_slope" -> (t37 _),
    "t36_bigram_entropy" -> (t36 _),
    "t35_quality_by_length" -> (t35 _),
    "t33_stopword_coverage" -> (t33 _),
    "t32_numeric_density" -> (t32 _),
    "t31_length_quartiles" -> (t31 _),
    "t30_dup_ngram_rate" -> (t30 _),
    "t29_gram_coverage" -> (t29 _),
    "t28_word_length_hist" -> (t28 _),
    "t27_template_rate" -> (t27 _),
    "t26_sentence_stats" -> (t26 _),
    "t25_vocab_growth" -> (t25 _),
    "t24_bpe_pair_counts" -> (t24 _),
    "t23_source_divergence" -> (t23 _),
    "t22_unigram_entropy" -> (t22 _),
    "t21_vocab_coverage" -> (t21 _),
    "t20_bigram_lm" -> (t20 _),
    "t19_charclass" -> (t19 _),
    "t18_gram_novelty" -> (t18 _),
    "t17_lexical_diversity" -> (t17 _),
    "t16_zipf_head" -> (t16 _),
    "t15_chunk_dedup" -> (t15 _),
    "t14_ppl_buckets" -> (t14 _),
    "t13_source_overlap" -> (t13 _),
    "t11_lm_score" -> (t11 _),
    "t12_lang_mix" -> (t12 _),
    "t10_repetition" -> (t10 _),
    "t09_tfidf_keywords" -> (t09 _),
    "t01_token_stats" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_langid" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
    "t05_redaction" -> (t05 _),
    "t06_stratified_sample" -> (t06 _),
    "t07_token_histogram" -> (t07 _),
    "t08_winnow_pairs" -> (t08 _),
  )

  val oracle: Map[String, String] = Map(
    "t72_mojibake_census" -> t72Sql,
    "t71_gate_confusion" -> t71Sql,
    "t70_affix_boilerplate" -> t70Sql,
    "t69_pii_density_bands" -> t69Sql,
    "t68_source_vocab_jaccard" -> t68Sql,
    "t67_punct_style" -> t67Sql,
    "t66_fertility" -> t66Sql,
    "t65_rank_correlation" -> t65Sql,
    "t64_ocr_noise" -> t64Sql,
    "t63_anchor_terms" -> t63Sql,
    "t62_group_sample" -> t62Sql,
    "t61_link_density" -> t61Sql,
    "t60_code_screen" -> t60Sql,
    "t59_readability" -> t59Sql,
    "t58_lang_confusability" -> t58Sql,
    "t57_gram_redundancy" -> t57Sql,
    "t56_template_flow" -> t56Sql,
    "t55_quality_attribution" -> t55Sql,
    "t54_langid_margin" -> t54Sql,
    "t53_langid_by_length" -> t53Sql,
    "t52_trending_terms" -> t52Sql,
    "t51_vocab_half_divergence" -> t51Sql,
    "t49_ingestion_quality_drift" -> t49Sql,
    "t48_char_bigram_entropy" -> t48Sql,
    "t47_lang_quality" -> t47Sql,
    "t46_word_burstiness" -> t46Sql,
    "t45_word_branching" -> t45Sql,
    "t44_sentence_dup" -> t44Sql,
    "t43_pmi_collocations" -> t43Sql,
    "t42_vocab_gini" -> t42Sql,
    "t41_hapax_profile" -> t41Sql,
    "t40_casing_profile" -> t40Sql,
    "t39_quality_quartiles" -> t39Sql,
    "t38_length_outliers" -> t38Sql,
    "t18_gram_novelty" -> t18Sql,
    "t17_lexical_diversity" -> t17Sql,
    "t16_zipf_head" -> t16Sql,
    "t15_chunk_dedup" -> t15Sql,
    "t14_ppl_buckets" -> t14Sql,
    "t13_source_overlap" -> t13Sql,
    "t11_lm_score" -> t11Sql,
    "t12_lang_mix" -> t12Sql,
    "t10_repetition" -> t10Sql,
    "t09_tfidf_keywords" -> t09Sql,
    "t01_token_stats" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t19_charclass" -> t19Sql,
    "t37_zipf_slope" -> t37Sql,
    "t36_bigram_entropy" -> t36Sql,
    "t35_quality_by_length" -> t35Sql,
    "t33_stopword_coverage" -> t33Sql,
    "t32_numeric_density" -> t32Sql,
    "t31_length_quartiles" -> t31Sql,
    "t30_dup_ngram_rate" -> t30Sql,
    "t29_gram_coverage" -> t29Sql,
    "t28_word_length_hist" -> t28Sql,
    "t27_template_rate" -> t27Sql,
    "t26_sentence_stats" -> t26Sql,
    "t25_vocab_growth" -> t25Sql,
    "t24_bpe_pair_counts" -> t24Sql,
    "t23_source_divergence" -> t23Sql,
    "t22_unigram_entropy" -> t22Sql,
    "t21_vocab_coverage" -> t21Sql,
    "t20_bigram_lm" -> t20Sql,
    "t03_langid" -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_redaction" -> t05Sql,
    "t06_stratified_sample" -> t06Sql,
    "t07_token_histogram" -> t07Sql,
    "t08_winnow_pairs" -> t08Sql,
  )
}
