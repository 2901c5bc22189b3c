package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.VectorFunctions

/** The composed training-data curation pipeline (SURVEY.md §2.8): the
  * end-to-end shape a 100 TB pre-training corpus actually runs, as ONE
  * declarative plan so Catalyst sees every stage at once (scans merge,
  * filters push below the expensive pair-join, AQE sizes the shuffles).
  *
  * Stages (all reusing the per-operator kernels, so each stage's semantics
  * are exactly its standalone oracle-checked counterpart):
  *   1. quality gate   — t02's score, keep quality >= 0.5
  *   2. language ID    — t03's marker argmax → `pred_lang`
  *   3. exact dedup    — t04's normalized fingerprint, keep min doc_id
  *   4. near-dup drop  — d03's inverted-index 3-gram Jaccard >= 0.8,
  *                       drop the larger doc_id of each pair
  *   5. training mix   — t06's deterministic hash-stratified sample on
  *                       the PREDICTED language (en 8/16, others 4/16)
  *
  * Stage order is the scale order: the cheap scan-parallel gates (1-3)
  * shrink the corpus before the pair-generating stage (4) runs; the
  * sample (5) is last so dup decisions never depend on the sampling.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** p01's stage frames, shared with the p14 ledger: (raw docs, quality+
    * langid survivors, exact-dedup keepers, near-dup survivors, sampled
    * final mix). Each frame is exactly the standalone stage semantics. */
  private def p01Stages(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    // 1+2: quality gate, then language ID on survivors. Cached: the
    // gated frame feeds the dedup window AND the per-stage census reads
    // (p14/p17/p22/p37 count it as stage b) — uncached, the
    // quality+langid scan chain ran once per consumer.
    // lang/source ride the cached stage frames: the per-stage census
    // operators (p17 by source, p22 by lang) previously joined every
    // stage's doc_id set back onto the corpus just to recover these two
    // small dimension columns — 4-5 extra joins per census query
    // (guide §2.4: don't re-derive what can ride along)
    val scored = TextAnalysis.addPredicted(TextAnalysis.addQuality(docs))
      .filter(col("quality") >= lit(0.5d))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("predicted").as("pred_lang"), col("quality"))
      .cache()
    // 3: exact normalized-fingerprint dedup, keep-min-id (one shuffle on fp)
    // cache: the dedup survivors feed the pair-join's two posting sides,
    // two size joins AND the final anti-join — uncached, the whole
    // quality+langid+window subplan re-runs for each consumer
    val keep = scored
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("min_id"))
      .drop("min_id", "fp")
      .cache()
    // 4: near-dup removal via shingle inverted index (no cross join)
    val sh = keep.select(col("doc_id"), expr("word_ngrams(text, 3)").as("grams"))
      .filter(size(col("grams")) >= 1)
      .cache()
    // set sizes carried through the pair aggregation (min over the
    // per-doc constant) — no joins of the pair stream (Dedup.coPairCounts
    // recipe, guide §2.3/§2.4)
    val posting = sh.select(col("doc_id"),
      size(col("grams")).cast("long").as("n"), explode(col("grams")).as("g"))
    val dropped = posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      .filter(col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 4)
      .select(col("doc_b").as("doc_id")).distinct()
    val surv = keep.join(dropped, Seq("doc_id"), "left_anti").cache()
    // 5: deterministic stratified sample on the predicted language
    val nib = substring(md5(col("text")), 1, 1)
    val sampled = surv
      .filter(when(col("pred_lang") === "en", nib < "8").otherwise(nib < "4"))
    (docs, scored, keep, surv, sampled)
  }

  def p01(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, _, _, sampled) = p01Stages(spark, dir)
    sampled.select("doc_id", "pred_lang", "quality").orderBy("doc_id")
  }

  val p01Sql: String = {
    import TextAnalysis.{predictedSqlCase, predictedSqlScores, qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (
       |  SELECT * FROM (SELECT doc_id, text, $qualitySqlExpr AS quality FROM m)
       |  WHERE quality >= CAST(0.5 AS DOUBLE)),
       |s AS (
       |  SELECT doc_id, text, quality,
       |    $predictedSqlScores
       |  FROM q),
       |pl AS (SELECT doc_id, text, quality, $predictedSqlCase AS pred_lang FROM s),
       |f AS (
       |  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM pl),
       |keep AS (
       |  SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS min_id FROM f)
       |  WHERE doc_id = min_id),
       |shk AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
       |  FROM (SELECT doc_id, $wordsSql AS w FROM keep) WHERE len(w) >= 3),
       |pk AS (SELECT doc_id, UNNEST(grams) AS g FROM shk),
       |sz AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM shk),
       |it AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM pk a JOIN pk b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM it JOIN sz na ON doc_a = na.doc_id JOIN sz nb ON doc_b = nb.doc_id
       |  WHERE inter * 5 >= (na.n + nb.n - inter) * 4)
       |SELECT doc_id, pred_lang, quality FROM keep
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |  AND (CASE WHEN pred_lang = 'en' THEN substr(md5(text), 1, 1) < '8'
       |            ELSE substr(md5(text), 1, 1) < '4' END)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- p02
  /** The composed EMBEDDING-side pipeline (p01's counterpart for the
    * vector stack): semantic dedup → IVF index train → cell-probed
    * neighbor search, each stage exactly its standalone operator
    * (d13 / trainCentroids / ivfSearch), composed so the index never
    * sees semantic duplicates — the curate-then-index flow a 100 TB
    * embedding corpus runs before serving ANN.
    *
    * Scale notes: dedup survivors are computed once and cached (at
    * cluster scale, persisted); training reads the SURVIVOR set (k-means
    * on a deduped corpus converges to better-spread centroids — dup
    * clusters can't capture a cell); search output is top-5 per
    * survivor. Rows-only (k-means-dependent); the spec asserts every
    * query/neighbor is a d13 survivor and ranks are contiguous with
    * non-increasing cosine. */
  def p02(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val kept = Dedup.d13(spark, dir).filter(col("kept")).select("vec_id")
    val e = Similarity.withNormVec(Tables.embeddings(spark, dir))
      .join(kept, "vec_id")
      .cache() // feeds k-means iterations AND the member/probe sides
    Similarity.ivfSearch(spark, e,
      Similarity.centroidFrame(spark, e, k = 16, iters = 2))
  }

  // ---------------------------------------------------------------- p03
  /** Token-budget training mix: each language contributes its
    * HIGHEST-QUALITY documents (by the t11 corpus-LM score) until a
    * per-language token budget fills — the "N billion tokens per
    * language, best first" selection step that turns a curated corpus
    * into an actual training mix.
    *
    * Selection is threshold-based, never a per-document running total:
    * per-(lang, score) token sums accumulate through the same
    * bounded-domain prefix window as t14 (the score is round6-quantized,
    * so the window input is capped by the quantization, not the corpus
    * row count), and a document is kept iff its whole score-group fits
    * the budget (cum ≤ B). Group-granular keep is deterministic — no
    * partial-group lottery — and the output reports the realized token
    * count and the score cutoff per language. */
  def p03(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    // the memoized LM-scored frame: feeds the budget aggregation AND the
    // keep join, and is shared with t11/t14 across queries
    val scored = TextAnalysis.scoredDocs(spark, dir) // doc_id, lang, n_tok, avg_logp
    val grp = scored.groupBy("lang", "avg_logp").agg(sum(col("n_tok")).as("tok"))
    val cum = grp.withColumn("cum",
      sum(col("tok")).over(Window.partitionBy("lang").orderBy(col("avg_logp").desc)))
    scored.join(cum.select("lang", "avg_logp", "cum"), Seq("lang", "avg_logp"))
      .filter(col("cum") <= budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
           min(col("avg_logp")).as("cut_score"))
      .withColumn("budget", lit(budget))
      .orderBy("lang")
  }
  val p03Sql: String = {
    import TextAnalysis.wordsSql
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
       |grp AS (SELECT lang, avg_logp, CAST(SUM(n_tok) AS BIGINT) AS tok
       |        FROM scored GROUP BY 1, 2),
       |cum AS (SELECT lang, avg_logp,
       |  SUM(tok) OVER (PARTITION BY lang ORDER BY avg_logp DESC) AS cum FROM grp)
       |SELECT s.lang AS lang, COUNT(*)::BIGINT AS n_docs,
       |  CAST(SUM(s.n_tok) AS BIGINT) AS n_tok,
       |  MIN(s.avg_logp) AS cut_score, CAST(2000 AS BIGINT) AS budget
       |FROM scored s JOIN cum c ON s.lang = c.lang AND s.avg_logp = c.avg_logp
       |WHERE c.cum <= 2000
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- p04
  /** The composed DECONTAMINATION pipeline: the clean-training-set cut an
    * LLM corpus runs before every training launch — both screens in one
    * plan, each stage exactly its standalone oracle-checked operator:
    *   1. exact screen — d14's bloom-prefiltered word-4-gram overlap
    *      (catches verbatim benchmark text; sketch rides map-side);
    *   2. fuzzy screen — d12's 64x2-band MinHash + exact Jaccard ≥ 0.5
    *      (catches paraphrased contamination; P(miss) < 1e-8).
    * Survivors = training docs flagged by NEITHER screen, via two
    * left_anti joins on doc_id — at scale both hit sets are bounded by
    * the eval corpus's posting volume, so the antis are broadcast-sized.
    */
  def p04(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val exactHits = Dedup.d14(spark, dir).select("doc_id")
    val fuzzyHits = Dedup.d12(spark, dir).select("doc_id").distinct()
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 20 =!= 0)
      .join(exactHits, Seq("doc_id"), "left_anti")
      .join(fuzzyHits, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }
  val p04Sql: String =
    s"""WITH w4 AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
       |            FROM documents),
       |sh4 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2),
       |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS grams
       |        FROM w4 WHERE len(w) >= 4),
       |p4 AS (SELECT doc_id, UNNEST(grams) AS g FROM sh4),
       |hits_exact AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM p4 t JOIN p4 e ON t.g = e.g
       |  WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0),
       |sh AS (${Dedup.shingledSql}),
       |p3 AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT t.doc_id AS doc_id, e.doc_id AS eval_id, COUNT(*) AS inter
       |  FROM p3 t JOIN p3 e ON t.g = e.g
       |  WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0
       |  GROUP BY 1, 2),
       |hits_fuzzy AS (
       |  SELECT DISTINCT inter.doc_id
       |  FROM inter
       |  JOIN sizes nt ON inter.doc_id = nt.doc_id
       |  JOIN sizes ne ON eval_id = ne.doc_id
       |  WHERE inter * 2 >= (nt.n + ne.n - inter))
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id % 20 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM hits_exact)
       |  AND doc_id NOT IN (SELECT doc_id FROM hits_fuzzy)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p05
  /** Composed multimodal curation: the media-side analogue of p01 —
    * route opaque payloads by magic bytes (m06), drop byte-level
    * SimHash near-dups keeping the min-id representative per pair
    * family (m05/m07's machinery), and report per-modality raw vs kept
    * volumes — the "what survives ingest, per modality" dashboard a
    * decode fleet is sized from.
    *
    * One declarative plan: the router is scan-speed Column logic, the
    * near-dup pair graph is banded (never all-pairs), the drop is one
    * anti-join, and the final rollup groups on ≤7 modalities. Rows-only
    * (SimHash banding is not SQL-expressible); the spec asserts
    * consistency with m05's pairs and m06's routed volumes. */
  def p05(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", Multimodal.routeModality(col("payload"), col("text")))
      .cache()
    // near-dup families: drop every doc that is the LARGER id of a pair
    // (keeps exactly the min-id representative per connected family on
    // pair chains, same keep rule as p01's stage 4)
    val drops = Multimodal.payloadNearDup(spark, docs)
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = docs.join(drops, Seq("doc_id"), "left_anti")
    docs.groupBy("modality")
      .agg(count(lit(1)).as("n_raw"),
           sum(octet_length(col("payload"))).cast("long").as("raw_bytes"))
      .join(kept.groupBy("modality")
              .agg(count(lit(1)).as("n_kept"),
                   sum(octet_length(col("payload"))).cast("long").as("kept_bytes")),
            Seq("modality"), "left")
      .select(col("modality"), col("n_raw"), col("n_kept"),
              col("raw_bytes"), col("kept_bytes"))
      .orderBy("modality")
  }

  // ---------------------------------------------------------------- p06
  /** Incremental-ingest curation — the DAILY shape of p01: a new delta
    * slice arrives against a standing corpus, and only the delta pays
    * pipeline cost. quality gate (t02, cheap scan — runs FIRST so the
    * expensive stages see fewer docs) → within-delta exact dedup
    * (keep-min-id per content hash) → cross-corpus exact anti-join →
    * cross-corpus near-dup screen (d09's inverted-index Jaccard ≥ 0.8,
    * only the gated survivors get shingled) → clean additions.
    *
    * Scale: the corpus side contributes one hash set (bounded by
    * |corpus|, joined not broadcast) and its shingle postings; the
    * delta-side posting list shrinks with every prior gate. At a real
    * 100 TB deployment the corpus hash/posting sides are precomputed
    * warehouse tables maintained incrementally — here they derive from
    * the same parquet so the oracle can see them. */
  def p06(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    // cache the base scan: three independent subplans read it (the
    // delta gate, the corpus hash set, the corpus shingle side — the
    // last via Dedup.shingled, whose identical scan subplan hits this
    // cache by plan-equality), each otherwise re-paying scan + spread
    val docs = Tables.documents(spark, dir).cache()
    val isDelta = col("doc_id") % 5 === 0
    val gated = TextAnalysis.addQuality(docs.filter(isDelta))
      .filter(col("quality") >= lit(0.5d))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("quality"))
    val dedup = gated
      .withColumn("h", md5(col("text")))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("min_id"))
    val corpusHashes = docs.filter(!isDelta).select(md5(col("text")).as("h")).distinct()
    // cache: the exact survivors feed the shingle side AND the final
    // anti-join — uncached, the quality+window subplan re-runs per use
    val exact = dedup.join(corpusHashes, Seq("h"), "left_anti").cache()
    val shD = exact.select(col("doc_id"), expr("word_ngrams(text, 3)").as("grams"))
      .filter(size(col("grams")) >= 1)
    val shC = Dedup.shingled(spark, dir).filter(!isDelta)
    // set sizes ride the posting rows and come back via min() in the
    // pair aggregation (coPairCounts recipe) — no joins of the pair
    // stream
    val pd = shD.select(col("doc_id").as("d_id"),
      size(col("grams")).cast("long").as("nd"), explode(col("grams")).as("g"))
    val pc = shC.select(col("doc_id").as("c_id"),
      size(col("grams")).cast("long").as("nc"), explode(col("grams")).as("g"))
    val nearHit = pd.join(pc, "g")
      .groupBy("d_id", "c_id").agg(count(lit(1)).as("inter"),
        min(col("nd")).as("nd"), min(col("nc")).as("nc"))
      .filter(col("inter") * 5 >= (col("nd") + col("nc") - col("inter")) * 4)
      .select(col("d_id").as("doc_id")).distinct()
    exact.join(nearHit, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "quality")
      .orderBy("doc_id")
  }
  val p06Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH m AS (
       |  SELECT doc_id, text, lang, source,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM (SELECT doc_id, text, lang, source, $wordsSql AS w FROM documents
       |        WHERE doc_id % 5 = 0)
       |  WHERE len(w) >= 1),
       |q AS (
       |  SELECT * FROM (SELECT doc_id, text, lang, source, $qualitySqlExpr AS quality FROM m)
       |  WHERE quality >= CAST(0.5 AS DOUBLE)),
       |dd AS (
       |  SELECT * FROM (SELECT *, md5(text) AS h,
       |                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id FROM q)
       |  WHERE doc_id = min_id),
       |ex AS (
       |  SELECT * FROM dd
       |  WHERE h NOT IN (SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 5 <> 0)),
       |shd AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
       |  FROM (SELECT doc_id, $wordsSql AS w FROM ex) WHERE len(w) >= 3),
       |shc AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
       |  FROM (SELECT doc_id, $wordsSql AS w FROM documents WHERE doc_id % 5 <> 0)
       |  WHERE len(w) >= 3),
       |pd AS (SELECT doc_id AS d_id, UNNEST(grams) AS g FROM shd),
       |pc AS (SELECT doc_id AS c_id, UNNEST(grams) AS g FROM shc),
       |near_hit AS (
       |  SELECT DISTINCT d_id AS doc_id
       |  FROM (SELECT d_id, c_id, COUNT(*) AS inter FROM pd JOIN pc USING (g) GROUP BY 1, 2) it
       |  JOIN (SELECT doc_id AS d_id, CAST(len(grams) AS BIGINT) AS nd FROM shd) sd USING (d_id)
       |  JOIN (SELECT doc_id AS c_id, CAST(len(grams) AS BIGINT) AS nc FROM shc) sc USING (c_id)
       |  WHERE inter * 5 >= (nd + nc - inter) * 4)
       |SELECT doc_id, lang, source, quality FROM ex
       |WHERE doc_id NOT IN (SELECT doc_id FROM near_hit)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- p07
  /** Training-set manifest: quality gate → exact-fingerprint dedup →
    * deterministic hash split (md5 of the doc id: 12/16 train, 2/16 val,
    * 2/16 test) → per (split, lang) doc/token/char budgets. The split is
    * content-independent (id-hash) so re-ingesting a doc never migrates
    * it across splits; everything is scan-parallel except the one dedup
    * shuffle on the fingerprint. */
  def p07(spark: SparkSession, dir: String): DataFrame = {
    val gated = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .filter(col("quality") >= lit(0.5d))
    val keep = gated
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("min_id"))
    val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
    keep
      .withColumn("split", when(nib < "c", "train").when(nib < "e", "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }
  val p07Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, lang, n_chars, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text, lang, n_chars,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (
       |  SELECT * FROM (SELECT doc_id, text, lang, n_chars, n_tok,
       |                   $qualitySqlExpr AS quality FROM m)
       |  WHERE quality >= CAST(0.5 AS DOUBLE)),
       |f AS (
       |  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM q),
       |keep AS (
       |  SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS min_id FROM f)
       |  WHERE doc_id = min_id),
       |sp AS (
       |  SELECT lang, n_chars, n_tok,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |         ELSE 'test' END AS "split"
       |  FROM keep)
       |SELECT "split", lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p08
  /** Corpus datasheet: the per-(lang, source) census a dataset card is
    * built from — doc/token/char volumes, exact-duplicate rate and mean
    * quality. All numerators are exact (integer counts, DECIMAL(10,6)
    * sums of the already-round6 quality); the mean is one IEEE division.
    * One scan, one groupBy (the distinct-hash count is the only
    * two-phase aggregate), output bounded by |lang| x |source|. */
  def p08(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.addQuality(Tables.documents(spark, dir))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"),
           countDistinct(md5(col("text"))).as("n_unique_texts"),
           (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"),
           (sum(col("quality").cast("decimal(10,6)")).cast("double") / count(lit(1)))
             .as("avg_quality"))
      .orderBy("lang", "source")
  val p08Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, lang, source, n_chars, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (
       |  SELECT lang, source, n_chars, n_tok, text, $qualitySqlExpr AS quality FROM m)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  COUNT(DISTINCT md5(text)) AS n_unique_texts,
       |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs,
       |  CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS avg_quality
       |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p09
  /** Sequence packing census: documents packed head-to-tail into fixed
    * 4096-token training windows per language (bin = starting offset
    * div 4096 over a deterministic doc_id-ordered prefix sum), reported
    * as docs/tokens per bin. Packing is inherently sequential per
    * stream, so the prefix sum partitions by the stream key (lang here;
    * shard further by source/day at 100 TB — the bin arithmetic is
    * unchanged, only the partition key widens). All-integer math. */
  def p09(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr("size(word_tokens(text))").cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr("(cum - n_tok) div 4096"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      .orderBy("lang", "bin")
  }
  val p09Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH d AS (
       |  SELECT doc_id, lang, CAST(len($wordsSql) AS BIGINT) AS n_tok FROM documents),
       |c AS (
       |  SELECT lang, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM d)
       |SELECT lang, (cum - n_tok) // 4096 AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p10
  /** Equal-share mixture repeat factors: how many epochs of each source a
    * training run needs to hit an equal per-source token share of the
    * corpus total, capped at 4x (the standard "don't repeat small
    * sources into memorization" guard). Per-source token totals are one
    * map-combinable aggregation; the corpus total and source count join
    * back as a 1-row broadcast; the repeat factor is ONE IEEE division
    * of exact integers, the cap an identical double compare in both
    * engines. */
  def p10(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val per = Tables.documents(spark, dir)
      .select(col("source"), expr("size(word_tokens(text))").cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    val tot = per.agg(sum(col("tokens")).as("corpus_tokens"),
                      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("corpus_tokens div n_sources"))
      .withColumn("repeat_raw",
        round(col("target_tokens").cast("double") / col("tokens").cast("double"), 6))
      .select(col("source"), col("n_docs"), col("tokens"), col("target_tokens"),
        col("repeat_raw"),
        least(col("repeat_raw"), lit(4.0d)).as("repeat_capped"))
      .orderBy("source")
  }
  val p10Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len($wordsSql)) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
       |               COUNT(*) AS n_sources FROM per)
       |SELECT source, n_docs, tokens,
       |  corpus_tokens // n_sources AS target_tokens,
       |  ROUND(CAST(corpus_tokens // n_sources AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS repeat_raw,
       |  LEAST(ROUND(CAST(corpus_tokens // n_sources AS DOUBLE) / CAST(tokens AS DOUBLE), 6), 4.0)
       |    AS repeat_capped
       |FROM per CROSS JOIN tot ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p11
  /** Token savings of the dedup cascade: docs AND tokens surviving after
    * each stage (raw → exact content dedup → near-dup drop at J ≥ 0.5) —
    * d22's funnel weighted by what training actually pays for, tokens.
    * Stage membership reuses d01 keep-min-id and d03's exact pair
    * stream; token sums ride the same uniform doc_id joins; the report
    * is 3 rows at any scale. */
  def p11(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("size(word_tokens(text))").cast("long").as("n_tok"))
    val kept = toks
      .withColumn("h", md5(col("text")))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("min_id"))
      .select("doc_id")
    val dropped = Dedup.sharedPairs(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val surv = kept.join(dropped, Seq("doc_id"), "left_anti")
    def lvl(label: String, ids: DataFrame): DataFrame =
      ids.join(toks, "doc_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(lit(label).as("stage"), col("n_docs"), col("n_tokens"))
    lvl("a_raw", toks.select("doc_id"))
      .unionByName(lvl("b_exact_dedup", kept))
      .unionByName(lvl("c_near_dedup", surv))
      .orderBy("stage")
  }
  val p11Sql: String = {
    import TextAnalysis.wordsSql
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tok FROM documents),
       |kept AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id
       |    FROM documents)
       |  WHERE doc_id = min_id),
       |pairs AS ($pairSql),
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
       |surv AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
       |SELECT 'a_raw' AS stage, COUNT(*)::BIGINT AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM toks
       |UNION ALL SELECT 'b_exact_dedup', COUNT(*)::BIGINT,
       |  CAST(SUM(n_tok) AS BIGINT) FROM kept JOIN toks USING (doc_id)
       |UNION ALL SELECT 'c_near_dedup', COUNT(*)::BIGINT,
       |  CAST(SUM(n_tok) AS BIGINT) FROM surv JOIN toks USING (doc_id)
       |ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- p12
  /** Output-shard manifest: documents assigned to 16 content-hash shards
    * (first md5 nibble — deterministic, content-addressed, re-ingest
    * stable like p07's split) with per-shard doc/token/byte budgets and
    * a balance ratio (shard tokens ÷ ideal share). The writer that
    * consumes this gets size-balanced files without a global sort; the
    * ratio is exact-integer cross multiplication with ONE division per
    * shard row; 16-row-bounded output. */
  def p12(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val per = Tables.documents(spark, dir)
      .select(substring(md5(col("text")), 1, 1).as("shard"),
        expr("size(word_tokens(text))").cast("long").as("n_tok"),
        col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
           sum(col("n_chars")).as("chars"))
    val tot = per.agg(sum(col("tokens")).as("corpus_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("tokens"), col("chars"),
        (round((col("tokens") * 16).cast("double") / col("corpus_tokens").cast("double"), 6)
          + lit(0.0d)).as("balance_ratio"))
      .orderBy("shard")
  }
  val p12Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH per AS (
       |  SELECT substr(md5(text), 1, 1) AS shard, COUNT(*) AS n_docs,
       |    CAST(SUM(len($wordsSql)) AS BIGINT) AS tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens FROM per)
       |SELECT shard, n_docs, tokens, chars,
       |  ROUND(CAST(tokens * 16 AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 6) + 0.0
       |    AS balance_ratio
       |FROM per CROSS JOIN tot ORDER BY shard""".stripMargin
  }

  // ---------------------------------------------------------------- p13
  /** Effective epoch-token plan: p10's capped repeat factors applied —
    * per-source effective tokens (tokens × repeat, DECIMAL-quantized so
    * the corpus total is order-independent) and each source's share of
    * the resulting epoch. The number a training run actually schedules
    * against; 1-row total broadcast, ONE division per source row. */
  def p13(spark: SparkSession, dir: String): DataFrame = {
    val base = p10(spark, dir)
      .withColumn("eff",
        round(col("tokens").cast("double") * col("repeat_capped"), 6)
          .cast("decimal(28,6)"))
      .cache() // feeds the total AND the share projection
    val tot = base.agg(sum(col("eff")).as("eff_total"))
    base.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"), col("repeat_capped"),
        col("eff").cast("double").as("effective_tokens"),
        (round(col("eff").cast("double") / col("eff_total").cast("double"), 6)
          + lit(0.0d)).as("epoch_share"))
      .orderBy("source")
  }
  val p13Sql: String =
    s"""WITH base AS (
       |  SELECT source, tokens, repeat_capped,
       |    CAST(ROUND(CAST(tokens AS DOUBLE) * repeat_capped, 6) AS DECIMAL(28,6)) AS eff
       |  FROM ($p10Sql)),
       |tot AS (SELECT SUM(eff) AS eff_total FROM base)
       |SELECT source, tokens, repeat_capped,
       |  CAST(eff AS DOUBLE) AS effective_tokens,
       |  ROUND(CAST(eff AS DOUBLE) / CAST(eff_total AS DOUBLE), 6) + 0.0 AS epoch_share
       |FROM base CROSS JOIN tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p14
  /** Curation ledger: surviving doc counts after EVERY p01 stage (raw →
    * quality+langid → exact dedup → near-dup drop → sampled mix) — the
    * per-run shrinkage record an auditable curation pipeline logs
    * alongside its output. Counts ride p01's own cached stage frames
    * (zero recomputation beyond p01 itself); 5 rows at any scale. */
  def p14(spark: SparkSession, dir: String): DataFrame = {
    val (docs, scored, keep, surv, sampled) = p01Stages(spark, dir)
    def lvl(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(label).as("stage"), col("n_docs"))
    lvl("a_raw", docs)
      .unionByName(lvl("b_quality_lang", scored))
      .unionByName(lvl("c_exact_dedup", keep))
      .unionByName(lvl("d_near_dedup", surv))
      .unionByName(lvl("e_sampled", sampled))
      .orderBy("stage")
  }
  val p14Sql: String = {
    val idx = p01Sql.indexOf("SELECT doc_id, pred_lang, quality FROM keep")
    require(idx > 0, "p01Sql shape changed under p14")
    val ctes = p01Sql.substring(0, idx).trim
    s"""$ctes,
       |surv AS (
       |  SELECT * FROM keep WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
       |SELECT 'a_raw' AS stage, COUNT(*)::BIGINT AS n_docs FROM documents
       |UNION ALL SELECT 'b_quality_lang', COUNT(*)::BIGINT FROM pl
       |UNION ALL SELECT 'c_exact_dedup', COUNT(*)::BIGINT FROM keep
       |UNION ALL SELECT 'd_near_dedup', COUNT(*)::BIGINT FROM surv
       |UNION ALL SELECT 'e_sampled', COUNT(*)::BIGINT FROM surv
       |  WHERE (CASE WHEN pred_lang = 'en' THEN substr(md5(text), 1, 1) < '8'
       |              ELSE substr(md5(text), 1, 1) < '4' END)
       |ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- p15
  /** Quality × duplication matrix: what does exact dedup actually remove,
    * by quality band — the curation question behind every dedup budget
    * ("are we deleting junk or deleting good data twice?"). Bands of
    * t02's score crossed with d01's keep-min-id dup status, with doc and
    * token counts per cell.
    *
    * One scan: quality is scan-parallel arithmetic, dup status is a
    * min(doc_id) window over the content-hash partition (the same
    * hash-shuffle d01 pays — bounded per-key state, no self-join), and
    * the rollup is a map-combinable groupBy onto ≤ 4×2 cells. */
  def p15(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .withColumn("h", md5(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("h")))
    val band = when(col("quality") < 0.4, "a<0.4")
      .when(col("quality") < 0.6, "b<0.6")
      .when(col("quality") < 0.8, "c<0.8").otherwise("d>=0.8")
    scored
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
      .withColumn("quality_band", band)
      .groupBy("quality_band", "is_dup")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy("quality_band", "is_dup")
  }
  val p15Sql: String = {
    import TextAnalysis.{wordsSql, stopSqlIn, qualitySqlExpr}
    s"""WITH base AS (SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |s AS (SELECT doc_id, text, n_tok, $qualitySqlExpr AS quality FROM m),
       |d AS (SELECT n_tok, quality,
       |    CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
       |         THEN 1 ELSE 0 END AS is_dup
       |  FROM s)
       |SELECT CASE WHEN quality < 0.4 THEN 'a<0.4'
       |            WHEN quality < 0.6 THEN 'b<0.6'
       |            WHEN quality < 0.8 THEN 'c<0.8' ELSE 'd>=0.8' END AS quality_band,
       |  is_dup, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS total_tokens
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p16
  /** What exact dedup does to the LANGUAGE mix: per language, docs and
    * whitespace tokens before vs after d01's keep-min-id dedup, with the
    * token keep-rate — the table that shows a per-lang token budget
    * whether deduping just reshaped the mix (duplication is never
    * uniform across languages; a budget set pre-dedup is wrong by each
    * language's dup rate).
    *
    * One scan: token count is scan arithmetic, keep status is the
    * content-hash min window (d01's single shuffle), and the rollup is
    * a \|langs\|-bounded map-combinable groupBy, ONE division per row. */
  def p16(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(expr("filter(split(text, ' '), x -> x != '')")).cast("long"))
      .withColumn("keep",
        (col("doc_id") === min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
          .cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_before"), sum(col("n_tok")).as("tokens_before"),
           sum(col("keep")).as("docs_after"),
           sum(col("keep") * col("n_tok")).as("tokens_after"))
      .withColumn("token_keep_rate",
        round(col("tokens_after").cast("double") / col("tokens_before"), 6) + lit(0.0d))
      .orderBy("lang")
  val p16Sql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
      |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
      |         THEN 1 ELSE 0 END AS keep
      |  FROM documents)
      |SELECT lang, COUNT(*) AS docs_before, SUM(n_tok)::BIGINT AS tokens_before,
      |  SUM(keep)::BIGINT AS docs_after, SUM(keep * n_tok)::BIGINT AS tokens_after,
      |  ROUND(CAST(SUM(keep * n_tok) AS DOUBLE) / SUM(n_tok), 6) + 0.0 AS token_keep_rate
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- p17
  /** Per-SOURCE curation funnel: p14's stage ledger broken out by
    * ingestion source — which feeds die at the quality gate, which are
    * eaten by dedup, which survive to the mix. The feed-triage table a
    * curation operator reads before renegotiating a source's budget.
    *
    * Rides p01's cached stage frames (each stage computed once); the
    * source attach is a doc_id key join against the raw table per stage
    * frame, and the rollup is \|sources\|×5 bounded. */
  def p17(spark: SparkSession, dir: String): DataFrame = {
    val (docs, scored, keep, surv, sampled) = p01Stages(spark, dir)
    // every stage frame carries `source` (p01Stages) — aggregate
    // directly instead of joining each doc_id set back onto the corpus
    def lvl(label: String, df: DataFrame): DataFrame =
      df.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", lit(label))
    lvl("a_raw", docs)
      .unionByName(lvl("b_quality_lang", scored))
      .unionByName(lvl("c_exact_dedup", keep))
      .unionByName(lvl("d_near_dedup", surv))
      .unionByName(lvl("e_sampled", sampled))
      .select("source", "stage", "n_docs")
      .orderBy("source", "stage")
  }
  val p17Sql: String = {
    val idx = p01Sql.indexOf("SELECT doc_id, pred_lang, quality FROM keep")
    require(idx > 0, "p01Sql shape changed under p17")
    val ctes = p01Sql.substring(0, idx).trim
    s"""$ctes,
       |surv AS (
       |  SELECT * FROM keep WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |stages AS (
       |  SELECT 'a_raw' AS stage, doc_id FROM documents
       |  UNION ALL SELECT 'b_quality_lang', doc_id FROM pl
       |  UNION ALL SELECT 'c_exact_dedup', doc_id FROM keep
       |  UNION ALL SELECT 'd_near_dedup', doc_id FROM surv
       |  UNION ALL SELECT 'e_sampled', doc_id FROM surv
       |    WHERE (CASE WHEN pred_lang = 'en' THEN substr(md5(text), 1, 1) < '8'
       |                ELSE substr(md5(text), 1, 1) < '4' END))
       |SELECT d.source, s.stage, COUNT(*) AS n_docs
       |FROM stages s JOIN documents d USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p18
  /** Quality-threshold budget curve: documents and tokens that survive
    * each quality cut 0.0–0.9 — the planning table that picks the gate
    * threshold to hit a token budget. The corpus collapses to a ≤10-row
    * quality-decile frame map-side; the cumulative "≥ threshold" sums
    * are a bounded 10×10 broadcast join over that frame (never a window,
    * never a second corpus pass). Exact integer counts, ONE division per
    * share, round6. */
  def p18(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val q = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(least(floor(col("quality") * 10), lit(9L)).cast("long").as("bin"),
        col("n_tok"))
    val bins = q.groupBy("bin")
      .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("toks"))
    val tot = bins.agg(sum(col("docs")).as("tdocs"), sum(col("toks")).as("ttoks"))
    bins.as("t").join(broadcast(bins.as("b")), col("b.bin") >= col("t.bin"))
      .groupBy(col("t.bin").as("bin"))
      .agg(sum(col("b.docs")).as("docs_kept"), sum(col("b.toks")).as("tokens_kept"))
      .join(broadcast(tot))
      .select((col("bin").cast("double") / 10).as("threshold"),
        col("docs_kept"), col("tokens_kept"),
        round(dbl(col("docs_kept")) / col("tdocs"), 6).as("doc_share"),
        round(dbl(col("tokens_kept")) / col("ttoks"), 6).as("token_share"))
      .orderBy("threshold")
  }
  val p18Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (
       |  SELECT CAST(LEAST(FLOOR(($qualitySqlExpr) * 10), 9) AS BIGINT) AS bin, n_tok
       |  FROM m),
       |bins AS (SELECT bin, COUNT(*)::BIGINT AS docs, SUM(n_tok)::BIGINT AS toks
       |  FROM q GROUP BY 1),
       |tot AS (SELECT SUM(docs)::BIGINT AS tdocs, SUM(toks)::BIGINT AS ttoks FROM bins)
       |SELECT CAST(t.bin AS DOUBLE) / 10 AS threshold,
       |  SUM(b.docs)::BIGINT AS docs_kept, SUM(b.toks)::BIGINT AS tokens_kept,
       |  ROUND(CAST(SUM(b.docs) AS DOUBLE) / MAX(tdocs), 6) AS doc_share,
       |  ROUND(CAST(SUM(b.toks) AS DOUBLE) / MAX(ttoks), 6) AS token_share
       |FROM bins t JOIN bins b ON b.bin >= t.bin CROSS JOIN tot
       |GROUP BY t.bin ORDER BY threshold""".stripMargin
  }

  // ---------------------------------------------------------------- p19
  /** Keeper-policy comparison: what the corpus keeps under keep-min-id
    * vs keep-best-quality exact dedup (same fingerprint groups, different
    * survivor choice), against the raw baseline. Both keepers come from
    * one map-combinable min/max(struct) pass over the fingerprint groups
    * — the struct carries the survivor's token count so no second join
    * resolves it; quality ties break on doc_id, so both policies are
    * deterministic. The A/B table for "does smarter keeping buy tokens". */
  def p19(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val d = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .select(col("fp"), col("doc_id"), col("quality"), col("n_tok"))
    val per = d.groupBy("fp")
      .agg(count(lit(1)).as("n_members"), sum(col("n_tok")).as("group_toks"),
           min(struct(col("doc_id"), col("n_tok").as("nt"))).as("kmin"),
           max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"),
             col("n_tok").as("nt"))).as("kq"))
    per.agg(sum(col("n_members")).as("raw_docs"), sum(col("group_toks")).as("raw_toks"),
         count(lit(1)).as("kept_docs"),
         sum(col("kmin.nt")).as("minid_toks"), sum(col("kq.nt")).as("best_toks"))
      .select(col("raw_docs"), col("raw_toks"), col("kept_docs"),
        col("minid_toks").as("keep_min_id_tokens"),
        col("best_toks").as("keep_best_quality_tokens"),
        (col("best_toks") - col("minid_toks")).as("token_gain"),
        round(dbl(col("best_toks") - col("minid_toks")) / col("minid_toks"), 6)
          .as("gain_rate"))
  }
  val p19Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |d AS (
       |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       |    doc_id, $qualitySqlExpr AS quality, n_tok
       |  FROM m),
       |per AS (
       |  SELECT fp, COUNT(*)::BIGINT AS n_members, SUM(n_tok)::BIGINT AS group_toks,
       |    arg_min(n_tok, doc_id) AS kmin_nt,
       |    (MAX({'q': quality, 'nid': -doc_id, 'nt': n_tok})).nt AS kq_nt
       |  FROM d GROUP BY 1)
       |SELECT SUM(n_members)::BIGINT AS raw_docs, SUM(group_toks)::BIGINT AS raw_toks,
       |  COUNT(*)::BIGINT AS kept_docs,
       |  SUM(kmin_nt)::BIGINT AS keep_min_id_tokens,
       |  SUM(kq_nt)::BIGINT AS keep_best_quality_tokens,
       |  SUM(kq_nt)::BIGINT - SUM(kmin_nt)::BIGINT AS token_gain,
       |  ROUND(CAST(SUM(kq_nt) - SUM(kmin_nt) AS DOUBLE) / SUM(kmin_nt), 6) AS gain_rate
       |FROM per""".stripMargin
  }

  // ---------------------------------------------------------------- p20
  /** Cross-shard dup leakage: near-dup pairs (J ≥ 0.5) whose two sides
    * hash to DIFFERENT p12 output shards — exactly the pairs a
    * shard-local dedup pass can never see, so this rate is the error
    * bound of sharded dedup. Rides the memoized pair stream + two key
    * joins to the shard assignment; 1-row summary with ONE division. */
  def p20(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val shard = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(md5(col("text")), 1, 1).as("shard"))
    Dedup.sharedPairs(spark, dir).select("doc_a", "doc_b")
      .join(shard.select(col("doc_id").as("doc_a"), col("shard").as("sa")), "doc_a")
      .join(shard.select(col("doc_id").as("doc_b"), col("shard").as("sb")), "doc_b")
      .agg(count(lit(1)).as("n_pairs"),
           count(when(col("sa") =!= col("sb"), lit(1))).as("n_cross_shard"))
      .select(col("n_pairs"), col("n_cross_shard"),
        round(dbl(col("n_cross_shard")) / nullifzero(col("n_pairs")), 6).as("leakage_rate"))
  }
  val p20Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH e AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |sh AS (SELECT doc_id, substr(md5(text), 1, 1) AS shard FROM documents)
       |SELECT COUNT(*)::BIGINT AS n_pairs,
       |  COUNT(CASE WHEN sa.shard <> sb.shard THEN 1 END)::BIGINT AS n_cross_shard,
       |  ROUND(CAST(COUNT(CASE WHEN sa.shard <> sb.shard THEN 1 END) AS DOUBLE)
       |        / COUNT(*), 6) AS leakage_rate
       |FROM e
       |JOIN sh sa ON e.doc_a = sa.doc_id
       |JOIN sh sb ON e.doc_b = sb.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- p22
  /** Per-LANGUAGE curation funnel: p17's stage ledger keyed by the
    * document's language instead of its source — which languages die at
    * which gate (the fairness/coverage view of the same pipeline).
    * Rides p01's cached stage frames; doc_id key joins; |langs|×5-
    * bounded output. */
  def p22(spark: SparkSession, dir: String): DataFrame = {
    val (docs, scored, keep, surv, sampled) = p01Stages(spark, dir)
    // every stage frame carries `lang` (p01Stages) — aggregate directly
    // instead of joining each doc_id set back onto the corpus
    def lvl(label: String, df: DataFrame): DataFrame =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", lit(label))
    lvl("a_raw", docs)
      .unionByName(lvl("b_quality_lang", scored))
      .unionByName(lvl("c_exact_dedup", keep))
      .unionByName(lvl("d_near_dedup", surv))
      .unionByName(lvl("e_sampled", sampled))
      .select("lang", "stage", "n_docs")
      .orderBy("lang", "stage")
  }
  val p22Sql: String = {
    val idx = p01Sql.indexOf("SELECT doc_id, pred_lang, quality FROM keep")
    require(idx > 0, "p01Sql shape changed under p22")
    val ctes = p01Sql.substring(0, idx).trim
    s"""$ctes,
       |surv AS (
       |  SELECT * FROM keep WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |stages AS (
       |  SELECT 'a_raw' AS stage, doc_id FROM documents
       |  UNION ALL SELECT 'b_quality_lang', doc_id FROM pl
       |  UNION ALL SELECT 'c_exact_dedup', doc_id FROM keep
       |  UNION ALL SELECT 'd_near_dedup', doc_id FROM surv
       |  UNION ALL SELECT 'e_sampled', doc_id FROM surv
       |    WHERE (CASE WHEN pred_lang = 'en' THEN substr(md5(text), 1, 1) < '8'
       |                ELSE substr(md5(text), 1, 1) < '4' END))
       |SELECT d.lang, s.stage, COUNT(*)::BIGINT AS n_docs
       |FROM stages s JOIN documents d USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- p23
  /** Stage-ordering A/B: dedup→quality vs quality→dedup over the same
    * corpus. The two pipelines genuinely differ — if a group's min-id
    * keeper fails the quality gate, order A drops the whole group while
    * order B rescues the lowest-id PASSING member. One fingerprint
    * groupBy computes both keepers via min(struct) (the conditional
    * keeper skips nulls), so the A/B costs one pass, not two pipelines.
    * 1-row verdict: docs/tokens under each order + groups rescued. */
  def p23(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val d = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .select(col("fp"), col("doc_id"), col("quality"), col("n_tok"))
    val per = d.groupBy("fp")
      .agg(count(lit(1)).as("n_members"),
           min(struct(col("doc_id"), col("quality").as("q"),
             col("n_tok").as("nt"))).as("ka"),
           min(when(col("quality") >= 0.5d,
             struct(col("doc_id"), col("n_tok").as("nt")))).as("kb"))
    per.agg(sum(col("n_members")).as("raw_docs"),
         count(when(col("ka.q") >= 0.5d, lit(1))).as("a_docs"),
         coalesce(sum(when(col("ka.q") >= 0.5d, col("ka.nt"))), lit(0L)).as("a_tokens"),
         count(col("kb")).as("b_docs"),
         coalesce(sum(col("kb.nt")), lit(0L)).as("b_tokens"),
         count(when(col("ka.q") < 0.5d && col("kb").isNotNull, lit(1))).as("n_rescued"))
      .select(col("raw_docs"), col("a_docs"), col("a_tokens"),
        col("b_docs"), col("b_tokens"), col("n_rescued"),
        (col("b_tokens") - col("a_tokens")).as("token_gain"),
        round(dbl(col("b_tokens") - col("a_tokens")) /
          greatest(col("a_tokens"), lit(1L)), 6).as("gain_rate"))
  }
  val p23Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |d AS (
       |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       |    doc_id, $qualitySqlExpr AS quality, n_tok
       |  FROM m),
       |per AS (
       |  SELECT fp, COUNT(*)::BIGINT AS n_members,
       |    MIN({'doc_id': doc_id, 'q': quality, 'nt': n_tok}) AS ka,
       |    MIN(CASE WHEN quality >= 0.5 THEN {'doc_id': doc_id, 'nt': n_tok} END) AS kb
       |  FROM d GROUP BY 1),
       |s AS (
       |  SELECT SUM(n_members)::BIGINT AS raw_docs,
       |    COUNT(CASE WHEN ka.q >= 0.5 THEN 1 END)::BIGINT AS a_docs,
       |    COALESCE(SUM(CASE WHEN ka.q >= 0.5 THEN ka.nt END), 0)::BIGINT AS a_tokens,
       |    COUNT(kb)::BIGINT AS b_docs,
       |    COALESCE(SUM(kb.nt), 0)::BIGINT AS b_tokens,
       |    COUNT(CASE WHEN ka.q < 0.5 AND kb IS NOT NULL THEN 1 END)::BIGINT AS n_rescued
       |  FROM per)
       |SELECT raw_docs, a_docs, a_tokens, b_docs, b_tokens, n_rescued,
       |  b_tokens - a_tokens AS token_gain,
       |  ROUND(CAST(b_tokens - a_tokens AS DOUBLE) / GREATEST(a_tokens, 1), 6) AS gain_rate
       |FROM s""".stripMargin
  }

  // ---------------------------------------------------------------- p24
  /** Dataset card: the ONE-row corpus headline (docs, tokens, languages,
    * sources, exact-dup rate, mean quality) that fronts a dataset
    * release — p08 is the per-(lang, source) breakdown; this is its
    * cover sheet. Single map-combinable pass; quality mean uses the
    * DECIMAL(10,6)-quantized sum; dup rate = 1 − unique/total via one
    * round6 division. */
  def p24(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    TextAnalysis.addQuality(Tables.documents(spark, dir))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"),
           countDistinct(col("lang")).as("n_langs"),
           countDistinct(col("source")).as("n_sources"),
           countDistinct(md5(col("text"))).as("n_unique_texts"),
           (sum(col("quality").cast("decimal(10,6)")).cast("double") / nullifzero(count(lit(1))))
             .as("avg_quality"))
      .withColumn("dup_rate",
        round(lit(1.0d) - dbl(col("n_unique_texts")) / nullifzero(col("n_docs")), 6))
  }
  val p24Sql: String = {
    import TextAnalysis.{qualitySqlExpr, stopSqlIn, wordsSql}
    s"""WITH base AS (
       |  SELECT doc_id, text, lang, source, n_chars, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1)
       |SELECT COUNT(*)::BIGINT AS n_docs,
       |  SUM(n_tok)::BIGINT AS total_tokens,
       |  SUM(n_chars)::BIGINT AS total_chars,
       |  COUNT(DISTINCT lang)::BIGINT AS n_langs,
       |  COUNT(DISTINCT source)::BIGINT AS n_sources,
       |  COUNT(DISTINCT md5(text))::BIGINT AS n_unique_texts,
       |  CAST(SUM(CAST($qualitySqlExpr AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*)
       |    AS avg_quality,
       |  ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6) AS dup_rate
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- p25
  /** Shard-balance audit: before writing p12's shard manifest, sweep
    * candidate shard counts (16/64/256) and measure byte-weight skew —
    * the straggler predictor for the downstream training job. The shard
    * key is a Knuth multiplicative hash (`doc_id·2654435761 mod 2³²`),
    * computable bit-identically in both engines with BIGINT arithmetic
    * (no engine hash functions) and overflow-free to ~3.4 B docs. One
    * 2-column scan exploded ×3, two map-combinable groupBys; skew is
    * cross-multiplied (`max·n / total`) so ONE division per output row.
    * Empty shards at small corpora don't bias the figure: the mean
    * denominator is the FIXED shard count, and `n_used` reports
    * occupancy. */
  def p25(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .select(explode(array(lit(16L), lit(64L), lit(256L))).as("n_shards"),
        col("doc_id"), col("n_chars"))
      .withColumn("shard",
        col("doc_id") * lit(2654435761L) % lit(4294967296L) % col("n_shards"))
      .groupBy("n_shards", "shard").agg(sum(col("n_chars")).as("w"))
      .groupBy("n_shards")
      .agg(count(lit(1)).as("n_used"), max(col("w")).as("max_w"),
           min(col("w")).as("min_w"), sum(col("w")).as("total_w"))
      .select(col("n_shards"), col("n_used"), col("max_w"), col("min_w"),
        round(dbl(col("max_w") * col("n_shards")) / dbl(col("total_w")), 6)
          .as("skew"))
      .orderBy("n_shards")
  }
  val p25Sql: String =
    """WITH s AS (
      |  SELECT n_shards,
      |    doc_id * 2654435761 % 4294967296 % n_shards AS shard, n_chars
      |  FROM documents CROSS JOIN (VALUES (CAST(16 AS BIGINT)),
      |    (CAST(64 AS BIGINT)), (CAST(256 AS BIGINT))) t(n_shards)),
      |w AS (
      |  SELECT n_shards, shard, SUM(n_chars)::BIGINT AS w
      |  FROM s GROUP BY 1, 2),
      |a AS (
      |  SELECT n_shards, COUNT(*)::BIGINT AS n_used, MAX(w) AS max_w,
      |    MIN(w) AS min_w, SUM(w)::BIGINT AS total_w
      |  FROM w GROUP BY 1)
      |SELECT n_shards, n_used, max_w, min_w,
      |  ROUND(CAST(max_w * n_shards AS DOUBLE) / CAST(total_w AS DOUBLE), 6)
      |    AS skew
      |FROM a ORDER BY n_shards""".stripMargin

  // ---------------------------------------------------------------- p26
  /** Corpus snapshot diff: per source, docs/tokens/exact-dup rate in
    * the FIRST ingestion half vs the SECOND, with deltas — the nightly
    * "what changed in the corpus" report (p24's card says where we
    * are; this says which direction each source is moving). Halves
    * are integer arithmetic off a 1-row max-id broadcast; each half's
    * census is one map-combinable pass; the diff is a \|sources\|-
    * bounded full-outer join. */
  def p26(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    // cache docs (three subplans: the dup-family rollup, the corpus max,
    // the half census — each otherwise re-pays scan + md5 + spread) and
    // the tiny half census (read once per output side)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("h"))
      .cache()
    val keep = docs.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    val half = docs.join(keep, "h").join(broadcast(mx))
      .withColumn("half", least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)))
      .groupBy("source", "half")
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
           sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("dups"))
      .cache()
    val a = half.filter(col("half") === 0)
      .select(col("source"), col("docs").as("docs_a"),
        col("chars").as("chars_a"), col("dups").as("dups_a"))
    val b = half.filter(col("half") === 1)
      .select(col("source").as("source_b"), col("docs").as("docs_b"),
        col("chars").as("chars_b"), col("dups").as("dups_b"))
    a.join(b, col("source") === col("source_b"), "full_outer")
      .select(coalesce(col("source"), col("source_b")).as("source"),
        coalesce(col("docs_a"), lit(0L)).as("docs_first"),
        coalesce(col("docs_b"), lit(0L)).as("docs_second"),
        (coalesce(col("docs_b"), lit(0L)) - coalesce(col("docs_a"), lit(0L)))
          .as("docs_delta"),
        coalesce(col("chars_a"), lit(0L)).as("chars_first"),
        coalesce(col("chars_b"), lit(0L)).as("chars_second"),
        round(dbl(coalesce(col("dups_a"), lit(0L))) /
          greatest(coalesce(col("docs_a"), lit(0L)), lit(1L)), 6).as("dup_rate_first"),
        round(dbl(coalesce(col("dups_b"), lit(0L))) /
          greatest(coalesce(col("docs_b"), lit(0L)), lit(1L)), 6).as("dup_rate_second"))
      .orderBy("source")
  }
  val p26Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
      |k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1),
      |x AS (SELECT MAX(doc_id) AS max_id FROM d),
      |c AS (
      |  SELECT source, LEAST(doc_id * 2 // (max_id + 1), 1) AS half,
      |    COUNT(*)::BIGINT AS docs, SUM(n_chars)::BIGINT AS chars,
      |    SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)::BIGINT AS dups
      |  FROM d JOIN k USING (h) CROSS JOIN x GROUP BY 1, 2),
      |a AS (SELECT source, docs AS docs_a, chars AS chars_a, dups AS dups_a
      |      FROM c WHERE half = 0),
      |b AS (SELECT source AS source_b, docs AS docs_b, chars AS chars_b,
      |        dups AS dups_b
      |      FROM c WHERE half = 1)
      |SELECT COALESCE(source, source_b) AS source,
      |  COALESCE(docs_a, 0) AS docs_first,
      |  COALESCE(docs_b, 0) AS docs_second,
      |  COALESCE(docs_b, 0) - COALESCE(docs_a, 0) AS docs_delta,
      |  COALESCE(chars_a, 0) AS chars_first,
      |  COALESCE(chars_b, 0) AS chars_second,
      |  ROUND(CAST(COALESCE(dups_a, 0) AS DOUBLE)
      |        / GREATEST(COALESCE(docs_a, 0), 1), 6) AS dup_rate_first,
      |  ROUND(CAST(COALESCE(dups_b, 0) AS DOUBLE)
      |        / GREATEST(COALESCE(docs_b, 0), 1), 6) AS dup_rate_second
      |FROM a FULL OUTER JOIN b ON source = source_b
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p27
  /** Two-phase anneal plan: one 0.9-weighted pass over the whole
    * corpus, then a final 10%-of-budget phase drawn ONLY from the
    * high-quality tier — the "midtraining anneal" schedule, as a
    * deterministic plan artifact (p10 plans language repeats, p13
    * epochs; this plans the quality-upweighted endgame). Tiers are
    * fixed decimal thresholds on t02's quantized score (no ranking);
    * planned tokens are integer `div` arithmetic; repeat factors are
    * ONE division per ≤4-row output. */
  def p27(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val tiers = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(when(col("quality") < 0.5d, "t1_low")
        .when(col("quality") < 0.7d, "t2_mid")
        .otherwise("t3_high").as("tier"), col("n_tok"))
      .groupBy("tier").agg(sum(col("n_tok")).as("avail_tokens"))
    val tot = tiers.agg(sum(col("avail_tokens")).as("total"))
    val main = tiers.join(broadcast(tot))
      .select(lit("a_main").as("phase"), col("tier"), col("avail_tokens"),
        expr("avail_tokens * 9 div 10").as("planned_tokens"))
    val anneal = tiers.filter(col("tier") === "t3_high")
      .join(broadcast(tot))
      .select(lit("b_anneal").as("phase"), col("tier"), col("avail_tokens"),
        expr("total div 10").as("planned_tokens"))
    main.unionByName(anneal)
      .select(col("phase"), col("tier"), col("avail_tokens"),
        col("planned_tokens"),
        round(dbl(col("planned_tokens")) / col("avail_tokens"), 6)
          .as("repeat_factor"))
      .orderBy("phase", "tier")
  }
  val p27Sql: String = {
    val m = """SELECT tier, SUM(n_tok)::BIGINT AS avail_tokens
              |  FROM q GROUP BY 1""".stripMargin
    s"""WITH b AS (
       |  SELECT CAST(len(${TextAnalysis.wordsSql}) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(${TextAnalysis.wordsSql},
       |      x -> x IN ${TextAnalysis.stopSqlIn})) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g'))
       |      AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM documents WHERE len(${TextAnalysis.wordsSql}) >= 1),
       |q AS (
       |  SELECT n_tok,
       |    CASE WHEN ${TextAnalysis.qualitySqlExpr} < 0.5 THEN 't1_low'
       |         WHEN ${TextAnalysis.qualitySqlExpr} < 0.7 THEN 't2_mid'
       |         ELSE 't3_high' END AS tier
       |  FROM b),
       |t AS ($m),
       |tot AS (SELECT SUM(avail_tokens)::BIGINT AS total FROM t),
       |plan AS (
       |  SELECT 'a_main' AS phase, tier, avail_tokens,
       |    avail_tokens * 9 // 10 AS planned_tokens
       |  FROM t
       |  UNION ALL
       |  SELECT 'b_anneal', tier, avail_tokens, total // 10
       |  FROM t CROSS JOIN tot WHERE tier = 't3_high')
       |SELECT phase, tier, avail_tokens, planned_tokens,
       |  ROUND(CAST(planned_tokens AS DOUBLE) / avail_tokens, 6)
       |    AS repeat_factor
       |FROM plan ORDER BY phase, tier""".stripMargin
  }

  /** p07's deterministic id-hash split (12/16 train, 2/16 val, 2/16
    * test), shared by the leakage suite (p28/p29/p30). */
  private def idSplit(c: Column): Column = {
    val nib = substring(md5(c.cast("string")), 1, 1)
    when(nib < "c", "train").when(nib < "e", "val").otherwise("test")
  }
  private def idSplitSql(x: String): String =
    s"""CASE WHEN substring(md5(CAST($x AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |       WHEN substring(md5(CAST($x AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |       ELSE 'test' END""".stripMargin

  // ---------------------------------------------------------------- p28
  /** Split-leakage audit: near-dup pairs (J ≥ 0.5, d03's exact stream)
    * whose endpoints land in DIFFERENT splits of p07's deterministic
    * id-hash train/val/test assignment. An id-hash split is re-ingest
    * stable but near-dup BLIND — a doc and its lightly-edited twin hash
    * independently, so eval contamination arrives silently through the
    * near-dup graph. Each row is an unordered split-pair cell with its
    * pair count, an is_leak flag (cross-split cell), and its share of
    * all near-dup pairs; the fix this artifact motivates is assigning
    * splits per dup-CLUSTER (d10) rather than per doc.
    *
    * Scale: the memoized pair stream + two uniform doc_id joins (d30's
    * exact shape), then a ≤6-row map-combinable rollup and a 1-row
    * broadcast denominator. */
  def p28(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(spark, dir).select(col("doc_id"),
      idSplit(col("doc_id")).as("split"))
    val counted = Dedup.sharedPairs(spark, dir).select("doc_a", "doc_b")
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
    counted.join(broadcast(counted.agg(sum(col("n_pairs")).as("tot"))))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        when(col("split_a") =!= col("split_b"), 1L).otherwise(0L).as("is_leak"),
        round(col("n_pairs").cast("double") / col("tot").cast("double"), 6)
          .as("share"))
      .orderBy("split_a", "split_b")
  }
  val p28Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |sp AS (
       |  SELECT doc_id, ${idSplitSql("doc_id")} AS split
       |  FROM documents),
       |c AS (
       |  SELECT LEAST(a.split, b.split) AS split_a,
       |         GREATEST(a.split, b.split) AS split_b,
       |         COUNT(*)::BIGINT AS n_pairs
       |  FROM pairs JOIN sp a ON doc_a = a.doc_id JOIN sp b ON doc_b = b.doc_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT SUM(n_pairs) AS tot FROM c)
       |SELECT split_a, split_b, n_pairs,
       |  (CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)::BIGINT AS is_leak,
       |  ROUND(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
       |FROM c CROSS JOIN tot ORDER BY split_a, split_b""".stripMargin
  }

  // ---------------------------------------------------------------- p29
  /** Cluster-coherent split assignment — the FIX p28 motivates: every
    * doc in a near-dup cluster (d10's connected components over the
    * J ≥ 0.5 graph) adopts the split of its cluster label (the min doc
    * id), so no near-dup pair can cross a split boundary BY
    * CONSTRUCTION; singletons keep p07's plain id-hash split. The 3-row
    * census prices the fix: per split, doc count under doc-hash vs
    * cluster-coherent assignment and how many docs moved in — the
    * train/val/test ratio drift the eval owner signs off on.
    *
    * Scale: the memoized CC labels + one uniform doc_id left join, two
    * map-combinable ≤3-row rollups, full-outer joined on the split
    * label. Nothing beyond d10's own cost. */
  def p29(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.documents(spark, dir).select("doc_id")
      .join(Dedup.d10(spark, dir), Seq("doc_id"), "left")
      .select(idSplit(col("doc_id")).as("sd"),
        idSplit(coalesce(col("cluster_id"), col("doc_id"))).as("sc"))
    val before = tagged.groupBy(col("sd").as("split"))
      .agg(count(lit(1)).as("n_doc_hash"))
    val after = tagged.groupBy(col("sc").as("split"))
      .agg(count(lit(1)).as("n_cluster_coherent"),
        sum(when(col("sd") =!= col("sc"), 1L).otherwise(0L)).as("n_moved_in"))
    before.join(after, Seq("split"), "full_outer")
      .select(col("split"),
        coalesce(col("n_doc_hash"), lit(0L)).as("n_doc_hash"),
        coalesce(col("n_cluster_coherent"), lit(0L)).as("n_cluster_coherent"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
      .orderBy("split")
  }
  val p29Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    def splitOf(x: String) = idSplitSql(x)
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |cl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY s),
       |t AS (
       |  SELECT ${splitOf("documents.doc_id")} AS sd,
       |         ${splitOf("COALESCE(cluster_id, documents.doc_id)")} AS sc
       |  FROM documents LEFT JOIN cl ON documents.doc_id = cl.doc_id),
       |b AS (SELECT sd AS split, COUNT(*)::BIGINT AS n_doc_hash FROM t GROUP BY 1),
       |a AS (SELECT sc AS split, COUNT(*)::BIGINT AS n_cluster_coherent,
       |        SUM(CASE WHEN sd <> sc THEN 1 ELSE 0 END)::BIGINT AS n_moved_in
       |      FROM t GROUP BY 1)
       |SELECT COALESCE(b.split, a.split) AS split,
       |  COALESCE(n_doc_hash, 0)::BIGINT AS n_doc_hash,
       |  COALESCE(n_cluster_coherent, 0)::BIGINT AS n_cluster_coherent,
       |  COALESCE(n_moved_in, 0)::BIGINT AS n_moved_in
       |FROM b FULL OUTER JOIN a ON b.split = a.split
       |ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- p30
  /** Leakage regression gate — the 1-row artifact a CI pipeline asserts
    * on: total near-dup pairs, pairs crossing splits under p07's plain
    * doc-hash assignment (p28's finding), and pairs crossing under
    * p29's cluster-coherent assignment. The third number is zero BY
    * CONSTRUCTION (both endpoints of every J ≥ 0.5 pair share a d10
    * component, hence a split) — but the gate MEASURES it rather than
    * assuming it, so a future change to the pair stream, the CC labels,
    * or the hash can never silently re-open the leak.
    *
    * Scale: the memoized pair stream + CC labels, two uniform doc_id
    * joins, one map-combinable 1-row aggregate. */
  def p30(spark: SparkSession, dir: String): DataFrame = {
    val tags = Tables.documents(spark, dir).select("doc_id")
      .join(Dedup.d10(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), idSplit(col("doc_id")).as("sd"),
        idSplit(coalesce(col("cluster_id"), col("doc_id"))).as("sc"))
    Dedup.sharedPairs(spark, dir).select("doc_a", "doc_b")
      .join(tags.select(col("doc_id").as("doc_a"),
        col("sd").as("sda"), col("sc").as("sca")), "doc_a")
      .join(tags.select(col("doc_id").as("doc_b"),
        col("sd").as("sdb"), col("sc").as("scb")), "doc_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sda") =!= col("sdb"), 1L).otherwise(0L))
          .as("n_cross_doc_hash"),
        sum(when(col("sca") =!= col("scb"), 1L).otherwise(0L))
          .as("n_cross_cluster"))
  }
  val p30Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |cl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY s),
       |t AS (
       |  SELECT documents.doc_id, ${idSplitSql("documents.doc_id")} AS sd,
       |         ${idSplitSql("COALESCE(cluster_id, documents.doc_id)")} AS sc
       |  FROM documents LEFT JOIN cl ON documents.doc_id = cl.doc_id)
       |SELECT COUNT(*)::BIGINT AS n_pairs,
       |  SUM(CASE WHEN a.sd <> b.sd THEN 1 ELSE 0 END)::BIGINT AS n_cross_doc_hash,
       |  SUM(CASE WHEN a.sc <> b.sc THEN 1 ELSE 0 END)::BIGINT AS n_cross_cluster
       |FROM pairs JOIN t a ON doc_a = a.doc_id JOIN t b ON doc_b = b.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- p31
  /** Split-STABILITY audit — the honest cost of p29's fix: an id-hash
    * split is re-ingest stable but leaks (p28); a cluster-coherent
    * split closes the leak (p30) but cluster LABELS move as new
    * ingestion merges clusters, silently migrating docs across splits.
    * This measures it: restrict the pair graph to the first ingestion
    * half (t51's half convention), label its components, and count
    * first-half docs whose cluster-coherent split differs under
    * first-half-only labels vs full-corpus labels. One row:
    * (n_first_docs, n_moved, move_rate) — the eval owner trades this
    * churn against p28's leak when picking a policy (the production
    * answer is usually: cluster-coherent + pin splits at first
    * assignment).
    *
    * Scale: the full CC labels are memoized (d10); the first-half CC
    * runs the same min-label loop on a SUBSET of the memoized pair
    * stream — strictly cheaper than d10 itself. Everything else is
    * uniform doc_id joins and a 1-row aggregate. */
  def p31(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    val half = docs.join(broadcast(mx))
      .select(col("doc_id"),
        least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)).as("half"))
    val firstDocs = half.filter(col("half") === 0L).select("doc_id")
    val pairs = Dedup.sharedPairs(spark, dir).select("doc_a", "doc_b")
    val firstPairs = pairs
      .join(firstDocs.select(col("doc_id").as("doc_a")), "doc_a")
      .join(firstDocs.select(col("doc_id").as("doc_b")), "doc_b")
    val clFirst = Dedup.connectedComponents(firstPairs,
      Tables.smallFrameParts(spark, dir))
      .select(col("doc_id"), col("cluster_id").as("cl_first"))
    val clFull = Dedup.d10(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("cl_full"))
    firstDocs
      .join(clFirst, Seq("doc_id"), "left")
      .join(clFull, Seq("doc_id"), "left")
      .select(
        idSplit(coalesce(col("cl_first"), col("doc_id"))).as("s_first"),
        idSplit(coalesce(col("cl_full"), col("doc_id"))).as("s_full"))
      .agg(count(lit(1)).as("n_first_docs"),
        sum(when(col("s_first") =!= col("s_full"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("n_first_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_first_docs"), 6)
          .as("move_rate"))
  }
  val p31Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE x AS (SELECT MAX(doc_id) AS max_id FROM documents),
       |fd AS (
       |  SELECT doc_id FROM documents CROSS JOIN x
       |  WHERE LEAST(doc_id * 2 // (max_id + 1), 1) = 0),
       |pairs AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |clfull AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cl_full
       |           FROM reach GROUP BY s),
       |fedges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM fd) AND doc_b IN (SELECT doc_id FROM fd)
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM fd) AND doc_b IN (SELECT doc_id FROM fd)),
       |freach(s, d) AS (
       |  SELECT s, d FROM fedges
       |  UNION
       |  SELECT r.s, e.d FROM freach r JOIN fedges e ON r.d = e.s),
       |clfirst AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cl_first
       |            FROM freach GROUP BY s),
       |t AS (
       |  SELECT ${idSplitSql("COALESCE(cl_first, fd.doc_id)")} AS s_first,
       |         ${idSplitSql("COALESCE(cl_full, fd.doc_id)")} AS s_full
       |  FROM fd
       |  LEFT JOIN clfirst ON fd.doc_id = clfirst.doc_id
       |  LEFT JOIN clfull ON fd.doc_id = clfull.doc_id)
       |SELECT COUNT(*)::BIGINT AS n_first_docs,
       |  SUM(CASE WHEN s_first <> s_full THEN 1 ELSE 0 END)::BIGINT AS n_moved,
       |  ROUND(CAST(SUM(CASE WHEN s_first <> s_full THEN 1 ELSE 0 END) AS DOUBLE)
       |        / COUNT(*), 6) AS move_rate
       |FROM t""".stripMargin
  }

  // ---------------------------------------------------------------- p32
  /** Corpus health scorecard — the one-row front page a curation run
    * publishes before anyone reads the per-family reports: doc count,
    * exact-dup docs (d01's hash census), near-dup pair count (the
    * J ≥ 0.5 stream), mean t02 quality (round9-quantized,
    * order-independent), and 8-gram redundancy (t57's memorization-risk
    * scalar). Every number is defined by an operator elsewhere in the
    * library — this row is the contract that they were all computed on
    * the SAME snapshot.
    *
    * Scale: one hash census + the memoized pair stream + one quality
    * scan + one 8-gram distinct count; five 1-row frames
    * broadcast-joined. */
  def p32(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val dup = docs.select(md5(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("n_exact_dup_docs"))
    val pairs = Dedup.sharedPairs(spark, dir)
      .agg(count(lit(1)).as("n_neardup_pairs"))
    val q = TextAnalysis.addQuality(docs)
      .agg(count(lit(1)).as("nq"),
        sum(round(col("quality"), 9).cast("decimal(18,9)")).as("sq"))
      .select(round(col("sq").cast("double") / nullifzero(col("nq")), 6).as("mean_quality"))
    val g8 = docs.select(expr("word_tokens(text)").as("w"))
      .select(col("w"), size(col("w")).as("len")).filter(col("len") >= 8)
      .select(explode(expr("transform(sequence(0, len - 8), i -> " +
        "array_join(slice(w, i + 1, 8), ' '))")).as("g"))
    val red8 = g8.agg(count(lit(1)).as("tot"))
      .join(broadcast(g8.distinct().agg(count(lit(1)).as("dst"))))
      .select(round(lit(1.0d) - col("dst").cast("double") / nullifzero(col("tot")), 6)
        .as("redundancy_8gram"))
    nd.join(broadcast(dup)).join(broadcast(pairs))
      .join(broadcast(q)).join(broadcast(red8))
  }
  val p32Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    import TextAnalysis.{wordsSql, stopSqlIn}
    s"""WITH nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
       |dup AS (
       |  SELECT SUM(c - 1)::BIGINT AS n_exact_dup_docs
       |  FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)),
       |prs AS (SELECT COUNT(*)::BIGINT AS n_neardup_pairs FROM ($pairSql)),
       |m AS (
       |  SELECT CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM (SELECT text, $wordsSql AS w FROM documents)
       |  WHERE len(w) >= 1),
       |q AS (
       |  SELECT ROUND(CAST(SUM(CAST(ROUND(
       |      0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_char AS DOUBLE))
       |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |    + 0.4 * (CAST(LEAST(n_tok, 100) AS DOUBLE) / 100.0), 6)
       |      AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_quality
       |  FROM m),
       |g8 AS (
       |  SELECT UNNEST(list_transform(range(1, len(w) - 6),
       |    i -> array_to_string(w[i:i+7], ' '))) AS g
       |  FROM (SELECT $wordsSql AS w FROM documents) WHERE len(w) >= 8),
       |red AS (
       |  SELECT ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
       |    AS redundancy_8gram
       |  FROM g8)
       |SELECT n_docs, n_exact_dup_docs, n_neardup_pairs, mean_quality,
       |  redundancy_8gram
       |FROM nd CROSS JOIN dup CROSS JOIN prs CROSS JOIN q CROSS JOIN red""".stripMargin
  }

  // ---------------------------------------------------------------- p33
  /** Sampling-temperature sweep for the source mixture: per sampling
    * exponent α ∈ {0.25, 0.5, 0.75, 1.0}, each source's share under
    * tokens^α weighting (the multilingual/LLM upsampling recipe —
    * α = 1 is natural proportions, α → 0 flattens toward uniform) and
    * the boost factor vs natural share. This is the table a pretraining
    * run reads to pick how hard to upsample low-resource sources
    * before p10/p13 turn shares into epoch plans.
    *
    * Parity: integer-pure BY CONSTRUCTION — round 7 proved no double
    * survives the driver gate even when every IEEE op is individually
    * correctly rounded (CORRECTNESS_r07 p33 failed with sqrt chains +
    * fixed-point floors, bit-exact on local DuckDB 1.0.0). So tokens^α
    * micro-unit weights are EXACT integer square roots ([[Qf.isqrt]]:
    * double only seeds, a ±2 integer correction decides):
    * w(0.5) = isqrt(n·10¹²) = ⌊√n·10⁶⌋ exactly, w(0.25) =
    * isqrt(w(0.5)·10⁶), w(0.75) = isqrt(n·w(0.5)·10⁶), w(1) = n·10⁶;
    * α itself ships as an integer percent and every share/boost as
    * parts-per-million via integral division. Both engines run the
    * same integer recurrence → identical BIGINTs on any libm.
    *
    * Scale: ONE token rollup over the corpus (map-combinable, cached
    * |sources|-frame), then per-α arithmetic on the bounded frame.
    * Output |α|×|sources|. (boost_ppm's widest operand is
    * w·Σtokens·10⁶ ≈ 10³⁹ only past ~10¹³ tokens/source; decimal(38,0)
    * covers every realistic corpus, and the weights could drop to
    * milli-units if one ever exceeds it.) */
  def p33(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf
    VectorFunctions.register(spark)
    val tok = Tables.documents(spark, dir)
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("tokens"))
      .withColumn("s6", Qf.isqrt(col("tokens").cast(Qf.D38) * lit(1000000000000L)))
      .cache()
    val tot = tok.agg(sum(col("tokens")).cast(Qf.D38).as("tot_tokens"))
    val grid: Seq[(Long, Column)] = Seq(
      25L -> Qf.isqrt(col("s6") * lit(1000000L)),
      50L -> col("s6"),
      75L -> Qf.isqrt(col("tokens").cast(Qf.D38) * col("s6") * lit(1000000L)),
      100L -> col("tokens").cast(Qf.D38) * lit(1000000L))
    grid.map { case (a, wCol) =>
      val t = tok.withColumn("w", wCol.cast(Qf.D38))
      val tw = t.agg(sum(col("w")).as("tot_w"))
      t.join(broadcast(tw)).join(broadcast(tot))
        .select(lit(a).as("alpha_pct"), col("source"), col("tokens"),
          expr("(cast(tokens as decimal(38,0)) * 1000000) div tot_tokens")
            .as("nat_share_ppm"),
          expr("(w * 1000000) div tot_w").as("temp_share_ppm"),
          expr("(w * tot_tokens * 1000000) div (tot_w * cast(tokens as decimal(38,0)))")
            .as("boost_ppm"))
    }.reduce(_.unionByName(_)).orderBy("alpha_pct", "source")
  }
  val p33Sql: String = {
    import TextAnalysis.wordsSql
    import graft.engine.Qf.isqrtSql
    val chains = Seq(
      "25" -> isqrtSql("s6 * 1000000"),
      "50" -> "s6",
      "75" -> isqrtSql("CAST(tokens AS HUGEINT) * s6 * 1000000"),
      "100" -> "CAST(tokens AS HUGEINT) * 1000000")
    val per = chains.map { case (a, chain) =>
      s"""SELECT CAST($a AS BIGINT) AS alpha_pct, source, tokens,
         |  CAST((CAST(tokens AS HUGEINT) * 1000000) // tot_tokens AS BIGINT) AS nat_share_ppm,
         |  CAST((w * 1000000) // tot_w AS BIGINT) AS temp_share_ppm,
         |  CAST((w * tot_tokens * 1000000) // (tot_w * CAST(tokens AS HUGEINT)) AS BIGINT) AS boost_ppm
         |FROM (SELECT source, tokens, CAST(($chain) AS HUGEINT) AS w FROM t0) t
         |CROSS JOIN (
         |  SELECT CAST(SUM(CAST(($chain) AS HUGEINT)) AS HUGEINT) AS tot_w
         |  FROM t0) s
         |CROSS JOIN tot""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT source, SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(tokens)::HUGEINT AS tot_tokens FROM tok),
       |t0 AS (SELECT source, tokens,
       |    ${isqrtSql("CAST(tokens AS HUGEINT) * 1000000000000")} AS s6 FROM tok)
       |$per
       |ORDER BY alpha_pct, source""".stripMargin
  }

  // ---------------------------------------------------------------- p34
  /** Quality-curriculum plan: sources ordered by mean quality (t02's
    * score, DECIMAL-exact mean) and cut into three training phases by
    * CUMULATIVE token share — phase 1 trains on the lowest-quality
    * first third of tokens, phase 3 ends on the best (the anneal
    * ordering p27 prices for one source, planned across all of them).
    * Phase cuts are exact-integer compares (3·cum ≤ tot etc.), so both
    * engines cut identically.
    *
    * Scale: one token+quality rollup over the corpus (map-combinable),
    * then a non-equi cumulative self-join on the |sources|-bounded
    * frame (broadcast, constant cost) — never a global window. */
  def p34(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val src = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nt"),
        col("quality").cast("decimal(18,6)").as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"),
        round(dbl(sum(col("q"))) / count(lit(1)), 6).as("mean_quality"))
      .cache()
    val tot = src.agg(sum(col("tokens")).as("tot_tokens"))
    val cum = src.as("a").join(broadcast(src.as("b")),
        col("b.mean_quality") < col("a.mean_quality") ||
          (col("b.mean_quality") === col("a.mean_quality") &&
            col("b.source") <= col("a.source")))
      .groupBy(col("a.source").as("source"), col("a.n_docs").as("n_docs"),
        col("a.tokens").as("tokens"), col("a.mean_quality").as("mean_quality"))
      .agg(sum(col("b.tokens")).as("cum_tokens"))
    cum.join(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("mean_quality"),
        col("cum_tokens"),
        when(col("cum_tokens") * 3 <= col("tot_tokens"), 1)
          .when(col("cum_tokens") * 3 <= col("tot_tokens") * 2, 2)
          .otherwise(3).as("phase"))
      .orderBy("mean_quality", "source")
  }
  val p34Sql: String = {
    import TextAnalysis.{wordsSql, stopSqlIn, qualitySqlExpr}
    s"""WITH base AS (
       |  SELECT source, text, $wordsSql AS w FROM documents),
       |m AS (
       |  SELECT source, CAST(len(w) AS BIGINT) AS nt,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |src AS (
       |  SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS tokens,
       |    ROUND(CAST(SUM(CAST($qualitySqlExpr AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(*), 6) AS mean_quality
       |  FROM m GROUP BY 1),
       |tot AS (SELECT SUM(tokens)::BIGINT AS tot_tokens FROM src),
       |c AS (
       |  SELECT a.source, a.n_docs, a.tokens, a.mean_quality,
       |    SUM(b.tokens)::BIGINT AS cum_tokens
       |  FROM src a JOIN src b
       |    ON b.mean_quality < a.mean_quality
       |    OR (b.mean_quality = a.mean_quality AND b.source <= a.source)
       |  GROUP BY 1, 2, 3, 4)
       |SELECT source, n_docs, tokens, mean_quality, cum_tokens,
       |  CASE WHEN cum_tokens * 3 <= tot_tokens THEN 1
       |       WHEN cum_tokens * 3 <= tot_tokens * 2 THEN 2
       |       ELSE 3 END AS phase
       |FROM c CROSS JOIN tot
       |ORDER BY mean_quality, source""".stripMargin
  }

  // ---------------------------------------------------------------- p35
  /** Language budget-gap ledger: against a uniform per-language token
    * target (⌊total/|langs|⌋ — the "equal representation" strawman every
    * multilingual mix negotiation starts from), each language's
    * available tokens, shortfall/surplus, and fill ratio. The shortfall
    * column is the upsampling bill p33's temperature sweep then prices;
    * integer targets keep both engines cut-identical.
    *
    * Scale: ONE token rollup (map-combinable) to a |langs|-bounded
    * frame; the (total, nlangs) denominator is a 1-row broadcast. */
  def p35(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), size(expr("word_tokens(text)")).cast("long").as("nt"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
    val tot = tok.agg(sum(col("tokens")).as("tot"), count(lit(1)).as("nl"))
    tok.join(broadcast(tot))
      .withColumn("target_tokens", expr("tot div nl"))
      .select(col("lang"), col("n_docs"), col("tokens"), col("target_tokens"),
        greatest(col("target_tokens") - col("tokens"), lit(0L)).as("shortfall"),
        greatest(col("tokens") - col("target_tokens"), lit(0L)).as("surplus"),
        round(dbl(col("tokens")) / col("target_tokens"), 6).as("fill_ratio"))
      .orderBy("lang")
  }
  val p35Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH tok AS (
       |  SELECT lang, COUNT(*)::BIGINT AS n_docs,
       |    SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT SUM(tokens)::BIGINT AS tot, COUNT(*)::BIGINT AS nl FROM tok)
       |SELECT lang, n_docs, tokens, tot // nl AS target_tokens,
       |  GREATEST(tot // nl - tokens, 0) AS shortfall,
       |  GREATEST(tokens - tot // nl, 0) AS surplus,
       |  ROUND(CAST(tokens AS DOUBLE) / (tot // nl), 6) AS fill_ratio
       |FROM tok CROSS JOIN t ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- p36
  /** Shard-skew forecast: for shard counts 16 / 256 / 4096 (1, 2, 3
    * md5 nibbles — p12's content-hash scheme extended), the used-shard
    * count, the heaviest shard's tokens, and the straggler factor
    * max·n/total — the number that says how much slower the slowest
    * writer/reader task runs than the ideal at each fan-out, BEFORE
    * any shards are written. A factor that explodes at 4096 says the
    * corpus is too small (or too skewed) for that fan-out.
    *
    * Scale: ONE tokenize+hash pass (map-combinable) cached at the
    * finest grain, the coarser grains roll up from it by prefix;
    * output 3 rows, the totals are 1-row broadcasts. */
  def p36(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val fine = Tables.documents(spark, dir)
      .select(substring(md5(col("text")), 1, 3).as("shard3"),
        expr("size(word_tokens(text))").cast("long").as("nt"))
      .groupBy("shard3").agg(sum(col("nt")).as("tokens"))
      .cache()
    val tot = fine.agg(sum(col("tokens")).as("tot"))
    val rows = Seq((16, 1), (256, 2), (4096, 3)).map { case (n, nib) =>
      fine.groupBy(substring(col("shard3"), 1, nib).as("shard"))
        .agg(sum(col("tokens")).as("stok"))
        .agg(count(lit(1)).as("shards_used"), max(col("stok")).as("max_tokens"))
        .join(broadcast(tot))
        .select(lit(n).as("n_shards"), col("shards_used"), col("max_tokens"),
          round(dbl(col("tot")) / lit(n), 6).as("ideal_tokens"),
          round(dbl(col("max_tokens")) * n / col("tot"), 6).as("straggler_factor"))
    }
    rows.reduce(_.unionByName(_)).orderBy("n_shards")
  }
  val p36Sql: String = {
    import TextAnalysis.wordsSql
    val per = Seq((16, 1), (256, 2), (4096, 3)).map { case (n, nib) =>
      s"""SELECT $n AS n_shards, COUNT(*)::BIGINT AS shards_used,
         |  MAX(stok) AS max_tokens,
         |  ROUND(CAST((SELECT tot FROM t) AS DOUBLE) / $n, 6) AS ideal_tokens,
         |  ROUND(CAST(MAX(stok) AS DOUBLE) * $n / (SELECT tot FROM t), 6)
         |    AS straggler_factor
         |FROM (SELECT substr(shard3, 1, $nib) AS shard, SUM(tokens)::BIGINT AS stok
         |      FROM fine GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH fine AS (
       |  SELECT substr(md5(text), 1, 3) AS shard3,
       |    SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT SUM(tokens)::BIGINT AS tot FROM fine)
       |$per
       |ORDER BY n_shards""".stripMargin
  }

  // ---------------------------------------------------------------- p37
  /** Holdout-carve drift through the curation funnel: a 1/16
    * content-hash holdout (first md5 nibble = '0' — t06's hex-compare
    * recipe) is carved on the RAW corpus, then each curation stage is
    * audited for how far its holdout share drifts from the raw share.
    * Content-keyed carves survive re-ingest and exact dedup untouched,
    * but downstream stages are NOT hash-blind: the final sampling stage
    * keeps nibbles below '8'/'4' — the SAME hash the carve uses — so the
    * sample over-retains holdout (every '0' survives sampling). The
    * drift column makes that correlation a measured artifact; the
    * production fix it motivates is salting the carve and the sampler
    * with independent hash keys.
    *
    * Scale: rides the cached p01 stage frames; per stage one uniform
    * doc_id join against the carve flags + a 1-row aggregate; the raw
    * share is a 1-row broadcast denominator. */
  def p37(spark: SparkSession, dir: String): DataFrame = {
    val (docs, scored, keep, surv, sampled) = p01Stages(spark, dir)
    // every stage frame carries `text`, so the holdout flag is computed
    // inline (one scan-speed md5 per row) instead of joining each stage
    // back onto the corpus for a precomputed flag
    def lvl(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          sum(when(substring(md5(col("text")), 1, 1) === "0", 1L)
            .otherwise(0L)).as("n_holdout"))
        .withColumn("stage", lit(label))
    val per = lvl("a_raw", docs)
      .unionByName(lvl("b_quality_lang", scored))
      .unionByName(lvl("c_exact_dedup", keep))
      .unionByName(lvl("d_near_dedup", surv))
      .unionByName(lvl("e_sampled", sampled))
    val raw = per.filter(col("stage") === "a_raw")
      .select((col("n_holdout").cast("double") / col("n_docs")).as("raw_share"))
    per.crossJoin(broadcast(raw))
      .select(col("stage"), col("n_docs"), col("n_holdout"),
        round(col("n_holdout").cast("double") / col("n_docs"), 6).as("hold_share"),
        round(col("n_holdout").cast("double") / col("n_docs") - col("raw_share"), 6).as("drift"))
      .orderBy("stage")
  }
  val p37Sql: String = {
    val idx = p01Sql.indexOf("SELECT doc_id, pred_lang, quality FROM keep")
    require(idx > 0, "p01Sql shape changed under p37")
    val ctes = p01Sql.substring(0, idx).trim
    s"""$ctes,
       |surv AS (
       |  SELECT * FROM keep WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |stages AS (
       |  SELECT 'a_raw' AS stage, doc_id FROM documents
       |  UNION ALL SELECT 'b_quality_lang', doc_id FROM pl
       |  UNION ALL SELECT 'c_exact_dedup', doc_id FROM keep
       |  UNION ALL SELECT 'd_near_dedup', doc_id FROM surv
       |  UNION ALL SELECT 'e_sampled', doc_id FROM surv
       |    WHERE (CASE WHEN pred_lang = 'en' THEN substr(md5(text), 1, 1) < '8'
       |                ELSE substr(md5(text), 1, 1) < '4' END)),
       |h AS (SELECT doc_id, (substr(md5(text), 1, 1) = '0') AS held FROM documents),
       |per AS (
       |  SELECT s.stage, COUNT(*)::BIGINT AS n_docs,
       |    SUM(CASE WHEN h.held THEN 1 ELSE 0 END)::BIGINT AS n_holdout
       |  FROM stages s JOIN h USING (doc_id) GROUP BY 1),
       |raw AS (
       |  SELECT CAST(n_holdout AS DOUBLE) / n_docs AS raw_share
       |  FROM per WHERE stage = 'a_raw')
       |SELECT stage, n_docs, n_holdout,
       |  ROUND(CAST(n_holdout AS DOUBLE) / n_docs, 6) AS hold_share,
       |  ROUND(CAST(n_holdout AS DOUBLE) / n_docs - raw_share, 6) AS drift
       |FROM per CROSS JOIN raw ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- p38
  /** Context-length fill sweep: padding and truncation bill at L ∈
    * {32, 64, 128, 256} under the naive one-doc-per-sequence packing
    * (pad to L, truncate past L), next to the head-to-tail packed lower
    * bound p09 implements (whose waste is ~0 by construction). Per L:
    * sequences, kept/pad/truncated token totals, and the fill ratio
    * Σmin(n,L) / (L·n_docs) — the artifact that picks the training
    * context length (and decides whether packing is worth its shuffle)
    * BEFORE anyone burns a 100 TB tokenization run on the wrong L.
    * All-integer arithmetic until the single fill-ratio division.
    *
    * Scale: ONE tokenize pass; the 4-way L fan-out is an explode of a
    * 4-element literal array (map-side, no join), then a 4-key
    * map-combinable rollup. */
  def p38(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(expr("size(word_tokens(text))").cast("long").as("n_tok"))
      .select(col("n_tok"), explode(lit(Array(32L, 64L, 128L, 256L))).as("ctx_len"))
      .select(col("ctx_len"),
        least(col("n_tok"), col("ctx_len")).as("kept"),
        (col("ctx_len") - least(col("n_tok"), col("ctx_len"))).as("pad"),
        greatest(col("n_tok") - col("ctx_len"), lit(0L)).as("trunc"))
      .groupBy("ctx_len")
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("kept")).as("kept_tokens"),
        sum(col("pad")).as("pad_tokens"),
        sum(col("trunc")).as("truncated_tokens"),
        round(dbl(sum(col("kept"))) / dbl(sum(col("kept")) + sum(col("pad"))), 6)
          .as("fill_ratio"))
      .orderBy("ctx_len")
  }
  val p38Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH d AS (
       |  SELECT CAST(len($wordsSql) AS BIGINT) AS n_tok FROM documents),
       |f AS (
       |  SELECT n_tok, UNNEST([32, 64, 128, 256]) AS ctx_len FROM d),
       |s AS (
       |  SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
       |    least(n_tok, ctx_len) AS kept,
       |    ctx_len - least(n_tok, ctx_len) AS pad,
       |    greatest(n_tok - ctx_len, 0) AS trunc
       |  FROM f)
       |SELECT ctx_len, COUNT(*)::BIGINT AS n_seqs,
       |  CAST(SUM(kept) AS BIGINT) AS kept_tokens,
       |  CAST(SUM(pad) AS BIGINT) AS pad_tokens,
       |  CAST(SUM(trunc) AS BIGINT) AS truncated_tokens,
       |  ROUND(CAST(SUM(kept) AS DOUBLE) / CAST(SUM(kept) + SUM(pad) AS DOUBLE), 6)
       |    AS fill_ratio
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
  }


  // ---------------------------------------------------------------- p39
  /** Stage-ordering A/B for dedup × decontamination: dedup→decontam
    * (order A: pick the min-id keeper per exact-dup group, THEN drop it
    * if it shares a 4-gram with the d11 eval split) vs decontam→dedup
    * (order B: drop contaminated docs first, then keep the min-id CLEAN
    * member) — order B rescues every group whose keeper was contaminated
    * but that has a clean twin, so the right order is B and this 1-row
    * verdict prices exactly how much B buys (p23 settles quality×dedup;
    * this settles the other pair).
    *
    * Scale: the eval posting list is the broadcast side (d11's shape —
    * the corpus side never shuffles for the hit test); the group math is
    * one fingerprint groupBy with min-id keepers joined back by
    * (fp, doc_id) — two uniform hash shuffles. */
  def p39(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 20 =!= 0)
    val post = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("word_ngrams(text, 4)")).as("g"))
    val hits = post.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(post.filter(col("doc_id") % 20 === 0).select(col("g")).distinct()), "g")
      .select(col("doc_id")).distinct()
    val base = docs
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .select(col("doc_id"), col("fp"),
        size(expr("word_tokens(text)")).cast("long").as("nt"))
      .join(hits.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .withColumn("clean", col("hit").isNull)
    val keeperA = base.groupBy("fp").agg(min(col("doc_id")).as("a_id"))
      .join(base.select(col("fp"), col("doc_id").as("a_id"),
        col("clean").as("a_clean"), col("nt").as("a_nt")), Seq("fp", "a_id"))
    val keeperB = base.filter(col("clean"))
      .groupBy("fp").agg(min(col("doc_id")).as("b_id"))
      .join(base.select(col("fp"), col("doc_id").as("b_id"), col("nt").as("b_nt")),
        Seq("fp", "b_id"))
    keeperA.join(keeperB, Seq("fp"), "left")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("a_clean"), 1L).otherwise(0L)).as("docs_dedup_first"),
        sum(when(col("b_id").isNotNull, 1L).otherwise(0L)).as("docs_decontam_first"),
        sum(when(col("a_clean"), col("a_nt")).otherwise(0L)).as("tokens_dedup_first"),
        sum(coalesce(col("b_nt"), lit(0L))).as("tokens_decontam_first"))
      .select(col("n_groups"), col("docs_dedup_first"), col("docs_decontam_first"),
        (col("docs_decontam_first") - col("docs_dedup_first")).as("groups_rescued"),
        col("tokens_dedup_first"), col("tokens_decontam_first"))
  }
  val p39Sql: String =
    """WITH w AS (SELECT doc_id, text,
      |    list_filter(string_split(text,' '), x -> x <> '') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS grams
      |  FROM w WHERE len(w) >= 4),
      |p AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
      |ev AS (SELECT DISTINCT g FROM p WHERE doc_id % 20 = 0),
      |hits AS (SELECT DISTINCT doc_id FROM p JOIN ev USING (g) WHERE doc_id % 20 <> 0),
      |base AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS nt,
      |    doc_id NOT IN (SELECT doc_id FROM hits) AS clean
      |  FROM documents WHERE doc_id % 20 <> 0),
      |ka AS (
      |  SELECT b.fp, b.clean AS a_clean, b.nt AS a_nt
      |  FROM (SELECT fp, MIN(doc_id) AS a_id FROM base GROUP BY 1) g
      |  JOIN base b ON b.fp = g.fp AND b.doc_id = g.a_id),
      |kb AS (
      |  SELECT b.fp, b.nt AS b_nt
      |  FROM (SELECT fp, MIN(doc_id) AS b_id FROM base WHERE clean GROUP BY 1) g
      |  JOIN base b ON b.fp = g.fp AND b.doc_id = g.b_id)
      |SELECT COUNT(*)::BIGINT AS n_groups,
      |  SUM(CASE WHEN a_clean THEN 1 ELSE 0 END)::BIGINT AS docs_dedup_first,
      |  SUM(CASE WHEN b_nt IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS docs_decontam_first,
      |  (SUM(CASE WHEN b_nt IS NOT NULL THEN 1 ELSE 0 END)
      |    - SUM(CASE WHEN a_clean THEN 1 ELSE 0 END))::BIGINT AS groups_rescued,
      |  SUM(CASE WHEN a_clean THEN a_nt ELSE 0 END)::BIGINT AS tokens_dedup_first,
      |  SUM(COALESCE(b_nt, 0))::BIGINT AS tokens_decontam_first
      |FROM ka LEFT JOIN kb USING (fp)""".stripMargin

  // ---------------------------------------------------------------- p40
  /** Temperature-budget rebalance: under the α = 0.5 sampling
    * temperature (p33's sqrt-chain weights — the parity-safe recipe) and
    * a training budget of HALF the corpus tokens, each source's target
    * allocation, its deficit or surplus vs what it actually has, and the
    * repeat factor the sampler must apply — p35 prices the uniform-mix
    * gap per language; this prices the temperature mix per source,
    * which is what the sampler actually runs.
    *
    * Parity: integer-pure end to end (round 7's floor(x·1e6)/1e6
    * double outputs were the driver hash-fail class, CORRECTNESS_r07
    * p40). Weights are the EXACT integer √(tokens·10¹²) ([[Qf.isqrt]]
    * — floor(√tokens·1e6) with the ±2 integer correction, so no libm
    * value survives into the hashed chain); targets are
    * (budget·w) div Σw in exact decimal arithmetic; the repeat factor
    * ships as parts-per-million BIGINT, never divided back to DOUBLE. */
  def p40(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf
    VectorFunctions.register(spark)
    val tok = Tables.documents(spark, dir)
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("tokens"))
      .withColumn("w", Qf.isqrt(col("tokens").cast(Qf.D38) * lit(1000000000000L)))
    val tot = tok.agg(sum(col("tokens")).as("tot"), sum(col("w")).as("tot_w"))
    tok.join(broadcast(tot))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("target_tokens",
        expr("(cast(budget as decimal(38,0)) * w) div tot_w"))
      .select(col("source"), col("tokens"), col("target_tokens"),
        greatest(col("target_tokens") - col("tokens"), lit(0L)).as("deficit"),
        greatest(col("tokens") - col("target_tokens"), lit(0L)).as("surplus"),
        expr("(cast(target_tokens as decimal(38,0)) * 1000000) div tokens")
          .as("repeat_ppm"))
      .orderBy("source")
  }
  val p40Sql: String = {
    import TextAnalysis.wordsSql
    val isq = graft.engine.Qf.isqrtSql("CAST(tokens AS HUGEINT) * 1000000000000")
    s"""WITH tok AS (
       |  SELECT source, SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS tokens
       |  FROM documents GROUP BY 1),
       |wq AS (SELECT source, tokens, $isq AS w FROM tok),
       |tot AS (SELECT CAST(SUM(tokens) AS HUGEINT) AS tot,
       |               CAST(SUM(w) AS HUGEINT) AS tot_w FROM wq),
       |tt AS (SELECT source, tokens,
       |    CAST(((tot // 2) * w) // tot_w AS BIGINT) AS target_tokens
       |  FROM wq CROSS JOIN tot)
       |SELECT source, tokens, target_tokens,
       |  GREATEST(target_tokens - tokens, 0)::BIGINT AS deficit,
       |  GREATEST(tokens - target_tokens, 0)::BIGINT AS surplus,
       |  CAST((target_tokens::HUGEINT * 1000000) // tokens AS BIGINT) AS repeat_ppm
       |FROM tt ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p41
  /** Token-accounting drift: each source's corpus share under WORD
    * accounting vs CHARACTER accounting (chars/word varies by source —
    * code-ish and terse sources pack more chars per word), and the share
    * drift a budget planner inherits by picking one unit — the cheap
    * proxy for tokenizer-fertility drift (t66 measures real fertility;
    * this prices its budget effect corpus-wide with exact integers).
    *
    * Parity: every output is a BIGINT — ratios and shares as
    * parts-per-million via exact integral division (round 7's
    * `round(x, 6)` doubles were the driver hash-fail class,
    * CORRECTNESS_r07 p41), and the drift as a DIFFERENCE of two ppm
    * integers so no negative-operand division semantics are in play.
    *
    * Scale: ONE map-combinable rollup; |sources| rows; single
    * divisions. */
  def p41(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val src = Tables.documents(spark, dir)
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nw"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("source").agg(sum(col("nw")).as("words"), sum(col("nc")).as("chars"))
    val tot = src.agg(sum(col("words")).as("tw"), sum(col("chars")).as("tc"))
    src.join(broadcast(tot))
      .selectExpr("source", "words", "chars",
        "(cast(chars as decimal(38,0)) * 1000000) div words as chars_per_word_ppm",
        "(cast(words as decimal(38,0)) * 1000000) div tw as word_share_ppm",
        "(cast(chars as decimal(38,0)) * 1000000) div tc as char_share_ppm")
      .withColumn("share_drift_ppm", col("char_share_ppm") - col("word_share_ppm"))
      .orderBy("source")
  }
  val p41Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH src AS (
       |  SELECT source, SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS words,
       |    SUM(CAST(LENGTH(text) AS BIGINT))::BIGINT AS chars
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(words) AS BIGINT) AS tw,
       |               CAST(SUM(chars) AS BIGINT) AS tc FROM src),
       |ppm AS (
       |  SELECT source, words, chars,
       |    CAST((chars::HUGEINT * 1000000) // words AS BIGINT) AS chars_per_word_ppm,
       |    CAST((words::HUGEINT * 1000000) // tw AS BIGINT) AS word_share_ppm,
       |    CAST((chars::HUGEINT * 1000000) // tc AS BIGINT) AS char_share_ppm
       |  FROM src CROSS JOIN tot)
       |SELECT source, words, chars, chars_per_word_ppm, word_share_ppm,
       |  char_share_ppm, char_share_ppm - word_share_ppm AS share_drift_ppm
       |FROM ppm ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p42
  /** Quality-gate threshold sweep: survivor documents, tokens, and token
    * share at every gate setting on a fixed gate grid {0.30 … 0.80} —
    * the table that turns p01's hard-coded 0.5 gate into a priced
    * decision (p18 sweeps the BUDGET at fixed quality ordering; this
    * sweeps the GATE itself). Quality is t02's round6 score; the gate
    * compare is a double compare of identical operands.
    *
    * Scale: quality is computed once per doc (one scan); the 6-point
    * grid explodes rows by a constant BEFORE the map-combinable rollup.
    * 6-row output. */
  def p42(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val grid = Array(0.30d, 0.40d, 0.50d, 0.60d, 0.70d, 0.80d)
    val q = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(col("quality"), col("n_tok"))
    val tot = q.agg(count(lit(1)).as("n_docs_all"), sum(col("n_tok")).as("tokens_all"))
    q.select(col("quality"), col("n_tok"), explode(lit(grid)).as("gate"))
      .groupBy("gate")
      .agg(sum(when(col("quality") >= col("gate"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("quality") >= col("gate"), col("n_tok")).otherwise(0L)).as("tokens"))
      .crossJoin(broadcast(tot))
      .select(col("gate"), col("n_docs"), col("tokens"),
        round(dbl(col("n_docs")) / dbl(col("n_docs_all")), 6).as("doc_share"),
        round(dbl(col("tokens")) / dbl(col("tokens_all")), 6).as("token_share"))
      .orderBy("gate")
  }
  val p42Sql: String = {
    import TextAnalysis.{wordsSql, stopSqlIn, qualitySqlExpr}
    s"""WITH m AS (
       |  SELECT CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN $stopSqlIn)) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM (SELECT text, $wordsSql AS w FROM documents) WHERE len(w) >= 1),
       |q AS (SELECT n_tok, $qualitySqlExpr AS quality FROM m),
       |tot AS (SELECT COUNT(*)::BIGINT AS n_docs_all, SUM(n_tok)::BIGINT AS tokens_all FROM q),
       |grid AS (SELECT CAST(gate AS DOUBLE) AS gate
       |         FROM (VALUES (0.30), (0.40), (0.50), (0.60), (0.70), (0.80)) g(gate))
       |SELECT gate,
       |  SUM(CASE WHEN quality >= gate THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       |  SUM(CASE WHEN quality >= gate THEN n_tok ELSE 0 END)::BIGINT AS tokens,
       |  ROUND(CAST(SUM(CASE WHEN quality >= gate THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(MAX(n_docs_all) AS DOUBLE), 6) AS doc_share,
       |  ROUND(CAST(SUM(CASE WHEN quality >= gate THEN n_tok ELSE 0 END) AS DOUBLE)
       |    / CAST(MAX(tokens_all) AS DOUBLE), 6) AS token_share
       |FROM q CROSS JOIN grid CROSS JOIN tot
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }


  // ---------------------------------------------------------------- p43
  /** Duplicate exposure per epoch plan: p10's capped repeat factors
    * joined with each source's WITHIN-SOURCE exact-dup share — a source
    * repeated 4× whose corpus is 30% duplicates shows the model each
    * duplicated text ~4×(extra copies) times; this 1-table audit prices
    * the memorization risk of the mixture plan (p11 prices dedup's
    * savings; this prices NOT deduping under repeats).
    *
    * Scale: one fingerprint groupBy per source (map-combinable) + p10's
    * bounded rollups; \|sources\| rows. */
  def p43(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    VectorFunctions.register(spark)
    val per = Tables.documents(spark, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .select(col("source"), col("fp"),
        size(expr("word_tokens(text)")).cast("long").as("nt"))
    val src = per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count_distinct(col("fp")).as("n_groups"),
        sum(col("nt")).as("tokens"))
    val tot = src.agg(sum(col("tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    src.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("corpus_tokens div n_sources"))
      .withColumn("repeat_capped",
        least(round(dbl(col("target_tokens")) / dbl(col("tokens")), 6), lit(4.0d)))
      .withColumn("dup_share", dbl(col("n_docs") - col("n_groups")) / dbl(col("n_docs")))
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_groups")).as("n_dup_docs"),
        round(col("dup_share"), 6).as("dup_share"),
        col("repeat_capped"),
        round(col("repeat_capped") * col("dup_share"), 6).as("dup_exposure_per_epoch"))
      .orderBy("source")
  }
  val p43Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH per AS (
       |  SELECT source,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       |    CAST(len($wordsSql) AS BIGINT) AS nt
       |  FROM documents),
       |src AS (
       |  SELECT source, COUNT(*)::BIGINT AS n_docs,
       |    COUNT(DISTINCT fp)::BIGINT AS n_groups, SUM(nt)::BIGINT AS tokens
       |  FROM per GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
       |               COUNT(*)::BIGINT AS n_sources FROM src)
       |SELECT source, n_docs, (n_docs - n_groups)::BIGINT AS n_dup_docs,
       |  ROUND(CAST(n_docs - n_groups AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_share,
       |  LEAST(ROUND(CAST(corpus_tokens // n_sources AS DOUBLE)
       |    / CAST(tokens AS DOUBLE), 6), 4.0) AS repeat_capped,
       |  ROUND(LEAST(ROUND(CAST(corpus_tokens // n_sources AS DOUBLE)
       |      / CAST(tokens AS DOUBLE), 6), 4.0)
       |    * (CAST(n_docs - n_groups AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
       |    AS dup_exposure_per_epoch
       |FROM src CROSS JOIN tot ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p44
  /** Holdout-size leakage sweep: the cross-split near-dup leak rate
    * (J ≥ 0.5 pairs with exactly one endpoint in the eval split) at
    * id-hash holdout fractions 1/10, 1/20, 1/50 — p28 measures the leak
    * at the shipped 1/20; this shows how the leak scales with holdout
    * size, the number a benchmark-design review asks for before picking
    * the split. Exact-integer classification over the memoized pair
    * stream; 3 literal rows.
    *
    * Scale: rides [[graft.operators.Dedup.sharedPairs]] (inverted-index
    * bounded); per-m work is one map-combinable conditional rollup. */
  def p44(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dbl
    val pairs = Dedup.sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    // ONE pass: the three moduli are conditional sums of the same
    // aggregation, unpacked from a struct array (was three independent
    // aggregation jobs over the pair stream, unioned)
    def cross(m: Long) = sum(
      when((col("doc_a") % m === 0) =!= (col("doc_b") % m === 0), 1L)
        .otherwise(0L)).as(s"c$m")
    pairs.agg(count(lit(1)).as("n_pairs"), cross(10L), cross(20L), cross(50L))
      .select(explode(array(Seq(10L, 20L, 50L).map(m =>
        struct(lit(m).as("holdout_mod"), col("n_pairs").as("n_pairs"),
          col(s"c$m").as("n_cross"))): _*)).as("s"))
      .select(col("s.holdout_mod").as("holdout_mod"),
        col("s.n_pairs").as("n_pairs"), col("s.n_cross").as("n_cross"),
        round(when(col("s.n_pairs") > 0,
          dbl(col("s.n_cross")) / dbl(col("s.n_pairs")))
          .otherwise(0d), 6).as("leak_rate"))
      .orderBy("holdout_mod")
  }
  val p44Sql: String = {
    val pairSql = Dedup.jaccardPairsSql(1, 2)
      .replace("ORDER BY doc_a, doc_b", "")
    val per = Seq(10, 20, 50).map { m =>
      s"""SELECT CAST($m AS BIGINT) AS holdout_mod,
         |  COUNT(*)::BIGINT AS n_pairs,
         |  SUM(CASE WHEN (doc_a % $m = 0) <> (doc_b % $m = 0)
         |      THEN 1 ELSE 0 END)::BIGINT AS n_cross,
         |  ROUND(CASE WHEN COUNT(*) > 0
         |    THEN CAST(SUM(CASE WHEN (doc_a % $m = 0) <> (doc_b % $m = 0)
         |        THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         |    ELSE 0.0 END, 6) AS leak_rate
         |FROM pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pairs AS ($pairSql)
       |$per
       |ORDER BY holdout_mod""".stripMargin
  }

  // ---------------------------------------------------------------- p45
  /** Length-bucketed padding bill at context 2048: documents (truncated
    * at 2048 tokens) are batched by length bucket — B ∈ {1, 4, 16}
    * equal-width buckets over the context — and every doc pads to its
    * BUCKET's max length. B=1 is naive global batching (everything pads
    * to the longest survivor); more buckets approach zero waste. This is
    * the table that prices the batcher's bucket knob before the 100 TB
    * tokenization run (p38 prices the CONTEXT length; this prices the
    * batching scheme at a fixed context). Integer-pure ppm outputs.
    *
    * Scale: ONE tokenize pass; the per-(B, bucket) max/sum rollup is
    * map-combinable; 3-row output. */
  def p45(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val L = 2048L
    val toks = Tables.documents(spark, dir)
      .select(least(size(expr("word_tokens(text)")).cast("long"), lit(L)).as("nt"))
      .filter(col("nt") >= 1)
      .cache()
    Seq(1, 4, 16).map { b =>
      val w = L / b // equal-width bucket span
      val bucketed = toks
        .withColumn("bucket", least(expr(s"(nt - 1) div $w"), lit(b - 1L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("real_toks"),
          max(col("nt")).as("bmax"))
      bucketed
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("real_toks")).as("real_tokens"),
          sum(col("n_docs") * col("bmax")).as("padded_tokens"))
        .selectExpr(s"cast($b as bigint) as n_buckets", "n_docs", "real_tokens",
          "padded_tokens",
          "((padded_tokens - real_tokens) * cast(1000000 as decimal(38,0))) div padded_tokens as waste_ppm")
    }.reduce(_.unionByName(_)).orderBy("n_buckets")
  }
  val p45Sql: String = {
    import TextAnalysis.wordsSql
    val per = Seq(1, 4, 16).map { b =>
      val w = 2048L / b
      s"""SELECT CAST($b AS BIGINT) AS n_buckets,
         |  SUM(n_docs)::BIGINT AS n_docs, SUM(real_toks)::BIGINT AS real_tokens,
         |  SUM(n_docs * bmax)::BIGINT AS padded_tokens,
         |  CAST(((SUM(n_docs * bmax) - SUM(real_toks))::HUGEINT * 1000000)
         |    // SUM(n_docs * bmax) AS BIGINT) AS waste_ppm
         |FROM (
         |  SELECT LEAST((nt - 1) // $w, ${b - 1}) AS bucket,
         |    COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS real_toks,
         |    MAX(nt)::BIGINT AS bmax
         |  FROM toks GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT LEAST(CAST(len($wordsSql) AS BIGINT), 2048) AS nt
       |  FROM documents WHERE len($wordsSql) >= 1)
       |$per
       |ORDER BY n_buckets""".stripMargin
  }

  // ---------------------------------------------------------------- p46
  /** Water-filling token allocation at a half-corpus budget: the unique
    * level LVL with Σ min(tokens_s, LVL) ≈ budget — small sources keep
    * everything, large sources are capped at the level (the fair-cap
    * mixture: no source starves, surplus flows to the rest). Emits per
    * source its allocation and fill rate, plus the level itself. The
    * planner complement to p40's temperature targets (p40 reweights
    * smoothly; this caps hard).
    *
    * Integer-pure: the level is found on the \|sources\|-bounded sorted
    * frame by checking each saturation boundary m with exact integer
    * arithmetic (LVL = (budget − prefix_m) div (k − m), valid when it
    * lands in [t_m, t_{m+1})); integral division means the filled total
    * undershoots the budget by < k−m tokens — exact, documented, and
    * identical in both engines. NO window anywhere: rank/prefix/prev
    * come from the house bounded non-equi cumulative self-join (p34's
    * shape, \|sources\|² ≈ 400 rows), never a global sort. */
  def p46(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val tok = Tables.documents(spark, dir)
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("tokens"))
      .cache()
    val a = tok.select(col("source").as("s_a"), col("tokens").as("t_a"))
    val b = tok.select(col("source").as("s_b"), col("tokens").as("t_b"))
    val upToMe = col("t_b") < col("t_a") ||
      (col("t_b") === col("t_a") && col("s_b") <= col("s_a"))
    val strictlyBefore = col("t_b") < col("t_a") ||
      (col("t_b") === col("t_a") && col("s_b") < col("s_a"))
    val ranked = a.join(b, upToMe)
      .groupBy(col("s_a").as("source"), col("t_a").as("tokens"))
      .agg(count(lit(1)).as("rn"), sum(col("t_b")).as("prefix"),
        max(when(strictlyBefore, col("t_b"))).as("prev_tokens"))
    val tot = ranked.agg(max(col("rn")).as("k"), sum(col("tokens")).as("tot"))
    // candidate level at every saturation boundary m = rn-1 (level sits
    // between this row's tokens and the next row's); pick the smallest
    // valid m for determinism
    val cand = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("m", col("rn") - 1)
      .withColumn("prefix_m", col("prefix") - col("tokens"))
      .withColumn("lvl", expr("(budget - prefix_m) div (k - m)"))
      .filter(col("lvl") < col("tokens") &&
        (col("m") === 0 || col("lvl") >= col("prev_tokens")))
      .select(col("lvl"), col("m"))
      .orderBy(col("m")).limit(1)
    tok.crossJoin(broadcast(cand))
      .withColumn("alloc", least(col("tokens"), col("lvl")))
      .selectExpr("source", "tokens", "lvl as level", "alloc",
        "(cast(alloc as decimal(38,0)) * 1000000) div tokens as fill_ppm")
      .orderBy("source")
  }
  val p46Sql: String = {
    import TextAnalysis.wordsSql
    s"""WITH tok AS (
       |  SELECT source, SUM(CAST(len($wordsSql) AS BIGINT))::BIGINT AS tokens
       |  FROM documents GROUP BY 1),
       |ranked AS (
       |  SELECT source, tokens,
       |    CAST(ROW_NUMBER() OVER (ORDER BY tokens, source) AS BIGINT) AS rn,
       |    SUM(tokens) OVER (ORDER BY tokens, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
       |    LAG(tokens) OVER (ORDER BY tokens, source) AS prev_tokens
       |  FROM tok),
       |tot AS (SELECT MAX(rn) AS k, SUM(tokens)::BIGINT AS tot FROM ranked),
       |cand AS (
       |  SELECT ((tot // 2) - (prefix - tokens)) // (k - (rn - 1)) AS lvl,
       |    rn - 1 AS m
       |  FROM ranked CROSS JOIN tot
       |  WHERE ((tot // 2) - (prefix - tokens)) // (k - (rn - 1)) < tokens
       |    AND (rn = 1 OR ((tot // 2) - (prefix - tokens)) // (k - (rn - 1)) >= prev_tokens)
       |  ORDER BY m LIMIT 1)
       |SELECT source, tokens, CAST(lvl AS BIGINT) AS level,
       |  LEAST(tokens, CAST(lvl AS BIGINT))::BIGINT AS alloc,
       |  CAST((LEAST(tokens, CAST(lvl AS BIGINT))::HUGEINT * 1000000) // tokens AS BIGINT) AS fill_ppm
       |FROM tok CROSS JOIN cand
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p47
  /** Dedup × temperature interaction: the α=0.5 sampling shares (p33's
    * integer-isqrt weights) computed on RAW tokens vs EXACT-DEDUPED
    * tokens (d01's keep-min-id survivors), per source, with the share
    * shift — duplicate-heavy sources steal mixture weight from clean
    * ones, and this is the bill. Integer-pure: isqrt micro-weights, ppm
    * shares via integral division, shift as a ppm difference.
    *
    * Scale: one tokenize pass with a per-fingerprint min-id window
    * (d01's shape), two bounded per-source rollups. */
  def p47(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf
    VectorFunctions.register(spark)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
        size(expr("word_tokens(text)")).cast("long").as("nt"))
      .withColumn("keep",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("fp")))
    val per = d.groupBy("source")
      .agg(sum(col("nt")).as("raw_tokens"),
        sum(when(col("keep"), col("nt")).otherwise(0L)).as("dedup_tokens"))
      .withColumn("w_raw", Qf.isqrt(col("raw_tokens").cast(Qf.D38) * lit(1000000000000L)))
      .withColumn("w_dedup", Qf.isqrt(col("dedup_tokens").cast(Qf.D38) * lit(1000000000000L)))
    val tw = per.agg(sum(col("w_raw")).as("tw_raw"), sum(col("w_dedup")).as("tw_dedup"))
    per.crossJoin(broadcast(tw))
      .selectExpr("source", "raw_tokens", "dedup_tokens",
        "(w_raw * 1000000) div tw_raw as raw_share_ppm",
        "(w_dedup * 1000000) div tw_dedup as dedup_share_ppm")
      .withColumn("shift_ppm", col("dedup_share_ppm") - col("raw_share_ppm"))
      .orderBy("source")
  }
  val p47Sql: String = {
    import TextAnalysis.wordsSql
    import graft.engine.Qf.isqrtSql
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(text) AS fp,
       |    CAST(len($wordsSql) AS BIGINT) AS nt
       |  FROM documents),
       |k AS (
       |  SELECT source, nt,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
       |  FROM d),
       |per AS (
       |  SELECT source, SUM(nt)::BIGINT AS raw_tokens,
       |    SUM(CASE WHEN keep THEN nt ELSE 0 END)::BIGINT AS dedup_tokens
       |  FROM k GROUP BY 1),
       |wq AS (
       |  SELECT source, raw_tokens, dedup_tokens,
       |    ${isqrtSql("CAST(raw_tokens AS HUGEINT) * 1000000000000")} AS w_raw,
       |    ${isqrtSql("CAST(dedup_tokens AS HUGEINT) * 1000000000000")} AS w_dedup
       |  FROM per),
       |tw AS (SELECT SUM(w_raw)::HUGEINT AS tw_raw,
       |              SUM(w_dedup)::HUGEINT AS tw_dedup FROM wq),
       |ppm AS (
       |  SELECT source, raw_tokens, dedup_tokens,
       |    CAST((w_raw * 1000000) // tw_raw AS BIGINT) AS raw_share_ppm,
       |    CAST((w_dedup * 1000000) // tw_dedup AS BIGINT) AS dedup_share_ppm
       |  FROM wq CROSS JOIN tw)
       |SELECT source, raw_tokens, dedup_tokens, raw_share_ppm, dedup_share_ppm,
       |  dedup_share_ppm - raw_share_ppm AS shift_ppm
       |FROM ppm ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- p48
  /** Deterministic corpus exemplars: 5 sample documents per source picked
    * by the custom `bottomk_sample` aggregate (priority = md5(text), ties
    * by doc id) — the reproducible "show me what this feed looks like"
    * table for dataset cards and incident triage. The same exemplars come
    * back on every run, at any parallelism, after any re-ingest; a
    * rand()-sample would churn and be un-oracle-able.
    *
    * Scale: ONE map-combinable aggregation whose state is 5 strings per
    * source regardless of corpus size (the aggregate's lattice-join
    * merge) — no window, no sort of the corpus. */
  def p48(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(expr("bottomk_sample(md5(text), cast(doc_id as string), 5)").as("sample"))
      .select(col("source"), posexplode(col("sample")))
      .select(col("source"), (col("pos") + 1).cast("long").as("sample_rank"),
        col("col").cast("long").as("doc_id"))
      .orderBy("source", "sample_rank")
  }
  val p48Sql: String =
    """WITH d AS (SELECT source, doc_id, md5(text) AS pr FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY pr, CAST(doc_id AS VARCHAR)) AS rnk
      |  FROM d)
      |SELECT source, CAST(rnk AS BIGINT) AS sample_rank,
      |  CAST(doc_id AS BIGINT) AS doc_id
      |FROM r WHERE rnk <= 5 ORDER BY source, sample_rank""".stripMargin

  // ---------------------------------------------------------------- p49
  /** Repeat-cap sweep: p10's equal-share mixture at caps ∈ {1, 2, 4, 8}
    * — per cap the EFFECTIVE epoch tokens Σ min(target, cap·tokens),
    * the fill vs the equal-share plan (ppm), and how many sources are
    * STARVED (their cap binds). p10 hard-codes cap 4; this prices the
    * knob: a low cap protects against memorizing tiny sources but
    * leaves the epoch short of plan. Integer-pure throughout (the
    * capped effective tokens are min of exact integers — no repeat
    * RATIO is ever materialized).
    *
    * Scale: one token rollup + per-cap arithmetic on the
    * \|sources\|-bounded frame; 4-row output. */
  def p49(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(expr("word_tokens(text)")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("tokens"))
      .cache()
    val tot = per.agg(sum(col("tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    val based = per.crossJoin(broadcast(tot))
      .withColumn("target", expr("corpus_tokens div n_sources"))
    Seq(1, 2, 4, 8).map { cap =>
      based
        .withColumn("eff", least(col("target"), col("tokens") * cap))
        .withColumn("starved", (col("target") > col("tokens") * cap).cast("long"))
        .agg(sum(col("eff")).as("epoch_tokens"),
          sum(col("starved")).as("starved_sources"),
          max(col("target") * col("n_sources")).as("plan_tokens"))
        .selectExpr(s"cast($cap as bigint) as repeat_cap",
          "epoch_tokens", "plan_tokens", "starved_sources",
          "(cast(epoch_tokens as decimal(38,0)) * 1000000) div plan_tokens as fill_ppm")
    }.reduce(_.unionByName(_)).orderBy("repeat_cap")
  }
  val p49Sql: String = {
    import TextAnalysis.wordsSql
    val per = Seq(1, 2, 4, 8).map { cap =>
      s"""SELECT CAST($cap AS BIGINT) AS repeat_cap,
         |  SUM(LEAST(target, tokens * $cap))::BIGINT AS epoch_tokens,
         |  MAX(target * n_sources)::BIGINT AS plan_tokens,
         |  SUM(CASE WHEN target > tokens * $cap THEN 1 ELSE 0 END)::BIGINT AS starved_sources,
         |  CAST((SUM(LEAST(target, tokens * $cap))::HUGEINT * 1000000)
         |    // MAX(target * n_sources) AS BIGINT) AS fill_ppm
         |FROM based""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH per AS (
       |  SELECT source, SUM(CAST(len($wordsSql) AS BIGINT)) AS tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(tokens)::BIGINT AS corpus_tokens,
       |               COUNT(*)::BIGINT AS n_sources FROM per),
       |based AS (SELECT source, tokens, corpus_tokens // n_sources AS target,
       |                 n_sources
       |          FROM per CROSS JOIN tot)
       |$per
       |ORDER BY repeat_cap""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "p49_repeat_cap_sweep" -> (p49 _),
    "p48_shard_exemplars" -> (p48 _),
    "p47_dedup_temp_shift" -> (p47 _),
    "p46_water_filling" -> (p46 _),
    "p45_bucketed_padding" -> (p45 _),
    "p44_holdout_sweep" -> (p44 _),
    "p43_epoch_dup_exposure" -> (p43 _),
    "p42_quality_gate_sweep" -> (p42 _),
    "p41_accounting_drift" -> (p41 _),
    "p40_temperature_rebalance" -> (p40 _),
    "p39_decontam_order_ab" -> (p39 _),
    "p38_context_fill" -> (p38 _),
    "p37_holdout_drift" -> (p37 _),
    "p36_shard_skew" -> (p36 _),
    "p35_budget_gap" -> (p35 _),
    "p34_curriculum_plan" -> (p34 _),
    "p33_temperature_sweep" -> (p33 _),
    "p32_corpus_scorecard" -> (p32 _),
    "p31_split_stability" -> (p31 _),
    "p30_split_gate" -> (p30 _),
    "p29_cluster_split" -> (p29 _),
    "p28_split_leakage" -> (p28 _),
    "p27_anneal_plan" -> (p27 _),
    "p26_snapshot_diff" -> (p26 _),
    "p25_shard_balance" -> (p25 _),
    "p24_dataset_card" -> (p24 _),
    "p23_stage_order_ab" -> (p23 _),
    "p22_lang_funnel" -> (p22 _),
    "p20_cross_shard_dups" -> (p20 _),
    "p19_keeper_policy_compare" -> (p19 _),
    "p18_quality_budget_curve" -> (p18 _),
    "p17_source_funnel" -> (p17 _),
    "p16_dedup_lang_impact" -> (p16 _),
    "p15_quality_dup_matrix" -> (p15 _),
    "p14_curation_ledger" -> (p14 _),
    "p13_epoch_plan" -> (p13 _),
    "p12_shard_manifest" -> (p12 _),
    "p11_dedup_savings" -> (p11 _),
    "p10_mixture_epochs" -> (p10 _),
    "p09_sequence_packing" -> (p09 _),
    "p08_corpus_datasheet" -> (p08 _),
    "p07_training_manifest" -> (p07 _),
    "p06_incremental_ingest" -> (p06 _),
    "p01_corpus_pipeline" -> (p01 _),
    "p02_embedding_pipeline" -> (p02 _),
    "p03_token_budget_mix" -> (p03 _),
    "p04_decontam_pipeline" -> (p04 _),
    "p05_multimodal_curation" -> (p05 _),
  )

  val oracle: Map[String, String] = Map(
    "p49_repeat_cap_sweep" -> p49Sql,
    "p48_shard_exemplars" -> p48Sql,
    "p47_dedup_temp_shift" -> p47Sql,
    "p46_water_filling" -> p46Sql,
    "p45_bucketed_padding" -> p45Sql,
    "p44_holdout_sweep" -> p44Sql,
    "p43_epoch_dup_exposure" -> p43Sql,
    "p42_quality_gate_sweep" -> p42Sql,
    "p41_accounting_drift" -> p41Sql,
    "p40_temperature_rebalance" -> p40Sql,
    "p39_decontam_order_ab" -> p39Sql,
    "p38_context_fill" -> p38Sql,
    "p37_holdout_drift" -> p37Sql,
    "p36_shard_skew" -> p36Sql,
    "p35_budget_gap" -> p35Sql,
    "p34_curriculum_plan" -> p34Sql,
    "p33_temperature_sweep" -> p33Sql,
    "p32_corpus_scorecard" -> p32Sql,
    "p31_split_stability" -> p31Sql,
    "p30_split_gate" -> p30Sql,
    "p29_cluster_split" -> p29Sql,
    "p28_split_leakage" -> p28Sql,
    "p27_anneal_plan" -> p27Sql,
    "p26_snapshot_diff" -> p26Sql,
    "p25_shard_balance" -> p25Sql,
    "p24_dataset_card" -> p24Sql,
    "p23_stage_order_ab" -> p23Sql,
    "p22_lang_funnel" -> p22Sql,
    "p20_cross_shard_dups" -> p20Sql,
    "p19_keeper_policy_compare" -> p19Sql,
    "p18_quality_budget_curve" -> p18Sql,
    "p17_source_funnel" -> p17Sql,
    "p16_dedup_lang_impact" -> p16Sql,
    "p15_quality_dup_matrix" -> p15Sql,
    "p14_curation_ledger" -> p14Sql,
    "p13_epoch_plan" -> p13Sql,
    "p12_shard_manifest" -> p12Sql,
    "p11_dedup_savings" -> p11Sql,
    "p10_mixture_epochs" -> p10Sql,
    "p09_sequence_packing" -> p09Sql,
    "p08_corpus_datasheet" -> p08Sql,
    "p07_training_manifest" -> p07Sql,
    "p06_incremental_ingest" -> p06Sql,
    "p01_corpus_pipeline" -> p01Sql,
    "p03_token_budget_mix" -> p03Sql,
    "p04_decontam_pipeline" -> p04Sql,
  )
}
