package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.engine.Qf._
import graft.functions.VectorFunctions

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.3) over
  * `documents`.
  *
  * Scale design: all near-dup detection goes through inverted indexes
  * (explode on shingle / LSH band) + shuffle joins on those keys — never a
  * cross join. Candidate pairs are then verified distributively with exact
  * set arithmetic. Jaccard thresholds compare with integer
  * cross-multiplication (`k*inter >= m*union`), no float boundary issues.
  *
  * The keys in `sql` are operators that are their oracle text, bound to
  * the table loaders by `Tables.sql` (see `Relational`); their DuckDB
  * compare is a cross-engine check, not a second implementation.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct word 3-gram shingles per doc (docs with >= 3 tokens);
    * codegen-path kernel (graft.functions.WordNGrams), same output as the
    * composable filter/transform/array_distinct form. */
  private[operators] def shingled(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("word_ngrams(text, 3)").as("grams"))
      .filter(size(col("grams")) >= 1)
  }

  /** DuckDB mirror of `shingled` (1-based list indexing). */
  private[operators] val shingledSql: String =
    """SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)
      |WHERE len(w) >= 3""".stripMargin

  /** Posting list with the doc's (distinct) gram-set size carried on
    * every row — the size is a per-doc constant, so downstream pair
    * aggregations recover it with a map-combinable min() instead of
    * re-joining a sizes frame onto the (much larger) pair stream. */
  private[operators] def postingWithSize(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("grams")).cast("long").as("n"),
      explode(col("grams")).as("g"))

  /** Co-posting pair counts with both docs' set sizes recovered IN the
    * pair aggregation (min over the per-doc constant `n` carried on the
    * posting rows) — the shared join+groupBy core of the pair family.
    * Versus the old shape (aggregate, then join a sizes frame twice on
    * doc_a/doc_b) this removes two exchanges/joins OF THE PAIR STREAM,
    * the biggest frame in the plan, at the cost of one extra long on
    * each posting row (guide §2.3/§2.4). */
  private[operators] def coPairCounts(posting: DataFrame): DataFrame =
    posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))

  /** Inverted-index all-pairs Jaccard with the INTEGER evidence kept
    * (doc_a, doc_b, inter, un) — the exact-arithmetic core jaccardPairs
    * projects the double ratio from; d64 reads the integers directly so
    * its ppm output never touches a float. */
  private[operators] def jaccardPairCounts(sh: DataFrame, num: Int, den: Int): DataFrame =
    coPairCounts(postingWithSize(sh))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * den >= col("un") * num)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("un"))

  /** Inverted-index all-pairs Jaccard (exact for J >= any threshold > 0):
    * docs sharing no shingle can never reach the threshold. */
  private[operators] def jaccardPairs(sh: DataFrame, num: Int, den: Int): DataFrame =
    jaccardPairCounts(sh, num, den)
      .select(col("doc_a"), col("doc_b"), (dbl(col("inter")) / dbl(col("un"))).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  private[operators] def jaccardPairsSql(num: Int, den: Int): String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes na ON doc_a = na.doc_id
       |JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE inter * $den >= (na.n + nb.n - inter) * $num
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d01
  /** Exact dedup via content hash, keep-min-id per group. */
  val d01Sql: String =
    """SELECT h, COUNT(*) AS n_copies, CAST(MIN(doc_id) AS BIGINT) AS keep_id
      |FROM (SELECT doc_id, md5(text) AS h FROM documents)
      |GROUP BY h ORDER BY h""".stripMargin

  // ---------------------------------------------------------------- d02
  /** MinHash (128 perms) + LSH banding (32 bands x 4 rows) candidate
    * generation, then exact-Jaccard verification at >= 0.8.
    *
    * The minhash signature is computed in ONE aggregation (128 min()
    * columns with map-side partial aggregation — not a doc x perm
    * shuffle). P(miss | J >= 0.8) = (1 - 0.8^4)^32 < 5e-8, so the output
    * equals the exact all-pairs oracle on any realistic dataset.
    */
  def d02(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    d02Verify(sh, d02Candidates(spark, dir))
  }

  /** d02's LSH candidate generator (128-perm MinHash, 32 bands of 4):
    * exposed so the candidate-quality report (d29) can count the pair
    * stream BEFORE exact verification. */
  private[operators] def d02Candidates(spark: SparkSession, dir: String): DataFrame = {
    val bands = d02Bands(spark, dir)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** d02's banded signature table (doc_id, band, key) — the 128-perm
    * MinHash folded into 32 bands of 4. Shared by the candidate
    * self-join and the bucket-occupancy audit (d39). */
  /** 128-permutation MinHash signature (columns m0..m127) per doc.
    * Carter-Wegman universal hash family mod 2^31-1: a*h fits in a long
    * (< 2^62) and a ranges over the FULL multiplicative group, so the 128
    * permutations are genuinely independent (a small-`a` family would be
    * order-preserving in h and break min-wise independence). ONE
    * aggregation (128 min() columns with map-side partial aggregation —
    * not a doc × perm shuffle). */
  private def minhashSig(sh: DataFrame): DataFrame = {
    val P = 2147483647L // 2^31 - 1 (Mersenne prime)
    val rnd = new scala.util.Random(42)
    val perms = Array.fill(128)((1L + rnd.nextInt((P - 1).toInt).toLong, rnd.nextInt(P.toInt).toLong))
    val posting = sh.select(col("doc_id"), explode(col("grams")).as("g"))
      .select(col("doc_id"), pmod(xxhash64(col("g")), lit(P)).as("h"))
    val minhashCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"m$i")
    }
    posting.groupBy("doc_id").agg(minhashCols.head, minhashCols.tail.toIndexedSeq: _*)
  }

  /** Bands the 128-col signature into `nBands` keys of `rowsPerBand`
    * signature rows each (nBands · rowsPerBand must not exceed 128). */
  private def bandsOf(sig: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame = {
    require(nBands * rowsPerBand <= 128, "banding exceeds the 128-perm signature")
    val bandCols = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        xxhash64((j * rowsPerBand until (j + 1) * rowsPerBand)
          .map(i => col(s"m$i")): _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private[operators] def d02Bands(spark: SparkSession, dir: String): DataFrame =
    // cache the (tiny) band table: consumers self-join or re-aggregate it,
    // which would otherwise recompute the 128-column signature aggregation
    bandsOf(sharedSig(spark, dir), 32, 4).cache()

  /** The 128-perm signature frame, aggregated ONCE per (session, dir)
    * and shared by every signature consumer (d02/d29/d39 through the
    * band table, d52's band sweep, d53's estimator audit) — the same
    * materialize-once posture as [[sharedPairs]]. Checkpoint-backed so
    * Bench's clearCache() between queries doesn't evict it. */
  private def sharedSig(spark: SparkSession, dir: String): DataFrame =
    Memo.shared(spark, dir, Memo.Key.Sig)(Memo.checkpoint(spark,
      minhashSig(shingled(spark, dir).cache())
        .transform(d => Tables.smallFrameParts(spark, dir).fold(d)(d.coalesce))))

  /** Exact J ≥ 0.8 verification of a candidate pair stream. */
  private def d02Verify(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val ga = sh.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = sh.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    candidates.join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("un", size(col("grams_a")).cast("long") + size(col("grams_b")).cast("long") - col("inter"))
      .filter(col("inter") * 5 >= col("un") * 4)
      .select(col("doc_a"), col("doc_b"), (dbl(col("inter")) / dbl(col("un"))).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }
  val d02Sql: String = jaccardPairsSql(4, 5) // J >= 0.8

  // ---------------------------------------------------------------- d03
  /** Distributed all-pairs 3-gram Jaccard >= 0.5 via shingle inverted
    * index (exact: J >= 0.5 implies a shared shingle). */
  def d03(spark: SparkSession, dir: String): DataFrame =
    // cache: the shingle frame feeds both posting sides and both size
    // joins — without it the doc scan + n-gram kernel runs 4x
    jaccardPairs(shingled(spark, dir).cache(), 1, 2)
  val d03Sql: String = jaccardPairsSql(1, 2) // J >= 0.5

  /** The J ≥ 0.5 pair stream, materialized ONCE per (session, dir) and
    * shared by every report operator that composes on top of it (d10,
    * d20, d22, d24, d25, p11) — the common-subexpression reuse a
    * production curation run gets by construction (compute the pair
    * evidence once, fan the reports out). d03 itself stays direct: it IS
    * the benchmarked pair pipeline. The map holds one persisted frame
    * per dataset path; on a cluster the persist level spills to disk. */
  // Built UNSORTED: every sharedPairs consumer re-aggregates or joins, so
  // d03's output orderBy would be a wasted range-exchange + sort in the
  // materialized frame (guide §2.4 — an orderBy used only for output
  // determinism does not belong in a shared intermediate).
  private[operators] def sharedPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.shared(spark, dir, Memo.Key.Pairs)(
      jaccardPairCounts(shingled(spark, dir).cache(), 1, 2)
        .select(col("doc_a"), col("doc_b"),
          (dbl(col("inter")) / dbl(col("un"))).as("jaccard"))
        // narrow input → tiny pair stream: persist it at a few partitions
        // so each of its ~15 consumers' stages isn't a full task wave
        // over KB-sized cached partitions (Tables.smallFrameParts doc)
        .transform(d => Tables.smallFrameParts(spark, dir).fold(d)(d.coalesce))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // ---------------------------------------------------------------- d06
  /** Scale-path variant of d03: drop shingles whose document frequency
    * exceeds `maxDf` BEFORE the self-join — hot "stop-gram" postings cost
    * O(df^2) pair rows while contributing little evidence for
    * high-Jaccard pairs. Intersections are COUNTED in the pair
    * aggregation (same shape as d03 — no per-pair array_intersect);
    * unions use full shingle-set sizes, so when hot shingles exist the
    * reported jaccard is a lower bound and the threshold is conservative
    * (rows-only check — d03 remains the exact baseline). */
  def d06(spark: SparkSession, dir: String): DataFrame = {
    val maxDf = 50
    val sh = shingled(spark, dir).cache()
    val posting = postingWithSize(sh)
    val rare = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("g")
    // the df filter drops posting ROWS; `n` (per-doc set size) rides along
    val rarePosting = posting.join(rare, "g")
    coPairCounts(rarePosting)
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("un"))
      .select(col("doc_a"), col("doc_b"), (dbl(col("inter")) / dbl(col("un"))).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d04
  /** 64-bit SimHash + 16-bit Hamming-band near-dup buckets (rows-only
    * check: no portable SQL oracle for the hash kernel). */
  def d04(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    // single-pass per-row signature kernel (element hashing = Spark's
    // xxhash64, so signatures match the composed explode + 64-column
    // bit-sum form bit for bit — spec-proven). Zero-token docs carry no
    // signal and would all collide at signature 0 — drop them exactly
    // like the old explode form did (zero tokens ⟺ trim(text) empty).
    val sig = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), expr("simhash64(word_tokens(text))").as("simhash"))
      .cache() // band self-join reads sig twice; don't re-tokenize per side
    hammingBandPairs(sig, "simhash", maxHamming = 8)
      .orderBy("doc_a", "doc_b") // d04's own output contract
  }

  /** Banded Hamming near-dup pair join shared by d04 (word-level
    * signatures) and m05 (payload-level): 4 × 16-bit bands bucket the
    * candidates — only same-band-key signatures ever meet — and XOR
    * popcount verifies. `sig` must carry (doc_id, `sigCol`).
    *
    * Built UNSORTED (guide §2.4 — an output sort does not belong in a
    * shared kernel): d59 caches this stream and a baked-in orderBy was
    * pinned into the cached copy as a range exchange + sort Catalyst
    * cannot eliminate across the InMemoryRelation boundary. The
    * output-contract consumers (d04, m05 via payloadNearDup) sort at
    * their own edge. */
  private[operators] def hammingBandPairs(sig: DataFrame, sigCol: String,
                                          maxHamming: Int): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"), shiftright(col(sigCol), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val bands = sig.select(col("doc_id"), col(sigCol), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col(sigCol), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              bit_count(col(s"x.$sigCol").bitwiseXOR(col(s"y.$sigCol"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------- d05
  /** Embedding-cosine near-dup pairs. Exact all-pairs semantics (the
    * approximate scale path is s02/s03); the O(n^2) compare is blocked by
    * broadcasting one side and stays fully codegen'd — double math folds
    * sequentially over the vector exactly like the DuckDB list_reduce
    * oracle (IEEE: 0.0 + x == x). */
  def d05(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"), expr("vec_norm(embedding)").as("nrm"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("dot", expr("vec_dot(va, vb)"))
      .withColumn("cos", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.35d)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }
  val d05Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
      |  FROM e)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  ROUND(list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
      |        / (a.nrm * b.nrm), 6) AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE ROUND(list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (x, y) -> x + y)
      |        / (a.nrm * b.nrm), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- d07
  /** Bucketed scale path for d05: random-hyperplane LSH candidate
    * generation + the SAME exact `round(cos, 6) >= 0.35` verify. d05 stays
    * the exactness oracle (a spec asserts d07's pair set equals d05's on
    * the test data); at 10^9 vectors d05's all-pairs broadcast is
    * intractable while this plan is a pair of key-shuffles.
    *
    * Parameter derivation (all from first principles, no magic numbers):
    *  - a 256-bit hyperplane-sign signature is computed ONCE per vector
    *    (codegen'd vec_sign_bits kernel); each of the L tables samples `b`
    *    of those bits — the standard bit-sampling amplification, so the
    *    signature pass is O(N), not O(N * L * b). The signature must be
    *    WIDE: per-pair bit agreement concentrates at p with std
    *    sqrt(p(1-p)/256) ~ 3%, so no pair gets stuck with an unlucky
    *    agreement fraction across all tables (a 64-bit signature missed
    *    exactly one sf0.01 pair this way).
    *  - per-plane agreement for a pair at the cosine threshold is
    *    p = 1 - acos(t)/pi (Goemans-Williamson); a pair collides in one
    *    table with p^b, in any of L tables with 1 - (1-p^b)^L.
    *  - `b` grows with log2(N / targetBucketWidth) so expected bucket
    *    width stays ~constant (fixed bits would re-create the O(N^2)
    *    within-bucket blow-up at scale).
    *  - `L` is solved from the per-pair recall target 1 - 1e-6, with a
    *    96-table compute budget. COST-BASED STRATEGY CHOICE: when the
    *    derived L exceeds the budget, meeting the recall target via LSH
    *    costs more than the blocked exact compare at this N — so the
    *    operator takes d05's exact path instead (recall 1.0 by
    *    construction). This is the crossover every ANN system has:
    *    low thresholds (this synthetic data's 0.35 → p = 0.614) make
    *    sign-LSH amplification expensive, while real near-dup regimes
    *    (clustered embeddings, t >= 0.9 → p >= 0.856) keep L small and
    *    the LSH path wins precisely where N² is intractable. The result
    *    is EXACT at every scale either way — the driver gate (sf0.01,
    *    derived L = 91) exercises the LSH plan. */
  def d07(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val threshold = 0.35
    val sigBits = 256
    val lBudget = 96
    val nVecs = Tables.embeddings(spark, dir).count()
    val b = math.min(16, math.max(4,
      math.ceil(math.log(math.max(nVecs, 1L).toDouble / 32.0) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val lTables = math.max(1,
      math.ceil(math.log(1e-6) / math.log1p(-math.pow(p, b))).toInt)
    if (lTables > lBudget) return d05(spark, dir)
      .select(col("vec_a"), col("vec_b"), col("cos"))

    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"), expr("vec_norm(embedding)").as("nrm"))
    val signed = e.select(col("vec_id"), expr(s"vec_sign_bits(v, 1013, $sigBits)").as("sig"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache() // tiny (id + 4 longs); read by both sides of the bucket join
    // key assembly runs in the vec_lsh_keys kernel (one invoke per row):
    // the composed-Column form (L structs x b shift/masks) overflows the
    // 64KB codegen method limit at L ~ 100 and drops the stage to
    // interpreted eval
    val posting = signed
      .select(col("vec_id"),
        posexplode(expr(s"vec_lsh_keys(sig, 2027, $sigBits, $b, $lTables)")).as(Seq("t", "key")))
    val candidates = posting.as("x").join(posting.as("y"),
        col("x.t") === col("y.t") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // exact verify on candidates only — shuffle joins by id, no broadcast
    // hint (AQE may still broadcast when a side genuinely fits)
    val va = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    candidates.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  // ---------------------------------------------------------------- d08
  /** Canonical-copy selection: after dup detection, pick WHICH copy to
    * keep — one winner per normalized-content fingerprint, preferring the
    * most-trusted source (here: lower source index; the ranking is a
    * parameter), then the smallest doc_id for determinism.
    *
    * Scale: one shuffle on the fingerprint; the per-group window is
    * bounded by duplicate multiplicity (not corpus size), and groups are
    * uniform because the key is a content hash. */
  def d08(spark: SparkSession, dir: String): DataFrame = {
    val prio = substring(col("source"), 4, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("src_prio"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .withColumn("src_prio", prio)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"), col("source").as("keep_source"),
              col("n_copies"))
      .orderBy("fp")
  }
  val d08Sql: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |    CAST(substr(source, 4) AS BIGINT) AS src_prio
      |  FROM documents),
      |r AS (
      |  SELECT fp, doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY src_prio, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY fp) AS n_copies
      |  FROM f)
      |SELECT fp, doc_id AS keep_id, source AS keep_source, n_copies
      |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- d09
  /** Incremental (delta-vs-corpus) dedup — the daily-ingest shape: dedup
    * only the NEW batch against the standing corpus instead of
    * re-deduplicating the whole 100 TB. Delta = doc_id % 5 == 0 (a
    * stand-in for the day's arrivals); corpus = the rest.
    *
    * A delta doc is dropped when (a) an exact md5 twin exists in the
    * corpus (left-anti hash join) or (b) some corpus doc reaches 3-gram
    * Jaccard >= 0.8 — candidates via the shingle inverted index (delta
    * postings joined to corpus postings, never delta x corpus), verified
    * with exact integer set arithmetic.
    *
    * Scale: the corpus side of the posting index and the corpus hash set
    * are computed once and persisted (Warehouse) in real use; each run
    * shingles only the delta and shuffles on shingle/hash keys. The
    * inverted-index join is the d03/d06 machinery, so the d06 df-cap is
    * the drop-in guard for hot shingles at corpus scale. */
  def d09(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % 5 === 0
    val delta = docs.filter(isDelta)
    val corpusHashes = docs.filter(!isDelta).select(md5(col("text")).as("h")).distinct()
    val exactSurvivors = delta.withColumn("h", md5(col("text")))
      .join(corpusHashes, Seq("h"), "left_anti")

    val sh = shingled(spark, dir).cache()
    val shD = sh.filter(isDelta)
    val shC = sh.filter(!isDelta)
    val pd = shD.select(col("doc_id").as("d_id"), explode(col("grams")).as("g"))
    val pc = shC.select(col("doc_id").as("c_id"), explode(col("grams")).as("g"))
    val inter = pd.join(pc, "g")
      .groupBy("d_id", "c_id").agg(count(lit(1)).as("inter"))
    val nd = shD.select(col("doc_id").as("d_id"), size(col("grams")).cast("long").as("nd"))
    val nc = shC.select(col("doc_id").as("c_id"), size(col("grams")).cast("long").as("nc"))
    val nearHit = inter.join(nd, "d_id").join(nc, "c_id")
      .filter(col("inter") * 5 >= (col("nd") + col("nc") - col("inter")) * 4)
      .select(col("d_id").as("doc_id")).distinct()

    exactSurvivors.join(nearHit, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }
  val d09Sql: String =
    s"""WITH sh AS ($shingledSql),
       |corpus_h AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
       |pd AS (SELECT doc_id AS d_id, UNNEST(grams) AS g FROM sh WHERE doc_id % 5 = 0),
       |pc AS (SELECT doc_id AS c_id, UNNEST(grams) AS g FROM sh WHERE doc_id % 5 <> 0),
       |inter AS (
       |  SELECT d_id, c_id, COUNT(*) AS inter FROM pd JOIN pc USING (g) GROUP BY 1, 2),
       |nd AS (SELECT doc_id AS d_id, CAST(len(grams) AS BIGINT) AS nd FROM sh WHERE doc_id % 5 = 0),
       |nc AS (SELECT doc_id AS c_id, CAST(len(grams) AS BIGINT) AS nc FROM sh WHERE doc_id % 5 <> 0),
       |near_hit AS (
       |  SELECT DISTINCT d_id AS doc_id
       |  FROM inter JOIN nd USING (d_id) JOIN nc USING (c_id)
       |  WHERE inter * 5 >= (nd + nc - inter) * 4)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id % 5 = 0
       |  AND md5(text) NOT IN (SELECT h FROM corpus_h)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_hit)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d10
  /** Duplicate-CLUSTER resolution: near-dup pairs only relate docs
    * pairwise; picking one keeper per transitive group needs CONNECTED
    * COMPONENTS over the pair graph. Emits (doc_id, cluster_id) for every
    * doc in some J >= 0.5 pair, cluster_id = min doc_id of the component.
    *
    * Distributed min-label propagation: every node starts labeled with
    * itself; each round takes the min of its own and its neighbors'
    * labels (one shuffle join + one map-side-combinable min agg per
    * round) until a driver-side count of changed labels reaches zero —
    * the iterative-fixpoint exception, O(component diameter) rounds.
    * Near-dup components are short chains, so 2-3 rounds in practice; at
    * 100 TB the same loop runs with the alternating large-star/small-star
    * optimization if diameters grow. Oracle: DuckDB recursive-CTE
    * transitive closure. */
  def d10(spark: SparkSession, dir: String): DataFrame =
    sharedClusters(spark, dir)

  /** The connected-component labels of the shared J ≥ 0.5 pair graph,
    * computed ONCE per (session, dir) — d10's output, also consumed by
    * the cluster-size histogram (d28). The CC loop's final generation is
    * already checkpoint-materialized, so the shared frame reuses those
    * blocks (which clearCache() does not touch) rather than re-running
    * the iterative joins. */
  private def sharedClusters(spark: SparkSession, dir: String): DataFrame =
    Memo.shared(spark, dir, Memo.Key.Clusters)(
      connectedComponents(sharedPairs(spark, dir).select("doc_a", "doc_b"),
        Tables.smallFrameParts(spark, dir)))

  /** Min-label propagation to fixpoint over an undirected (doc_a, doc_b)
    * pair graph — d10's core, shared with the multimodal cluster view
    * (m07). Per round: one join + one map-combinable min-agg per node;
    * real dup graphs are short chains so rounds ≈ 2-3 (see SCALE.md for
    * the alternating-star variant that bounds adversarial diameters). */
  private[operators] def connectedComponents(pairFrame: DataFrame,
                                             parts: Option[Int] = None): DataFrame = {
    // parts (Tables.smallFrameParts): on narrow single-file inputs the
    // edge list and every label generation are tiny — persist them at a
    // few partitions so each of the O(log diameter) rounds' stages isn't
    // a full `cores`-task wave over KB-sized partitions. None on a real
    // corpus (full parallelism).
    val spark = pairFrame.sparkSession
    val shrink: DataFrame => DataFrame = d => parts.fold(d)(d.coalesce)
    val pairs = pairFrame.cache()
    val edges = shrink(pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst"))
      .cache()
    // localCheckpoint (not just cache) per generation: each round's plan
    // would otherwise reference the previous round's FULL lineage, so a
    // high-diameter graph (many rounds) grows the plan tree geometrically
    // until planning itself exhausts the heap. Checkpointing truncates
    // lineage to the materialized partitions — memory stays flat per
    // round at any diameter. Every generation is registered through
    // Memo.checkpoint, so release frees the final one too. (At cluster
    // scale: checkpoint to reliable storage instead; same call shape.)
    var labels = Memo.checkpoint(spark, shrink(edges.select(col("src").as("doc_id"))
      .distinct().withColumn("label", col("doc_id"))))
    var changed = 1L
    while (changed > 0) {
      // min over (own label ∪ neighbor labels) in ONE aggregation: the
      // neighbor stream joins labels once (on dst) and the own-label row
      // rides a union into the same min() — the old separate
      // labels⋈neighborMin join is gone (guide §2.4: one exchange fewer
      // per round). `own` is null on neighbor rows, so max(own) recovers
      // the node's previous label for the change count.
      val stepped = edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("l")), "dst")
        .select(col("src").as("doc_id"), col("l"),
          lit(null).cast("long").as("own"))
        .unionByName(labels.select(col("doc_id"), col("label").as("l"),
          col("label").as("own")))
        .groupBy("doc_id")
        .agg(min(col("l")).as("label"), max(col("own")).as("old"))
        .select(col("doc_id"), col("label"),
          (col("label") < col("old")).cast("long").as("chg"))
      // pointer jumping: label := label(label). Every label is itself a
      // node id in `labels`, so the self-join is total; doubling the hop
      // each round turns O(diameter) convergence into O(log diameter) —
      // the byte-SimHash graph (m07) has ~400-node chains of diameter
      // ~23, which plain propagation walked one hop per barrier. (Both
      // sides are the same subplan; Spark's ReusedExchange computes the
      // stepped shuffle once.)
      val next = Memo.checkpoint(spark, shrink(stepped.as("x") // drops lineage
        .join(stepped.select(col("doc_id").as("lid"), col("label").as("ll")).as("y"),
          col("x.label") === col("y.lid"))
        .select(col("x.doc_id"), least(col("x.label"), col("y.ll")).as("label"),
                (col("x.chg") + (col("y.ll") < col("x.label")).cast("long")).as("chg"))))
      // an empty pair frame sums to null: nothing changed
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      Memo.hardUnpersist(labels) // superseded generation (checkpoint blocks too)
      labels = next.select("doc_id", "label")
    }
    labels.select(col("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
  }
  val d10Sql: String = {
    // strip ORDER BY + jaccard column from the d03 pair query for the CTE
    val pairSql = jaccardPairsSql(1, 2)
      .replace("ORDER BY doc_a, doc_b", "")
      .replaceFirst("""SELECT doc_a, doc_b,\n  CAST\(inter AS DOUBLE\) / CAST\(na\.n \+ nb\.n - inter AS DOUBLE\) AS jaccard""",
        "SELECT doc_a, doc_b")
    s"""WITH RECURSIVE pairs AS ($pairSql),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d11
  /** Benchmark decontamination: training documents that share a word
    * 4-gram with any held-out evaluation document (here the
    * deterministic 5% split doc_id % 20 == 0 stands in for the eval
    * benchmark) — the standard "n-gram overlap" test run before LLM
    * training, reported as a per-doc contamination audit (the drop is
    * then a trivial anti-join on doc_id).
    *
    * Scale: the eval set is small by construction (benchmarks are
    * thousands of docs vs billions of training docs), so its exploded
    * posting list is the broadcast side; the training corpus streams
    * through map-side — NO shuffle of the 100 TB side at all. Counts are
    * distinct shared shingles / distinct eval docs hit, aggregated on
    * the (train-doc, shingle) join output whose size is bounded by the
    * eval corpus's posting list, not the corpus cross-product. */
  def d11(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("word_ngrams(text, 4)").as("grams"))
      .filter(size(col("grams")) >= 1)
    val post = sh.select(col("doc_id"), explode(col("grams")).as("g"))
    val eval_ = post.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val train = post.filter(col("doc_id") % 20 =!= 0)
    train.join(broadcast(eval_), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
           countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }
  val d11Sql: String =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2),
      |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS grams
      |       FROM w WHERE len(w) >= 4),
      |p AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
      |ev AS (SELECT doc_id AS eval_id, g FROM p WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, g FROM p WHERE doc_id % 20 <> 0)
      |SELECT tr.doc_id, COUNT(DISTINCT tr.g) AS n_shared_grams,
      |       COUNT(DISTINCT eval_id) AS n_eval_docs
      |FROM tr JOIN ev USING (g)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- d12
  /** Fuzzy benchmark decontamination: training docs whose 3-gram-shingle
    * Jaccard with ANY held-out eval doc (same doc_id % 20 == 0 split as
    * d11) reaches 0.5 — the MinHash complement to d11's exact n-gram
    * overlap test, catching lightly-paraphrased contamination whose
    * shingle SET still overlaps even where no single 4-gram survives.
    *
    * Same 128-perm Carter–Wegman signature as d02, re-banded 64x2 for
    * the lower threshold: P(miss | J >= 0.5) <= (1 - 0.5^2)^64 < 1e-8,
    * so the output equals the exact cross-split oracle. Scale: the
    * signature is ONE map-side-combinable aggregation over the corpus;
    * the eval band table (benchmarks are thousands of docs vs billions
    * of training docs) is the broadcast side of both the candidate and
    * verify joins, so the 100 TB training side is never shuffled —
    * candidate volume is bounded by the eval posting list. */
  def d12(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    // the 64x2 banding of the SAME 128-perm signature d02 aggregates
    // (identical perms, hash and band keys — bandsOf(sig, 64, 2) keys on
    // xxhash64(m_{2j}, m_{2j+1}) exactly as the inline version did):
    // ride the session-memoized signature instead of re-aggregating the
    // 128-column minhash in-query. Output bit-identical; cache because
    // the eval/train filters below each consume the band table.
    val bands = bandsOf(sharedSig(spark, dir), 64, 2).cache()
    val evalB = bands.filter(col("doc_id") % 20 === 0).withColumnRenamed("doc_id", "eval_id")
    val trainB = bands.filter(col("doc_id") % 20 =!= 0)
    val candidates = trainB.join(broadcast(evalB), Seq("band", "key"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val gt = sh.select(col("doc_id"), col("grams").as("grams_t"))
    val ge = sh.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("eval_id"), col("grams").as("grams_e"))
    candidates.join(gt, "doc_id").join(broadcast(ge), "eval_id")
      .withColumn("inter", size(array_intersect(col("grams_t"), col("grams_e"))).cast("long"))
      .withColumn("un", size(col("grams_t")).cast("long") + size(col("grams_e")).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("un"))
      .select(col("doc_id"), col("eval_id"), (dbl(col("inter")) / dbl(col("un"))).as("jaccard"))
      .orderBy("doc_id", "eval_id")
  }
  val d12Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT t.doc_id AS doc_id, e.doc_id AS eval_id, COUNT(*) AS inter
       |  FROM posting t JOIN posting e ON t.g = e.g
       |  WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0
       |  GROUP BY 1, 2)
       |SELECT inter.doc_id AS doc_id, eval_id,
       |  CAST(inter AS DOUBLE) / CAST(nt.n + ne.n - inter AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes nt ON inter.doc_id = nt.doc_id
       |JOIN sizes ne ON eval_id = ne.doc_id
       |WHERE inter * 2 >= (nt.n + ne.n - inter)
       |ORDER BY doc_id, eval_id""".stripMargin

  // ---------------------------------------------------------------- d13
  /** Semantic deduplication, cluster-then-compare (the SemDeDup recipe):
    * k-means-partition the embedding space, then run the EXACT cosine
    * near-dup rule only WITHIN each cluster — a duplicate pair far apart
    * in embedding space is contradiction in terms, so restricting the
    * pair join to co-clustered vectors trades a provably-tiny recall
    * loss for a quadratic work reduction.
    *
    * Emits every vector with its cluster and a `kept` verdict: a vector
    * is dropped when any smaller-id co-clustered neighbor matches at the
    * SAME round(cos,6) >= 0.35 rule as the exact baseline d05 (min-id
    * keeper, the d08/d10 convention).
    *
    * Scale shape: the centroid model is k x dim doubles (broadcast; the
    * per-iteration collect is the standard iterative-ML exception); the
    * pair join shuffles on cell, and k grows with N so per-cell work
    * stays bounded — the 100 TB form trains k ~ sqrt(N) on a sample and
    * the within-cell compare is embarrassingly parallel. Rows-only check
    * (cluster assignment is k-means-dependent); DedupSpec proves the
    * drop set equals d05's exact pair set restricted to co-clustered
    * pairs. */
  def d13(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"), expr("vec_norm(embedding)").as("nrm"))
    val cents = Similarity.sharedCents(spark, dir)
    val assigned = e.join(broadcast(cents), lit(true))
      .withColumn("ccos", expr("vec_dot(v, vc)") / (col("nrm") * col("nc")))
      .groupBy("vec_id")
      .agg(min(struct(negate(col("ccos")), col("cent_id"))).getField("cent_id").as("cell"),
           first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val a = assigned.select(col("cell"), col("vec_id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("idb"),
      col("v").as("vb"), col("nrm").as("nb"))
    val drops = a.join(b, "cell")
      .filter(col("ida") < col("idb"))
      .withColumn("cos", round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.35d)
      .select(col("idb").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dropped").isNull.as("kept")) // kept = no drop row matched
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- d14
  /** Bloom-filter decontamination: d11's exact n-gram contamination audit
    * with a sketch prefilter in front of the join.
    *
    * The eval split's grams are folded into ONE bloom filter (Spark's own
    * BloomFilterAggregate — the codegen'd expression behind runtime
    * row-level filters, here invoked explicitly). The single serialized
    * sketch (~200 KB at 1.6 M bits) collects to the driver — the bounded-
    * model exception, like s03's centroids — and rides into the scan as a
    * binary literal, so the 100 TB training side is prefiltered MAP-SIDE
    * by `bloom_contains(bf, xxhash64(g))` with no join at all. Only the
    * ~0.1% sketch survivors (true hits + f.p. ≈ 2^-16) reach the exact
    * verify join against the real eval postings, which removes every
    * false positive: the output is bit-identical to d11's, so this is an
    * EXACT operator with a sketch-sized broadcast — at scale you ship a
    * few hundred KB instead of the eval split's full gram postings. */
  def d14(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val post = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("word_ngrams(text, 4)").as("grams"))
      .filter(size(col("grams")) >= 1)
      .select(col("doc_id"), explode(col("grams")).as("g"))
    // cache the eval posting side: it is bounded by the eval corpus and
    // feeds THREE consumers (the sketch-sizing count, the bloom
    // aggregation, and the verify join) — uncached, each re-ran the
    // eval split's scan + 4-gram kernel as its own job
    val eval_ = post.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
      .cache()
    // Size the sketch from the eval split itself (one cheap distinct-count
    // over the SMALL side) at 16 bits/item => fp ~ 0.04%. A hard-coded
    // capacity would silently degrade toward a full join if the eval
    // split's gram set outgrew it.
    val evalGrams = math.max(1000L,
      eval_.select(col("g")).distinct().count())
    val bits = evalGrams * 16L
    val bf = eval_
      .select(expr(s"bloom_agg(xxhash64(g), ${evalGrams}L, ${bits}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    post.filter(col("doc_id") % 20 =!= 0)
      .filter(call_function("bloom_contains", lit(bf), xxhash64(col("g"))))
      .join(broadcast(eval_), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
           countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- d15
  /** Duplicate-graph centrality: per-document degree and Jaccard-weighted
    * degree over the J ≥ 0.5 near-dup pair graph — the canonical-copy
    * signal d08 ranks by source priority, here ranked by connectivity
    * (the most-connected copy is the best cluster representative; a
    * 1-degree doc is a leaf duplicate).
    *
    * Scale: the pair graph (d03's inverted-index output — never a cross
    * join) is orders smaller than the corpus; the union fan-out is 2
    * rows per edge and the groupBy shuffles on uniform doc_id. Weighted
    * degree sums DECIMAL(12,6)-quantized jaccards (exact, associative —
    * a raw double sum would be partial-order-dependent and could never
    * hash-match). */
  def d15(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d03(spark, dir)
      .withColumn("j6", round(col("jaccard"), 6).cast("decimal(12,6)"))
    pairs.select(col("doc_a").as("doc_id"), col("j6"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("j6")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"), dbl(sum(col("j6"))).as("wdegree"))
      .orderBy("doc_id")
  }
  val d15Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(ROUND(CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6)
       |         AS DECIMAL(12,6)) AS j6
       |  FROM inter
       |  JOIN sizes na ON doc_a = na.doc_id
       |  JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE inter * 2 >= (na.n + nb.n - inter)),
       |touch AS (
       |  SELECT doc_a AS doc_id, j6 FROM pairs
       |  UNION ALL SELECT doc_b AS doc_id, j6 FROM pairs)
       |SELECT doc_id, COUNT(*) AS degree, CAST(SUM(j6) AS DOUBLE) AS wdegree
       |FROM touch GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d16
  /** Asymmetric near-CONTAINMENT: pairs where ≥ 90% of the smaller doc's
    * shingles appear in the other (inter·10 ≥ min(na,nb)·9) — catches
    * excerpts, quotes, and prefix/suffix copies whose symmetric Jaccard
    * stays low because the big doc dilutes the union (the d03 family
    * misses exactly these). The standard subsumption drop in dedup
    * pipelines: the contained (smaller) side is the redundant one.
    *
    * Same inverted-index machinery as d03 — no cross join; the integer
    * cross-multiplied threshold is exact at any scale. */
  def d16(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    coPairCounts(postingWithSize(sh))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .select(col("doc_a"), col("doc_b"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("contained"),
        (dbl(col("inter")) / dbl(least(col("na"), col("nb")))).as("containment"))
      .orderBy("doc_a", "doc_b")
  }
  val d16Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CASE WHEN na.n <= nb.n THEN doc_a ELSE doc_b END AS contained,
       |  CAST(inter AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE) AS containment
       |FROM inter
       |JOIN sizes na ON doc_a = na.doc_id
       |JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE inter * 10 >= LEAST(na.n, nb.n) * 9
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d17
  /** d16's scale path: containment detection with the d06 df-cap — hot
    * "stop-gram" postings (df > 50) are dropped BEFORE the pair join, so
    * the join volume is bounded by maxDf·|rare postings| instead of
    * O(df²) on every common phrase. Intersections count only rare
    * shingles, so the reported containment is a LOWER bound and the
    * ≥ 0.9 threshold is conservative (rows-only; the spec proves every
    * surviving pair also appears in exact d16 with equal-or-higher
    * containment). */
  def d17(spark: SparkSession, dir: String): DataFrame = {
    val maxDf = 50
    val sh = shingled(spark, dir).cache()
    val posting = postingWithSize(sh)
    val rare = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("g")
    val rarePosting = posting.join(rare, "g")
    coPairCounts(rarePosting)
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .select(col("doc_a"), col("doc_b"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")).as("contained"),
        (dbl(col("inter")) / dbl(least(col("na"), col("nb")))).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d18
  /** Production fuzzy-dedup output: d02's MinHash-LSH pair generator
    * (J ≥ 0.8, bucketed — the 100 TB candidate path) resolved into
    * duplicate CLUSTERS by d10's connected-components machinery, with a
    * member count per cluster. This is the artifact a curation run
    * actually consumes: keep cluster_id == doc_id (the min-id canonical),
    * drop the rest — d10 gives the same view for the exact J ≥ 0.5
    * inverted-index pairs; this is its LSH-scale sibling.
    *
    * Scale: pair generation is d02's banded self-join (never all-pairs);
    * the CC loop is O(log diameter) pointer-jumped rounds over a pair
    * graph orders smaller than the corpus; the size join shuffles on
    * cluster_id (bounded by docs). Oracle: DuckDB recursive-CTE closure
    * over the same exact-Jaccard pair set (d02's output is spec-equal to
    * exact all-pairs at J ≥ 0.8). */
  def d18(spark: SparkSession, dir: String): DataFrame = {
    val cc = connectedComponents(d02(spark, dir).select("doc_a", "doc_b"),
      Tables.smallFrameParts(spark, dir))
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
      .orderBy("doc_id")
  }
  val d18Sql: String = {
    val pairSql = jaccardPairsSql(4, 5) // J >= 0.8, same as d02's oracle
      .replace("ORDER BY doc_a, doc_b", "")
      .replaceFirst("""SELECT doc_a, doc_b,\n  CAST\(inter AS DOUBLE\) / CAST\(na\.n \+ nb\.n - inter AS DOUBLE\) AS jaccard""",
        "SELECT doc_a, doc_b")
    s"""WITH RECURSIVE pairs AS ($pairSql),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |labels AS (
       |  SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY s)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
       |FROM labels ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d19
  /** Corpus dedup report — the numbers a curation run is judged by,
    * as one (metric, value) frame: total docs, unique texts, exact-dup
    * doc count, near-dup pair count (J ≥ 0.5) and docs touched by a
    * near-dup pair. Composes d01's hashing and d03's inverted-index
    * pair machinery; each metric is a map-combinable aggregate, and the
    * (metric, value) long format keeps the output schema stable as
    * metrics are added.
    *
    * Scale: two passes over documents (hash agg + the d03 pair join)
    * and aggregations over the pair set, which is orders smaller than
    * the corpus. No new join shapes. */
  def d19(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = d03(spark, dir).select("doc_a", "doc_b").cache()
    val touched = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
    def one(name: String, df: DataFrame, v: Column): DataFrame =
      df.agg(v.cast("long").as("value")).select(lit(name).as("metric"), col("value"))
    one("n_docs", docs, count(lit(1)))
      .unionByName(one("n_unique_texts", docs, countDistinct(md5(col("text")))))
      .unionByName(one("n_exact_dup_docs", docs,
        count(lit(1)) - countDistinct(md5(col("text")))))
      .unionByName(one("n_neardup_pairs", pairs, count(lit(1))))
      .unionByName(one("n_docs_in_neardup", touched, countDistinct(col("doc_id"))))
      .orderBy("metric")
  }
  val d19Sql: String = {
    val pairSql = jaccardPairsSql(1, 2) // J >= 0.5, d03's oracle
      .replace("ORDER BY doc_a, doc_b", "")
      .replaceFirst("""SELECT doc_a, doc_b,\n  CAST\(inter AS DOUBLE\) / CAST\(na\.n \+ nb\.n - inter AS DOUBLE\) AS jaccard""",
        "SELECT doc_a, doc_b")
    s"""WITH pairs AS ($pairSql)
       |SELECT 'n_docs' AS metric, COUNT(*)::BIGINT AS value FROM documents
       |UNION ALL SELECT 'n_unique_texts', COUNT(DISTINCT md5(text))::BIGINT FROM documents
       |UNION ALL SELECT 'n_exact_dup_docs',
       |  (COUNT(*) - COUNT(DISTINCT md5(text)))::BIGINT FROM documents
       |UNION ALL SELECT 'n_neardup_pairs', COUNT(*)::BIGINT FROM pairs
       |UNION ALL SELECT 'n_docs_in_neardup', COUNT(DISTINCT doc_id)::BIGINT
       |  FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------- d20
  /** Cross-source duplication matrix: which sources duplicate which.
    * Reuses d03's exact inverted-index pair stream (J >= 0.5), attaches
    * each side's source, normalizes the pair to (least, greatest) and
    * rolls up pair counts plus the max observed Jaccard (max of
    * identically-computed doubles — order-independent, unlike avg).
    * The doc->source attachment joins by doc key; output cardinality is
    * |sources|^2-bounded, so the rollup is a tiny final shuffle. */
  def d20(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    jaccardPairs(shingled(spark, dir), 1, 2)
      .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "src_of_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "src_of_b"), "doc_b")
      .select(least(col("src_of_a"), col("src_of_b")).as("source_a"),
              greatest(col("src_of_a"), col("src_of_b")).as("source_b"),
              col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }
  val d20Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |lab AS (
       |  SELECT LEAST(sa.source, sb.source) AS source_a,
       |         GREATEST(sa.source, sb.source) AS source_b, jaccard
       |  FROM pairs
       |  JOIN documents sa ON pairs.doc_a = sa.doc_id
       |  JOIN documents sb ON pairs.doc_b = sb.doc_id)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs, MAX(jaccard) AS max_jaccard
       |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- d21
  /** Shingle document-frequency profile: the operational histogram that
    * sizes the df caps in d06/d17 (how much posting mass lives in hot
    * shingles). Bands are integer-compare CASE buckets (no float log
    * bucketing); two map-combinable aggregations, output bounded by the
    * band count. */
  def d21(spark: SparkSession, dir: String): DataFrame = {
    val df = shingled(spark, dir)
      .select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    val band = when(col("df") === 1, "a_df=1")
      .when(col("df") <= 2, "b_df<=2").when(col("df") <= 4, "c_df<=4")
      .when(col("df") <= 8, "d_df<=8").when(col("df") <= 16, "e_df<=16")
      .when(col("df") <= 64, "f_df<=64").otherwise("g_df>64")
    df.groupBy(band.as("band"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("total_postings"))
      .orderBy("band")
  }
  val d21Sql: String =
    s"""WITH sh AS ($shingledSql),
       |d AS (
       |  SELECT g, COUNT(*) AS df
       |  FROM (SELECT UNNEST(grams) AS g FROM sh) GROUP BY 1),
       |b AS (
       |  SELECT CASE WHEN df = 1 THEN 'a_df=1' WHEN df <= 2 THEN 'b_df<=2'
       |              WHEN df <= 4 THEN 'c_df<=4' WHEN df <= 8 THEN 'd_df<=8'
       |              WHEN df <= 16 THEN 'e_df<=16' WHEN df <= 64 THEN 'f_df<=64'
       |              ELSE 'g_df>64' END AS band, df
       |  FROM d)
       |SELECT band, COUNT(*) AS n_shingles, CAST(SUM(df) AS BIGINT) AS total_postings
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- d22
  /** Dedup funnel: surviving doc counts after each cascade stage (raw →
    * exact content dedup → near-dup drop at J ≥ 0.5) in one stable
    * (stage, n_docs) frame — the shrinkage report a curation run logs.
    * Reuses d01's keep-min-id semantics and d03's exact pair stream;
    * only counts cross stages, so the frame is 3 rows at any scale. */
  def d22(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = docs
      .withColumn("h", md5(col("text")))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("min_id"))
      .select("doc_id")
    val dropped = jaccardPairs(shingled(spark, dir), 1, 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val surv = kept.join(dropped, Seq("doc_id"), "left_anti")
    def lvl(label: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(label).as("stage"), col("n_docs"))
    lvl("a_raw", docs)
      .unionByName(lvl("b_exact_dedup", kept))
      .unionByName(lvl("c_near_dedup", surv))
      .orderBy("stage")
  }
  val d22Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH kept AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id
       |    FROM documents)
       |  WHERE doc_id = min_id),
       |pairs AS ($pairSql),
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
       |surv AS (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
       |SELECT 'a_raw' AS stage, COUNT(*)::BIGINT AS n_docs FROM documents
       |UNION ALL SELECT 'b_exact_dedup', COUNT(*)::BIGINT FROM kept
       |UNION ALL SELECT 'c_near_dedup', COUNT(*)::BIGINT FROM surv
       |ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------- d23
  /** Boilerplate-prefix dedup: documents grouped by a NORMALIZED leading
    * prefix (lowercased, non-alphanumerics stripped, first 64 chars) —
    * catches template/header duplication that exact-hash dedup (d01)
    * misses because trailing content differs. One map-combinable groupBy
    * on the normalized key (d01's shape — no pair stream, one uniform
    * shuffle at any scale); emits only groups of 2+, keyed by the md5 of
    * the prefix with min-doc_id keeper semantics. */
  def d23(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 64).as("pfx"))
      .filter(length(col("pfx")) >= 16) // too-short prefixes are noise, not boilerplate
      .groupBy(md5(col("pfx")).as("prefix_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("keeper_doc")
  val d23Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS pfx
      |  FROM documents),
      |f AS (SELECT * FROM p WHERE length(pfx) >= 16)
      |SELECT md5(pfx) AS prefix_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc
      |FROM f GROUP BY 1 HAVING COUNT(*) >= 2
      |ORDER BY keeper_doc""".stripMargin

  // ---------------------------------------------------------------- d24
  /** Jaccard threshold sweep: how many near-dup pairs survive at J ≥
    * 0.5/0.6/0.7/0.8/0.9 — the calibration curve consulted before fixing
    * a dedup threshold (the elbow separates boilerplate families from
    * true dups). ONE pass over d03's exact pair stream (J ≥ 0.5), five
    * conditional sums in a single map-combinable aggregation, the 5-row
    * frame unpacked from one struct array — compares run on the same
    * round-free inter/union division both engines already hash-match. */
  def d24(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(spark, dir)
    val a = pairs.agg(
      coalesce(sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)), lit(0L)).as("c5"),
      coalesce(sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)), lit(0L)).as("c6"),
      coalesce(sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)), lit(0L)).as("c7"),
      coalesce(sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)), lit(0L)).as("c8"),
      coalesce(sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)), lit(0L)).as("c9"))
    a.select(explode(array(
        struct(lit("j>=0.5").as("threshold"), col("c5").as("n_pairs")),
        struct(lit("j>=0.6").as("threshold"), col("c6").as("n_pairs")),
        struct(lit("j>=0.7").as("threshold"), col("c7").as("n_pairs")),
        struct(lit("j>=0.8").as("threshold"), col("c8").as("n_pairs")),
        struct(lit("j>=0.9").as("threshold"), col("c9").as("n_pairs")))).as("t"))
      .select(col("t.threshold").as("threshold"), col("t.n_pairs").as("n_pairs"))
      .orderBy("threshold")
  }
  val d24Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |a AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END), 0)::BIGINT AS c5,
       |    COALESCE(SUM(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END), 0)::BIGINT AS c6,
       |    COALESCE(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END), 0)::BIGINT AS c7,
       |    COALESCE(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END), 0)::BIGINT AS c8,
       |    COALESCE(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END), 0)::BIGINT AS c9
       |  FROM pairs)
       |SELECT 'j>=0.5' AS threshold, c5 AS n_pairs FROM a
       |UNION ALL SELECT 'j>=0.6', c6 FROM a
       |UNION ALL SELECT 'j>=0.7', c7 FROM a
       |UNION ALL SELECT 'j>=0.8', c8 FROM a
       |UNION ALL SELECT 'j>=0.9', c9 FROM a
       |ORDER BY threshold""".stripMargin
  }

  // ---------------------------------------------------------------- d25
  /** Length bias of the near-dup pair mass: J ≥ 0.5 pairs banded by the
    * SHORTER document's length — confirms (or refutes) the usual "near
    * dups concentrate in short boilerplate" prior before a length-aware
    * dedup policy ships. One pass over d03's exact pair stream, two
    * uniform-key joins to fetch lengths, integer-compare CASE bands,
    * band means DECIMAL-quantized before the order-independent sum. */
  def d25(spark: SparkSession, dir: String): DataFrame = {
    val len = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val band = when(col("min_chars") < 200, "a<200").when(col("min_chars") < 400, "b<400")
      .when(col("min_chars") < 800, "c<800").otherwise("d>=800")
    sharedPairs(spark, dir)
      .join(len.select(col("doc_id").as("doc_a"), col("n_chars").as("ca")), "doc_a")
      .join(len.select(col("doc_id").as("doc_b"), col("n_chars").as("cb")), "doc_b")
      .withColumn("min_chars", least(col("ca"), col("cb")))
      .groupBy(band.as("length_band"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(round(col("jaccard"), 6).cast("decimal(18,6)")).as("s"))
      .select(col("length_band"), col("n_pairs"),
        (round(dbl(col("s")) / col("n_pairs"), 6) + lit(0.0d)).as("mean_jaccard"))
      .orderBy("length_band")
  }
  val d25Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |j AS (
       |  SELECT LEAST(da.n_chars, db.n_chars) AS min_chars, jaccard
       |  FROM pairs
       |  JOIN documents da ON doc_a = da.doc_id
       |  JOIN documents db ON doc_b = db.doc_id),
       |b AS (
       |  SELECT CASE WHEN min_chars < 200 THEN 'a<200' WHEN min_chars < 400 THEN 'b<400'
       |              WHEN min_chars < 800 THEN 'c<800' ELSE 'd>=800' END AS length_band,
       |         CAST(ROUND(jaccard, 6) AS DECIMAL(18,6)) AS dj
       |  FROM j)
       |SELECT length_band, COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(dj) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_jaccard
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- d26
  /** Template family-size histogram: how many d23 boilerplate-prefix
    * groups have exactly N members — distinguishes "many small echoes"
    * from "one 1000-copy template" (same pair count, opposite cleanup
    * strategy). Two map-combinable aggregations (normalized prefix →
    * family size → histogram), families of 1 excluded, output bounded by
    * the largest family. */
  def d26(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 64).as("pfx"))
      .filter(length(col("pfx")) >= 16)
      .groupBy("pfx").agg(count(lit(1)).as("family_size"))
      .filter(col("family_size") >= 2)
      .groupBy("family_size")
      .agg(count(lit(1)).as("n_families"),
           (count(lit(1)) * col("family_size")).as("n_docs"))
      .orderBy("family_size")
  val d26Sql: String =
    """WITH fam AS (
      |  SELECT substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS pfx,
      |    COUNT(*) AS family_size
      |  FROM documents
      |  WHERE length(substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64)) >= 16
      |  GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT family_size, COUNT(*) AS n_families,
      |  COUNT(*) * family_size AS n_docs
      |FROM fam GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- d28
  /** Near-dup CLUSTER-size histogram: how many d10 connected components
    * have exactly N members — d26's family question for transitive
    * near-dup groups (chain shapes show up here as large sparse
    * clusters). Sizes are one map-combinable groupBy over d10's
    * (doc_id, cluster_id) output; oracle = the same histogram over the
    * recursive-CTE transitive closure. */
  def d28(spark: SparkSession, dir: String): DataFrame =
    sharedClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
           (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")
  val d28Sql: String = {
    val base = d10Sql.replace("ORDER BY doc_id", "")
    s"""WITH cc AS ($base),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY 1)
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |  COUNT(*) * cluster_size AS n_docs
       |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- d29
  /** MinHash-LSH candidate-quality report: candidates generated vs pairs
    * surviving exact J ≥ 0.8 verification, and the resulting precision —
    * the number that says whether the band/row configuration is wasting
    * verify work (low precision) or risking recall (suspiciously high).
    * Counts ride d02's own frames; one row out. Rows-only (MinHash is
    * not SQL-expressible); the spec pins verified == the exact J ≥ 0.8
    * pair count (recall evidence) and precision ∈ (0, 1]. */
  def d29(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val cand = d02Candidates(spark, dir).cache() // counted AND verified below
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nVer = d02Verify(sh, cand).agg(count(lit(1)).as("n_verified"))
    nCand.crossJoin(broadcast(nVer))
      .select(col("n_candidates"), col("n_verified"),
        (round(dbl(col("n_verified")) / nullifzero(col("n_candidates")), 6) + lit(0.0d))
          .as("precision"))
  }

  // ---------------------------------------------------------------- d30
  /** Dedup source-flow matrix: under keep-min-id policy, which source
    * KEEPS and which source LOSES for every near-dup pair — d20 asks
    * "who copies whom", this asks "who pays for it at drop time" (an
    * asymmetric budget question: a feed can be upstream of dups yet
    * never lose a doc). One pass over the shared pair stream + two
    * uniform-key source joins; \|sources\|²-bounded output. */
  def d30(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    sharedPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("keeper_source")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("dropped_source")), "doc_b")
      .groupBy("keeper_source", "dropped_source")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("keeper_source", "dropped_source")
  }
  val d30Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql)
       |SELECT ka.source AS keeper_source, kb.source AS dropped_source,
       |  COUNT(*) AS n_pairs
       |FROM pairs
       |JOIN documents ka ON doc_a = ka.doc_id
       |JOIN documents kb ON doc_b = kb.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- d31
  /** Containment threshold sweep (d24's calibration curve for the
    * ASYMMETRIC measure): pairs whose smaller side is covered at
    * C ≥ 0.5..0.9 — sizes the subsumption-drop policy the way d24 sizes
    * the Jaccard one (containment catches quote/excerpt nesting that
    * Jaccard's union denominator dilutes). Same inverted-index pair
    * machinery at the C ≥ 0.5 floor, five conditional sums in ONE
    * map-combinable aggregation, 5-row struct-array unpack; threshold
    * compares are exact integer cross multiplications. */
  def d31(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val pairs = coPairCounts(postingWithSize(sh))
      .withColumn("mn", least(col("na"), col("nb")))
      .filter(col("inter") * 2 >= col("mn"))
    def c(k: Int) = coalesce(sum(
      when(col("inter") * 10 >= col("mn") * k, 1L).otherwise(0L)), lit(0L)).as(s"c$k")
    val a = pairs.agg(c(5), c(6), c(7), c(8), c(9))
    a.select(explode(array(
        struct(lit("c>=0.5").as("threshold"), col("c5").as("n_pairs")),
        struct(lit("c>=0.6").as("threshold"), col("c6").as("n_pairs")),
        struct(lit("c>=0.7").as("threshold"), col("c7").as("n_pairs")),
        struct(lit("c>=0.8").as("threshold"), col("c8").as("n_pairs")),
        struct(lit("c>=0.9").as("threshold"), col("c9").as("n_pairs")))).as("t"))
      .select(col("t.threshold").as("threshold"), col("t.n_pairs").as("n_pairs"))
      .orderBy("threshold")
  }
  val d31Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT inter, LEAST(na.n, nb.n) AS mn
       |  FROM inter
       |  JOIN sizes na ON doc_a = na.doc_id
       |  JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE inter * 2 >= LEAST(na.n, nb.n)),
       |a AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN inter * 10 >= mn * 5 THEN 1 ELSE 0 END), 0)::BIGINT AS c5,
       |    COALESCE(SUM(CASE WHEN inter * 10 >= mn * 6 THEN 1 ELSE 0 END), 0)::BIGINT AS c6,
       |    COALESCE(SUM(CASE WHEN inter * 10 >= mn * 7 THEN 1 ELSE 0 END), 0)::BIGINT AS c7,
       |    COALESCE(SUM(CASE WHEN inter * 10 >= mn * 8 THEN 1 ELSE 0 END), 0)::BIGINT AS c8,
       |    COALESCE(SUM(CASE WHEN inter * 10 >= mn * 9 THEN 1 ELSE 0 END), 0)::BIGINT AS c9
       |  FROM p)
       |SELECT 'c>=0.5' AS threshold, c5 AS n_pairs FROM a
       |UNION ALL SELECT 'c>=0.6', c6 FROM a
       |UNION ALL SELECT 'c>=0.7', c7 FROM a
       |UNION ALL SELECT 'c>=0.8', c8 FROM a
       |UNION ALL SELECT 'c>=0.9', c9 FROM a
       |ORDER BY threshold""".stripMargin

  // ---------------------------------------------------------------- d32
  /** Does cheap normalization subsume expensive Jaccard? Near-dup pairs
    * (J ≥ 0.5) split by whether the two docs ALSO share t04's normalized
    * fingerprint — if most pairs are fp-equal, a hash dedup on the
    * normalized text replaces the pair join for that mass; the remainder
    * is what the shingle machinery is genuinely paid for. One pass over
    * the shared pair stream + two uniform-key fp joins; 1-2 rows out. */
  def d32(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("fp"))
    sharedPairs(spark, dir)
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fa")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fb")), "doc_b")
      .groupBy(when(col("fa") === col("fb"), "a_fp_equal")
        .otherwise("b_fp_distinct").as("fp_class"))
      .agg(count(lit(1)).as("n_pairs"),
           (round(dbl(sum(round(col("jaccard"), 6).cast("decimal(18,6)"))) /
              count(lit(1)), 6) + lit(0.0d)).as("mean_jaccard"))
      .orderBy("fp_class")
  }
  val d32Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |fp AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
       |  FROM documents),
       |j AS (
       |  SELECT CASE WHEN fa.fp = fb.fp THEN 'a_fp_equal' ELSE 'b_fp_distinct' END AS fp_class,
       |    CAST(ROUND(jaccard, 6) AS DECIMAL(18,6)) AS dj
       |  FROM pairs
       |  JOIN fp fa ON doc_a = fa.doc_id
       |  JOIN fp fb ON doc_b = fb.doc_id)
       |SELECT fp_class, COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(dj) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_jaccard
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- d33
  /** Cross-language duplicate leakage: of the normalized-fingerprint dup
    * groups (t04's casefold/strip fingerprint — the dedup key p01 uses),
    * how many span MORE than one `lang` tag — template/boilerplate
    * leaking across language feeds, or a mislabeled source. Deduping
    * such groups shifts the corpus language mix, so a per-lang token
    * budget must know the rate (in this testdata at sf0.1, 7 of the 8
    * dup families are cross-language).
    *
    * One fingerprint shuffle (d01's shape), per-group exact distinct-lang
    * count, then a global 1-row summary — always emitted, zeros on a
    * clean corpus (share is CASE-guarded, no 0/0). */
  def d33(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("nl"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("n_dup_groups"),
           coalesce(sum(col("n")), lit(0L)).as("n_dup_docs"),
           coalesce(sum(when(col("nl") > 1, 1L).otherwise(0L)), lit(0L))
             .as("n_cross_lang_groups"))
      .withColumn("cross_lang_share",
        when(col("n_dup_groups") === 0, lit(0.0d))
          .otherwise(round(col("n_cross_lang_groups").cast("double")
            / col("n_dup_groups"), 6) + lit(0.0d)))
  val d33Sql: String =
    """WITH g AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
      |    COUNT(*) AS n, COUNT(DISTINCT lang) AS nl
      |  FROM documents GROUP BY 1 HAVING COUNT(*) > 1)
      |SELECT COUNT(*) AS n_dup_groups,
      |  COALESCE(SUM(n), 0)::BIGINT AS n_dup_docs,
      |  COALESCE(SUM(CASE WHEN nl > 1 THEN 1 ELSE 0 END), 0)::BIGINT
      |    AS n_cross_lang_groups,
      |  CASE WHEN COUNT(*) = 0 THEN 0.0
      |       ELSE ROUND(CAST(SUM(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |                  / COUNT(*), 6) + 0.0 END AS cross_lang_share
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- d34
  /** Near-dup QUALITY bias (d25's length-bias sibling): over the J ≥ 0.5
    * pair stream, mean t02 quality of the kept side (doc_a — the
    * keep-min-id convention) vs the dropped side (doc_b), and the delta —
    * "does near-dup dedup systematically delete better or worse copies
    * than it keeps". A positive bias says keep-min-id is accidentally
    * quality-correlated; near zero says the tie-break is safe.
    *
    * Rides the memoized shared pair stream (no new pair generation);
    * quality attaches via two uniform doc_id key joins; sums are
    * DECIMAL-quantized round6 scores (order-independent), ONE division
    * per mean. 1-row output. */
  def d34(spark: SparkSession, dir: String): DataFrame = {
    val qd = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality"))
    sharedPairs(spark, dir)
      .join(qd.select(col("doc_id").as("doc_a"), col("quality").as("qa")), "doc_a")
      .join(qd.select(col("doc_id").as("doc_b"), col("quality").as("qb")), "doc_b")
      .agg(count(lit(1)).as("n_pairs"),
           round(sum(col("qa").cast("decimal(12,6)")).cast("double")
             / count(lit(1)), 6).as("mean_q_kept"),
           round(sum(col("qb").cast("decimal(12,6)")).cast("double")
             / count(lit(1)), 6).as("mean_q_dropped"))
      .withColumn("quality_bias",
        round(col("mean_q_kept") - col("mean_q_dropped"), 6) + lit(0.0d))
  }
  val d34Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH pairs AS ($pairSql),
       |base AS (SELECT doc_id, text, ${TextAnalysis.wordsSql} AS w FROM documents),
       |m AS (SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN ${TextAnalysis.stopSqlIn})) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |qd AS (SELECT doc_id, ${TextAnalysis.qualitySqlExpr} AS quality FROM m),
       |j AS (
       |  SELECT CAST(qa.quality AS DECIMAL(12,6)) AS qa,
       |         CAST(qb.quality AS DECIMAL(12,6)) AS qb
       |  FROM pairs
       |  JOIN qd qa ON doc_a = qa.doc_id
       |  JOIN qd qb ON doc_b = qb.doc_id)
       |SELECT COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(qa) AS DOUBLE) / COUNT(*), 6) AS mean_q_kept,
       |  ROUND(CAST(SUM(qb) AS DOUBLE) / COUNT(*), 6) AS mean_q_dropped,
       |  ROUND(ROUND(CAST(SUM(qa) AS DOUBLE) / COUNT(*), 6)
       |        - ROUND(CAST(SUM(qb) AS DOUBLE) / COUNT(*), 6), 6) + 0.0 AS quality_bias
       |FROM j""".stripMargin
  }

  // ---------------------------------------------------------------- d35
  /** Near-dup transitivity audit: is "similar" behaving like an
    * equivalence relation? Counts wedges (2-paths) and closed triangles
    * on the J ≥ 0.5 pair graph and reports the closure rate — low
    * closure means cluster-based keep/drop decisions (d10/d18) are
    * merging chains of dissimilar documents. Wedge counts come from the
    * degree frame (Σ deg·(deg−1)/2 — no path enumeration), triangles
    * from two equi-joins on the edge list (output-bounded, same
    * inverted-index economics as the pair stream itself). */
  def d35(spark: SparkSession, dir: String): DataFrame = {
    val e = sharedPairs(spark, dir).select("doc_a", "doc_b")
    val adj = e.select(col("doc_a").as("v")).union(e.select(col("doc_b").as("v")))
    val wedges = adj.groupBy("v").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("x"), col("e2.doc_b").as("z"))
      .join(e.select(col("doc_a").as("x"), col("doc_b").as("z")), Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .join(broadcast(wedges)).join(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(dbl(col("n_triangles") * 3) / col("n_wedges"), 6)).as("closure_rate"))
  }
  val d35Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH e AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |adj AS (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e),
       |w AS (SELECT SUM((deg * (deg - 1)) // 2)::BIGINT AS n_wedges
       |  FROM (SELECT v, COUNT(*)::BIGINT AS deg FROM adj GROUP BY 1)),
       |tr AS (SELECT COUNT(*)::BIGINT AS n_triangles
       |  FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
       |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |ne AS (SELECT COUNT(*)::BIGINT AS n_edges FROM e)
       |SELECT n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges > 0
       |       THEN ROUND(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6) END AS closure_rate
       |FROM ne CROSS JOIN w CROSS JOIN tr""".stripMargin
  }

  // ---------------------------------------------------------------- d36
  /** Eval-leak attribution: d11's exact 4-gram contamination hits rolled
    * up by training SOURCE — which corpus slice is leaking eval content,
    * at what rate, and how heavily. The expensive evidence (the gram
    * join) is d11's broadcast-eval plan unchanged; this adds only a dim
    * join to source and a ≤|sources| rollup. Zero-hit sources survive
    * via the left join with exact-zero defaults. */
  def d36(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val trainTotals = src.filter(col("doc_id") % 20 =!= 0)
      .groupBy("source").agg(count(lit(1)).as("n_train_docs"))
    val bySrc = d11(spark, dir).join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_flagged"), sum(col("n_shared_grams")).as("shared_grams"))
    trainTotals.join(bySrc, Seq("source"), "left")
      .select(col("source"), col("n_train_docs"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        round(dbl(coalesce(col("n_flagged"), lit(0L))) / col("n_train_docs"), 6)
          .as("flag_rate"))
      .orderBy("source")
  }
  val d36Sql: String =
    s"""WITH hits AS (${d11Sql.replace("ORDER BY 1", "")}),
       |tt AS (SELECT source, COUNT(*)::BIGINT AS n_train_docs
       |  FROM documents WHERE doc_id % 20 <> 0 GROUP BY 1),
       |bs AS (SELECT source, COUNT(*)::BIGINT AS n_flagged,
       |    SUM(n_shared_grams)::BIGINT AS shared_grams
       |  FROM hits JOIN documents USING (doc_id) GROUP BY 1)
       |SELECT tt.source, n_train_docs,
       |  COALESCE(n_flagged, 0) AS n_flagged,
       |  COALESCE(shared_grams, 0) AS shared_grams,
       |  ROUND(CAST(COALESCE(n_flagged, 0) AS DOUBLE) / n_train_docs, 6) AS flag_rate
       |FROM tt LEFT JOIN bs ON tt.source = bs.source
       |ORDER BY tt.source""".stripMargin

  // ---------------------------------------------------------------- d37
  /** Keeper-policy quality regret: within each near-dup cluster, does
    * keep-min-id actually keep the best document? Reports the share of
    * clusters where the keeper is also the quality argmax, plus the
    * average and worst quality give-up. Keeper and best qualities come
    * from map-combinable min/max(struct) argmin/argmax over the memoized
    * cluster labels (no per-cluster sort); regrets accumulate in
    * DECIMAL(12,6) of the round6 quality, so the means are exact and
    * order-independent. d34 asks this per pair; this asks it per final
    * cluster decision. */
  def d37(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("quality"))
    val per = d10(spark, dir).join(q, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
           max(struct((-col("doc_id")).as("nid"), col("quality").as("q"))).as("k"),
           max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("b"))
    val regret = col("b.q").cast("decimal(12,6)") - col("k.q").cast("decimal(12,6)")
    per.agg(count(lit(1)).as("n_clusters"),
         sum(col("n_members")).as("n_docs"),
         count(when(col("k.q") === col("b.q"), lit(1))).as("keeper_best"),
         sum(regret).as("sreg"), max(regret).as("mreg"))
      // no clusters (empty corpus): NULL means, as the oracle's x / 0
      .select(col("n_clusters"), col("n_docs"),
        when(col("n_clusters") > 0,
          round(dbl(col("keeper_best")) / col("n_clusters"), 6)).as("keeper_best_share"),
        when(col("n_clusters") > 0,
          round(dbl(col("sreg")) / col("n_clusters"), 6)).as("avg_regret"),
        dbl(col("mreg")).as("max_regret"))
  }
  val d37Sql: String = {
    val cc = d10Sql.replace("ORDER BY doc_id", "")
    s"""WITH cc AS ($cc),
       |base AS (SELECT doc_id, text, ${TextAnalysis.wordsSql} AS w FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(w, x -> x IN ${TextAnalysis.stopSqlIn})) AS BIGINT) AS n_stop,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    LENGTH(text) AS n_char
       |  FROM base WHERE len(w) >= 1),
       |q AS (SELECT doc_id, ${TextAnalysis.qualitySqlExpr} AS quality FROM m),
       |per AS (
       |  SELECT cluster_id, COUNT(*)::BIGINT AS n_members,
       |    arg_min(quality, doc_id) AS kq, MAX(quality) AS bq
       |  FROM cc JOIN q USING (doc_id) GROUP BY 1)
       |SELECT COUNT(*)::BIGINT AS n_clusters, SUM(n_members)::BIGINT AS n_docs,
       |  ROUND(CAST(COUNT(CASE WHEN kq = bq THEN 1 END) AS DOUBLE) / COUNT(*), 6)
       |    AS keeper_best_share,
       |  ROUND(CAST(SUM(CAST(bq AS DECIMAL(12,6)) - CAST(kq AS DECIMAL(12,6))) AS DOUBLE)
       |        / COUNT(*), 6) AS avg_regret,
       |  CAST(MAX(CAST(bq AS DECIMAL(12,6)) - CAST(kq AS DECIMAL(12,6))) AS DOUBLE) AS max_regret
       |FROM per""".stripMargin
  }

  // ---------------------------------------------------------------- d38
  /** Dup-graph degree distribution: how many documents have exactly k
    * near-dup partners (J ≥ 0.5). The histogram behind d15's top-k
    * centrality — its tail is what says whether clusters are chains
    * (deg ≈ 2) or template blowups (deg ≫ 2). Two map-combinable
    * groupBys over the memoized pair stream; output bounded by max
    * degree. */
  def d38(spark: SparkSession, dir: String): DataFrame = {
    val e = sharedPairs(spark, dir).select("doc_a", "doc_b")
    e.select(col("doc_a").as("v")).union(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_docs"))
      .orderBy("deg")
  }
  val d38Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH e AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |adj AS (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e),
       |deg AS (SELECT v, COUNT(*)::BIGINT AS deg FROM adj GROUP BY 1)
       |SELECT deg, COUNT(*)::BIGINT AS n_docs FROM deg
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- d39
  /** LSH bucket-occupancy audit: the size histogram of d02's (band, key)
    * buckets with the candidate-pair mass each size class generates
    * (Σ C(s,2)). A hot bucket costs O(s²) compares while contributing
    * mostly sub-threshold pairs — this is the table that says whether
    * the 32×4 band shape is wasting the verify stage. Signature-space
    * construct (no SQL oracle — rows-only); two map-combinable groupBys
    * over the shared band table. */
  def d39(spark: SparkSession, dir: String): DataFrame =
    d02Bands(spark, dir)
      .groupBy("band", "key").agg(count(lit(1)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("n_buckets"),
        sum(expr("(s * (s - 1)) div 2")).as("pair_mass"))
      .orderBy("s")

  // ---------------------------------------------------------------- d40
  /** Containment-direction profile: how asymmetric are d16's containment
    * pairs — strict subsets (contained side ≤ half the container),
    * partial overlaps, or near-peers? Plus the aggregate size ratio
    * (Σ min-size / Σ max-size — exact integer sums, ONE division).
    * Near-peer-heavy containment means drop-the-smaller is really
    * near-dup dedup; subset-heavy means quote/excerpt removal. */
  def d40(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    coPairCounts(postingWithSize(sh))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .agg(count(lit(1)).as("n_pairs"),
           count(when(least(col("na"), col("nb")) * 2 <= greatest(col("na"), col("nb")),
             lit(1))).as("n_strict_subset"),
           count(when(least(col("na"), col("nb")) * 2 > greatest(col("na"), col("nb")) &&
               least(col("na"), col("nb")) * 10 <= greatest(col("na"), col("nb")) * 9,
             lit(1))).as("n_partial"),
           count(when(least(col("na"), col("nb")) * 10 > greatest(col("na"), col("nb")) * 9,
             lit(1))).as("n_near_peer"),
           sum(least(col("na"), col("nb"))).as("sum_min"),
           sum(greatest(col("na"), col("nb"))).as("sum_max"))
      .select(col("n_pairs"), col("n_strict_subset"), col("n_partial"), col("n_near_peer"),
        round(dbl(col("sum_min")) / col("sum_max"), 6).as("agg_size_ratio"))
  }
  val d40Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT LEAST(na.n, nb.n) AS mn, GREATEST(na.n, nb.n) AS mx
       |  FROM inter
       |  JOIN sizes na ON doc_a = na.doc_id
       |  JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE inter * 10 >= LEAST(na.n, nb.n) * 9)
       |SELECT COUNT(*)::BIGINT AS n_pairs,
       |  COUNT(CASE WHEN mn * 2 <= mx THEN 1 END)::BIGINT AS n_strict_subset,
       |  COUNT(CASE WHEN mn * 2 > mx AND mn * 10 <= mx * 9 THEN 1 END)::BIGINT AS n_partial,
       |  COUNT(CASE WHEN mn * 10 > mx * 9 THEN 1 END)::BIGINT AS n_near_peer,
       |  ROUND(CAST(SUM(mn) AS DOUBLE) / SUM(mx), 6) AS agg_size_ratio
       |FROM p""".stripMargin

  // ---------------------------------------------------------------- d41
  /** Dup-cluster source purity: do near-dup clusters stay inside one
    * ingestion source, or do templates spread across feeds? Counts
    * clusters by distinct-source membership and reports the mixed
    * share — d20's pairwise matrix rolled up to cluster granularity.
    * Rides the memoized CC labels + one key join. */
  def d41(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val per = d10(spark, dir).join(src, "doc_id")
      .groupBy("cluster_id")
      .agg(countDistinct(col("source")).as("n_sources"))
    val hist = per.groupBy("n_sources").agg(count(lit(1)).as("n_clusters"))
    val tot = hist.agg(sum(col("n_clusters")).as("t"),
      sum(when(col("n_sources") >= 2, col("n_clusters")).otherwise(lit(0L))).as("mixed"))
    hist.join(broadcast(tot))
      .select(col("n_sources"), col("n_clusters"),
        round(dbl(col("mixed")) / col("t"), 6).as("mixed_cluster_share"))
      .orderBy("n_sources")
  }
  val d41Sql: String = {
    val cc = d10Sql.replace("ORDER BY doc_id", "")
    s"""WITH cc AS ($cc),
       |per AS (
       |  SELECT cluster_id, COUNT(DISTINCT source)::BIGINT AS n_sources
       |  FROM cc JOIN documents USING (doc_id) GROUP BY 1),
       |hist AS (SELECT n_sources, COUNT(*)::BIGINT AS n_clusters FROM per GROUP BY 1),
       |t AS (SELECT SUM(n_clusters)::BIGINT AS t,
       |    SUM(CASE WHEN n_sources >= 2 THEN n_clusters ELSE 0 END)::BIGINT AS mixed
       |  FROM hist)
       |SELECT n_sources, n_clusters,
       |  ROUND(CAST(mixed AS DOUBLE) / t, 6) AS mixed_cluster_share
       |FROM hist CROSS JOIN t ORDER BY n_sources""".stripMargin
  }

  // ---------------------------------------------------------------- d42
  /** Duplication-vs-quality census: exact-dup group size band × mean
    * member quality — the "is heavily-duplicated text also low-quality
    * boilerplate" table that decides whether dedup doubles as a quality
    * gate. Quality quantizes to DECIMAL(9,6) before any cross-row sum;
    * one fingerprint groupBy then a ≤5-row band rollup. */
  def d42(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .select(col("fp"), col("quality").cast("decimal(9,6)").as("qq"), col("n_tok"))
    val per = d.groupBy("fp")
      .agg(count(lit(1)).as("n_members"), sum(col("qq")).as("sq"),
           sum(col("n_tok")).as("toks"))
    per.groupBy(least(col("n_members"), lit(5L)).as("group_size_band"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_members")).as("n_docs"),
           sum(col("toks")).as("n_tokens"),
           round(dbl(sum(col("sq"))) / sum(col("n_members")), 6).as("avg_quality"))
      .orderBy("group_size_band")
  }
  val d42Sql: String = {
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
       |    CAST($qualitySqlExpr AS DECIMAL(9,6)) AS qq, n_tok
       |  FROM m),
       |per AS (
       |  SELECT fp, COUNT(*)::BIGINT AS n_members, SUM(qq) AS sq,
       |    SUM(n_tok)::BIGINT AS toks
       |  FROM d GROUP BY 1)
       |SELECT LEAST(n_members, 5) AS group_size_band,
       |  COUNT(*)::BIGINT AS n_groups, SUM(n_members)::BIGINT AS n_docs,
       |  SUM(toks)::BIGINT AS n_tokens,
       |  ROUND(CAST(SUM(sq) AS DOUBLE) / SUM(n_members), 6) AS avg_quality
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- d43
  /** Boilerplate shingles: the top-20 word-3-grams by document
    * frequency, with per-source spread — the concrete n-grams that
    * drive d06/d17's df-caps (d21 histograms the df VALUES; this names
    * the offenders a cleaning pass would strip). Explode + one
    * map-combinable groupBy + TakeOrderedAndProject top-k with pinned
    * (df desc, gram) tiebreak; no window, no second shuffle. */
  def d43(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    shingled(spark, dir)
      .join(docs, "doc_id")
      .select(col("source"), col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy(col("df").desc, col("gram"))
      .limit(20)
  }
  val d43Sql: String =
    s"""WITH sh AS ($shingledSql),
       |g AS (SELECT doc_id, UNNEST(grams) AS gram FROM sh),
       |j AS (SELECT g.doc_id AS doc_id, gram, source
       |  FROM g JOIN documents d ON g.doc_id = d.doc_id)
       |SELECT gram, COUNT(DISTINCT doc_id)::BIGINT AS df,
       |  COUNT(DISTINCT source)::BIGINT AS n_sources
       |FROM j GROUP BY 1 ORDER BY df DESC, gram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- d44
  /** Containment source flow: d40's containment pairs attributed as a
    * (container source → contained source) matrix — which source
    * excerpts which (the provenance table behind excerpt-removal
    * policy; ties by size fall to the a-side deterministically).
    * Same inverted-index pair stream + two bounded source joins;
    * \|sources\|²-bounded output. */
  def d44(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    // source and set size are per-doc CONSTANTS: attach them before the
    // posting fan-out (one doc-keyed join of the small per-doc frame) and
    // recover them with min() in the pair aggregation — zero joins of the
    // pair stream (was 4: sizes x2 + source x2)
    val posting = sh.join(src, "doc_id")
      .select(col("doc_id"), size(col("grams")).cast("long").as("n"),
        col("source"), explode(col("grams")).as("g"))
    posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"),
        min(col("a.source")).as("sa"), min(col("b.source")).as("sb"))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .select(
        when(col("na") >= col("nb"), col("sa")).otherwise(col("sb")).as("container_source"),
        when(col("na") >= col("nb"), col("sb")).otherwise(col("sa")).as("contained_source"),
        least(col("na"), col("nb")).as("mn"), greatest(col("na"), col("nb")).as("mx"))
      .groupBy("container_source", "contained_source")
      .agg(count(lit(1)).as("n_pairs"),
           round(dbl(sum(col("mn"))) / sum(col("mx")), 6).as("agg_size_ratio"))
      .orderBy("container_source", "contained_source")
  }
  val d44Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT doc_a, doc_b, na.n AS na, nb.n AS nb
       |  FROM inter
       |  JOIN sizes na ON doc_a = na.doc_id
       |  JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE inter * 10 >= LEAST(na.n, nb.n) * 9),
       |f AS (
       |  SELECT CASE WHEN na >= nb THEN da.source ELSE db.source END AS container_source,
       |    CASE WHEN na >= nb THEN db.source ELSE da.source END AS contained_source,
       |    LEAST(na, nb) AS mn, GREATEST(na, nb) AS mx
       |  FROM p
       |  JOIN documents da ON doc_a = da.doc_id
       |  JOIN documents db ON doc_b = db.doc_id)
       |SELECT container_source, contained_source, COUNT(*)::BIGINT AS n_pairs,
       |  ROUND(CAST(SUM(mn) AS DOUBLE) / SUM(mx), 6) AS agg_size_ratio
       |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- d45
  /** Duplicate ingestion-locality census: within each exact-dup family
    * (d01's md5 groups, n ≥ 2), how far apart the copies sit in
    * ingestion order (doc_id span, banded) — tight spans mean a
    * bounded ingestion-window dedup would catch them; wide spans prove
    * the dedup must be corpus-global. One map-combinable min/max pass
    * per fingerprint, integer bands, ≤4 output rows with ONE division
    * each. */
  val d45Sql: String =
    """WITH f AS (
      |  SELECT md5(text) AS h, COUNT(*)::BIGINT AS n,
      |    MAX(doc_id) - MIN(doc_id) AS span
      |  FROM documents GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT CASE WHEN span <= 10 THEN 'a<=10'
      |            WHEN span <= 100 THEN 'b<=100'
      |            WHEN span <= 1000 THEN 'c<=1000'
      |            ELSE 'd>1000' END AS span_band,
      |  COUNT(*)::BIGINT AS n_families, SUM(n)::BIGINT AS n_docs,
      |  CAST(SUM(span) AS DOUBLE) / COUNT(*) AS avg_span
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- d46
  /** Duplicate-rate ingestion drift: share of docs that are non-keeper
    * exact copies, per doc_id decile — the dedup face of the
    * t49/m21/s26 positional-drift quartet ("is the crawl re-fetching
    * more as it ages"). A doc is a dup iff its id differs from its
    * d01 family keeper (min id); deciles are integer arithmetic off a
    * 1-row corpus-max broadcast; one map-combinable family pass, one
    * co-keyed hash join back, ≤10 rows with ONE division each. */
  def d46(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    docs.withColumn("h", md5(col("text"))).join(keep, "h")
      .join(broadcast(mx))
      .groupBy(least(expr("doc_id * 10 div (max_id + 1)"), lit(9L)).as("decile"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        round(dbl(col("n_dups")) / col("n_docs"), 6).as("dup_rate"))
      .orderBy("decile")
  }
  val d46Sql: String =
    """WITH k AS (
      |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      |  FROM documents GROUP BY 1),
      |x AS (SELECT MAX(doc_id) AS max_id FROM documents),
      |j AS (
      |  SELECT doc_id, keep_id, max_id
      |  FROM documents JOIN k ON md5(text) = h CROSS JOIN x)
      |SELECT LEAST(doc_id * 10 // (max_id + 1), 9) AS decile,
      |  COUNT(*)::BIGINT AS n_docs,
      |  SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)::BIGINT AS n_dups,
      |  ROUND(CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS dup_rate
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- d47
  /** PageRank centrality on the near-dup graph (5 fixed iterations,
    * damping 0.85): which documents sit at the CENTER of duplication
    * mass — the keeper-selection signal d15's raw degree can't give
    * (a hub touching three separate dup families outranks a node with
    * three edges inside one clique). Per-iteration contributions are
    * round9-DECIMAL quantized before the exact sum, so ranks are
    * bit-deterministic under any partitioning/re-run; each round
    * localCheckpoints (CC's recipe) so plan lineage stays flat. Graph
    * volume is the J≥0.5 pair stream — bucketed upstream, never
    * all-pairs. Rows-only by design (iterative float recurrence has
    * no tractable SQL oracle); the smoke spec asserts the PageRank
    * mass invariant Σrank = \|nodes\| and per-row bounds. */
  def d47(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(spark, dir).select("doc_a", "doc_b")
    // ONE exchange for the whole loop: hash-partition the edge list by
    // src before caching, so each of the five contribution joins (all
    // keyed on src) reuses the cached layout instead of re-shuffling
    // the edges every round — the only remaining per-round shuffle is
    // the groupBy(dst) that the algorithm inherently needs. On a narrow
    // single-file input the edge list is tiny: hash it into the SMALL
    // partition count directly (coalesce would erase the partitioning
    // joins reuse), so five rounds of stages aren't full task waves.
    val nSmall = Tables.smallFrameParts(spark, dir)
    val shrink: DataFrame => DataFrame = d => nSmall.fold(d)(d.coalesce)
    val edges = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
      .transform(d =>
        nSmall.fold(d.repartition(col("src")))(n => d.repartition(n, col("src"))))
      .cache()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    var rank = Memo.checkpoint(spark,
      deg.select(col("src").as("doc_id"), lit(1.0d).as("r")))
    (1 to 5).foreach { _ =>
      val contrib = edges
        .join(deg, "src")
        .join(rank.select(col("doc_id").as("src"), col("r")), "src")
        .select(col("dst").as("doc_id"),
          round(col("r") / col("deg"), 9).cast("decimal(18,9)").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("s"))
      val next = rank.select(col("doc_id"))
        .join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(0.15d) + lit(0.85d) *
            coalesce(dbl(col("s")), lit(0.0d))).as("r"))
        .transform(shrink)
        .transform(Memo.checkpoint(spark, _))
      Memo.hardUnpersist(rank) // superseded generation (checkpoint blocks too)
      rank = next
    }
    val scored = rank
      .join(deg.select(col("src").as("doc_id"), col("deg")), "doc_id")
      .select(col("doc_id"), col("deg").as("degree"), round(col("r"), 6).as("rank"))
      .transform(Memo.checkpoint(spark, _))
      // ^ lineage cut so edges/deg can be released now
    edges.unpersist()
    deg.unpersist()
    scored.orderBy(col("rank").desc, col("doc_id"))
  }
  /** d47's oracle: the 5 fixed iterations unrolled as 5 chained CTEs.
    * Bit-deterministic across engines because every per-edge
    * contribution is quantized to DECIMAL(18,9) before the sum (exact,
    * order-independent) — the same round9 recipe the Spark side uses. */
  val d47Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    val iters = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT n.doc_id,
         |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
         |      COALESCE(CAST(c.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS r
         |  FROM (SELECT doc_id FROM r${k - 1}) n
         |  LEFT JOIN (
         |    SELECT e.dst AS doc_id,
         |      SUM(CAST(ROUND(p.r / g.deg, 9) AS DECIMAL(18,9))) AS s
         |    FROM edges e
         |    JOIN deg g ON e.src = g.src
         |    JOIN r${k - 1} p ON e.src = p.doc_id
         |    GROUP BY 1) c ON n.doc_id = c.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS doc_id, CAST(1.0 AS DOUBLE) AS r FROM deg),
       |$iters
       |SELECT r5.doc_id, g.deg AS degree, ROUND(r5.r, 6) AS "rank"
       |FROM r5 JOIN deg g ON r5.doc_id = g.src
       |ORDER BY "rank" DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d48
  /** idf-WEIGHTED Jaccard near-dup pairs (τ ≥ 0.5): shingles shared by
    * half the corpus (boilerplate headers, licence blocks) carry
    * almost no weight, so two docs that agree only on boilerplate no
    * longer pair — the d43-informed refinement of d03's uniform
    * Jaccard. idf terms are round9-DECIMAL quantized (exact,
    * order-independent weight sums); the threshold is an exact decimal
    * cross-multiplied compare, and the plain Jaccard rides along so
    * the boilerplate discount is visible per pair.
    *
    * Scale posture (the production pair generator): the pair self-join
    * runs on df-CAPPED postings (df <= 50, d06's recipe) while the doc
    * weight totals (wt, n) stay on the FULL postings. A hot gram in k
    * docs would cost O(k^2) join rows — a licence-block shingle in 1e7
    * docs is 1e14 rows — so it never reaches the join; dropping it can
    * only LOWER the measured intersection weight while the union weight
    * is unchanged, so the capped pair set is provably a subset of the
    * uncapped one and the reported weighted_j a lower bound (never an
    * inflated match — D48CapSpec pins both bounds against the uncapped
    * form). The bound is tight in practice: a gram hot enough to be
    * capped carries near-zero idf weight. */
  def d48(spark: SparkSession, dir: String): DataFrame =
    d48Pairs(spark, dir, maxDf = Some(D48MaxDf))

  /** Hot grams (df above this) are excluded from d48's pair join; their
    * idf weight still counts toward every doc's union weight. */
  val D48MaxDf: Long = 50L

  /** d48's pair kernel with the df-cap exposed (None = exact/uncapped —
    * the baseline D48CapSpec bounds the capped path against). */
  private[operators] def d48Pairs(spark: SparkSession, dir: String,
                                  maxDf: Option[Long]): DataFrame =
    d48Evidence(spark, dir, maxDf)
      .select(col("doc_a"), col("doc_b"),
        round(dbl(col("iw")) / dbl(col("uw")), 6).as("weighted_j"),
        round(dbl(col("inter")) /
          dbl(col("na") + col("nb") - col("inter")), 6).as("plain_j"))
      .orderBy("doc_a", "doc_b")

  /** The filtered weighted-pair evidence (doc_a, doc_b, iw, uw, inter,
    * na, nb) BEFORE d48's output projection/sort — d49 consumes the bare
    * keys, so it skips the round()s and the output range-sort. */
  private def d48Evidence(spark: SparkSession, dir: String,
                          maxDf: Option[Long]): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val posting = postingWithSize(sh)
    val nDocs = sh.agg(count(lit(1)).as("nd"))
    val wg = posting.groupBy("g").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .select(col("g"), col("df"),
        round(log(dbl(col("nd")) / col("df")), 9).cast("decimal(18,9)").as("w"))
    // cache: wpost feeds the doc-weight rollup AND both pair-join sides
    // — uncached, the idf aggregation + weight join re-ran per consumer
    // (same posture as the cached shingle frame it derives from)
    val wpost = posting.join(wg, "g").cache()
    // doc WEIGHT totals over the FULL posting list: capping must not
    // shrink the union weight, or a dropped non-shared hot gram could
    // promote a pair. Set sizes ride the posting rows instead (grams are
    // distinct, so n == the full per-doc posting count even on the
    // capped join side).
    val docw = wpost.groupBy("doc_id").agg(sum(col("w")).as("wt"))
    val joinSide = maxDf.fold(wpost)(cap => wpost.filter(col("df") <= cap))
    val inter = joinSide.as("a").join(joinSide.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w")).as("iw"), count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
    inter
      .join(docw.select(col("doc_id").as("doc_a"), col("wt").as("wa")), "doc_a")
      .join(docw.select(col("doc_id").as("doc_b"), col("wt").as("wb")), "doc_b")
      .withColumn("uw", col("wa") + col("wb") - col("iw"))
      // uw = 0 only when every gram of both docs is corpus-ubiquitous
      // (idf exactly 0): weighted_j would be 0/0 — NaN in Spark, an
      // engine-parity trap vs the oracle. Zero evidence is no pair.
      .filter(col("iw") * 2 >= col("uw") && col("uw") > 0)
  }
  val d48Sql: String =
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |nd AS (SELECT COUNT(*)::BIGINT AS nd FROM sh),
       |wg AS (
       |  SELECT g, COUNT(*)::BIGINT AS df,
       |    CAST(ROUND(ln(CAST(nd AS DOUBLE) / COUNT(*)), 9)
       |    AS DECIMAL(18,9)) AS w
       |  FROM posting CROSS JOIN nd GROUP BY g, nd),
       |wp AS (SELECT doc_id, posting.g, w, df FROM posting JOIN wg USING (g)),
       |docw AS (SELECT doc_id, SUM(w) AS wt, COUNT(*)::BIGINT AS n
       |         FROM wp GROUP BY 1),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    SUM(a.w) AS iw, COUNT(*)::BIGINT AS inter
       |  FROM wp a JOIN wp b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE a.df <= $D48MaxDf
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(iw AS DOUBLE) / CAST(wa.wt + wb.wt - iw AS DOUBLE), 6)
       |    AS weighted_j,
       |  ROUND(CAST(inter AS DOUBLE) / CAST(wa.n + wb.n - inter AS DOUBLE), 6)
       |    AS plain_j
       |FROM i
       |JOIN docw wa ON doc_a = wa.doc_id
       |JOIN docw wb ON doc_b = wb.doc_id
       |WHERE iw * 2 >= wa.wt + wb.wt - iw
       |  AND wa.wt + wb.wt - iw > 0
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d49
  /** Weighting-effect census: one row comparing the d03 (uniform) and
    * d48 (idf-weighted) pair sets at the same τ=0.5 — how many pairs
    * the weighting adds (content-similar docs diluted by unique
    * boilerplate) and removes (boilerplate-only agreement). THE
    * decision artifact for switching the production pair generator.
    * Full-outer join of two pair frames on the ordered key; 1-row
    * output. */
  def d49(spark: SparkSession, dir: String): DataFrame = {
    // keys-only sides: the census needs pair MEMBERSHIP, not d03/d48's
    // projected ratios or output sorts — both range-exchanges and all
    // round()s drop out of the plan (results identical: same pair sets)
    // plain side built DIRECT, not via the memoized sharedPairs: the
    // pair sets are identical, but routing through the memo was
    // MEASURED SLOWER cold (best-of-3 3.64 s direct vs 4.89 s via memo
    // at sf0.1/local[32]) — the persist + narrow-coalesce
    // materialization costs more than the saved join, and a fresh
    // session (what the bench prices) never has the memo warm. A
    // long-lived session still gets the reuse through every OTHER
    // sharedPairs consumer; d49 keeps the streaming shape.
    val sh = shingled(spark, dir).cache()
    val p = jaccardPairCounts(sh, 1, 2)
      .select(col("doc_a"), col("doc_b"), lit(1).as("pl"))
    val w = d48Evidence(spark, dir, maxDf = Some(D48MaxDf))
      .select(col("doc_a").as("wa"), col("doc_b").as("wb"),
        lit(1).as("wt"))
    p.join(w, col("doc_a") === col("wa") && col("doc_b") === col("wb"),
        "full_outer")
      .agg(sum(when(col("pl").isNotNull && col("wt").isNotNull, 1L)
             .otherwise(0L)).as("n_both"),
           sum(when(col("pl").isNotNull && col("wt").isNull, 1L)
             .otherwise(0L)).as("n_plain_only"),
           sum(when(col("pl").isNull && col("wt").isNotNull, 1L)
             .otherwise(0L)).as("n_weighted_only"))
  }
  val d49Sql: String =
    s"""WITH plainp AS (SELECT doc_a, doc_b FROM (${jaccardPairsSql(1, 2)})),
       |wp AS (SELECT doc_a AS wa, doc_b AS wb FROM ($d48Sql))
       |SELECT
       |  SUM(CASE WHEN doc_a IS NOT NULL AND wa IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both,
       |  SUM(CASE WHEN doc_a IS NOT NULL AND wa IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_plain_only,
       |  SUM(CASE WHEN doc_a IS NULL AND wa IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_weighted_only
       |FROM plainp FULL OUTER JOIN wp ON doc_a = wa AND doc_b = wb""".stripMargin

  // ---------------------------------------------------------------- d50
  /** Normalization-sensitivity census for exact dedup: how many extra
    * duplicate documents a lowercase + whitespace-collapse + trim
    * normalization reveals over raw byte-hashing (d01). Trivial
    * reformatting (re-wrapped lines, case drift from scrapers) defeats
    * raw md5 but is NOT meaningful novelty — this one row decides
    * whether the exact-dedup stage needs the normalizer in front of it
    * before paying for near-dup machinery on what is really exact mass.
    *
    * Scale: two scan-parallel hash projections + two map-combinable
    * groupBy-count-aggregates; the three 1-row summaries broadcast-join.
    * No pair joins anywhere — this is exact-dedup priced, not near-dup
    * priced. The whitespace class is spelled [ \t\n\r] in BOTH engines
    * (Java \s includes \x0B, RE2's does not — the explicit class keeps
    * the hashes bit-identical). */
  def d50(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def census(h: Column, g: String, d: String): DataFrame =
      docs.select(h.as("h")).groupBy("h").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as(g), sum(col("c") - 1).as(d))
    val raw = census(md5(col("text")), "raw_groups", "raw_dup_docs")
    val norm = census(
      md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r]+", " "))),
      "norm_groups", "norm_dup_docs")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    n.join(broadcast(raw)).join(broadcast(norm))
      .select(col("n_docs"), col("raw_groups"), col("raw_dup_docs"),
        col("norm_groups"), col("norm_dup_docs"),
        (col("norm_dup_docs") - col("raw_dup_docs")).as("revealed_dup_docs"))
  }
  val d50Sql: String =
    """WITH raw AS (
      |  SELECT COUNT(*)::BIGINT AS raw_groups, SUM(c - 1)::BIGINT AS raw_dup_docs
      |  FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)),
      |nrm AS (
      |  SELECT COUNT(*)::BIGINT AS norm_groups, SUM(c - 1)::BIGINT AS norm_dup_docs
      |  FROM (SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'))) AS h,
      |          COUNT(*) AS c
      |        FROM documents GROUP BY 1)),
      |n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents)
      |SELECT n_docs, raw_groups, raw_dup_docs, norm_groups, norm_dup_docs,
      |  norm_dup_docs - raw_dup_docs AS revealed_dup_docs
      |FROM n CROSS JOIN raw CROSS JOIN nrm""".stripMargin

  // ---------------------------------------------------------------- d51
  /** Shingle-width calibration sweep: the J≥0.5 pair mass at word-gram
    * widths k ∈ {2, 3, 4} — the knob every near-dup stack fixes once and
    * rarely audits. Narrow shingles over-pair (any shared phrase), wide
    * ones under-pair (one edit breaks k grams); this 3-row artifact
    * shows where the corpus sits so d03's k=3 is a measured choice, not
    * folklore.
    *
    * Scale: each width's pair join runs on df-capped postings (df ≤ 50,
    * d06's recipe — mandatory here, since k=2 grams are hot by
    * construction and the uncapped join would be O(df²) on "of the");
    * union sizes stay full, so each width's pair count is the same
    * conservative lower bound d06 ships. Three bounded sweeps, no
    * cross join, output is exactly 3 rows. */
  def d51(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val maxDf = 50
    // ONE pipeline for all three widths (the d52 sweep recipe): the
    // shingle frames union with a width tag, so the df count, the rare
    // filter, the pair self-join and every census aggregation run ONCE
    // keyed on (k, …) instead of three separate five-stage plans — same
    // per-width computation (join keys carry k), same 3-row output.
    val docs = Tables.documents(spark, dir).select("doc_id", "text").cache()
    val sh = Seq(2, 3, 4).map { k =>
      docs.select(lit(k).as("k"), col("doc_id"),
          expr(s"word_ngrams(text, $k)").as("grams"))
        .filter(size(col("grams")) >= 1)
    }.reduce(_.unionByName(_)).cache()
    val posting = sh.select(col("k"), col("doc_id"),
      size(col("grams")).cast("long").as("n"), explode(col("grams")).as("g"))
    val dfc = posting.groupBy("k", "g").agg(count(lit(1)).as("df"))
    val rare = posting.join(
      dfc.filter(col("df") <= maxDf).select("k", "g"), Seq("k", "g"))
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.k") === col("b.k") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.k").as("k"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .groupBy("k").agg(count(lit(1)).as("n_pairs"))
    val nDocs = sh.groupBy("k").agg(count(lit(1)).as("n_docs"))
    val nGrams = dfc.groupBy("k").agg(count(lit(1)).as("n_grams"))
    // a literal k frame + zero-coalesced left joins keep the old
    // per-width 1-row-aggregate semantics (a width with no qualifying
    // docs/pairs still emits its row with exact zeros)
    spark.range(1)
      .select(explode(array(lit(2), lit(3), lit(4))).as("k"))
      .join(nDocs, Seq("k"), "left").join(nGrams, Seq("k"), "left")
      .join(pairs, Seq("k"), "left")
      .select(col("k").cast("int").as("k"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("k")
  }
  /** DuckDB mirror of `shingled` generalized to width k. */
  private def shingledKSql(k: Int): String = {
    val concat = (0 until k).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(w) - ${k - 2}),
       |    i -> $concat)) AS grams
       |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)
       |WHERE len(w) >= $k""".stripMargin
  }
  val d51Sql: String = {
    val per = Seq(2, 3, 4).map { k =>
      s"""SELECT $k AS k,
         |  (SELECT COUNT(*)::BIGINT FROM sh$k) AS n_docs,
         |  (SELECT COUNT(DISTINCT g)::BIGINT FROM p$k) AS n_grams,
         |  (SELECT COUNT(*)::BIGINT
         |   FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |         FROM rp$k a JOIN rp$k b ON a.g = b.g AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2) i
         |   JOIN sz$k na ON doc_a = na.doc_id
         |   JOIN sz$k nb ON doc_b = nb.doc_id
         |   WHERE inter * 2 >= na.n + nb.n - inter) AS n_pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ctes = Seq(2, 3, 4).map { k =>
      s"""sh$k AS (${shingledKSql(k)}),
         |p$k AS (SELECT doc_id, UNNEST(grams) AS g FROM sh$k),
         |rp$k AS (SELECT doc_id, p$k.g FROM p$k
         |         JOIN (SELECT g FROM p$k GROUP BY g HAVING COUNT(*) <= 50) r
         |         USING (g)),
         |sz$k AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh$k)""".stripMargin
    }.mkString(",\n")
    s"WITH $ctes\n$per\nORDER BY k".stripMargin
  }

  // ---------------------------------------------------------------- d52
  /** LSH band/row calibration sweep: candidate volume, verified J ≥ 0.8
    * pairs, precision and recall at three (bands × rows) splits of the
    * SAME 128-perm signature — (16×8) strict, (32×4) shipped, (64×2)
    * loose. d29 audits the one shipped config; this prices the knob:
    * strict banding cuts candidate cost but starts missing true pairs
    * (P(catch | J=0.8) = 1−(1−0.8^r)^b), loose banding buys recall with
    * candidate volume. The exact J ≥ 0.8 pair set rides along as the
    * common denominator.
    *
    * Scale: the signature aggregation runs ONCE (128 map-combinable
    * min() columns) and is cached; each config re-bands the cached sig
    * (nBands hashes per doc) and pays one band-key self-join — the same
    * envelope as d02, three times. Output 3 rows. Rows-only: minhash is
    * not SQL-expressible; the smoke spec pins verified ⊆ exact, the
    * (32×4) no-miss guarantee, and strict ⊆-volume ordering. */
  def d52(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val sig = sharedSig(spark, dir)
    // keys-only exact side (the sweep never reads the ratio, so d03's
    // output projection + range-sort drop out of this plan)
    val exact = jaccardPairCounts(sh, 4, 5).select("doc_a", "doc_b").cache()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val configs = Seq((0, 16, 8), (1, 32, 4), (2, 64, 2))
    // ONE banded self-join for all three configs: every band struct is
    // tagged with its config id and the join keys on (cfg, band, key) —
    // identical candidate sets per config, same 112-row/doc total
    // fan-out, but one exchange + one distinct + one verify join instead
    // of three of each (guide §2.4)
    val bandCols = configs.flatMap { case (ci, b, r) =>
      require(b * r <= 128, "banding exceeds the 128-perm signature")
      (0 until b).map { j =>
        struct(lit(ci).as("cfg"), lit(j).as("band"),
          xxhash64((j * r until (j + 1) * r).map(i => col(s"m$i")): _*).as("key"))
      }
    }
    val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.cfg").as("cfg"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.cfg") === col("y.cfg") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg").as("cfg"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct().cache()
    val nCand = cand.groupBy("cfg").agg(count(lit(1)).as("n_candidates"))
    val nVer = cand.join(exact, Seq("doc_a", "doc_b"))
      .groupBy("cfg").agg(count(lit(1)).as("n_verified"))
    val cfgRows = spark.range(1).select(explode(array(configs.map {
      case (ci, b, r) => struct(lit(ci).as("cfg"), lit(b).cast("int").as("n_bands"),
        lit(r).cast("int").as("rows_per_band"))
    }: _*)).as("c"))
      .select(col("c.cfg").as("cfg"), col("c.n_bands").as("n_bands"),
        col("c.rows_per_band").as("rows_per_band"))
    // left joins + zero-coalesce keep the "no candidates at this config"
    // row present, exactly like the old per-config 1-row aggregates
    cfgRows.join(nCand, Seq("cfg"), "left").join(nVer, Seq("cfg"), "left")
      .join(broadcast(nExact))
      .select(col("n_bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        col("n_exact"),
        when(coalesce(col("n_candidates"), lit(0L)) > 0,
          round(dbl(coalesce(col("n_verified"), lit(0L))) /
            col("n_candidates"), 6))
          .otherwise(lit(0.0d)).as("precision"),
        when(col("n_exact") > 0,
          round(dbl(coalesce(col("n_verified"), lit(0L))) / col("n_exact"), 6))
          .otherwise(lit(0.0d)).as("recall"))
      .orderBy("n_bands")
  }

  // ---------------------------------------------------------------- d53
  /** MinHash estimator-error audit: over a wide candidate set (the loose
    * 64×2 banding, which surfaces pairs well below the ship threshold),
    * the signed error of the signature estimate ĵ = agreement/128
    * against exact Jaccard, banded with per-band mean |error| — the
    * calibration that justifies the 128-perm signature width (theory:
    * σ = √(J(1−J)/128) ≤ 0.045, so mass concentrates in the ±0.05
    * band; a corpus that violates this is telling you the hash family
    * broke, not the math).
    *
    * Scale: one cached signature aggregation + one band self-join for
    * candidates; the agreement count is a 128-term codegen'd equality
    * sum on the joined signature rows (no per-perm explode), the exact
    * side is d02Verify's gram-intersect WITHOUT the threshold filter.
    * Rows-only (minhash is not SQL-expressible); the smoke spec pins
    * mean |error| ≤ 0.1 and central-band dominance. */
  def d53(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val sig = sharedSig(spark, dir)
    val bands = bandsOf(sig, 64, 2)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val agree = (0 until 128)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val ga = sh.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = sh.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("est_j", agree.cast("double") / lit(128.0d))
      .select("doc_a", "doc_b", "est_j")
      .join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("un", size(col("grams_a")).cast("long")
        + size(col("grams_b")).cast("long") - col("inter"))
      .withColumn("err", col("est_j") - dbl(col("inter")) / dbl(col("un")))
      .groupBy(when(col("err") < -0.1d, "a_lt_-0.10")
        .when(col("err") < -0.05d, "b_lt_-0.05")
        .when(col("err") < 0.05d, "c_center")
        .when(col("err") < 0.1d, "d_lt_0.10")
        .otherwise("e_ge_0.10").as("err_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(abs(col("err")), 9).cast("decimal(18,9)")).as("s"))
      .select(col("err_band"), col("n_pairs"),
        round(dbl(col("s")) / col("n_pairs"), 6).as("mean_abs_err"))
      .orderBy("err_band")
  }

  // ---------------------------------------------------------------- d54
  /** df-cap calibration sweep — the last knob of the calibration suite
    * (d51 fixes the shingle width, d52 the banding, d53 the signature
    * size; this prices the cap): J ≥ 0.5 pair counts under postings
    * capped at df ≤ 25 / 50 / 100 against the uncapped exact baseline,
    * with pairs lost per cap. The cap trades pair-join cost (O(df²) per
    * hot gram) against missed borderline pairs (capping only LOWERS
    * measured J — d06's conservative bound), and d06/d48 ship cap=50 on
    * folklore until this row says otherwise.
    *
    * Scale: the shingle fan-out and df counts compute once (cached
    * postings + per-gram df joined in); each cap's pair join runs on
    * its filtered postings. The exact baseline is BY DEFINITION the
    * memoized J≥0.5 pair stream (jaccardPairs(sh,1,2) — the same
    * inter·2 ≥ union filter), so the a_exact row costs one count over
    * [[sharedPairs]] instead of a fourth (and uncapped) pair join.
    * Output 4 rows. */
  def d54(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val posting = postingWithSize(sh)
    // ONE pair join at the loosest cap (df <= 100) instead of three: a
    // shared gram's df decides which caps it counts under, so the three
    // capped intersection sizes are conditional sums of the same
    // aggregation, and each cap's threshold test runs on its own i_c
    // (a pair invisible under a tighter cap has i_c = 0 and can never
    // pass inter·2 ≥ union > 0 — exactly the old per-cap join's output).
    // Guide §2.4/§1.2: three full posting self-joins collapse to one.
    val wdf = posting.join(
      posting.groupBy("g").agg(count(lit(1)).as("df")), "g")
    val p = wdf.filter(col("df") <= 100L)
    val perPair = p.as("a").join(p.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(when(col("a.df") <= 25L, 1L).otherwise(0L)).as("i25"),
        sum(when(col("a.df") <= 50L, 1L).otherwise(0L)).as("i50"),
        count(lit(1)).as("i100"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
    def pass(i: Column) = i * 2 >= col("na") + col("nb") - i
    // coalesce: a no-groupBy agg over an EMPTY pair stream yields one
    // row of NULL sums where the old per-cap count (and the oracle)
    // emits 0 — same zero-coalesce d51/d52 apply to empty sweep cells
    val counts = perPair.agg(
      coalesce(sum(when(pass(col("i100")), 1L).otherwise(0L)), lit(0L)).as("c100"),
      coalesce(sum(when(pass(col("i50")), 1L).otherwise(0L)), lit(0L)).as("c50"),
      coalesce(sum(when(pass(col("i25")), 1L).otherwise(0L)), lit(0L)).as("c25"))
    val exact = sharedPairs(spark, dir).agg(count(lit(1)).as("n_exact"))
    counts.join(broadcast(exact))
      .select(explode(array(
        struct(lit("a_exact").as("cap"), col("n_exact").as("n_pairs"),
          lit(0L).as("pairs_lost")),
        struct(lit("b_cap100").as("cap"), col("c100").as("n_pairs"),
          (col("n_exact") - col("c100")).as("pairs_lost")),
        struct(lit("c_cap50").as("cap"), col("c50").as("n_pairs"),
          (col("n_exact") - col("c50")).as("pairs_lost")),
        struct(lit("d_cap25").as("cap"), col("c25").as("n_pairs"),
          (col("n_exact") - col("c25")).as("pairs_lost")))).as("s"))
      .select(col("s.cap").as("cap"), col("s.n_pairs").as("n_pairs"),
        col("s.pairs_lost").as("pairs_lost"))
      .orderBy("cap")
  }
  val d54Sql: String = {
    def pairSql(cap: Option[Long]): String = {
      val capFilter = cap.fold("")(c => s"WHERE df <= $c")
      s"""SELECT COUNT(*)::BIGINT AS n_pairs FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM (SELECT * FROM wdf $capFilter) a
         |  JOIN (SELECT * FROM wdf $capFilter) b
         |    ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2) i
         |JOIN sizes na ON doc_a = na.doc_id
         |JOIN sizes nb ON doc_b = nb.doc_id
         |WHERE inter * 2 >= na.n + nb.n - inter""".stripMargin
    }
    val rows = Seq(("a_exact", None: Option[Long]), ("b_cap100", Some(100L)),
      ("c_cap50", Some(50L)), ("d_cap25", Some(25L))).map { case (label, cap) =>
      s"""SELECT '$label' AS cap, n_pairs, (SELECT n_pairs FROM (${pairSql(None)})) - n_pairs AS pairs_lost
         |FROM (${pairSql(cap)})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sh AS ($shingledSql),
       |posting AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
       |wdf AS (
       |  SELECT doc_id, posting.g, df FROM posting
       |  JOIN (SELECT g, COUNT(*)::BIGINT AS df FROM posting GROUP BY 1) d
       |  USING (g)),
       |sizes AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n FROM sh)
       |$rows
       |ORDER BY cap""".stripMargin
  }

  // ---------------------------------------------------------------- d55
  /** Analytic pair-join cost model: the gram df histogram priced as
    * Σ df·(df−1)/2 candidate pairs per df band — the closed-form
    * companion to d54's empirical cap sweep. The e_gt_100 band's pair
    * share IS the cost the df-cap deletes (a single gram in k docs
    * costs k²/2 join rows), so this one cheap scan predicts whether the
    * capped path is worth running BEFORE any pair join is attempted —
    * on a fresh 100 TB corpus this runs first and sizes everything.
    *
    * Scale: shingle fan-out + one groupBy(gram) for df, a 5-row banded
    * rollup, a 1-row total broadcast for shares. No pair join at all. */
  def d55(spark: SparkSession, dir: String): DataFrame = {
    val dfc = shingled(spark, dir)
      .select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .withColumn("pairs", expr("df * (df - 1) div 2"))
    val tot = dfc.agg(sum(col("pairs")).as("tot_pairs"))
    dfc.groupBy(
        when(col("df") === 1L, "a_unique")
          .when(col("df") <= 5L, "b_2_5")
          .when(col("df") <= 25L, "c_6_25")
          .when(col("df") <= 100L, "d_26_100")
          .otherwise("e_gt_100").as("df_band"))
      .agg(count(lit(1)).as("n_grams"), sum(col("pairs")).as("n_pairs"))
      .join(broadcast(tot))
      .select(col("df_band"), col("n_grams"), col("n_pairs"),
        round(when(col("tot_pairs") > 0,
          dbl(col("n_pairs")) / col("tot_pairs")), 6).as("pair_share"))
      .orderBy("df_band")
  }
  val d55Sql: String =
    s"""WITH sh AS ($shingledSql),
       |dfc AS (
       |  SELECT g, COUNT(*)::BIGINT AS df,
       |    COUNT(*)::BIGINT * (COUNT(*)::BIGINT - 1) // 2 AS pairs
       |  FROM (SELECT doc_id, UNNEST(grams) AS g FROM sh) GROUP BY g),
       |t AS (SELECT SUM(pairs)::BIGINT AS tot_pairs FROM dfc)
       |SELECT CASE WHEN df = 1 THEN 'a_unique' WHEN df <= 5 THEN 'b_2_5'
       |            WHEN df <= 25 THEN 'c_6_25' WHEN df <= 100 THEN 'd_26_100'
       |            ELSE 'e_gt_100' END AS df_band,
       |  COUNT(*)::BIGINT AS n_grams, SUM(pairs)::BIGINT AS n_pairs,
       |  ROUND(CASE WHEN tot_pairs > 0
       |    THEN CAST(SUM(pairs) AS DOUBLE) / tot_pairs END, 6) AS pair_share
       |FROM dfc CROSS JOIN t
       |GROUP BY df_band, tot_pairs ORDER BY df_band""".stripMargin

  // ---------------------------------------------------------------- d56
  /** Empirical LSH S-curve: among EXACT J ≥ 0.5 pairs (the memoized
    * [[sharedPairs]] stream), the fraction actually surfaced as
    * candidates by d02's 32-band × 4-row MinHash LSH, per 0.05-wide
    * Jaccard band, next to the textbook expectation 1 − (1 − J^r)^b at
    * the band midpoint — the table that justifies (or indicts) a chosen
    * (b, r) before a 100 TB run. Detection uses a left join against the
    * DISTINCT candidate stream (both sides memoized; the join key is the
    * pair itself, uniform by construction).
    *
    * Rows-only: the detected flag depends on the 128-perm signature
    * (seeded JVM-side), not SQL-expressible — the spec pins full
    * exact-pair coverage across bands, detected ⊆ pairs, and ≥ 0.95
    * detection in the top populated band (where escape probability is
    * astronomically small at 32 × 4).
    *
    * Scale: |pairs over J ≥ 0.5| is the dedup evidence stream itself
    * (bounded by the inverted-index join); candidates are band-bucketed;
    * the rollup is ≤ 10 rows. */
  def d56(spark: SparkSession, dir: String): DataFrame = {
    val exact = sharedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cand = d02Candidates(spark, dir).withColumn("det", lit(1L))
    // S-curve 1-(1-p^r)^b at d02's (b=32, r=4), as exact multiply chains
    // (p^4 = (p²)²; q^32 = five squarings) — never libm pow, which is not
    // correctly rounded and burned p33's oracle parity in round 6.
    val p = lit(0.5) + (col("band") + 0.5) * 0.05
    val p2 = p * p
    val q = lit(1d) - p2 * p2
    val q2 = q * q; val q4 = q2 * q2; val q8 = q4 * q4
    val q16 = q8 * q8; val q32 = q16 * q16
    exact.join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("band", least(floor((col("jaccard") - 0.5) / 0.05), lit(9L)).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("det"), lit(0L))).as("n_detected"))
      .select(col("band"),
        round(lit(0.5) + col("band") * 0.05, 6).as("band_lo"),
        col("n_pairs"), col("n_detected"),
        round(dbl(col("n_detected")) / col("n_pairs"), 6).as("detect_rate"),
        round(lit(1d) - q32, 6).as("expected_rate"))
      .orderBy("band")
  }

  // ---------------------------------------------------------------- d57
  /** Rarest-gram seed bucketing — the cheapest candidate generator there
    * is (ONE bucket per doc: its minimum-df shingle, ties by gram text),
    * audited for precision/recall against the exact J ≥ 0.5 stream.
    * Near-identical docs share their rarest gram almost surely, so
    * recall stays high while candidate volume collapses: each doc joins
    * exactly one bucket, and a bucket for gram g can never exceed df(g)
    * docs — seeds PREFER low df, so hot grams are structurally starved
    * (a gram is only a seed for docs that contain nothing rarer). The
    * one-row report prices this generator against d02's LSH and d06's
    * df-cap for the 100 TB candidate-generation budget.
    *
    * Scale: df is a map-combinable gram count; the seed pick is a
    * map-combinable min(struct(df, gram)) per doc — never a window over
    * postings; the bucket self-join is df-bounded per bucket as argued
    * above; the exact stream is the memoized [[sharedPairs]]. */
  def d57(spark: SparkSession, dir: String): DataFrame = {
    // cache sh (feeds posting twice via the seed build + the n_docs agg)
    // and seed (read by BOTH self-join sides and the bucket count —
    // uncached it re-ran the posting⋈df join + argmin three times)
    val sh = shingled(spark, dir).cache()
    val posting = sh.select(col("doc_id"), explode(col("grams")).as("g"))
    val dft = posting.groupBy("g").agg(count(lit(1)).as("df"))
    val seed = posting.join(dft, "g")
      .groupBy("doc_id").agg(min(struct(col("df"), col("g"))).as("m"))
      .select(col("doc_id"), col("m").getField("g").as("g"))
      .cache()
    val cand = seed.as("a").join(seed.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val ex = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val det = cand.join(ex, Seq("doc_a", "doc_b"))
    sh.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(seed.agg(count_distinct(col("g")).as("n_buckets"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(ex.agg(count(lit(1)).as("n_exact"))))
      .crossJoin(broadcast(det.agg(count(lit(1)).as("n_detected"))))
      .select(col("n_docs"), col("n_buckets"), col("n_candidates"),
        col("n_exact"), col("n_detected"),
        round(when(col("n_candidates") > 0,
          dbl(col("n_detected")) / col("n_candidates")).otherwise(0d), 6)
          .as("seed_precision"),
        round(when(col("n_exact") > 0,
          dbl(col("n_detected")) / col("n_exact")).otherwise(0d), 6)
          .as("seed_recall"))
  }
  val d57Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
    s"""WITH shd AS ($shingledSql),
       |post AS (SELECT doc_id, UNNEST(grams) AS g FROM shd),
       |dft AS (SELECT g, COUNT(*)::BIGINT AS df FROM post GROUP BY 1),
       |seed AS (
       |  SELECT doc_id, g FROM (
       |    SELECT p.doc_id, p.g,
       |      ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.g) AS rn
       |    FROM post p JOIN dft d USING (g))
       |  WHERE rn = 1),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM seed a JOIN seed b ON a.g = b.g AND a.doc_id < b.doc_id),
       |ex AS (SELECT doc_a, doc_b FROM ($pairSql)),
       |det AS (SELECT COUNT(*)::BIGINT AS n_detected
       |        FROM cand JOIN ex USING (doc_a, doc_b)),
       |s1 AS (SELECT COUNT(*)::BIGINT AS n_docs FROM shd),
       |s2 AS (SELECT COUNT(DISTINCT g)::BIGINT AS n_buckets FROM seed),
       |s3 AS (SELECT COUNT(*)::BIGINT AS n_candidates FROM cand),
       |s4 AS (SELECT COUNT(*)::BIGINT AS n_exact FROM ex)
       |SELECT n_docs, n_buckets, n_candidates, n_exact, n_detected,
       |  ROUND(CASE WHEN n_candidates > 0
       |    THEN CAST(n_detected AS DOUBLE) / n_candidates ELSE 0.0 END, 6) AS seed_precision,
       |  ROUND(CASE WHEN n_exact > 0
       |    THEN CAST(n_detected AS DOUBLE) / n_exact ELSE 0.0 END, 6) AS seed_recall
       |FROM s1 CROSS JOIN s2 CROSS JOIN s3 CROSS JOIN s4 CROSS JOIN det""".stripMargin
  }

  // ---------------------------------------------------------------- d58
  /** Signature-width sweep: MinHash estimator MAE and RMSE at k ∈
    * {32, 64, 128} permutations — the k-prefixes of the SAME memoized
    * 128-perm signature are themselves valid k-perm signatures (any
    * subset of the Carter–Wegman family is), so the sweep prices the
    * storage-vs-accuracy knob (signature bytes/doc scale linearly in k;
    * σ theory says error shrinks as 1/√k) without a second signature
    * pass. Completes the calibration suite: d51 fixes the shingle width,
    * d52 the banding, d53 audits k=128, this prices k itself.
    *
    * Scale: rides the memoized signature + d53's loose-band candidate
    * set; per-pair work is three codegen'd equality-sum folds (no
    * per-perm explode) and a 3-way literal-array fan-out. Rows-only
    * (minhash is not SQL-expressible); the smoke spec pins the 1/√k
    * error ordering with slack and d53's ≤0.1 MAE at k=128. */
  def d58(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val sig = sharedSig(spark, dir)
    val bands = bandsOf(sig, 64, 2)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    def est(k: Int) = ((0 until k)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)).cast("double") / lit(k.toDouble)
    val ga = sh.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = sh.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        est(32).as("e32"), est(64).as("e64"), est(128).as("e128"))
      .join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("j", dbl(col("inter")) /
        dbl(size(col("grams_a")).cast("long") + size(col("grams_b")).cast("long")
          - col("inter")))
      .select(explode(array(
          struct(lit(32L).as("k"), col("e32").as("est")),
          struct(lit(64L).as("k"), col("e64").as("est")),
          struct(lit(128L).as("k"), col("e128").as("est")))).as("s"),
        col("j"))
      .select(col("s.k").as("n_perms"), (col("s.est") - col("j")).as("err"))
      .groupBy("n_perms")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(abs(col("err")), 9).cast("decimal(18,9)")).as("sa"),
        sum(round(col("err") * col("err"), 9).cast("decimal(18,9)")).as("sq"))
      .select(col("n_perms"), col("n_pairs"),
        round(dbl(col("sa")) / col("n_pairs"), 6).as("mean_abs_err"),
        round(sqrt(dbl(col("sq")) / col("n_pairs")), 6).as("rmse"))
      .orderBy("n_perms")
  }

  // ---------------------------------------------------------------- d59
  /** Cross-sketch agreement census: the exact J ≥ 0.5 pair stream
    * classified by which candidate generator surfaces it — d02's
    * 32×4 MinHash LSH, d04's 16-bit-banded SimHash (Hamming ≤ 8),
    * both, or neither — plus each method's extra (non-exact)
    * candidate volume. The two sketch families fail differently
    * (MinHash mirrors set Jaccard; SimHash weights repeated tokens
    * and misses small-overlap pairs a permutation can still catch),
    * so the disagreement cells are the evidence for running one, the
    * other, or both at 100 TB — d56 prices LSH recall alone; this
    * prices the ENSEMBLE.
    *
    * Scale: all three pair streams are memoized/banded (no new pair
    * join shapes); the classification is two doc-pair-keyed left
    * joins plus two anti-join counts. Rows-only (both sketches are
    * hash kernels with no portable SQL form); the smoke spec pins the
    * partition identity and both recalls. */
  def d59(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val exact = sharedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val bands = d02Bands(spark, dir)
    // both candidate sets are read TWICE (the census left-join and the
    // extra-volume anti-join) — uncached, each self-join ran twice
    val lsh = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct().cache()
    val sig = Tables.documents(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), expr("simhash64(word_tokens(text))").as("simhash"))
      .cache()
    val sim = hammingBandPairs(sig, "simhash", maxHamming = 8)
      .select(col("doc_a"), col("doc_b")).cache()
    val census = exact
      .join(lsh.withColumn("in_lsh", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .join(sim.withColumn("in_sim", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .select(when(col("in_lsh").isNotNull && col("in_sim").isNotNull, "exact_both")
        .when(col("in_lsh").isNotNull, "exact_lsh_only")
        .when(col("in_sim").isNotNull, "exact_sim_only")
        .otherwise("exact_missed").as("category"))
      .groupBy("category").agg(count(lit(1)).as("n_pairs"))
    val extras = Seq(
      ("lsh_extra", lsh.join(exact, Seq("doc_a", "doc_b"), "left_anti")),
      ("sim_extra", sim.join(exact, Seq("doc_a", "doc_b"), "left_anti")))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_pairs"))
          .select(lit(name).as("category"), col("n_pairs"))
      }.reduce(_ union _)
    census.union(extras).orderBy("category")
  }


  // ---------------------------------------------------------------- d60
  /** Posting-list skew census — THE cost driver of every inverted-index
    * pair join in this library: shingles banded by document frequency,
    * with each band's gram count, total postings, and its share of the
    * pair-join cost Σ df·(df−1)/2 (the number of candidate pairs a gram
    * generates). The d06/d48 df-cap (50) was picked by exactly this
    * math; the table makes the budget auditable per corpus — if the
    * >50 band carries most of the pair cost, the cap is load-bearing;
    * if not, it is free insurance.
    *
    * Scale: one gram-count rollup (map-combinable) + a ≤ 6-row census;
    * every output column is exact integer arithmetic — pair counts via
    * integral division (df·(df−1) is always even, so `div 2` is exact)
    * and the cost share as parts-per-million BIGINT, never a double
    * (the round-7 driver hash-fail class: CORRECTNESS_r07 d60). */
  def d60(spark: SparkSession, dir: String): DataFrame = {
    val dft = shingled(spark, dir)
      .select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    val band = when(col("df") === 1, "a_df1")
      .when(col("df") === 2, "b_df2")
      .when(col("df") <= 5, "c_df3_5")
      .when(col("df") <= 10, "d_df6_10")
      .when(col("df") <= 50, "e_df11_50")
      .otherwise("f_df_gt50")
    val cell = dft.groupBy(band.as("df_band"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("df")).as("n_postings"),
        sum(expr("(cast(df as decimal(38,0)) * (df - 1)) div 2")).as("pair_cost"))
    val tot = cell.agg(sum(col("pair_cost")).as("tot_cost"))
    cell.crossJoin(broadcast(tot))
      .select(col("df_band"), col("n_grams"), col("n_postings"), col("pair_cost"),
        expr("(cast(pair_cost as decimal(38,0)) * 1000000) div tot_cost")
          .as("cost_share_ppm"))
      .orderBy("df_band")
  }
  val d60Sql: String =
    s"""WITH sh AS ($shingledSql),
       |dft AS (
       |  SELECT g, COUNT(*)::BIGINT AS df
       |  FROM (SELECT UNNEST(grams) AS g FROM sh) GROUP BY 1),
       |cell AS (
       |  SELECT CASE WHEN df = 1 THEN 'a_df1' WHEN df = 2 THEN 'b_df2'
       |      WHEN df <= 5 THEN 'c_df3_5' WHEN df <= 10 THEN 'd_df6_10'
       |      WHEN df <= 50 THEN 'e_df11_50' ELSE 'f_df_gt50' END AS df_band,
       |    COUNT(*)::BIGINT AS n_grams, SUM(df)::BIGINT AS n_postings,
       |    CAST(SUM((df::HUGEINT * (df - 1)) // 2) AS BIGINT) AS pair_cost
       |  FROM dft GROUP BY 1),
       |tot AS (SELECT SUM(pair_cost)::BIGINT AS tot_cost FROM cell)
       |SELECT df_band, n_grams, n_postings, pair_cost,
       |  CAST((pair_cost::HUGEINT * 1000000) // tot_cost AS BIGINT) AS cost_share_ppm
       |FROM cell CROSS JOIN tot ORDER BY df_band""".stripMargin

  // ---------------------------------------------------------------- d61
  /** Corpus-distinct-shingle sketch audit — the kmv_distinct64 showcase:
    * the 64-bit-domain KMV estimate of the corpus's distinct 3-gram
    * count at k ∈ {256, 1024} next to the exact count (test-scale truth
    * column). THIS is the sketch the 100 TB vocabulary/dedup sizing
    * pass runs — distinct shingles at corpus scale exceed the 2³¹−1
    * arithmetic-hash domain that keeps e103's kmv_distinct
    * oracle-checkable, so the 64-bit variant trades the DuckDB hash for
    * headroom (SCALE.md round-7 notes) and is audited here rows-only
    * with a spec-pinned error bound instead.
    *
    * Scale: the sketch side shuffles k longs total regardless of corpus
    * size; the exact side is ONE count_distinct kept as the audit's
    * truth column at test scale. */
  def d61(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val posting = shingled(spark, dir).select(explode(col("grams")).as("g"))
    val sk = posting.agg(
      expr("kmv_distinct64(g, 256)").as("s256"),
      expr("kmv_distinct64(g, 1024)").as("s1024"),
      count_distinct(col("g")).as("n_exact"))
    sk.select(explode(array(
        struct(lit(256L).as("k"), col("s256.est_distinct").as("est"), col("n_exact")),
        struct(lit(1024L).as("k"), col("s1024.est_distinct").as("est"), col("n_exact"))))
        .as("r"))
      .select(col("r.k").as("k"), col("r.n_exact").as("n_exact"),
        round(col("r.est"), 3).as("est_distinct"),
        round(abs(col("r.est") - dbl(col("r.n_exact"))) / nullifzero(dbl(col("r.n_exact"))), 6)
          .as("rel_err"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- d62
  /** Decontamination n-gram-width sweep: the d11 screen at n ∈ {4, 8, 13}
    * (13 is the published LLM-decontam standard; 4 is this library's
    * strict default) — flagged training docs, their token bill, and ppm
    * shares per width. The table that prices the screen's width knob:
    * small n over-flags (generic phrases), large n under-flags
    * (paraphrase survives), and the budget owner needs the token delta.
    *
    * Scale: per width, the eval posting list is the broadcast side
    * (benchmarks are thousands of docs) and the training corpus streams
    * map-side, exactly d11's envelope ×3; all outputs exact integers
    * (ppm via integral division). */
  def d62(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(expr("word_tokens(text)")).cast("long").as("nt"))
      .cache()
    val trainTot = docs.filter(col("doc_id") % 20 =!= 0)
      .agg(count(lit(1)).as("train_docs"), sum(col("nt")).as("train_tokens"))
    Seq(4, 8, 13).map { n =>
      val post = docs
        .select(col("doc_id"), explode(expr(s"word_ngrams(text, $n)")).as("g"))
      val ev = post.filter(col("doc_id") % 20 === 0).select("g").distinct()
      val flagged = post.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(ev), "g").select("doc_id").distinct()
      flagged.join(docs.select("doc_id", "nt"), "doc_id")
        .agg(count(lit(1)).as("flagged_docs"),
          coalesce(sum(col("nt")), lit(0L)).as("flagged_tokens"))
        .crossJoin(broadcast(trainTot))
        .selectExpr(s"cast($n as bigint) as gram_n",
          "flagged_docs", "flagged_tokens",
          "(cast(flagged_docs as decimal(38,0)) * 1000000) div nullif(train_docs, 0) as flagged_doc_ppm",
          "(cast(flagged_tokens as decimal(38,0)) * 1000000) div nullif(train_tokens, 0) as flagged_token_ppm")
    }.reduce(_.unionByName(_)).orderBy("gram_n")
  }
  val d62Sql: String = {
    val per = Seq(4, 8, 13).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS gram_n,
         |  (SELECT COUNT(*)::BIGINT FROM fl$n) AS flagged_docs,
         |  (SELECT COALESCE(SUM(nt), 0)::BIGINT
         |     FROM toks WHERE doc_id IN (SELECT doc_id FROM fl$n)) AS flagged_tokens,
         |  CAST(((SELECT COUNT(*)::HUGEINT FROM fl$n) * 1000000)
         |    // (SELECT train_docs FROM tt) AS BIGINT) AS flagged_doc_ppm,
         |  CAST(((SELECT COALESCE(SUM(nt), 0)::HUGEINT
         |         FROM toks WHERE doc_id IN (SELECT doc_id FROM fl$n)) * 1000000)
         |    // (SELECT train_tokens FROM tt) AS BIGINT) AS flagged_token_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ctes = Seq(4, 8, 13).map { n =>
      s"""p$n AS (SELECT doc_id, UNNEST(grams) AS g FROM (${shingledKSql(n)})),
         |fl$n AS (
         |  SELECT DISTINCT t.doc_id FROM p$n t
         |  JOIN (SELECT DISTINCT g FROM p$n WHERE doc_id % 20 = 0) e USING (g)
         |  WHERE t.doc_id % 20 <> 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
       |  FROM documents),
       |tt AS (SELECT COUNT(*)::HUGEINT AS train_docs, SUM(nt)::HUGEINT AS train_tokens
       |       FROM toks WHERE doc_id % 20 <> 0),
       |$ctes
       |$per
       |ORDER BY gram_n""".stripMargin
  }

  // ---------------------------------------------------------------- d63
  /** Shingle-width pair-join cost census: at widths k ∈ {1, 2, 3, 5},
    * the inverted index's gram count, posting volume, and candidate-pair
    * cost Σ df·(df−1)/2 — d60 prices the df bands at the shipped width;
    * this prices the WIDTH itself (wider shingles → rarer grams → the
    * pair join collapses; k=1 shows the uncapped bag-of-words blowup the
    * cap exists for). d51 measures result sensitivity; this measures
    * compute cost. All-integer output.
    *
    * Scale: one map-combinable gram rollup per width (4 bounded scans),
    * 4-row output; nothing joins. */
  def d63(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    Seq(1, 2, 3, 5).map { k =>
      docs.select(explode(expr(s"word_ngrams(text, $k)")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .agg(count(lit(1)).as("n_grams"), sum(col("df")).as("n_postings"),
          sum(expr("(cast(df as decimal(38,0)) * (df - 1)) div 2")).as("pair_cost"))
        .selectExpr(s"cast($k as bigint) as shingle_k", "n_grams", "n_postings",
          "pair_cost",
          "(cast(pair_cost as decimal(38,0)) * 1000000) div greatest(n_postings, 1) as cost_per_posting_ppm")
    }.reduce(_.unionByName(_)).orderBy("shingle_k")
  }
  val d63Sql: String = {
    val per = Seq(1, 2, 3, 5).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS shingle_k, COUNT(*)::BIGINT AS n_grams,
         |  SUM(df)::BIGINT AS n_postings,
         |  CAST(SUM((df::HUGEINT * (df - 1)) // 2) AS BIGINT) AS pair_cost,
         |  CAST((CAST(SUM((df::HUGEINT * (df - 1)) // 2) AS HUGEINT) * 1000000)
         |    // GREATEST(SUM(df)::HUGEINT, 1) AS BIGINT) AS cost_per_posting_ppm
         |FROM (SELECT g, COUNT(*)::BIGINT AS df
         |      FROM (SELECT UNNEST(grams) AS g FROM (${shingledKSql(k)}))
         |      GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$per\nORDER BY shingle_k"
  }

  // ---------------------------------------------------------------- d64
  /** Near-dup cluster tightness census: every d10 cluster's size, the
    * J ≥ 0.5 pairs it actually contains, its min/max pair Jaccard (ppm),
    * and whether it is CHAINED (pairs < n·(n−1)/2 — members related only
    * transitively). Chained clusters are where keep-one-per-cluster
    * dedup is most aggressive (two kept-apart docs may share nothing);
    * this table is the audit that decision reads. Integer-pure: Jaccard
    * ppm from the pair stream's exact (inter, union) counts via
    * integral division — no float anywhere.
    *
    * Scale: rides the memoized pair counts + CC labels; the rollup is
    * one groupBy over pairs (bounded by the pair stream) + one over
    * members. */
  def d64(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).cache()
    val pc = jaccardPairCounts(sh, 1, 2)
      .withColumn("j_ppm", expr("(cast(inter as decimal(38,0)) * 1000000) div un"))
    val cc = sharedClusters(spark, dir)
    val byA = pc.join(cc.withColumnRenamed("doc_id", "doc_a"), "doc_a")
    val perCluster = byA.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("j_ppm")).as("min_j_ppm"), max(col("j_ppm")).as("max_j_ppm"))
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
    sizes.join(perCluster, "cluster_id")
      .withColumn("chained",
        col("n_pairs") * 2 < col("n_docs") * (col("n_docs") - 1))
      .select(col("cluster_id"), col("n_docs"), col("n_pairs"),
        col("min_j_ppm"), col("max_j_ppm"), col("chained"))
      .orderBy("cluster_id")
  }
  val d64Sql: String = {
    val pairSql = jaccardPairsSql(1, 2).replace("ORDER BY doc_a, doc_b", "")
      .replace(
        """SELECT doc_a, doc_b,
          |  CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard""".stripMargin,
        """SELECT doc_a, doc_b,
          |  CAST((inter::HUGEINT * 1000000) // (na.n + nb.n - inter) AS BIGINT) AS j_ppm""".stripMargin)
    val ccSql = d10Sql.replace("ORDER BY doc_id", "")
    s"""WITH pc AS ($pairSql),
       |cc AS ($ccSql),
       |per AS (
       |  SELECT cc.cluster_id, COUNT(*)::BIGINT AS n_pairs,
       |    MIN(j_ppm)::BIGINT AS min_j_ppm, MAX(j_ppm)::BIGINT AS max_j_ppm
       |  FROM pc JOIN cc ON pc.doc_a = cc.doc_id
       |  GROUP BY 1),
       |sz AS (SELECT cluster_id, COUNT(*)::BIGINT AS n_docs FROM cc GROUP BY 1)
       |SELECT sz.cluster_id, n_docs, n_pairs, min_j_ppm, max_j_ppm,
       |  n_pairs * 2 < n_docs * (n_docs - 1) AS chained
       |FROM sz JOIN per USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "d64_cluster_diameter" -> (d64 _),
    "d63_shingle_len_cost" -> (d63 _),
    "d62_decontam_gram_sweep" -> (d62 _),
    "d61_distinct_shingle_sketch" -> (d61 _),
    "d60_posting_skew" -> (d60 _),
    "d59_sketch_agreement" -> (d59 _),
    "d58_perm_sweep" -> (d58 _),
    "d57_seed_buckets" -> (d57 _),
    "d56_lsh_s_curve" -> (d56 _),
    "d55_pair_cost_model" -> (d55 _),
    "d54_cap_sweep" -> (d54 _),
    "d53_minhash_error" -> (d53 _),
    "d52_band_sweep" -> (d52 _),
    "d51_shingle_sensitivity" -> (d51 _),
    "d50_norm_exact_dedup" -> (d50 _),
    "d49_weighting_effect" -> (d49 _),
    "d48_weighted_jaccard" -> (d48 _),
    "d47_dup_pagerank" -> (d47 _),
    "d46_dup_rate_drift" -> (d46 _),
    "d44_containment_flow" -> (d44 _),
    "d43_boilerplate_shingles" -> (d43 _),
    "d42_dupsize_quality" -> (d42 _),
    "d41_cluster_source_purity" -> (d41 _),
    "d40_containment_direction" -> (d40 _),
    "d39_lsh_bucket_histogram" -> (d39 _),
    "d38_degree_histogram" -> (d38 _),
    "d37_keeper_regret" -> (d37 _),
    "d36_leak_by_source" -> (d36 _),
    "d35_pair_transitivity" -> (d35 _),
    "d34_pair_quality_bias" -> (d34 _),
    "d33_cross_lang_dup" -> (d33 _),
    "d32_fp_vs_jaccard" -> (d32 _),
    "d31_containment_sweep" -> (d31 _),
    "d30_dedup_source_flow" -> (d30 _),
    "d29_lsh_candidate_report" -> (d29 _),
    "d28_cluster_sizes" -> (d28 _),
    "d26_dup_families" -> (d26 _),
    "d25_pair_length_bias" -> (d25 _),
    "d24_threshold_sweep" -> (d24 _),
    "d23_prefix_dedup" -> (d23 _),
    "d22_dedup_funnel" -> (d22 _),
    "d21_df_profile" -> (d21 _),
    "d20_source_dup_matrix" -> (d20 _),
    "d19_dedup_report" -> (d19 _),
    "d18_minhash_clusters" -> (d18 _),
    "d17_containment_capped" -> (d17 _),
    "d16_containment" -> (d16 _),
    "d15_dup_centrality" -> (d15 _),
    "d14_bloom_decontam" -> (d14 _),
    "d13_semdedup" -> (d13 _),
    "d11_decontaminate" -> (d11 _),
    "d12_fuzzy_decontam" -> (d12 _),
    "d02_minhash_lsh" -> (d02 _),
    "d03_ngram_jaccard" -> (d03 _),
    "d06_jaccard_capped" -> (d06 _),
    "d04_simhash" -> (d04 _),
    "d05_embedding_neardup" -> (d05 _),
    "d07_embedding_neardup_lsh" -> (d07 _),
    "d08_priority_dedup" -> (d08 _),
    "d09_incremental_dedup" -> (d09 _),
    "d10_dup_clusters" -> (d10 _),
  )

  val oracle: Map[String, String] = Map(
    "d64_cluster_diameter" -> d64Sql,
    "d63_shingle_len_cost" -> d63Sql,
    "d62_decontam_gram_sweep" -> d62Sql,
    "d60_posting_skew" -> d60Sql,
    "d57_seed_buckets" -> d57Sql,
    "d55_pair_cost_model" -> d55Sql,
    "d54_cap_sweep" -> d54Sql,
    "d51_shingle_sensitivity" -> d51Sql,
    "d50_norm_exact_dedup" -> d50Sql,
    "d49_weighting_effect" -> d49Sql,
    "d48_weighted_jaccard" -> d48Sql,
    "d47_dup_pagerank" -> d47Sql,
    "d46_dup_rate_drift" -> d46Sql,
    "d44_containment_flow" -> d44Sql,
    "d43_boilerplate_shingles" -> d43Sql,
    "d42_dupsize_quality" -> d42Sql,
    "d41_cluster_source_purity" -> d41Sql,
    "d40_containment_direction" -> d40Sql,
    "d38_degree_histogram" -> d38Sql,
    "d37_keeper_regret" -> d37Sql,
    "d36_leak_by_source" -> d36Sql,
    "d35_pair_transitivity" -> d35Sql,
    "d34_pair_quality_bias" -> d34Sql,
    "d33_cross_lang_dup" -> d33Sql,
    "d32_fp_vs_jaccard" -> d32Sql,
    "d31_containment_sweep" -> d31Sql,
    "d30_dedup_source_flow" -> d30Sql,
    "d28_cluster_sizes" -> d28Sql,
    "d26_dup_families" -> d26Sql,
    "d25_pair_length_bias" -> d25Sql,
    "d24_threshold_sweep" -> d24Sql,
    "d23_prefix_dedup" -> d23Sql,
    "d22_dedup_funnel" -> d22Sql,
    "d21_df_profile" -> d21Sql,
    "d20_source_dup_matrix" -> d20Sql,
    "d19_dedup_report" -> d19Sql,
    "d18_minhash_clusters" -> d18Sql,
    "d16_containment" -> d16Sql,
    "d15_dup_centrality" -> d15Sql,
    // d14 = d11 with a bloom prefilter + exact verify: same exact result.
    "d14_bloom_decontam" -> d11Sql,
    "d11_decontaminate" -> d11Sql,
    "d12_fuzzy_decontam" -> d12Sql,
    "d02_minhash_lsh" -> d02Sql,
    "d03_ngram_jaccard" -> d03Sql,
    "d05_embedding_neardup" -> d05Sql,
    // d07's LSH recall target (1 - 1e-4 per pair) makes its output equal
    // the exact all-pairs result on any realistic data — same oracle shape
    // as d02 (MinHash LSH vs exact Jaccard).
    "d07_embedding_neardup_lsh" -> d05Sql,
    "d08_priority_dedup" -> d08Sql,
    "d09_incremental_dedup" -> d09Sql,
    "d10_dup_clusters" -> d10Sql,
  )

  /** The operators that are their oracle text: `SparkEntry.queries`
    * binds each text to the table loaders with `Tables.sql`, and
    * `SparkEntry.oracleSql` hands the same text to DuckDB. */
  val sql: Map[String, String] = Map(
    "d45_dup_locality" -> d45Sql,
    "d01_exact_dedup" -> d01Sql
  )
}
