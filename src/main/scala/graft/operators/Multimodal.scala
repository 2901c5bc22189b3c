package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.engine.Qf.dbl

/** Multimodal-column handling (SURVEY.md §2.6): media treated as opaque
  * binary payloads with typed metadata. This container has no image/audio
  * codecs, so the decode KERNEL in m02 is a clearly-marked deterministic
  * stub — the Spark-side plumbing (binary schema, partition-parallel
  * decode via mapPartitions over a typed Dataset, fixed-width feature
  * output) is real and is what matters at 100 TB.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- m01
  /** Binary payload column + typed metadata (size / hash / kind). */
  def m01(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
              octet_length(col("payload")).cast("long").as("n_bytes"),
              md5(col("text")).as("content_hash"),
              when(octet_length(col("payload")) > 400, lit("large")).otherwise(lit("small")).as("kind"))
      .orderBy("doc_id")
  val m01Sql: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_hash,
      |  CASE WHEN octet_length(CAST(text AS BLOB)) > 400 THEN 'large' ELSE 'small' END AS kind
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m02
  /** Partition-parallel decode -> feature-extract plumbing.
    *
    * Real: binary column in, `mapPartitions` over a typed Dataset (the
    * shape a JNI/codec-backed decoder would use — one codec init per
    * partition, streamed rows), fixed 16-dim feature vector + width/height
    * metadata out.
    *
    * STUB: `fakeDecode` stands in for the actual image/audio codec (none
    * in this container). It is deterministic: a 16-bin byte histogram
    * normalized by payload length, dimensions derived from the content
    * hash. Swap `fakeDecode` for a real codec to productionize.
    */
  def m02(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select("doc_id", "payload")
    val spark2 = spark
    import spark2.implicits._
    val decoded = docs.as[(Long, Array[Byte])].mapPartitions { rows =>
      // codec-per-partition init would go here
      rows.map { case (id, bytes) => fakeDecode(id, bytes) }
    }
    // Flatten the fixed-width feature vector to scalar columns f0..f15:
    // the driver's rows-only check sorts the output frame, and an
    // array<double> cell breaks pandas sort. A fixed-width feature output
    // is scalar-flattenable by construction (unlike variable-length).
    val featCols = (0 until 16).map(i => element_at(col("features"), i + 1).as(s"f$i"))
    decoded.toDF("doc_id", "modality", "width", "height", "features")
      .select(col("doc_id") +: col("modality") +: col("width") +: col("height") +: featCols: _*)
      .orderBy("doc_id")
  }

  /** Deterministic stand-in for a media codec: 16-bin byte histogram
    * (normalized) + pseudo-dimensions from a rolling content hash. */
  private def fakeDecode(id: Long, bytes: Array[Byte]): (Long, String, Int, Int, Array[Double]) = {
    val hist = new Array[Double](16)
    var h = 1125899906842597L // rolling content hash (FNV-ish)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xFF) % 16) += 1.0
      h = h * 31 + (bytes(i) & 0xFF)
      i += 1
    }
    val n = math.max(bytes.length, 1).toDouble
    var j = 0
    while (j < 16) { hist(j) /= n; j += 1 }
    val w = 64 + (math.abs(h) % 1024).toInt
    val hgt = 64 + (math.abs(h / 1024) % 1024).toInt
    (id, "image", w, hgt, hist)
  }

  // ---------------------------------------------------------------- m03
  /** Frame-sampling fan-out: one payload row explodes into k evenly-spaced
    * frame rows (the video shape: sample frames, then decode each). The
    * sampler is pure Column arithmetic — sequence of byte offsets — so the
    * fan-out happens distributed BEFORE any decode; the per-frame decode
    * kernel is the same deterministic stub as m02 (no codecs in image).
    * At 100 TB the ordering matters: explode-then-decode keeps each
    * decode task small and lets AQE size partitions by frame count, vs
    * decode-then-explode which would ship whole videos between stages. */
  def m03(spark: SparkSession, dir: String): DataFrame = {
    val frames = 4
    val docs = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("n_bytes", octet_length(col("payload")))
      .filter(col("n_bytes") >= frames)
      .select(col("doc_id"), col("payload"),
        posexplode(expr(s"transform(sequence(0, $frames - 1), " +
          s"i -> CAST(i * (n_bytes / $frames) AS INT))")).as(Seq("frame_idx", "offset")))
    val spark2 = spark
    import spark2.implicits._
    docs.as[(Long, Array[Byte], Int, Int)].mapPartitions { rows =>
      rows.map { case (id, bytes, idx, off) =>
        // STUB frame decode: 8-byte window at the sampled offset
        val end = math.min(off + 8, bytes.length)
        var h = 1125899906842597L
        var i = off
        while (i < end) { h = h * 31 + (bytes(i) & 0xFF); i += 1 }
        (id, idx, off, math.abs(h % 1000000L) / 1000000.0)
      }
    }.toDF("doc_id", "frame_idx", "offset", "frame_feature")
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- m04
  /** Resize plumbing: binary payload in → RESIZED binary payload out,
    * with source/target dimension metadata — the missing quarter of the
    * decode / feature-extract / resize / frame-sample quartet.
    *
    * Real: mapPartitions over a typed Dataset (one scaler init per
    * partition), binary-in/binary-out row shape, downstream-checkable
    * size + checksum metadata. STUB: `fakeResample` decimates bytes to
    * the target pixel count in place of a pixel scaler (no codecs in
    * this container) — deterministic, so the operator is replayable.
    *
    * At 100 TB resize-before-ship is the bandwidth play: the resized
    * payload (here ~1/4 the bytes) is what crosses the shuffle/sink
    * boundary, never the original. */
  def m04(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select("doc_id", "payload")
    val spark2 = spark
    import spark2.implicits._
    docs.as[(Long, Array[Byte])].mapPartitions { rows =>
      // scaler init would go here (once per partition, not per row)
      rows.map { case (id, bytes) =>
        val (_, _, w, h, _) = fakeDecode(id, bytes)
        val (dw, dh) = (math.max(w / 2, 1), math.max(h / 2, 1))
        val out = fakeResample(bytes, dw.toLong * dh, math.max(w.toLong * h, 1L))
        var hsh = 1125899906842597L
        var i = 0
        while (i < out.length) { hsh = hsh * 31 + (out(i) & 0xFF); i += 1 }
        (id, w, h, dw, dh, out.length.toLong, hsh)
      }
    }.toDF("doc_id", "src_w", "src_h", "dst_w", "dst_h", "n_bytes_out", "out_hash")
      .orderBy("doc_id")
  }

  /** Deterministic stand-in for a pixel scaler: floor-spaced byte
    * decimation to `len * dstArea / srcArea` bytes (at least 1). */
  private def fakeResample(bytes: Array[Byte], dstArea: Long, srcArea: Long): Array[Byte] = {
    if (bytes.length == 0) return Array[Byte](0)
    val keep = math.max((bytes.length.toLong * dstArea / srcArea).toInt, 1)
    val out = new Array[Byte](math.min(keep, bytes.length))
    val step = bytes.length.toDouble / out.length
    var i = 0
    while (i < out.length) { out(i) = bytes(math.min((i * step).toInt, bytes.length - 1)); i += 1 }
    out
  }

  // ---------------------------------------------------------------- m05
  /** Near-duplicate detection for opaque media payloads: a 64-bit
    * SimHash over content 4-gram rolling hashes, bucketed by 16-bit
    * Hamming bands — the content-level dedup row of the multimodal
    * suite (catches lightly-edited copies that m01's exact hash
    * misses). Codec-free: the fingerprint reads the payload as a raw
    * character stream (for ASCII payloads chars ≡ bytes; a production
    * binary path would run the same rolling hash over the byte array).
    *
    * Scale shape: the single-pass simhash64 kernel folds gram hashing
    * and all 64 bit-tallies into the SCAN (one signature row per
    * payload — no explode, no wide aggregation, no shuffle before
    * banding); candidates then meet only inside (band, key) buckets —
    * never an all-pairs join (shared hammingBandPairs machinery with
    * d04). Payloads too short to yield a 4-gram carry no signal and
    * are dropped — otherwise they would all collide at signature 0.
    * Rows-only (SimHash banding is not SQL-expressible); the spec
    * drives synthetic payloads with known edit distance. */
  def m05(spark: SparkSession, dir: String): DataFrame =
    sharedPayloadPairs(spark, dir)

  /** m05's payload near-dup pair stream over the corpus, materialized
    * ONCE per (session, dir) and shared with the cluster pass (m07) —
    * Dedup.sharedPairs' posture for the byte-SimHash family.
    * Checkpoint-backed so Bench's clearCache() doesn't evict it. */
  private def sharedPayloadPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.shared(spark, dir, Memo.Key.PayloadPairs)(Memo.checkpoint(spark,
      payloadNearDup(spark, Tables.documents(spark, dir))))

  /** Core of m05 over any frame with (doc_id, text-as-payload) — split
    * out so specs can feed synthetic payloads with known edit distance. */
  private[operators] def payloadNearDup(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // cache: the band self-join reads sig on BOTH sides (and the join's
    // isnotnull pre-filter would re-run the kernel a third time on the
    // raw lineage) — at cluster scale this is a persist/checkpoint
    val sig = docs
      .filter(length(col("text")) >= 4) // winnow_fps(_, 4, 1) is empty below 4 chars
      .select(col("doc_id"),
        expr("simhash64(winnow_fps(text, 4, 1))").as("phash"))
      .cache()
    Dedup.hammingBandPairs(sig, "phash", maxHamming = 8)
      .orderBy("doc_a", "doc_b") // m05's output contract (kernel is unsorted)
  }

  // ---------------------------------------------------------------- m06
  /** Modality routing by magic bytes: the FIRST stage of any multimodal
    * ingest — classify each opaque payload by its container signature
    * (JPEG/PNG/GIF/RIFF/MP4) with a control-character heuristic
    * separating text from unknown binary, then report volume per
    * modality so downstream decode fleets can be sized.
    *
    * Pure Column expressions over the payload PREFIX (a 3-8 byte
    * binary substring, then hex — never hex of the whole blob), so the
    * router runs at scan speed inside whole-stage codegen with zero
    * codecs and zero shuffles before the tiny modality groupBy. The
    * test corpus exercises the text fallback; the signature branches
    * are spec-proven on synthetic payloads of every modality. */
  private[operators] def routeModality(payload: org.apache.spark.sql.Column,
                                       s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ctl = length(regexp_replace(s, "[^\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    when(octet_length(payload) === 0, "empty")
      .when(hex(substring(payload, 1, 3)) === "FFD8FF", "image/jpeg")
      .when(hex(substring(payload, 1, 4)) === "89504E47", "image/png")
      .when(hex(substring(payload, 1, 4)) === "47494638", "image/gif")
      .when(hex(substring(payload, 1, 4)) === "52494646", "audio/riff")
      .when(hex(substring(payload, 5, 4)) === "66747970", "video/mp4")
      .when(ctl * 20 <= length(s), "text") // ≤5% control chars
      .otherwise("binary")
  }
  def m06(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           sum(octet_length(col("payload"))).cast("long").as("total_bytes"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy("modality")
  /** DuckDB mirror of [[routeModality]] (shared by m06 and m09). */
  private val modalitySqlCase: String =
    """CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 'empty'
      |       WHEN substr(hex(CAST(text AS BLOB)), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
      |       WHEN substr(hex(CAST(text AS BLOB)), 1, 8) = '89504E47' THEN 'image/png'
      |       WHEN substr(hex(CAST(text AS BLOB)), 1, 8) = '47494638' THEN 'image/gif'
      |       WHEN substr(hex(CAST(text AS BLOB)), 1, 8) = '52494646' THEN 'audio/riff'
      |       WHEN substr(hex(CAST(text AS BLOB)), 9, 8) = '66747970' THEN 'video/mp4'
      |       WHEN LENGTH(regexp_replace(text,
      |         '[^\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) * 20 <= LENGTH(text)
      |         THEN 'text'
      |       ELSE 'binary' END""".stripMargin
  val m06Sql: String =
    s"""WITH r AS (SELECT doc_id, source, octet_length(CAST(text AS BLOB)) AS nb,
      |  $modalitySqlCase AS modality
      |  FROM documents)
      |SELECT modality, COUNT(*)::BIGINT AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS total_bytes,
      |  COUNT(DISTINCT source)::BIGINT AS n_sources
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- m07
  /** Payload duplicate CLUSTERS: m05's byte-SimHash near-dup pairs
    * resolved into connected components (Dedup.connectedComponents —
    * the same min-label propagation as d10, reused across modality).
    * Turns pairwise evidence into one cluster id per touched payload,
    * so "keep one representative per near-dup family" is a groupBy
    * min(doc_id) away — the media-side canonicalization step.
    *
    * Rows-only (SimHash banding + iterative CC are not SQL-expressible);
    * the spec proves cluster transitivity on synthetic payload families
    * and containment of every m05 pair inside one cluster. */
  def m07(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      sharedPayloadPairs(spark, dir).select("doc_a", "doc_b"),
      Tables.smallFrameParts(spark, dir))

  // ---------------------------------------------------------------- m08
  /** Byte-level entropy screen: Shannon entropy (nats) of the HIGH-nibble
    * distribution of each payload — the cheap compressed/encrypted-blob
    * detector a media pipeline runs before wasting decode cycles (text
    * clusters low, random/compressed bytes approach ln 16).
    *
    * Both engines compute the identical integer nibble histogram (hex
    * string → every first char of a pair → 16 count-by-erasure lengths)
    * and sum the 16 p·ln p terms in the same fixed order; the result is
    * round6-quantized (+0.0 normalizes the -0.0 of single-class docs).
    * Scan-parallel, no shuffle at all until the final sort. */
  /** Shared per-doc nibble-entropy frame (doc_id, modality, n_bytes,
    * entropy) — m08 projects it per doc, m14 rolls it per modality. */
  private def nibbleEntropy(spark: SparkSession, dir: String): DataFrame = {
    val digits = "0123456789ABCDEF"
    val hi = regexp_replace(hex(col("text").cast("binary")), "(.).", "$1")
    val base = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .select(col("doc_id"), col("modality"), hi.as("s"))
      .withColumn("n", length(col("s")))
      .filter(col("n") > 0)
    val counted = digits.foldLeft(base) { (df, d) =>
      df.withColumn(s"c_$d", length(col("s")) - length(regexp_replace(col("s"), s"[$d]", "")))
    }
    val terms = digits.map { d =>
      val p = col(s"c_$d").cast("double") / col("n")
      when(col(s"c_$d") > 0, p * log(p)).otherwise(lit(0.0d))
    }.reduce(_ + _)
    counted.select(col("doc_id"), col("modality"),
      col("n").cast("long").as("n_bytes"),
      (round(-terms, 6) + lit(0.0d)).as("entropy"))
  }

  def m08(spark: SparkSession, dir: String): DataFrame = {
    nibbleEntropy(spark, dir)
      .select(col("doc_id"), col("n_bytes"), col("entropy"))
      .orderBy("doc_id")
  }
  val m08Sql: String = {
    val digits = "0123456789ABCDEF"
    val counts = digits.map(d =>
      s"LENGTH(s) - LENGTH(regexp_replace(s, '[$d]', '', 'g')) AS c_$d").mkString(",\n      |    ")
    val terms = digits.map(d =>
      s"CASE WHEN c_$d > 0 THEN (CAST(c_$d AS DOUBLE) / n) * ln(CAST(c_$d AS DOUBLE) / n) ELSE 0.0 END")
      .mkString("\n      |    + ")
    s"""WITH h AS (
       |  SELECT doc_id, regexp_replace(hex(CAST(text AS BLOB)), '(.).', '\\1', 'g') AS s
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, LENGTH(s) AS n,
       |    $counts
       |  FROM h WHERE LENGTH(s) > 0)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       |  ROUND(-($terms), 6) + 0.0 AS entropy
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- m09
  /** Per-modality payload size profile: integer-compare size bands per
    * routed modality — the census a decode fleet is sized from (how many
    * payloads per modality land in each batch-size class). Runs at scan
    * speed (router + band are codegen Column exprs); output bounded by
    * |modalities| x |bands|. */
  def m09(spark: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .withColumn("nb", octet_length(col("payload")).cast("long"))
    val band = when(col("nb") <= 128, "a<=128B").when(col("nb") <= 256, "b<=256B")
      .when(col("nb") <= 512, "c<=512B").when(col("nb") <= 1024, "d<=1KiB")
      .otherwise("e>1KiB")
    sized.groupBy(col("modality"), band.as("size_band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("total_bytes"))
      .orderBy("modality", "size_band")
  }
  val m09Sql: String =
    s"""WITH r AS (SELECT octet_length(CAST(text AS BLOB)) AS nb,
      |  $modalitySqlCase AS modality
      |  FROM documents),
      |b AS (SELECT modality, nb,
      |  CASE WHEN nb <= 128 THEN 'a<=128B' WHEN nb <= 256 THEN 'b<=256B'
      |       WHEN nb <= 512 THEN 'c<=512B' WHEN nb <= 1024 THEN 'd<=1KiB'
      |       ELSE 'e>1KiB' END AS size_band
      |  FROM r)
      |SELECT modality, size_band, COUNT(*) AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS total_bytes
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- m10
  /** Source × modality census: which ingestion sources contribute which
    * media kinds, by doc count and byte volume — the matrix a curation
    * run consults before routing per-modality budgets. m06's magic-byte
    * router per row, one map-combinable groupBy, \|sources\|×\|kinds\|-
    * bounded output. */
  def m10(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .groupBy(col("source"), col("modality"))
      .agg(count(lit(1)).as("n_docs"),
           sum(octet_length(col("payload"))).cast("long").as("total_bytes"))
      .orderBy("source", "modality")
  val m10Sql: String =
    s"""WITH r AS (SELECT source, octet_length(CAST(text AS BLOB)) AS nb,
      |  $modalitySqlCase AS modality
      |  FROM documents)
      |SELECT source, modality, COUNT(*) AS n_docs,
      |  CAST(SUM(nb) AS BIGINT) AS total_bytes
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- m11
  /** Per-modality exact-duplicate rate: d01's content-hash dedup broken
    * out by m06's routed media kind — "is the image feed or the text
    * feed doing the duplicating". One scan, one map-combinable groupBy
    * with an exact distinct count, ONE division per emitted row;
    * \|kinds\|-bounded output. */
  def m11(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_unique"))
      .withColumn("dup_rate",
        round((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"), 6)
          + lit(0.0d))
      .orderBy("modality")
  val m11Sql: String =
    s"""WITH r AS (SELECT text, $modalitySqlCase AS modality FROM documents)
      |SELECT modality, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_unique,
      |  ROUND(CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6) + 0.0
      |    AS dup_rate
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- m12
  /** Payload-size quartiles per modality (PERCENTILE_CONT interpolation
    * over per-(modality, size) COUNTS — q57's bounded-frame quantile
    * machinery, never a per-row window over the payload table): the
    * size-SLA table that drives per-modality batch sizing and transfer
    * budgets. Counts bounded by \|kinds\|×\|distinct sizes\|. */
  def m12(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .withColumn("nb", octet_length(col("payload")).cast("long"))
      .groupBy(col("modality"), col("nb"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("modality").orderBy("nb")
    val cum = counts.withColumn("cum", sum(col("c")).over(wCum))
    val n = counts.groupBy("modality").agg(sum(col("c")).as("n"))
    def pct(q: Double, nm: String): Seq[org.apache.spark.sql.Column] = {
      val pos = (col("n") - 1).cast("double") * lit(q)
      Seq(min(when(col("cum") >= floor(pos) + 1, col("nb"))).as(s"${nm}_lo"),
          min(when(col("cum") >= ceil(pos) + 1, col("nb"))).as(s"${nm}_hi"))
    }
    def interp(nm: String, q: Double): org.apache.spark.sql.Column = {
      val pos = (col("n") - 1).cast("double") * lit(q)
      col(s"${nm}_lo").cast("double") +
        (col(s"${nm}_hi").cast("double") - col(s"${nm}_lo").cast("double")) * (pos - floor(pos))
    }
    val aggs = pct(0.25, "q1") ++ pct(0.5, "q2") ++ pct(0.75, "q3")
    cum.join(broadcast(n), "modality")
      .groupBy(col("modality"), col("n"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("modality"), col("n"),
        interp("q1", 0.25).as("p25"), interp("q2", 0.5).as("p50"),
        interp("q3", 0.75).as("p75"))
      .orderBy("modality")
  }
  val m12Sql: String =
    s"""WITH r AS (
      |  SELECT octet_length(CAST(text AS BLOB)) AS nb,
      |    $modalitySqlCase AS modality
      |  FROM documents),
      |counts AS (SELECT modality, nb, COUNT(*) AS c FROM r GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, SUM(c) OVER (PARTITION BY modality ORDER BY nb) AS cum FROM counts),
      |nn AS (SELECT modality, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
      |a AS (
      |  SELECT cum.modality AS modality, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.25) + 1 THEN nb END) AS q1_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.25) + 1 THEN nb END) AS q1_hi,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) + 1 THEN nb END) AS q2_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.5) + 1 THEN nb END) AS q2_hi,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.75) + 1 THEN nb END) AS q3_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.75) + 1 THEN nb END) AS q3_hi
      |  FROM cum JOIN nn ON cum.modality = nn.modality
      |  GROUP BY 1)
      |SELECT modality, n,
      |  CAST(q1_lo AS DOUBLE) + (CAST(q1_hi AS DOUBLE) - CAST(q1_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
      |  CAST(q2_lo AS DOUBLE) + (CAST(q2_hi AS DOUBLE) - CAST(q2_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
      |  CAST(q3_lo AS DOUBLE) + (CAST(q3_hi AS DOUBLE) - CAST(q3_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75
      |FROM a ORDER BY modality""".stripMargin

  // ---------------------------------------------------------------- m13
  /** Per-modality payload-size z-outlier screen: payloads >3σ from their
    * modality's mean size, split high/low — the corrupt-blob detector
    * (a 2-byte "jpeg" or a 2 GB "text" row is a feed bug, not data)
    * that runs before any decode budget is spent.
    *
    * t38's exact machinery on the media axis: per-modality integer
    * moments broadcast back (\|kinds\| rows), z>3 as the
    * cross-multiplied DECIMAL(38,0)/HUGEINT compare
    * (n·x − S)²·(n−1) > 9·n·(nΣx² − S²) — no float σ, no per-row
    * division, exact at any corpus size. */
  def m13(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sized = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .select(col("modality"), octet_length(col("payload")).cast("long").as("x"))
    val st = sized.groupBy("modality")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
           sum(col("x") * col("x")).as("q"))
      .filter(col("n") >= 2)
    val nD = col("n").cast(d38)
    val dev = nD * col("x").cast(d38) - col("s").cast(d38)
    val varNum = nD * col("q").cast(d38) - col("s").cast(d38) * col("s").cast(d38)
    val out = dev * dev * (nD - 1) > lit(9).cast(d38) * nD * varNum
    sized.join(broadcast(st), "modality")
      .groupBy("modality")
      .agg(max(col("n")).as("n_docs"),
           (max(col("s")).cast("double") / max(col("n"))).as("mean_bytes"),
           sum(when(out && dev > 0, 1L).otherwise(0L)).as("n_hi"),
           sum(when(out && dev < 0, 1L).otherwise(0L)).as("n_lo"))
      .withColumn("out_share",
        round((col("n_hi") + col("n_lo")).cast("double") / col("n_docs"), 6) + lit(0.0d))
      .orderBy("modality")
  }
  val m13Sql: String =
    s"""WITH d AS (SELECT $modalitySqlCase AS modality,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS x
      |  FROM documents),
      |st AS (SELECT modality, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s,
      |         SUM(x*x)::BIGINT AS q
      |       FROM d GROUP BY 1 HAVING COUNT(*) >= 2),
      |f AS (SELECT d.modality, x, n, s, q,
      |    CAST(n AS HUGEINT)*x - s AS dev,
      |    CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s AS varnum
      |  FROM d JOIN st ON d.modality = st.modality)
      |SELECT modality, MAX(n) AS n_docs,
      |  CAST(MAX(s) AS DOUBLE) / MAX(n) AS mean_bytes,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev > 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_hi,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev < 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_lo,
      |  ROUND(CAST(SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum
      |      THEN 1 ELSE 0 END) AS DOUBLE) / MAX(n), 6) + 0.0 AS out_share
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- m14
  /** Per-modality byte-entropy profile: doc count, mean (order-
    * independent DECIMAL-quantized sum), and min/max of m08's per-doc
    * nibble entropy per routed media kind — the table that sets each
    * modality's compressed/encrypted screen threshold (text feeds sit
    * ~2.0–2.4 nats, good media sits near ln 16; a modality whose min
    * collapses toward 0 is carrying constant-byte junk). Scan-parallel
    * kernel + one \|kinds\|-bounded map-combinable groupBy. */
  def m14(spark: SparkSession, dir: String): DataFrame =
    nibbleEntropy(spark, dir)
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           (round(sum(col("entropy").cast("decimal(12,6)")).cast("double")
             / count(lit(1)), 6) + lit(0.0d)).as("mean_entropy"),
           min(col("entropy")).as("min_entropy"),
           max(col("entropy")).as("max_entropy"))
      .orderBy("modality")
  val m14Sql: String = {
    val digits = "0123456789ABCDEF"
    val counts = digits.map(d =>
      s"LENGTH(s) - LENGTH(regexp_replace(s, '[$d]', '', 'g')) AS c_$d").mkString(",\n      |    ")
    val terms = digits.map(d =>
      s"CASE WHEN c_$d > 0 THEN (CAST(c_$d AS DOUBLE) / n) * ln(CAST(c_$d AS DOUBLE) / n) ELSE 0.0 END")
      .mkString("\n      |    + ")
    s"""WITH h AS (
       |  SELECT doc_id, $modalitySqlCase AS modality,
       |    regexp_replace(hex(CAST(text AS BLOB)), '(.).', '\\1', 'g') AS s
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, modality, LENGTH(s) AS n,
       |    $counts
       |  FROM h WHERE LENGTH(s) > 0),
       |e AS (SELECT modality, ROUND(-($terms), 6) + 0.0 AS entropy FROM c)
       |SELECT modality, COUNT(*) AS n_docs,
       |  ROUND(CAST(SUM(CAST(entropy AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6) + 0.0
       |    AS mean_entropy,
       |  MIN(entropy) AS min_entropy, MAX(entropy) AS max_entropy
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- m15
  /** Magic-prefix census: the top 2-byte payload prefixes by document
    * count — the raw evidence behind m06's router (a prefix that's
    * frequent but unrouted means a format the pipeline silently treats
    * as 'binary'). One map-combinable groupBy over a codegen'd
    * hex(substring) key; the share denominator is a 1-row broadcast. */
  def m15(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("pfx", hex(substring(col("text").cast("binary"), 1, 2)))
    val tot = d.agg(count(lit(1)).as("total"))
    d.groupBy("pfx").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(tot))
      .select(col("pfx"), col("n_docs"),
        round(dbl(col("n_docs")) / col("total"), 6).as("share"))
      .orderBy(col("n_docs").desc, col("pfx"))
      .limit(20)
  }
  val m15Sql: String =
    """WITH d AS (SELECT substr(hex(CAST(text AS BLOB)), 1, 4) AS pfx FROM documents),
      |t AS (SELECT COUNT(*)::BIGINT AS total FROM d)
      |SELECT pfx, COUNT(*)::BIGINT AS n_docs,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS share
      |FROM d CROSS JOIN t GROUP BY pfx, total
      |ORDER BY n_docs DESC, pfx LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- m16
  /** Size-vs-entropy correlation per modality: are bigger payloads more
    * random? Pearson over (byte count, m08's round6 nibble entropy) —
    * both operands quantized to DECIMALs before the moment sums, so the
    * distributed partial aggregation is exact and order-independent
    * (q38's recipe); ONE IEEE division chain at the end, round6. The
    * screen that catches "large payloads are all zero-padded" corpus
    * defects. */
  def m16(spark: SparkSession, dir: String): DataFrame = {
    val x = col("n_bytes").cast("decimal(18,0)")
    val y = col("entropy").cast("decimal(12,6)")
    nibbleEntropy(spark, dir)
      .groupBy("modality")
      .agg(count(lit(1)).as("n"),
           dbl(sum(x)).as("sx"), dbl(sum(y)).as("sy"),
           dbl(sum(x * y)).as("sxy"),
           dbl(sum(x * x)).as("sx2"), dbl(sum(y * y)).as("sy2"))
      .filter(col("n") >= 2)
      .select(col("modality"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
           sqrt(col("n") * col("sy2") - col("sy") * col("sy"))), 6)
          .as("corr_size_entropy"))
      .orderBy("modality")
  }
  val m16Sql: String = {
    val digits = "0123456789ABCDEF"
    val counts = digits.map(d =>
      s"LENGTH(s) - LENGTH(regexp_replace(s, '[$d]', '', 'g')) AS c_$d").mkString(",\n      |    ")
    val terms = digits.map(d =>
      s"CASE WHEN c_$d > 0 THEN (CAST(c_$d AS DOUBLE) / n) * ln(CAST(c_$d AS DOUBLE) / n) ELSE 0.0 END")
      .mkString("\n      |    + ")
    s"""WITH h AS (
       |  SELECT doc_id, $modalitySqlCase AS modality,
       |    regexp_replace(hex(CAST(text AS BLOB)), '(.).', '\\1', 'g') AS s
       |  FROM documents),
       |c AS (
       |  SELECT modality, LENGTH(s) AS n,
       |    $counts
       |  FROM h WHERE LENGTH(s) > 0),
       |e AS (
       |  SELECT modality, CAST(n AS BIGINT) AS nb,
       |    ROUND(-($terms), 6) + 0.0 AS ent
       |  FROM c),
       |m AS (
       |  SELECT modality, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(CAST(nb AS DECIMAL(18,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(ent AS DECIMAL(12,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(nb AS DECIMAL(18,0)) * CAST(ent AS DECIMAL(12,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(nb AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(18,0))) AS DOUBLE) AS sx2,
       |    CAST(SUM(CAST(ent AS DECIMAL(12,6)) * CAST(ent AS DECIMAL(12,6))) AS DOUBLE) AS sy2
       |  FROM e GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT modality, n,
       |  ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
       |    AS corr_size_entropy
       |FROM m ORDER BY modality""".stripMargin
  }

  // ---------------------------------------------------------------- m17
  /** Quality-by-modality gate evidence: t02's text-quality score
    * averaged per routed modality — the table that justifies sending
    * only 'text'-routed payloads through the text-quality gate (binary
    * payloads scoring low is expected; text payloads scoring low is a
    * router bug). Quality quantizes to DECIMAL(12,6) before the sum so
    * the means are order-independent; output |modalities|-bounded. */
  def m17(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.addQuality(Tables.documents(spark, dir))
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .select(col("modality"), col("quality").cast("decimal(12,6)").as("q"))
    q.groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           round(dbl(sum(col("q"))) / count(lit(1)), 6).as("avg_quality"),
           dbl(min(col("q"))).as("min_quality"),
           dbl(max(col("q"))).as("max_quality"))
      .orderBy("modality")
  }
  val m17Sql: String = {
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
       |q AS (
       |  SELECT $modalitySqlCase AS modality,
       |    CAST(($qualitySqlExpr) AS DECIMAL(12,6)) AS q
       |  FROM m)
       |SELECT modality, COUNT(*)::BIGINT AS n_docs,
       |  ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
       |  CAST(MIN(q) AS DOUBLE) AS min_quality,
       |  CAST(MAX(q) AS DOUBLE) AS max_quality
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- m18
  /** Header-vs-body entropy screen: nibble entropy of each payload's
    * first 32 bytes against the whole payload, rolled up per modality —
    * a high-entropy header on a supposedly-text payload flags miscoded
    * or encrypted content BEFORE decode cycles are spent (complements
    * m08's whole-payload screen). Same count-by-erasure integer
    * histogram in both engines; per-doc entropies are round6-quantized,
    * per-modality means use DECIMAL-exact sums. Scan-parallel until the
    * bounded modality rollup. */
  def m18(spark: SparkSession, dir: String): DataFrame = {
    val digits = "0123456789ABCDEF"
    val hi = regexp_replace(hex(col("text").cast("binary")), "(.).", "$1")
    val base = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .select(col("doc_id"), col("modality"), hi.as("sf"))
      .withColumn("sh", substring(col("sf"), 1, 32))
      .withColumn("nf", length(col("sf")))
      .withColumn("nh", length(substring(col("sf"), 1, 32)))
      .filter(col("nf") > 0)
    def ent(df: DataFrame, s: String, n: String, out: String): DataFrame = {
      val counted = digits.foldLeft(df) { (d2, d) =>
        d2.withColumn(s"c${out}_$d", length(col(s)) - length(regexp_replace(col(s), s"[$d]", "")))
      }
      val terms = digits.map { d =>
        val p = col(s"c${out}_$d").cast("double") / col(n)
        when(col(s"c${out}_$d") > 0, p * log(p)).otherwise(lit(0.0d))
      }.reduce(_ + _)
      counted.withColumn(out, round(-terms, 6) + lit(0.0d))
        .drop(digits.map(d => s"c${out}_$d"): _*)
    }
    ent(ent(base, "sf", "nf", "ef"), "sh", "nh", "eh")
      .select(col("modality"),
        col("eh").cast("decimal(18,6)").as("ehq"),
        col("ef").cast("decimal(18,6)").as("efq"),
        round(col("eh") - col("ef"), 6).cast("decimal(18,6)").as("dq"))
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           round(dbl(sum(col("ehq"))) / count(lit(1)), 6).as("avg_head_entropy"),
           round(dbl(sum(col("efq"))) / count(lit(1)), 6).as("avg_full_entropy"),
           round(dbl(sum(col("dq"))) / count(lit(1)), 6).as("avg_delta"))
      .orderBy("modality")
  }
  val m18Sql: String = {
    val digits = "0123456789ABCDEF"
    def counts(src: String, tag: String) = digits.map(d =>
      s"LENGTH($src) - LENGTH(regexp_replace($src, '[$d]', '', 'g')) AS c${tag}_$d")
      .mkString(",\n       |    ")
    def terms(tag: String, n: String) = digits.map(d =>
      s"CASE WHEN c${tag}_$d > 0 THEN (CAST(c${tag}_$d AS DOUBLE) / $n) * ln(CAST(c${tag}_$d AS DOUBLE) / $n) ELSE 0.0 END")
      .mkString("\n       |    + ")
    s"""WITH h AS (
       |  SELECT doc_id, $modalitySqlCase AS modality,
       |    regexp_replace(hex(CAST(text AS BLOB)), '(.).', '\\1', 'g') AS sf
       |  FROM documents),
       |h2 AS (
       |  SELECT doc_id, modality, sf, substr(sf, 1, 32) AS sh,
       |    LENGTH(sf) AS nf, LENGTH(substr(sf, 1, 32)) AS nh
       |  FROM h WHERE LENGTH(sf) > 0),
       |c AS (
       |  SELECT doc_id, modality, nf, nh,
       |    ${counts("sf", "f")},
       |    ${counts("sh", "h")}
       |  FROM h2),
       |e AS (
       |  SELECT modality,
       |    ROUND(-(${terms("f", "nf")}), 6) + 0.0 AS ef,
       |    ROUND(-(${terms("h", "nh")}), 6) + 0.0 AS eh
       |  FROM c)
       |SELECT modality, COUNT(*)::BIGINT AS n_docs,
       |  ROUND(CAST(SUM(CAST(eh AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_head_entropy,
       |  ROUND(CAST(SUM(CAST(ef AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_full_entropy,
       |  ROUND(CAST(SUM(CAST(ROUND(eh - ef, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_delta
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- m19
  /** Modality × language census: the routing matrix a mixed-media
    * curation plan starts from (which languages carry which payload
    * kinds, at what size). Pure Column routing over payload prefixes,
    * one map-combinable groupBy, \|modalities\|×\|langs\|-bounded. */
  def m19(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .groupBy("modality", "lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(octet_length(col("payload")).cast("long")).as("total_bytes"))
      .orderBy("modality", "lang")
  val m19Sql: String =
    s"""SELECT $modalitySqlCase AS modality, lang, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT))::BIGINT AS total_bytes
       |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- m20
  /** Per-modality ENTROPY z-outlier screen: payloads whose nibble
    * entropy sits >3σ from their modality's mean — the "text that looks
    * encrypted / binary that looks like padding" detector (m13 screens
    * size; this screens content shape). Entropies quantize to exact
    * integer micro-nats, then m13's cross-multiplied DECIMAL(38,0)
    * z-compare applies unchanged — no float σ, no per-row division. */
  def m20(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ent = nibbleEntropy(spark, dir)
      .select(col("modality"), round(col("entropy") * 1000000).cast("long").as("x"))
    val st = ent.groupBy("modality")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
           sum(col("x") * col("x")).as("q"))
      .filter(col("n") >= 2)
    val nD = col("n").cast(d38)
    val dev = nD * col("x").cast(d38) - col("s").cast(d38)
    val varNum = nD * col("q").cast(d38) - col("s").cast(d38) * col("s").cast(d38)
    val out = dev * dev * (nD - 1) > lit(9).cast(d38) * nD * varNum
    ent.join(broadcast(st), "modality")
      .groupBy("modality")
      .agg(max(col("n")).as("n_docs"),
           round(max(col("s")).cast("double") / max(col("n")) / 1000000, 6)
             .as("mean_entropy"),
           sum(when(out && dev > 0, 1L).otherwise(0L)).as("n_hi"),
           sum(when(out && dev < 0, 1L).otherwise(0L)).as("n_lo"))
      .withColumn("out_share",
        round((col("n_hi") + col("n_lo")).cast("double") / col("n_docs"), 6) + lit(0.0d))
      .orderBy("modality")
  }
  val m20Sql: String = {
    val digits = "0123456789ABCDEF"
    val counts = digits.map(d =>
      s"LENGTH(s) - LENGTH(regexp_replace(s, '[$d]', '', 'g')) AS c_$d").mkString(",\n      |    ")
    val terms = digits.map(d =>
      s"CASE WHEN c_$d > 0 THEN (CAST(c_$d AS DOUBLE) / n) * ln(CAST(c_$d AS DOUBLE) / n) ELSE 0.0 END")
      .mkString("\n      |    + ")
    s"""WITH h AS (
      |  SELECT doc_id, $modalitySqlCase AS modality,
      |    regexp_replace(hex(CAST(text AS BLOB)), '(.).', '\\1', 'g') AS s
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, modality, LENGTH(s) AS n,
      |    $counts
      |  FROM h WHERE LENGTH(s) > 0),
      |e AS (
      |  SELECT modality,
      |    CAST(ROUND((ROUND(-($terms), 6) + 0.0) * 1000000) AS BIGINT) AS x
      |  FROM c),
      |st AS (SELECT modality, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s,
      |         SUM(x*x)::BIGINT AS q
      |       FROM e GROUP BY 1 HAVING COUNT(*) >= 2),
      |f AS (SELECT e.modality AS modality, x, n, s, q,
      |    CAST(n AS HUGEINT)*x - s AS dev,
      |    CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s AS varnum
      |  FROM e JOIN st ON e.modality = st.modality)
      |SELECT modality, MAX(n) AS n_docs,
      |  ROUND(CAST(MAX(s) AS DOUBLE) / MAX(n) / 1000000, 6) AS mean_entropy,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev > 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_hi,
      |  SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum AND dev < 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_lo,
      |  ROUND(CAST(SUM(CASE WHEN dev*dev*(n-1) > 9*CAST(n AS HUGEINT)*varnum
      |      THEN 1 ELSE 0 END) AS DOUBLE) / MAX(n), 6) + 0.0 AS out_share
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- m21
  /** Modality-mix ingestion drift: modality share per doc_id decile —
    * t49's positional-drift audit for the binary side ("did the crawl
    * start pulling video mid-run"). Deciles are pure integer arithmetic
    * against a 1-row corpus-max broadcast (no global rank at any
    * size); the share window partitions per decile over the ≤10×
    * \|modalities\| census frame only. */
  def m21(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        routeModality(col("payload"), col("text")).as("modality"))
    val mx = r.agg(max(col("doc_id")).as("max_id"))
    val wDecile = org.apache.spark.sql.expressions.Window.partitionBy("decile")
    r.join(broadcast(mx))
      .groupBy(least(expr("doc_id * 10 div (max_id + 1)"), lit(9L)).as("decile"),
        col("modality"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round(dbl(col("n_docs")) / sum(col("n_docs")).over(wDecile), 6))
      .orderBy("decile", "modality")
  }
  val m21Sql: String =
    s"""WITH r AS (
       |  SELECT doc_id, $modalitySqlCase AS modality FROM documents),
       |x AS (SELECT MAX(doc_id) AS max_id FROM r),
       |c AS (
       |  SELECT LEAST(doc_id * 10 // (max_id + 1), 9) AS decile, modality,
       |    COUNT(*)::BIGINT AS n_docs
       |  FROM r CROSS JOIN x GROUP BY 1, 2)
       |SELECT decile, modality, n_docs,
       |  ROUND(CAST(n_docs AS DOUBLE)
       |        / SUM(n_docs) OVER (PARTITION BY decile), 6) AS share
       |FROM c ORDER BY decile, modality""".stripMargin

  // ---------------------------------------------------------------- m22
  /** Dedup ROI by modality: BYTES reclaimed by exact dedup per routed
    * modality — m11 counts dup rows, p11 counts tokens; storage bills
    * are paid in bytes, and video dups cost 1000× a text dup. One scan
    * builds (modality, bytes, hash); d01's keeper pass joins back
    * co-keyed on the hash; \|modalities\|-bounded output, ONE division
    * per row. */
  def m22(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        routeModality(col("payload"), col("text")).as("modality"),
        octet_length(col("payload")).cast("long").as("nb"),
        md5(col("text")).as("h"))
    val keep = d.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, "h")
      .groupBy("modality")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("nb")).as("total_bytes"),
           sum(when(col("doc_id") =!= col("keep_id"), col("nb")).otherwise(0L))
             .as("dup_bytes"))
      .select(col("modality"), col("n_docs"), col("total_bytes"), col("dup_bytes"),
        round(dbl(col("dup_bytes")) / dbl(col("total_bytes")), 6)
          .as("reclaim_share"))
      .orderBy("modality")
  }
  val m22Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $modalitySqlCase AS modality,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb,
       |    md5(text) AS h
       |  FROM documents),
       |k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
       |SELECT modality, COUNT(*)::BIGINT AS n_docs,
       |  SUM(nb)::BIGINT AS total_bytes,
       |  SUM(CASE WHEN doc_id <> keep_id THEN nb ELSE 0 END)::BIGINT AS dup_bytes,
       |  ROUND(CAST(SUM(CASE WHEN doc_id <> keep_id THEN nb ELSE 0 END) AS DOUBLE)
       |        / CAST(SUM(nb) AS DOUBLE), 6) AS reclaim_share
       |FROM d JOIN k USING (h) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- m23
  /** Router-sensitivity audit: route each payload twice — intact, and
    * with its first 8 header bytes dropped — and cross-tabulate. A
    * modality that flips under truncation is identified ONLY by magic
    * bytes (one corrupt chunk boundary misroutes it); one that holds
    * is content-identified. This is the robustness sheet for m06's
    * router that decides whether ingestion needs header checksums.
    * Pure Column arithmetic twice over one scan; \|modalities\|²-
    * bounded. */
  def m23(spark: SparkSession, dir: String): DataFrame = {
    val t2 = expr("substring(text, 9)")
    Tables.documents(spark, dir)
      .select(
        routeModality(col("text").cast("binary"), col("text")).as("modality_full"),
        routeModality(t2.cast("binary"), t2).as("modality_truncated"))
      .groupBy("modality_full", "modality_truncated")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("modality_full", "modality_truncated")
  }
  val m23Sql: String = {
    val caseTrunc = modalitySqlCase
      .replace("CAST(text AS BLOB)", "CAST(substr(text, 9) AS BLOB)")
      .replace("regexp_replace(text,", "regexp_replace(substr(text, 9),")
      .replace("LENGTH(text)", "LENGTH(substr(text, 9))")
    s"""WITH r AS (
       |  SELECT $modalitySqlCase AS modality_full,
       |    $caseTrunc AS modality_truncated
       |  FROM documents)
       |SELECT modality_full, modality_truncated, COUNT(*)::BIGINT AS n_docs
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- m24
  /** Magic-prefix ingestion drift: per 2-byte payload prefix, first-half
    * vs second-half counts and shares with an absolute drift scalar —
    * m21 watches drift at MODALITY grain, but a crawl can swap PNG for
    * WebP mid-run without the modality mix moving; the prefix grain is
    * where that shows first. Top-20 prefixes by total count, the same
    * head m15 censuses.
    *
    * Scale: one scan through the codegen'd hex(substr) key, the t51
    * half split off a 1-row max-id broadcast, one map-combinable
    * ≤\|prefixes\| groupBy, two 1-row half-total broadcasts for the
    * share denominators, deterministic TakeOrdered head. */
  def m24(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("pfx", hex(substring(col("text").cast("binary"), 1, 2)))
    val mx = d.agg(max(col("doc_id")).as("max_id"))
    val halved = d.join(broadcast(mx))
      .withColumn("half", least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)))
      .groupBy("pfx")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_first"),
           sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_second"))
    val tot = halved.agg(sum(col("n_first")).as("ta"), sum(col("n_second")).as("tb"))
    halved.join(broadcast(tot))
      .select(col("pfx"), col("n_first"), col("n_second"),
        round(dbl(col("n_first")) / col("ta"), 6).as("share_first"),
        round(dbl(col("n_second")) / col("tb"), 6).as("share_second"),
        round(abs(dbl(col("n_first")) / col("ta")
          - dbl(col("n_second")) / col("tb")), 6).as("drift"))
      .orderBy((col("n_first") + col("n_second")).desc, col("pfx"))
      .limit(20)
  }
  val m24Sql: String =
    """WITH x AS (SELECT MAX(doc_id) AS max_id FROM documents),
      |d AS (
      |  SELECT substr(hex(CAST(text AS BLOB)), 1, 4) AS pfx,
      |    LEAST(doc_id * 2 // (max_id + 1), 1) AS half
      |  FROM documents CROSS JOIN x),
      |h AS (
      |  SELECT pfx,
      |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first,
      |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_second
      |  FROM d GROUP BY 1),
      |t AS (SELECT SUM(n_first) AS ta, SUM(n_second) AS tb FROM h)
      |SELECT pfx, n_first, n_second,
      |  ROUND(CAST(n_first AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS share_first,
      |  ROUND(CAST(n_second AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS share_second,
      |  ROUND(abs(CAST(n_first AS DOUBLE) / CAST(ta AS DOUBLE)
      |    - CAST(n_second AS DOUBLE) / CAST(tb AS DOUBLE)), 6) AS drift
      |FROM h CROSS JOIN t
      |ORDER BY n_first + n_second DESC, pfx LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- m25
  /** Per-modality payload-size ingestion drift: mean payload bytes in
    * the first vs second ingestion half (by doc_id against a 1-row
    * corpus-max broadcast) and the relative change — m21 answers "did
    * the modality MIX move mid-crawl", this answers "did the payloads
    * themselves get bigger": a +40% image-size drift mid-run usually
    * means a thumbnail pipeline silently switched to originals.
    *
    * Scale: one map-combinable pass (integer byte sums, ONE division
    * per half at the end); output bounded by |modalities|. */
  def m25(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        routeModality(col("payload"), col("text")).as("modality"),
        octet_length(col("payload")).cast("long").as("nb"))
    val mx = r.agg(max(col("doc_id")).as("max_id"))
    val mf = dbl(col("b_first")) / col("n_first")
    val ms = dbl(col("b_second")) / col("n_second")
    r.join(broadcast(mx))
      .withColumn("half", least(expr("doc_id * 2 div (max_id + 1)"), lit(1L)))
      .groupBy("modality")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_first"),
           sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_second"),
           sum(when(col("half") === 0, col("nb")).otherwise(0L)).as("b_first"),
           sum(when(col("half") === 1, col("nb")).otherwise(0L)).as("b_second"))
      .select(col("modality"), col("n_first"), col("n_second"),
        round(when(col("n_first") > 0, mf), 6).as("mean_bytes_first"),
        round(when(col("n_second") > 0, ms), 6).as("mean_bytes_second"),
        round(when(col("n_first") > 0 && col("n_second") > 0, ms / mf - 1.0d), 6)
          .as("rel_change"))
      .orderBy("modality")
  }
  val m25Sql: String =
    s"""WITH r AS (
       |  SELECT doc_id, $modalitySqlCase AS modality,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
       |  FROM documents),
       |mx AS (SELECT MAX(doc_id) AS max_id FROM r),
       |a AS (
       |  SELECT modality,
       |    SUM(CASE WHEN LEAST(doc_id * 2 // (max_id + 1), 1) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first,
       |    SUM(CASE WHEN LEAST(doc_id * 2 // (max_id + 1), 1) = 1 THEN 1 ELSE 0 END)::BIGINT AS n_second,
       |    SUM(CASE WHEN LEAST(doc_id * 2 // (max_id + 1), 1) = 0 THEN nb ELSE 0 END)::BIGINT AS b_first,
       |    SUM(CASE WHEN LEAST(doc_id * 2 // (max_id + 1), 1) = 1 THEN nb ELSE 0 END)::BIGINT AS b_second
       |  FROM r CROSS JOIN mx GROUP BY 1)
       |SELECT modality, n_first, n_second,
       |  ROUND(CASE WHEN n_first > 0
       |    THEN CAST(b_first AS DOUBLE) / n_first END, 6) AS mean_bytes_first,
       |  ROUND(CASE WHEN n_second > 0
       |    THEN CAST(b_second AS DOUBLE) / n_second END, 6) AS mean_bytes_second,
       |  ROUND(CASE WHEN n_first > 0 AND n_second > 0
       |    THEN (CAST(b_second AS DOUBLE) / n_second)
       |       / (CAST(b_first AS DOUBLE) / n_first) - 1.0 END, 6) AS rel_change
       |FROM a ORDER BY modality""".stripMargin

  // ---------------------------------------------------------------- m26
  /** Truncation screen: payloads whose size is under a quarter of their
    * OWN modality's mean — a valid magic-byte header on a far-too-small
    * body is the signature of a cut-off download/transcode, and a
    * modality-relative cut is the only sane one (a 2 KB jpeg is
    * suspicious, a 2 KB text is normal). The flag predicate is kept in
    * exact integers (4·nb·n < Σnb) so both engines cut identically —
    * no mean is ever materialized as a double before the compare.
    *
    * Scale: one pass for the |modalities|-bounded (n, Σnb) frame,
    * broadcast back onto the scan by the modality key; per-modality
    * flagged stats are map-combinable. Output |modalities| rows. */
  def m26(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(routeModality(col("payload"), col("text")).as("modality"),
        octet_length(col("payload")).cast("long").as("nb"))
    val stats = r.groupBy("modality")
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("tot_b"))
    r.join(broadcast(stats), "modality")
      .withColumn("flagged",
        when(col("nb") * 4L * col("n_docs") < col("tot_b"), 1L).otherwise(0L))
      .groupBy("modality")
      .agg(first(col("n_docs")).as("n_docs"),
           sum(col("flagged")).as("n_flagged"),
           sum(when(col("flagged") === 1L, col("nb")).otherwise(0L)).as("fb"))
      .select(col("modality"), col("n_docs"), col("n_flagged"),
        round(dbl(col("n_flagged")) / col("n_docs"), 6).as("flagged_share"),
        round(when(col("n_flagged") > 0, dbl(col("fb")) / col("n_flagged")), 6)
          .as("mean_flagged_bytes"))
      .orderBy("modality")
  }
  val m26Sql: String =
    s"""WITH r AS (
       |  SELECT $modalitySqlCase AS modality,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
       |  FROM documents),
       |st AS (SELECT modality, COUNT(*)::BIGINT AS n_docs, SUM(nb)::BIGINT AS tot_b
       |  FROM r GROUP BY 1),
       |f AS (
       |  SELECT r.modality, n_docs,
       |    CASE WHEN nb * 4 * n_docs < tot_b THEN 1 ELSE 0 END AS flagged, nb
       |  FROM r JOIN st ON r.modality = st.modality)
       |SELECT modality, ANY_VALUE(n_docs) AS n_docs,
       |  SUM(flagged)::BIGINT AS n_flagged,
       |  ROUND(CAST(SUM(flagged) AS DOUBLE) / ANY_VALUE(n_docs), 6) AS flagged_share,
       |  ROUND(CASE WHEN SUM(flagged) > 0
       |    THEN CAST(SUM(CASE WHEN flagged = 1 THEN nb ELSE 0 END) AS DOUBLE)
       |       / SUM(flagged) END, 6) AS mean_flagged_bytes
       |FROM f GROUP BY modality ORDER BY modality""".stripMargin

  // ---------------------------------------------------------------- m27
  /** Modality × size-band matrix: payload counts and total bytes in
    * fixed power-of-4 byte bands (≤1 KiB, ≤4 KiB, ≤16 KiB, ≤64 KiB,
    * larger) per modality, with the row share inside each modality —
    * the storage-layout dashboard (m12's exact quartiles answer "what
    * is typical", this answers "where do the BYTES live", which is what
    * sizes shard files and picks inline-vs-pointer storage).
    *
    * Scale: one map-combinable pass; the per-modality share rides a
    * modality-partitioned window over the ≤|modalities|×5 frame. */
  def m27(spark: SparkSession, dir: String): DataFrame = {
    val wm = Window.partitionBy("modality")
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(routeModality(col("payload"), col("text")).as("modality"),
        octet_length(col("payload")).cast("long").as("nb"))
      .groupBy(col("modality"),
        when(col("nb") <= 1024L, "a<=1k").when(col("nb") <= 4096L, "b<=4k")
          .when(col("nb") <= 16384L, "c<=16k").when(col("nb") <= 65536L, "d<=64k")
          .otherwise("e>64k").as("size_band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("total_bytes"))
      .withColumn("share_in_modality",
        round(dbl(col("n_docs")) / sum(col("n_docs")).over(wm), 6))
      .orderBy("modality", "size_band")
  }
  val m27Sql: String =
    s"""WITH r AS (
       |  SELECT $modalitySqlCase AS modality,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
       |  FROM documents),
       |b AS (
       |  SELECT modality,
       |    CASE WHEN nb <= 1024 THEN 'a<=1k' WHEN nb <= 4096 THEN 'b<=4k'
       |         WHEN nb <= 16384 THEN 'c<=16k' WHEN nb <= 65536 THEN 'd<=64k'
       |         ELSE 'e>64k' END AS size_band,
       |    COUNT(*)::BIGINT AS n_docs, SUM(nb)::BIGINT AS total_bytes
       |  FROM r GROUP BY 1, 2)
       |SELECT modality, size_band, n_docs, total_bytes,
       |  ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY modality), 6)
       |    AS share_in_modality
       |FROM b ORDER BY modality, size_band""".stripMargin

  // ---------------------------------------------------------------- m28
  /** Content-addressed store shard balance: payloads bucketed by the
    * first hex nibble of their content hash (16 shards — the md5-keyed
    * layout a blob store uses), per-shard payload count and byte share
    * vs the uniform 1/16 expectation. Content hashing balances COUNTS by
    * construction; this measures whether byte SIZE skew survives —
    * the thing that actually hot-spots a storage node at 100 TB.
    *
    * Scale: one scan, one 16-key map-combinable groupBy; the totals
    * frame is one broadcast row. */
  def m28(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(spark, dir)
      .select(substring(md5(col("text")), 1, 1).as("shard"),
        octet_length(col("text").cast("binary")).cast("long").as("nb"))
    val per = b.groupBy("shard")
      .agg(count(lit(1)).as("n_payloads"), sum(col("nb")).as("n_bytes"))
    val tot = per.agg(sum(col("n_payloads")).as("tp"), sum(col("n_bytes")).as("tb"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_payloads"), col("n_bytes"),
        round(dbl(col("n_payloads")) / col("tp"), 6).as("count_share"),
        round(dbl(col("n_bytes")) / col("tb"), 6).as("byte_share"),
        round(dbl(col("n_bytes")) / col("tb") - 1d / 16d, 6).as("byte_share_dev"))
      .orderBy("shard")
  }
  val m28Sql: String =
    """WITH b AS (
      |  SELECT substring(md5(text), 1, 1) AS shard,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
      |  FROM documents),
      |p AS (SELECT shard, COUNT(*)::BIGINT AS n_payloads, SUM(nb)::BIGINT AS n_bytes
      |      FROM b GROUP BY 1),
      |t AS (SELECT SUM(n_payloads)::BIGINT AS tp, SUM(n_bytes)::BIGINT AS tb FROM p)
      |SELECT shard, n_payloads, n_bytes,
      |  ROUND(CAST(n_payloads AS DOUBLE) / tp, 6) AS count_share,
      |  ROUND(CAST(n_bytes AS DOUBLE) / tb, 6) AS byte_share,
      |  ROUND(CAST(n_bytes AS DOUBLE) / tb - 1.0 / 16.0, 6) AS byte_share_dev
      |FROM p CROSS JOIN t ORDER BY shard""".stripMargin


  // ---------------------------------------------------------------- m29
  /** Per-modality size CDF on a fixed byte grid (64 B · 4^i): the
    * storage-planning curve behind m12's quartiles — exact CDF values
    * at known grid points compare across corpora and rounds, where
    * quantile VALUES drift with the data. Exact-integer counts, ONE
    * division per cell (q116's two-sample recipe, per modality).
    *
    * Scale: one scan, |modalities| × |grid| bounded output; the grid
    * explode multiplies rows by 6 BEFORE the map-combinable rollup —
    * constant factor, no shuffle growth. */
  def m29(spark: SparkSession, dir: String): DataFrame = {
    val grid = (0 to 5).map(i => 64L << (2 * i)).toArray // 64 B .. 64 KiB
    val base = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
      .select(col("modality"), octet_length(col("payload")).cast("long").as("nb"))
    val n1 = base.groupBy("modality").agg(count(lit(1)).as("n_docs"))
    base.select(col("modality"), col("nb"), explode(lit(grid)).as("t"))
      .groupBy("modality", "t")
      .agg(sum(when(col("nb") <= col("t"), 1L).otherwise(0L)).as("le"))
      .join(broadcast(n1), "modality")
      .select(col("modality"), col("t").as("size_le_bytes"), col("le").as("n_le"),
        col("n_docs"), round(dbl(col("le")) / dbl(col("n_docs")), 6).as("cdf"))
      .orderBy("modality", "size_le_bytes")
  }
  val m29Sql: String =
    s"""WITH base AS (
       |  SELECT $modalitySqlCase AS modality,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
       |  FROM documents),
       |grid AS (SELECT CAST(t AS BIGINT) AS t
       |         FROM (VALUES (64), (256), (1024), (4096), (16384), (65536)) g(t)),
       |n1 AS (SELECT modality, COUNT(*)::BIGINT AS n_docs FROM base GROUP BY 1)
       |SELECT base.modality, t AS size_le_bytes,
       |  SUM(CASE WHEN nb <= t THEN 1 ELSE 0 END)::BIGINT AS n_le,
       |  MAX(n_docs) AS n_docs,
       |  ROUND(CAST(SUM(CASE WHEN nb <= t THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(MAX(n_docs) AS DOUBLE), 6) AS cdf
       |FROM base CROSS JOIN grid JOIN n1 ON base.modality = n1.modality
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- m30
  /** Magic-byte coverage per source: how much of each source's payload
    * stream the router RECOGNIZES (named modality) vs routes to the
    * 'binary'/'empty' fallback — the ingestion-health gate that says
    * whether m06's routing table still fits the incoming mix (m24
    * watches drift of known prefixes; this watches the unknown share).
    *
    * Scale: ONE map-combinable groupBy over (source); |sources| rows. */
  def m30(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("modality", routeModality(col("payload"), col("text")))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("modality") === "binary" || col("modality") === "empty",
          0L).otherwise(1L)).as("n_recognized"),
        sum(when(col("modality") === "empty", 1L).otherwise(0L)).as("n_empty"))
      .select(col("source"), col("n_docs"), col("n_recognized"),
        round(dbl(col("n_recognized")) / dbl(col("n_docs")), 6).as("coverage"),
        col("n_empty"))
      .orderBy("source")
  }
  val m30Sql: String =
    s"""WITH r AS (SELECT source, $modalitySqlCase AS modality FROM documents)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN modality IN ('binary', 'empty') THEN 0 ELSE 1 END)::BIGINT AS n_recognized,
       |  ROUND(CAST(SUM(CASE WHEN modality IN ('binary', 'empty') THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*), 6) AS coverage,
       |  SUM(CASE WHEN modality = 'empty' THEN 1 ELSE 0 END)::BIGINT AS n_empty
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin


  // ---------------------------------------------------------------- m31
  /** Shard-width sweep for the content-addressed store: byte imbalance
    * at 16 vs 256 md5-prefix shards — max and min shard's byte share
    * relative to uniform, the two-row table that picks the shard fanout
    * (m28 shows the 16-shard distribution; this prices widening it).
    * Exact integers, single divisions.
    *
    * Scale: two map-combinable groupBys (16- and 256-key), 2 rows out. */
  def m31(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(spark, dir)
      .select(substring(md5(col("text")), 1, 2).as("s2"),
        octet_length(col("text").cast("binary")).cast("long").as("nb"))
      .cache()
    def level(width: Int, key: org.apache.spark.sql.Column): DataFrame = {
      val per = b.select(key.as("shard"), col("nb"))
        .groupBy("shard").agg(sum(col("nb")).as("bytes"))
      val tot = per.agg(sum(col("bytes")).as("tb"), count(lit(1)).as("n_used"))
      per.crossJoin(broadcast(tot))
        .agg(max(col("n_used")).as("shards_used"),
          round(max(dbl(col("bytes")) / dbl(col("tb"))) * width, 6).as("max_vs_uniform"),
          round(min(dbl(col("bytes")) / dbl(col("tb"))) * width, 6).as("min_vs_uniform"))
        .select(lit(width.toLong).as("n_shards"), col("shards_used"),
          col("max_vs_uniform"), col("min_vs_uniform"))
    }
    level(16, substring(col("s2"), 1, 1))
      .unionByName(level(256, col("s2")))
      .orderBy("n_shards")
  }
  val m31Sql: String =
    """WITH b AS (
      |  SELECT substring(md5(text), 1, 2) AS s2,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb
      |  FROM documents),
      |l16 AS (SELECT substring(s2, 1, 1) AS shard, SUM(nb)::BIGINT AS bytes
      |        FROM b GROUP BY 1),
      |l256 AS (SELECT s2 AS shard, SUM(nb)::BIGINT AS bytes FROM b GROUP BY 1),
      |a16 AS (
      |  SELECT CAST(16 AS BIGINT) AS n_shards, COUNT(*)::BIGINT AS shards_used,
      |    ROUND(MAX(CAST(bytes AS DOUBLE) / (SELECT SUM(bytes) FROM l16)) * 16, 6) AS max_vs_uniform,
      |    ROUND(MIN(CAST(bytes AS DOUBLE) / (SELECT SUM(bytes) FROM l16)) * 16, 6) AS min_vs_uniform
      |  FROM l16),
      |a256 AS (
      |  SELECT CAST(256 AS BIGINT) AS n_shards, COUNT(*)::BIGINT AS shards_used,
      |    ROUND(MAX(CAST(bytes AS DOUBLE) / (SELECT SUM(bytes) FROM l256)) * 256, 6) AS max_vs_uniform,
      |    ROUND(MIN(CAST(bytes AS DOUBLE) / (SELECT SUM(bytes) FROM l256)) * 256, 6) AS min_vs_uniform
      |  FROM l256)
      |SELECT * FROM a16 UNION ALL SELECT * FROM a256 ORDER BY n_shards""".stripMargin

  val queries: Map[String, Q] = Map(
    "m31_shard_width_sweep" -> (m31 _),
    "m30_magic_coverage" -> (m30 _),
    "m29_size_cdf" -> (m29 _),
    "m28_store_shard_balance" -> (m28 _),
    "m27_size_band_matrix" -> (m27 _),
    "m26_truncation_screen" -> (m26 _),
    "m25_size_drift" -> (m25 _),
    "m24_prefix_drift" -> (m24 _),
    "m23_router_sensitivity" -> (m23 _),
    "m22_dedup_roi" -> (m22 _),
    "m21_modality_mix_drift" -> (m21 _),
    "m20_entropy_outliers" -> (m20 _),
    "m19_modality_lang_matrix" -> (m19 _),
    "m18_header_entropy" -> (m18 _),
    "m17_modality_quality" -> (m17 _),
    "m16_size_entropy_corr" -> (m16 _),
    "m15_prefix_census" -> (m15 _),
    "m14_modality_entropy" -> (m14 _),
    "m13_size_outliers" -> (m13 _),
    "m12_size_quartiles" -> (m12 _),
    "m11_modality_dup_rate" -> (m11 _),
    "m10_source_modality" -> (m10 _),
    "m09_modality_sizes" -> (m09 _),
    "m08_byte_entropy" -> (m08 _),
    "m07_payload_clusters" -> (m07 _),
    "m06_modality_route" -> (m06 _),
    "m01_binary_meta" -> (m01 _),
    "m02_decode_features" -> (m02 _),
    "m03_frame_sample" -> (m03 _),
    "m04_resize" -> (m04 _),
    "m05_payload_neardup" -> (m05 _),
  )

  val oracle: Map[String, String] = Map(
    "m31_shard_width_sweep" -> m31Sql,
    "m30_magic_coverage" -> m30Sql,
    "m29_size_cdf" -> m29Sql,
    "m28_store_shard_balance" -> m28Sql,
    "m27_size_band_matrix" -> m27Sql,
    "m26_truncation_screen" -> m26Sql,
    "m25_size_drift" -> m25Sql,
    "m24_prefix_drift" -> m24Sql,
    "m23_router_sensitivity" -> m23Sql,
    "m22_dedup_roi" -> m22Sql,
    "m21_modality_mix_drift" -> m21Sql,
    "m20_entropy_outliers" -> m20Sql,
    "m19_modality_lang_matrix" -> m19Sql,
    "m18_header_entropy" -> m18Sql,
    "m17_modality_quality" -> m17Sql,
    "m16_size_entropy_corr" -> m16Sql,
    "m15_prefix_census" -> m15Sql,
    "m14_modality_entropy" -> m14Sql,
    "m13_size_outliers" -> m13Sql,
    "m01_binary_meta" -> m01Sql,
    "m06_modality_route" -> m06Sql,
    "m08_byte_entropy" -> m08Sql,
    "m09_modality_sizes" -> m09Sql,
    "m10_source_modality" -> m10Sql,
    "m11_modality_dup_rate" -> m11Sql,
    "m12_size_quartiles" -> m12Sql,
  )
}
