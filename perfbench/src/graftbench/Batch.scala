package graftbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{Row, SparkSession}
import graft.Graft

/** Report batches over the warehouse: every query of the workload, each
  * result fully collected, in the seed's order and then alternately in
  * reverse. Queries that share a cached frame take turns building it, so
  * their per-query times averaged over a forward and a reverse batch do
  * not depend on the seed. One session, no cache clearing between
  * queries, `Graft.release` after each batch. */
object Batch {
  final case class Query(name: String, buildS: Double, collectS: Double,
                         rows: Long, hash: String, plan: Map[String, Double])

  /** Order-insensitive content hash of a result: the wrapping sum of a
    * 64-bit hash of each row's canonical text. Floating-point values are
    * rendered at 9 significant digits, so the last bits of a sum whose
    * order depends on task timing do not change the hash. */
  def contentHash(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x85ebca6b).toLong & 0xffffffffL)
    }
    f"$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  /** Constant-work contention probe, the same job `graft.Bench` times. */
  def contentionProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One fixed SQL pass through the graft kernels of `graft.functions`. */
  def kernelPass(spark: SparkSession): Unit = {
    spark.sql("SELECT sum(size(word_ngrams(text, 3))), sum(size(winnow_fps(text, 8, 4))) " +
      "FROM documents").collect()
    spark.sql("SELECT sum(vec_dot(embedding, embedding)), " +
      "sum(size(vec_lsh_keys(vec_sign_bits(embedding, 1013, 64), 2027, 64, 8, 8))) " +
      "FROM embeddings").collect()
  }

  def pass(spark: SparkSession, dir: String, order: Seq[String], spans: Spans,
           parent: Int, probe: Option[Probe], tag: String): (Seq[Query], Double) = {
    val qs = order.map { name =>
      spans.time(parent, "query", name) { qid =>
        // Spark jobs hang under the step's span through their job group
        def step[T](what: String)(f: => T): (T, Double) = {
          val group = s"$tag/$name/$what"
          spans.time(qid, "operators", what) { sid =>
            probe.foreach(_.groupSpan.put(group, sid))
            spark.sparkContext.setJobGroup(group, group)
            try f finally spark.sparkContext.clearJobGroup()
          }
        }
        val (df, buildS) = step("build")(Graft.run(spark, dir, name))
        val (rows, collectS) = step("collect")(df.collect())
        val plan = if (probe.isDefined) Probe.planCounts(df.queryExecution.executedPlan) else Map.empty[String, Double]
        Query(name, buildS, collectS, rows.length.toLong, contentHash(rows), plan)
      }._1
    }
    val (_, releaseS) = spans.time(parent, "operators", "release")(_ => Graft.release(spark))
    (qs, releaseS)
  }

  /** Runs the workload and returns the result object `run.py` reads. */
  def run(spark: SparkSession, a: Args, spans: Spans, root: Int, sessionS: Double): String = {
    val dir = a("data")
    val order = a("order").split(",").toSeq
    Graft.registerViews(spark, dir)
    val probe = if (spans.on) Some(Probe.start(spark, spans)) else None
    // untraced warm-up batch: JIT, generated code and file listing caches
    // fill here (a batch over smaller tables leaves the JIT cold)
    val (warm, _) = pass(spark, dir, order, new Spans(false), 0, None, "warmup")
    val readyMs = System.currentTimeMillis()
    probe.foreach { p => p.sync(); p.take(Nil) }

    val passes = mutable.ArrayBuffer[String]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < a.int("min-passes") || (System.nanoTime() - t0) / 1e9 < a.double("seconds")) {
      i += 1
      val probeS = Probe.outside(probe)(contentionProbe(spark))
      val from = System.nanoTime()
      val ((qs, releaseS), wallS) = spans.time(root, "pass", s"pass $i") { pid =>
        pass(spark, dir, if (i % 2 == 1) order else order.reverse, spans, pid, probe, s"pass$i")
      }
      val to = System.nanoTime()
      val kernelS = if (spans.on) Probe.outside(probe)(
        spans.time(root, "functions", "kernel pass")(_ => kernelPass(spark))._2) else 0.0
      probe.foreach { p =>
        p.sync()
        val c = p.take(Seq(from -> to))
        layers += c ++ Map(
          "engine.probe_s" -> probeS,
          "functions.kernel_s" -> kernelS,
          "operators.build_frac" -> qs.map(_.buildS).sum / wallS,
          "operators.collect_frac" -> qs.map(_.collectS).sum / wallS,
          "operators.release_frac" -> releaseS / wallS,
          "operators.out_rows" -> qs.map(_.rows).sum.toDouble,
          "exec.busy_frac" -> c("exec.task_run_s") / (wallS * p.coreCount)) ++
          qs.flatMap(_.plan).groupMapReduce(_._1)(_._2)(_ + _)
      }
      passes += Json.obj(Seq(
        "probe_s" -> Json.num(probeS),
        "release_s" -> Json.num(releaseS),
        "wall_s" -> Json.num(wallS),
        "queries" -> Json.arr(qs.map(q => Json.obj(Seq(
          "name" -> ("\"" + q.name + "\""), "build_s" -> Json.num(q.buildS),
          "collect_s" -> Json.num(q.collectS), "rows" -> q.rows.toString,
          "hash" -> ("\"" + q.hash + "\"")))))))
    }
    probe.foreach(Probe.stop(spark, _))
    Json.obj(Seq(
      "session_s" -> Json.num(sessionS),
      "ready_ms" -> readyMs.toString,
      "warmup" -> Json.arr(warm.map(q => Json.obj(Seq(
        "name" -> ("\"" + q.name + "\""), "rows" -> q.rows.toString,
        "hash" -> ("\"" + q.hash + "\""))))),
      "passes" -> Json.arr(passes),
      "layers" -> Json.arr(layers.map(Json.nums))))
  }
}
