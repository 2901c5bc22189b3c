package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{Graft, SparkSpec}

/** A warm report batch runs on the classes the batch before it compiled.
  *
  * `CodeGenerator`'s cache of compiled classes is JVM-wide and gets its
  * size from the first session that generates code, so `SparkSpec` sets
  * the same [[Engine.codegenReuse]] confs as `Engine.session`.
  *
  * Both cases run with AQE off, so that a plan, and hence its generated
  * code, is the same on every run. With AQE on, a join's build side
  * depends on which input stage finishes first, and m07's and d48's
  * self-joins now and then generate the mirror image of a class compiled
  * before (2-7 classes in each of six measured second passes). */
class CodegenReuseSpec extends SparkSpec {

  private val compilations = CodegenMetrics.METRIC_COMPILATION_TIME

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    // drop shared frames an earlier suite built: a first pass that reads
    // them compiles none of the classes that build them
    Graft.release(spark)
    try body finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Graft.release(spark)
    }
  }

  /** The operators of the benchmark's two report-batch workloads. */
  private val batch = Seq("q01_pricing_summary", "q68_basket_pairs",
    "q49_part_concentration", "e01_sessionize", "e102_markov_stationary",
    "d48_weighted_jaccard", "d17_containment_capped", "m07_payload_clusters")

  /** Classes compiled per operator while running `names` in order. */
  private def compiled(names: Seq[String]): Seq[(String, Long)] = {
    val counts = names.map { name =>
      val before = compilations.getCount
      Graft.run(spark, sf, name).collect()
      name -> (compilations.getCount - before)
    }
    Graft.release(spark)
    counts
  }

  test("a second pass over the benchmark operators compiles no new class") {
    // at Spark's default of 100 entries the second pass recompiles most
    // of the ~250 classes the first pass needs
    withoutAqe {
      val first = compiled(batch).map(_._2).sum
      val second = compiled(batch.reverse).filter(_._2 > 0)
      assert(second.isEmpty, s"second pass compiled ${second.map(_._2).sum} classes " +
        s"(first pass $first): " + second.map { case (n, c) => s"$n=$c" }.mkString(", "))
    }
  }

  test("a stage keeps its class when its codegen stage number changes") {
    // in the union, q's stages are numbered after other's; AQE numbers
    // stages in the order it re-plans them, which varies between runs
    withoutAqe {
      val q = spark.range(1000).selectExpr("id % 13 AS k").groupBy("k").count()
      val other = spark.range(1000).selectExpr("id % 15 AS k").groupBy("k").count()
      q.collect()
      other.collect()
      val before = compilations.getCount
      other.union(q).collect()
      assert(compilations.getCount == before)
    }
  }
}
