package graft.operators

import java.nio.file.Files

import graft.{Graft, SparkEntry, SparkSpec}

/** Zero-row inputs are normal in production (an empty day, language or
  * source): operators must return, not crash. */
class EmptyInputSpec extends SparkSpec {

  /** Every warehouse table of `sf` with its schema and no rows. */
  private lazy val empty: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    Graft.tableNames.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("connectedComponents over an empty pair frame returns no rows") {
    val sc = spark
    import sc.implicits._
    val cc = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(cc.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(cc.collect().isEmpty)
    Graft.release(spark)
  }

  test("the connected-components operators run on empty tables") {
    val ccOperators = Seq("d10_dup_clusters", "d18_minhash_clusters",
      "d28_cluster_sizes", "d37_keeper_regret", "d41_cluster_source_purity",
      "d64_cluster_diameter", "m07_payload_clusters", "p29_cluster_split",
      "p30_split_gate", "p31_split_stability")
    ccOperators.foreach { name =>
      val rows = Graft.run(spark, empty, name).collect()
      assert(rows.length <= 1, name) // empty, or one all-totals row
    }
    Graft.release(spark)
  }

  test("e102 over zero events returns no rows and its declared schema") {
    val name = "e102_markov_stationary"
    val declared = Graft.run(spark, sf, name).schema
    val df = Graft.run(spark, empty, name)
    assert(df.collect().isEmpty)
    assert(df.schema == declared)
    Graft.release(spark)
  }

  test("the SQL-backed operators return their declared schema on empty tables") {
    val failed = SparkEntry.sql.keys.toSeq.sorted.flatMap { name =>
      val declared = Graft.run(spark, sf, name).schema.map(f => f.name -> f.dataType)
      try {
        val df = Graft.run(spark, empty, name)
        df.collect()
        val got = df.schema.map(f => f.name -> f.dataType)
        if (got == declared) None else Some(s"$name: schema $got, declared $declared")
      } catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
