package graft.operators

import java.nio.file.Files

import graft.{Graft, SparkSpec}

/** Zero-row inputs are normal in production (an empty day, language or
  * source): operators must return, not crash. */
class EmptyInputSpec extends SparkSpec {

  test("connectedComponents over an empty pair frame returns no rows") {
    val sc = spark
    import sc.implicits._
    val cc = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(cc.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(cc.collect().isEmpty)
    Graft.release(spark)
  }

  test("the connected-components operators run on empty tables") {
    val empty = Files.createTempDirectory("graft-empty").toString
    Graft.tableNames.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0).write.parquet(s"$empty/$t.parquet")
    }
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
}
