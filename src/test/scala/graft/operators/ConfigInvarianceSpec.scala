package graft.operators

import graft.{Graft, SparkEntry, SparkSpec}

/** An operator's output must not depend on engine configuration: the
  * SQL-backed operators, and e102 whose iterations run on a one-partition
  * frame, give the same rows with one shuffle partition and AQE off as
  * with seven partitions and AQE on. */
class ConfigInvarianceSpec extends SparkSpec {

  private val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  private def rowsUnder(settings: Seq[String], name: String): Seq[String] = {
    keys.zip(settings).foreach { case (k, v) => spark.conf.set(k, v) }
    Graft.run(spark, sf, name).collect().toSeq.map(_.toString).sorted
  }

  /** The operators of `names` whose sorted rows differ between the two
    * configurations. */
  private def configDependent(names: Seq[String]): Seq[String] = {
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try names.filter { name =>
      rowsUnder(Seq("1", "false"), name) != rowsUnder(Seq("7", "true"), name)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Graft.release(spark)
    }
  }

  test("SQL-backed operators are invariant to shuffle width and AQE") {
    val differ = configDependent(SparkEntry.sql.keys.toSeq.sorted)
    assert(differ.isEmpty, s"rows depend on engine config: ${differ.mkString(", ")}")
  }

  test("e102's single-partition iterations are invariant to shuffle width and AQE") {
    assert(configDependent(Seq("e102_markov_stationary")).isEmpty)
  }
}
