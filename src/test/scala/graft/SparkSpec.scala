package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (getOrCreate: one JVM-wide session
  * across suites; sbt forks the test JVM with the JDK17 add-opens). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // same state-store posture as Engine.session: every stateful
    // streaming parity suite exercises the RocksDB provider the
    // production session ships with, not the in-memory default
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // same compiled-class cache as Engine.session: the cache is JVM-wide
    // and sized by the first session that generates code
    .config(graft.engine.Engine.codegenReuse)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}
