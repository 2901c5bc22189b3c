package graftbench

import java.nio.file.{Files, Paths}
import graft.engine.Engine

/** `--key value` command-line arguments. */
final class Args(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
}

/** JVM half of the benchmark: `perfbench/run.py` makes the inputs, starts
  * this with them, and turns the result file it writes into metrics.
  *
  * {{{
  * graftbench.Main --workload analytics --trace 0 --cores 4 --seconds 8
  *   --work <dir> --out result.json --data <tables dir> --order q1,q2,... --min-passes 3
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val spans = new Spans(a("trace") == "1")
    val ((spark, body), runS) = spans.time(0, "run", a("workload")) { root =>
      val (spark, sessionS) = spans.time(root, "engine", "session")(_ =>
        Engine.session(a.int("cores"), "graft-perfbench"))
      spark.sparkContext.setLogLevel("ERROR")
      Batch.contentionProbe(spark) // the first probe compiles its own code
      val body = a("workload") match {
        case "analytics" | "curation" => Batch.run(spark, a, spans, root, sessionS)
        case "kse_stream" => Stream.run(spark, a, spans, root, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      (spark, body)
    }
    spark.stop()
    val self = Json.nums(spans.selfSeconds)
    Files.writeString(Paths.get(a("out")),
      body.stripSuffix("}") + s""","run_s":${Json.num(runS)},"self_s":$self}""")
    if (spans.on) Files.writeString(Paths.get(a("out") + ".spans.json"), spans.json)
  }
}
