package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for the run itself). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. With tracing off it only times the block, so
  * the untraced run pays for nothing but `System.nanoTime`. */
final class Spans(val on: Boolean) {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer[Span]()
  private var nextId = 1

  def open(): Int = synchronized { nextId += 1; nextId - 1 }

  def add(id: Int, parent: Int, layer: String, name: String,
          startNs: Long, endNs: Long): Unit =
    if (on) synchronized { buf += Span(id, parent, layer, name, startNs, endNs) }

  /** Time `f` as a child span of `parent`; the block gets its own id. */
  def time[T](parent: Int, layer: String, name: String)(f: Int => T): (T, Double) = {
    val id = if (on) open() else 0
    val s = System.nanoTime()
    val r = f(id)
    val e = System.nanoTime()
    add(id, parent, layer, name, s, e)
    (r, (e - s) / 1e9)
  }

  private val wall0Ms = System.currentTimeMillis().toDouble

  /** Adds a span known by its wall-clock start (epoch ms) and duration. */
  def addWall(id: Int, parent: Int, layer: String, name: String,
              startMs: Double, durMs: Double): Unit = {
    val s = t0 + ((startMs - wall0Ms) * 1e6).toLong
    add(id, parent, layer, name, s, s + (durMs * 1e6).toLong)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per layer: a span's duration minus the part of it that its
    * children cover (children may overlap each other, e.g. concurrent
    * stream jobs, so covered time is the union of their intervals). */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs - Spans.covered(iv, s.startNs, s.endNs)) / 1e9
      }.sum
    }
  }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
      f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${(s.endNs - s.startNs) / 1e6}%.3f}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  /** Nanoseconds of `[from, to)` covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var n = 0L
    var cur = from
    iv.sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, cur)
      val e = math.min(b, to)
      if (e > s) { n += e - s; cur = e }
    }
    n
  }
}

/** Counters from Spark's public listener interfaces. A reader calls
  * [[sync]] and then [[take]] at each unit boundary (a batch, a stream
  * run), so attribution never depends on when events are delivered. */
final class Probe(spark: SparkSession, spans: Spans) extends SparkListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val blocks = mutable.Map[String, (Long, Long)]()
  private var cachedMem, cachedDisk = 0L
  @volatile private var lastSyncSeen = ""
  /** Maps a job group to the span its jobs hang under. */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  /** Start and end of every tracked job since the last [[take]]. */
  private val jobTimes = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c(k) += v
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    if (g.startsWith("sync-")) return // the benchmark's own marker jobs
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (System.nanoTime(), g)
    add("exec.jobs", 1)
    if (g.endsWith("/build")) add("operators.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, g) =>
      val end = System.nanoTime()
      jobTimes += ((s, end))
      val parent = Option(groupSpan.get(g)).map(_.intValue).getOrElse(0)
      if (spans.on && parent != 0)
        spans.add(spans.open(), parent, "exec", s"job ${e.jobId}", s, end)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageGroup.contains(e.stageInfo.stageId)) add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null || !stageGroup.contains(e.stageId)) return
    add("exec.tasks", 1)
    add("exec.task_run_s", m.executorRunTime / 1e3)
    add("exec.task_cpu_s", m.executorCpuTime / 1e9)
    add("exec.gc_s", m.jvmGCTime / 1e3)
    add("exec.deser_s", m.executorDeserializeTime / 1e3)
    add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
    add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
    add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    add("scan.read_mb", m.inputMetrics.bytesRead / 1048576.0)
    add("scan.rows", m.inputMetrics.recordsRead.toDouble)
    c("exec.peak_exec_mem_mb") = math.max(c("exec.peak_exec_mem_mb"),
      m.peakExecutionMemory / 1048576.0)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isRDD) return
    val (pm, pd) = blocks.getOrElse(b.blockId.name, (0L, 0L))
    if (b.storageLevel.isValid) {
      if (pm == 0 && pd == 0) add("cache.blocks_written", 1)
      blocks(b.blockId.name) = (b.memSize, b.diskSize)
    } else blocks.remove(b.blockId.name)
    cachedMem += (if (b.storageLevel.isValid) b.memSize else 0L) - pm
    cachedDisk += (if (b.storageLevel.isValid) b.diskSize else 0L) - pd
    c("cache.peak_mb") = math.max(c("cache.peak_mb"), (cachedMem + cachedDisk) / 1048576.0)
    c("cache.disk_mb") = math.max(c("cache.disk_mb"), cachedDisk / 1048576.0)
  }

  /** Planning phases of every SQL execution, from its QueryPlanningTracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          add(s"plans.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  /** Block until every listener event posted so far has been handled: a
    * marker job runs in its own group and we wait to see it end. */
  def sync(): Unit = {
    val tag = s"sync-${System.nanoTime()}"
    sc.setJobGroup(tag, tag)
    val marker = new SparkListener {
      @volatile private var id = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group(e.properties) == tag) id = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == id) lastSyncSeen = tag
    }
    sc.addSparkListener(marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (lastSyncSeen != tag && System.nanoTime() < deadline) Thread.sleep(2)
    sc.removeSparkListener(marker)
  }

  /** Runs `f`, the benchmark's own work (contention probe, kernel pass),
    * with the listener events it causes kept out of the counters. */
  def excluding[T](f: => T): T = {
    sync()
    val kept = synchronized(c.toMap)
    val r = f
    sync()
    synchronized { c.clear(); c ++= kept }
    r
  }

  /** The counters since the last call; peaks restart from the current
    * cache level. `exec.driver_gap_s` is the time within the `measured`
    * intervals (a batch, a stream phase) in which no tracked job ran. */
  def take(measured: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    val gapNs = measured.map { case (from, to) => to - from - Spans.covered(jobTimes.toSeq, from, to) }.sum
    val s = c.toMap + ("exec.driver_gap_s" -> gapNs / 1e9)
    c.clear()
    jobTimes.clear()
    c("cache.peak_mb") = (cachedMem + cachedDisk) / 1048576.0
    c("cache.disk_mb") = cachedDisk / 1048576.0
    s.withDefaultValue(0.0)
  }

  def coreCount: Int = cores
}

object Probe {
  def start(spark: SparkSession, spans: Spans): Probe = {
    val p = new Probe(spark, spans)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p.planListener)
    p
  }

  /** `f`, kept out of the counters of `p` if the run is traced. */
  def outside[T](p: Option[Probe])(f: => T): T = p.fold(f)(_.excluding(f))

  def stop(spark: SparkSession, p: Probe): Unit = {
    spark.sparkContext.removeSparkListener(p)
    spark.listenerManager.unregister(p.planListener)
  }

  /** Operator counts of a finished query's final adaptive plan. */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val h = new AdaptiveSparkPlanHelper {}
    def n(pf: PartialFunction[SparkPlan, Unit]): Double =
      h.collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size.toDouble
    Map(
      "plans.exchanges" -> n { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => },
      "plans.sorts" -> n { case _: SortExec => },
      "plans.aggregates" -> n { case _: BaseAggregateExec => },
      "plans.scans" -> n { case _: FileSourceScanExec | _: BatchScanExec => },
      "plans.cached_scans" -> n { case _: InMemoryTableScanExec | _: RDDScanExec => })
  }
}

/** Every progress report of the stream queries, kept for the end of the run. */
final class StreamLog extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
