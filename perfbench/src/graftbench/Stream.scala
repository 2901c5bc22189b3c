package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.functions.VectorFunctions
import graft.sources.FakeKafkaSource
import graft.streaming._

/** The benchmark's Elasticsearch stand-in: stamps each bulk with its
  * arrival time and keeps every delivery, so lost and duplicated docs show. */
object Recorder extends BulkTransport {
  final case class Doc(id: String, json: String, atMs: Double)
  val indexes = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Doc]]()
  val bulks = new AtomicLong()
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  override def bulkIndex(index: String, docs: Seq[(String, String)]): Unit = {
    val t = nowMs
    bulks.incrementAndGet()
    val q = indexes.computeIfAbsent(index, _ => new ConcurrentLinkedQueue[Doc]())
    val keepJson = index.endsWith("rollup")
    docs.foreach { case (id, json) => q.add(Doc(id, if (keepJson) json else "", t)) }
  }

  def docs(index: String): Seq[Doc] =
    Option(indexes.get(index)).map(_.asScala.toSeq).getOrElse(Nil)
}

/** The KSE stream: FakeKafkaSource → EventParser → DedupStage →
  * ElasticsearchSink (one doc per event), and EventParser →
  * WindowedAggPipeline.tumbling → ElasticsearchSink (rollup docs). The
  * rollup counts valid records, redeliveries included: both stages set
  * their own watermark, and Spark refuses a second one in one query.
  *
  * Phase 1 drains a fixed backlog as fast as it can. Phase 2 is open loop:
  * a ProcessingTime trigger admitting `rate × interval` records offers a
  * fixed rate; event `i` is due `i / rate` seconds after the producer clock
  * starts, whether or not the pipeline keeps up. */
object Stream {
  /** One topic: records in offset order as (scheduled ms, event id or -1
    * for a corrupt record, payload), and the expected rollups as window key
    * -> (count, scheduled ms of the window's last record). */
  final case class Log(sched: Array[Double], ids: Array[Long], payloads: Array[String],
                       windows: Map[String, (Long, Double)])

  def readLog(path: String): Log = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toArray
    val f = lines.map(_.split("\t", 3))
    val windows = Files.readAllLines(Paths.get(path + ".windows")).asScala.map { l =>
      val Array(k, n, last) = l.split("\t")
      k -> (n.toLong, last.toDouble)
    }.toMap
    Log(f.map(_(0).toDouble), f.map(_(1).toLong), f.map(_(2)), windows)
  }

  final case class Phase(name: String, queries: Seq[StreamingQuery])

  private def start(spark: SparkSession, a: Args, topic: String, phase: String,
                    trigger: Trigger, maxPerTrigger: Long): Phase = {
    val cfg = KafkaSourceConfig.Config("localhost:9092", topic,
      maxOffsetsPerTrigger = Some(maxPerTrigger))
    def events(tag: String): DataFrame = {
      val raw = KafkaSourceConfig.reader(spark, cfg, classOf[FakeKafkaSource].getName).load()
      val parsed = PipelineMetrics.observeVolume(EventParser.parse(raw), s"$tag-parsed", "value")
      PipelineMetrics.observeVolume(EventParser.valid(parsed), s"$tag-valid", "value")
    }
    val ck = s"${a("work")}/ckpt-$phase"
    val q1 = DedupStage.exactOnce(events(s"$phase-events"), "event_id",
        s"${a("dedup-watermark-s")} seconds")
      .select("event_id", "ets", "user_id", "event_type", "value", "props")
      .writeStream.queryName(s"$phase-events")
      .foreach(new ElasticsearchSink(s"$phase-events", "event_id", 500, Recorder))
      .option("checkpointLocation", s"$ck/events").trigger(trigger).start()
    val q2 = WindowedAggPipeline.tumbling(events(s"$phase-rollup"),
        s"${a("window-watermark-s")} seconds", s"${a("window-s")} seconds")
      .withColumn("doc_id", concat_ws("|", col("event_type"), unix_timestamp(col("window_start"))))
      .writeStream.queryName(s"$phase-rollup").outputMode("append")
      .foreach(new ElasticsearchSink(s"$phase-rollup", "doc_id", 500, Recorder))
      .option("checkpointLocation", s"$ck/rollup").trigger(trigger).start()
    Phase(phase, Seq(q1, q2))
  }

  private def drainAndStop(p: Phase): Unit = {
    p.queries.foreach(_.processAllAvailable())
    p.queries.foreach(_.stop())
  }

  /** Output checks of one phase: every valid event indexed exactly once,
    * and every rollup doc's count equal to the recount over the log. */
  private def check(p: String, log: Log, windowS: Long, delayS: Long): Map[String, Long] = {
    val want = log.ids.filter(_ >= 0).toSet
    val got = Recorder.docs(s"$p-events").groupBy(_.id.toLong).view.mapValues(_.size).toMap
    val rollups = Recorder.docs(s"$p-rollup").groupBy(_.id)
    val nOf = "\"n\":(\\d+)".r
    val badN = rollups.count { case (k, ds) =>
      !log.windows.get(k).exists(w => ds.forall(d => nOf.findFirstMatchIn(d.json).exists(_.group(1).toLong == w._1)))
    }
    // windows certainly closed by the final watermark must have arrived
    val lastTs = log.windows.keys.map(_.split("\\|")(1).toLong).max + windowS
    val closedMissing = log.windows.keys.count { k =>
      k.split("\\|")(1).toLong + 2 * windowS + delayS <= lastTs && !rollups.contains(k)
    }
    Map("events" -> want.size.toLong,
      "missing" -> want.count(i => !got.contains(i)).toLong,
      "duplicated" -> got.count(_._2 > 1).toLong,
      "unexpected" -> got.keys.count(i => !want(i)).toLong,
      "rollups" -> rollups.size.toLong,
      "rollup_wrong_n" -> (badN + rollups.values.count(_.size > 1)).toLong,
      "rollup_missing" -> closedMissing.toLong)
  }

  private def progressOf(log: StreamLog, p: String): Seq[StreamingQueryProgress] =
    log.progress.asScala.toSeq.filter(_.name.startsWith(p + "-"))

  private def dur(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def observed(ps: Seq[StreamingQueryProgress], name: String): Double =
    ps.flatMap(pr => Option(pr.observedMetrics.get(name)))
      .map(r => r.getAs[Long]("rows").toDouble).sum

  def run(spark: SparkSession, a: Args, spans: Spans, root: Int, sessionS: Double): String = {
    VectorFunctions.register(spark)
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"${a("data")}/$t.parquet").createOrReplaceTempView(t)
    }
    val progress = new StreamLog
    spark.streams.addListener(progress)
    val probe = if (spans.on) Some(Probe.start(spark, spans)) else None
    val windowS = a.int("window-s").toLong
    val delayS = a.int("window-watermark-s").toLong
    val rate = a.int("rate")
    val intervalMs = a.int("interval-ms")
    val logs = Seq("warm", "drain", "steady").map { p =>
      val log = readLog(s"${a("events")}-$p.tsv")
      FakeKafkaSource.publish(s"kse-$p", log.payloads.toSeq.zip(log.sched.map(_.toLong)))
      p -> log
    }.toMap

    // untraced warm-up drain of a small topic
    drainAndStop(start(spark, a, "kse-warm", "warm", Trigger.ProcessingTime(0), a.int("drain-cap")))
    val readyMs = System.currentTimeMillis()
    val warmBulks = Recorder.bulks.get
    probe.foreach { p => p.sync(); p.take(Nil) }

    val drainProbe = Probe.outside(probe)(Batch.contentionProbe(spark))
    val drainFrom = System.nanoTime()
    val ((_, drainSpan), drainS) = spans.time(root, "streaming", "drain") { sid =>
      (drainAndStop(start(spark, a, "kse-drain", "drain", Trigger.ProcessingTime(0), a.int("drain-cap"))), sid)
    }
    val drainTo = System.nanoTime()

    val steadyProbe = Probe.outside(probe)(Batch.contentionProbe(spark))
    val steadyLog = logs("steady")
    val steadyFrom = System.nanoTime()
    val ((backlog, steadySpan), steadyS) = spans.time(root, "streaming", "steady") { sid =>
      val ph = start(spark, a, "kse-steady", "steady",
        Trigger.ProcessingTime(intervalMs.toLong), rate.toLong * intervalMs / 1000)
      Thread.sleep((a.double("seconds") * 1000).toLong + a.int("warm-triggers") * intervalMs)
      val readAtEnd = ph.queries.head.lastProgress match {
        case null => 0L
        case pr => pr.sources.head.endOffset.toLong
      }
      val endMs = Recorder.nowMs
      drainAndStop(ph)
      ((endMs, readAtEnd), sid)
    }
    val steadyTo = System.nanoTime()
    probe.foreach(_.sync())
    val layerCounters = probe.map(_.take(Seq(drainFrom -> drainTo, steadyFrom -> steadyTo)))
      .getOrElse(Map.empty[String, Double])

    // Producer clock, anchored on the first measured trigger (batch W =
    // `warm-triggers` of the event query): the records it reads were
    // produced in the interval before its epoch-aligned boundary B. The
    // start-up triggers before it (query start, then possibly a boundary
    // lost to a slow first batch) are left out; a boundary lost later
    // stays in the latencies, since the admission cap never catches up.
    val steadyPs = progressOf(progress, "steady")
    val warmTriggers = a.int("warm-triggers")
    val anchor = steadyPs.find(p => p.name == "steady-events" && p.batchId == warmTriggers).get
    val boundary = java.time.Instant.parse(anchor.timestamp).toEpochMilli / intervalMs * intervalMs
    val firstSched = steadyLog.sched(anchor.sources.head.startOffset.toInt)
    val p0 = boundary - intervalMs - firstSched
    val (endMs, readAtEnd) = backlog
    val due = steadyLog.sched.count(s => p0 + s <= endMs)
    val schedOf = steadyLog.ids.zip(steadyLog.sched).filter(_._1 >= 0).groupMapReduce(_._1)(_._2)(math.min)
    val eventLat = Recorder.docs("steady-events").groupBy(_.id.toLong).toSeq.collect {
      case (id, ds) if schedOf(id) >= firstSched => ds.map(_.atMs).min - (p0 + schedOf(id))
    }
    val rollupLat = Recorder.docs("steady-rollup").groupBy(_.id).toSeq.flatMap { case (k, ds) =>
      steadyLog.windows.get(k).map(w => ds.map(_.atMs).min - (p0 + w._2))
    }
    val steadyTriggers = steadyPs.filter(_.batchId >= warmTriggers)
      .map(dur(_, "triggerExecution") / 1000)
    val checks = Seq("drain" -> check("drain", logs("drain"), windowS, delayS),
      "steady" -> check("steady", steadyLog, windowS, delayS))

    // each trigger as a span, with its durationMs phases laid out in the
    // order the micro-batch runs them (the progress report gives no starts)
    if (spans.on) Seq(drainSpan -> "drain", steadySpan -> "steady").foreach { case (sid, p) =>
      progressOf(progress, p).foreach { pr =>
        val tid = spans.open()
        var at = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
        spans.addWall(tid, sid, "streaming", s"${pr.name} trigger ${pr.batchId}", at,
          dur(pr, "triggerExecution"))
        Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
          "queryPlanning" -> "plans", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
          .foreach { case (k, layer) =>
            spans.addWall(spans.open(), tid, layer, k, at, dur(pr, k))
            at += dur(pr, k)
          }
      }
    }

    val layers = probe.map { pr =>
      val all = progressOf(progress, "drain") ++ steadyPs
      val trig = all.map(dur(_, "triggerExecution")).sum
      val st = all.flatMap(_.stateOperators)
      val lastState = Seq("drain", "steady").flatMap { p =>
        Seq("events", "rollup").flatMap(q => all.filter(_.name == s"$p-$q").lastOption)
      }.flatMap(_.stateOperators)
      val inRows = Seq("drain", "steady").map(p => observed(all, s"$p-events-parsed")).sum
      val valid = Seq("drain", "steady").map(p => observed(all, s"$p-events-valid")).sum
      val indexed = Seq("drain", "steady").map(p => Recorder.docs(s"$p-events").size).sum.toDouble
      val docs = Seq("drain", "steady").map(p => Recorder.docs(s"$p-rollup").size).sum + indexed
      val bulks = (Recorder.bulks.get - warmBulks).toDouble
      val eventTriggers = steadyPs.filter(_.name == "steady-events")
      layerCounters ++ Map(
        "engine.probe_s" -> (drainProbe + steadyProbe) / 2,
        "functions.kernel_s" -> spans.time(root, "functions", "kernel pass")(_ => Batch.kernelPass(spark))._2,
        "sources.offset_frac" -> all.map(p => dur(p, "latestOffset") + dur(p, "getBatch")).sum / trig,
        "sources.rows_per_trigger" -> eventTriggers.map(_.numInputRows.toDouble).sum / eventTriggers.size,
        "sources.backlog_rows" -> math.max(0, due - readAtEnd).toDouble,
        "streaming.addbatch_frac" -> all.map(dur(_, "addBatch")).sum / trig,
        "streaming.planning_frac" -> all.map(dur(_, "queryPlanning")).sum / trig,
        "streaming.commit_frac" -> all.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / trig,
        "streaming.state_commit_frac" -> st.map(_.commitTimeMs.toDouble).sum / trig,
        "streaming.busy_frac" -> trig / 1000 / ((drainS + steadyS) * 2), // two queries
        "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
        "streaming.state_mb" -> lastState.map(_.memoryUsedBytes.toDouble).sum / 1048576,
        "streaming.late_dropped" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "streaming.sink_bulks" -> bulks,
        "streaming.sink_docs_per_bulk" -> docs / bulks,
        "exec.busy_frac" -> layerCounters("exec.task_run_s") / ((drainS + steadyS) * pr.coreCount),
        "streaming.corrupt" -> (inRows - valid),
        "streaming.dup_dropped" -> (valid - indexed),
        "streaming.useful_frac" -> indexed / inRows)
    }
    probe.foreach(Probe.stop(spark, _))
    spark.streams.removeListener(progress)

    Json.obj(Seq(
      "session_s" -> Json.num(sessionS),
      "ready_ms" -> readyMs.toString,
      "drain_s" -> Json.num(drainS),
      "drain_trigger_s" -> Json.arr(progressOf(progress, "drain").map(p => Json.num(dur(p, "triggerExecution") / 1000))),
      "drain_events" -> logs("drain").ids.filter(_ >= 0).distinct.length.toString,
      "probes_s" -> Json.arr(Seq(drainProbe, steadyProbe).map(Json.num)),
      "steady_s" -> Json.num(steadyS),
      "trigger_s" -> Json.arr(steadyTriggers.map(Json.num)),
      "lat_ms" -> Json.arr(eventLat.map(Json.num)),
      "rollup_lat_ms" -> Json.arr(rollupLat.map(Json.num)),
      "checks" -> Json.obj(checks.map { case (p, m) =>
        p -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      }),
      "layers" -> Json.arr(layers.toSeq.map(Json.nums))))
  }
}
