package perfbench

import java.nio.file.Path

import graft.gen.LogGenerator
import graft.io.Codec
import graft.model.{EscalationEvent, IncidentAlert, P95Window}
import graft.pipeline.{ErrorRateDetector, LatencySloMonitor, MetricsJob}
import graft.stateful.{BreachDetector, Escalator}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable.ArrayBuffer

/** `log-pipeline`: the paper's four-stage topology, a capacity probe and
  * then an open-loop feed at the nominal rate.
  *
  * One generator thread releases seeded `LogGenerator` logs, encoded as
  * Kafka-style JSON values, on a fixed wall schedule (one `addData` per
  * tick) into one MemoryStream per consuming query: a Codec decode control,
  * the error-rate detector and the p95 window stage. Downstream stages are
  * fed the way topics chain the reference's jobs: each upstream sink
  * (foreachBatch) appends its rows to the next stage's own MemoryStream.
  * A stream shared by two running queries fails with "offsets committed out
  * of order", hence one source per consumer.
  *
  * The nominal rung offers the reference producer's ~50 logs per second
  * with event time compressed (see suite.json), so 1-minute windows close
  * every ~1.5 s of wall time. A window's due time is the wall time of the
  * tick that first released an event at or past window end + watermark.
  *
  * The capacity probe releases a fixed burst at once into the three raw
  * sources of a quiet topology and times the batch that consumed it: at an
  * offered rate of burst / batch time the steady state is back to back
  * batches of exactly the burst, so that rate is the highest one the stage
  * sustains with batches of at most the burst's size. */
object LogPipeline {

  private final case class Tick(dueMs: Long, sentMs: Long, from: Int, until: Int, maxTs: Long,
                                offsets: Map[String, Long]) {
    def rows: Int = until - from
    def lateMs: Double = (sentMs - dueMs).toDouble
  }

  private val RawConsumers = Seq("Codec", "ErrorRateDetector", "LatencySloMonitor")
  private val WindowStages = Seq("ErrorRateDetector", "LatencySloMonitor")
  private val Stages = Seq("ErrorRateDetector", "LatencySloMonitor", "BreachDetector", "Escalator", "MetricsJob")
  private val Base = 1767680040L // minute-aligned virtual clock, as ReplayDemo uses
  private val WatermarkS = 5L    // both window stages use a 5 s watermark

  /** Seeded logs as (event second, JSON value), in release order. */
  def generate(spark: SparkSession, seed: Int, events: Long): (Array[Long], Array[String]) = {
    val vsec = (events / 45 + 120).toInt // ~50 logs per virtual second
    val rows = Codec.encode(LogGenerator.logs(spark, Base, vsec, seed)
        .orderBy("timestamp", "service", "request_id"))
      .select(unix_timestamp(get_json_object(col("value"), "$.timestamp"),
        "yyyy-MM-dd'T'HH:mm:ss"), col("value"))
      .limit(events.toInt)
      .collect()
    (rows.map(_.getLong(0)), rows.map(_.getString(1)))
  }

  /** One pass: the probe's bursts and the nominal rung's ticks. The rung's
    * per-layer batches are those that ended between `fromMs` (the rung's
    * start) and `untilMs` (the next pass's start, or the end of the drain). */
  private final case class Pass(nominal: Range, fromMs: Long, untilMs: Long, bursts: Seq[Int],
                                batches: Map[String, Seq[MicroBatch]])

  def run(spark: SparkSession, seed: Int, seconds: Int, nominalEps: Double, nominalShare: Double,
          tickMs: Int, burstRows: Int, bursts: Int, work: Path, progress: ProgressLog,
          traced: Boolean): Outcome = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.shuffle.partitions", Main.GatePartitions)

    val nominalSecs = nominalShare * seconds
    // traced: a discarded warm pass, then the untraced and the traced pass
    val passes = if (traced) 3 else 1
    def feedRows(eps: Double, secs: Double): Int =
      math.ceil(secs * 1000 / tickMs).toInt * math.round(eps * tickMs / 1000.0).toInt
    // every row the run releases: the warm burst, then per pass the bursts
    // and the nominal rung
    val total = burstRows + passes * (bursts * burstRows + feedRows(nominalEps, nominalSecs))
    // input staging: generate and encode every log the run releases
    val t0Staging = System.nanoTime()
    val (ts, values) = generate(spark, seed, total + 1L)
    val stagingS = (System.nanoTime() - t0Staging) / 1e9

    val sources = RawConsumers.map(n => n -> MemoryStream[String]).toMap
    val breachSrc = MemoryStream[P95Window]
    val escSrc = MemoryStream[IncidentAlert]
    val metSrc = MemoryStream[IncidentAlert]
    val sinkRows = new java.util.concurrent.ConcurrentLinkedQueue[(EscalationEvent, Long)]()
    def cp(n: String) = work.resolve(s"cp_$n").toString

    def alertsOut(ds: Dataset[IncidentAlert]): Unit = {
      val rows = ds.collect()
      if (rows.nonEmpty) { escSrc.addData(rows.toSeq); metSrc.addData(rows.toSeq) }
    }
    // in chain order: a stage's upstream comes before it
    val queries: Seq[StreamingQuery] = Seq(
      Codec.decodeRawLogs(sources("Codec").toDF())
        .writeStream.queryName("Codec").format("noop").option("checkpointLocation", cp("codec")).start(),
      ErrorRateDetector.fromRawJson(sources("ErrorRateDetector").toDF())
        .writeStream.queryName("ErrorRateDetector").outputMode("append")
        .option("checkpointLocation", cp("erd"))
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => alertsOut(b.as[IncidentAlert])).start(),
      LatencySloMonitor.p95Windows(ErrorRateDetector.withEventTime(
          Codec.decodeRawLogs(sources("LatencySloMonitor").toDF())))
        .writeStream.queryName("LatencySloMonitor").outputMode("append")
        .option("checkpointLocation", cp("p95"))
        .foreachBatch { (b: Dataset[P95Window], _: Long) =>
          val rows = b.collect(); if (rows.nonEmpty) breachSrc.addData(rows.toSeq); () }.start(),
      BreachDetector.detect(breachSrc.toDS())
        .writeStream.queryName("BreachDetector").outputMode("update")
        .option("checkpointLocation", cp("breach"))
        .foreachBatch((b: Dataset[IncidentAlert], _: Long) => alertsOut(b)).start(),
      Escalator.escalate(escSrc.toDS(), ttlMs = None)
        .writeStream.queryName("Escalator").outputMode("update")
        .option("checkpointLocation", cp("esc"))
        .foreachBatch { (b: Dataset[EscalationEvent], _: Long) =>
          val rows = b.collect(); val now = System.currentTimeMillis()
          rows.foreach(r => sinkRows.add(r -> now)); () }.start(),
      MetricsJob.metrics(metSrc.toDF())
        .writeStream.queryName("MetricsJob").outputMode("update").format("noop")
        .option("checkpointLocation", cp("metrics")).start())
    def quiesce(): Unit = queries.foreach(_.processAllAvailable())
    def quiesceRaw(): Unit = queries.take(RawConsumers.size).foreach(_.processAllAvailable())

    val ticks = ArrayBuffer.empty[Tick]
    var next = 0

    /** Release the next `n` rows into every raw source; returns the tick. */
    def release(n: Int, dueMs: Long): Tick = {
      val until = next + n
      if (until >= values.length) sys.error("log-pipeline: generated input exhausted")
      val chunk = values.slice(next, until).toSeq
      val sent = System.currentTimeMillis()
      val offs = RawConsumers.map(c => c -> (sources(c).addData(chunk) match {
        case LongOffset(o) => o
        case o => sys.error(s"unexpected MemoryStream offset $o")
      })).toMap
      val t = Tick(dueMs, sent, next, until, ts(until - 1), offs)
      ticks += t
      next = until
      t
    }

    /** Release rows on the fixed schedule for `secs` at `eps`; returns the
      * tick indices. Sleeping never shifts the schedule: a late tick
      * releases everything due by its own due time. */
    def feed(eps: Double, secs: Double): Range = {
      val first = ticks.size
      val t0 = System.currentTimeMillis()
      val n = math.ceil(secs * 1000 / tickMs).toInt
      var k = 1
      while (k <= n) {
        val due = t0 + k.toLong * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(math.round(eps * tickMs / 1000.0).toInt, due)
        k += 1
      }
      first until ticks.size
    }

    val phases = ArrayBuffer.empty[(String, Double)]
    def phase(n: String): Unit = phases += n -> Host.sinceStartS()

    phase("queries_started")
    // warm-up: every query plans and runs batches on one burst
    release(burstRows, System.currentTimeMillis())
    quiesce()
    phase("warm")
    val setupS = Host.sinceStartS()

    // a pass: the probe, each burst on a quiet topology, then the nominal
    // rung; the rung's last batches commit in the next pass's first quiesce
    // or in the drain
    def pass(p: Int): Pass = {
      Trace.on = traced && p == passes - 1
      if (p > 0) quiesce()
      val bs = (1 to bursts).map { i =>
        release(burstRows, System.currentTimeMillis())
        quiesce()
        phase(s"pass${p}_burst$i")
        ticks.size - 1
      }
      val from = System.currentTimeMillis()
      val nominal = feed(nominalEps, nominalSecs)
      Trace.on = false
      Pass(nominal, from, 0L, bs, Map.empty)
    }
    val started = (0 until passes).map(pass)
    // flush: one event far past the last window, released as the rung's
    // next tick, closes every open window; then the chain drains
    val flushTs = ts(next - 1) + 600
    val flush = values(0).replaceFirst("\"timestamp\":\"[^\"]*\"",
      "\"timestamp\":\"" + java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(flushTs)) + "\"")
      .replaceFirst("\"level\":\"[A-Z]*\"", "\"level\":\"INFO\"")
      .replaceFirst("\"latency_ms\":[0-9]+", "\"latency_ms\":10")
    val flushDue = ticks.last.dueMs + tickMs
    Thread.sleep(math.max(0L, flushDue - System.currentTimeMillis()))
    RawConsumers.foreach(c => sources(c).addData(Seq(flush)))
    quiesceRaw()
    phase("raw_drained")
    // the batch side of the output check runs while the downstream stages
    // drain; every measured batch of the raw consumers has committed
    val expectedF = scala.concurrent.Future {
      val released = spark.createDataset(values.take(total).toSeq).toDF("value")
      val logsDf = ErrorRateDetector.withEventTime(Codec.decodeRawLogs(released))
      ErrorRateDetector.detect(logsDf).select("incident_id", "service")
        .union(LatencySloMonitor.monitor(logsDf).toDF().select("incident_id", "service"))
        .collect().map(r => (r.getString(0), r.getString(1)))
    }(scala.concurrent.ExecutionContext.global)
    quiesce()
    val drainedMs = System.currentTimeMillis()
    phase("drained")
    if (next != total) sys.error(s"log-pipeline: released $next rows, staged $total")
    // a pass's rung batches are those that ended before the next pass began
    val ran = started.zipWithIndex.map { case (p, i) =>
      p.copy(untilMs = started.lift(i + 1).map(p1 => ticks(p1.bursts.head).dueMs).getOrElse(drainedMs)) }
    val allSink = sinkRows.toArray.toSeq.asInstanceOf[Seq[(EscalationEvent, Long)]]
    queries.foreach(_.stop())
    // every batch of the passes has committed: its progress event is in
    val results = ran.map(p => p.copy(batches = (Stages :+ "Codec").map(s => s -> progress.batches(s)).toMap))

    // --- output checks: streamed incident ids == batch composition over the
    // released logs; per service #ESCALATED == floor(#alerts / 3)
    val expected = scala.concurrent.Await.result(expectedF, scala.concurrent.duration.Duration.Inf)
    val expectedIds = expected.map(_._1).toSet
    val streamedIds = allSink.map(_._1.incident_id)
    val idFailures = (expectedIds -- streamedIds).size + (streamedIds.toSet -- expectedIds).size +
      (streamedIds.size - streamedIds.toSet.size)
    val perService = expected.groupBy(_._2).map { case (s, xs) => s -> xs.length }
    val escFailures = perService.count { case (s, n) =>
      allSink.count(x => x._1.service == s && x._1.severity == "ESCALATED") != n / 3
    }
    phase("checked")

    /** The batch of consumer `q` that consumed tick `k`: the first one whose
      * end offset reaches the tick's. */
    def consumer(bs: Seq[MicroBatch], q: String, k: Int): Option[MicroBatch] =
      bs.find(_.endOffset >= ticks(k).offsets(q))
    def commitMs(bs: Seq[MicroBatch], q: String, k: Int): Option[Long] = consumer(bs, q, k).map(_.endMs)
    def triggerMs(b: MicroBatch): Long = b.durations.getOrElse("triggerExecution", 0L)

    /** (end-to-end, per-layer, notes, invalid verdicts) of one pass. */
    def measure(p: Pass): (Map[String, Double], Map[String, Double], Map[String, Any], Int) = {
      val bs = p.batches
      // per tick and consumer: due time to commit of the batch that consumed it
      val delay = RawConsumers.map(q => q -> p.nominal.flatMap(k =>
        commitMs(bs(q), q, k).map(e => (e - ticks(k).dueMs).toDouble))).toMap
      val eventLat = WindowStages.flatMap(delay)
      val nomBatches = bs.map { case (q, xs) => q -> xs.filter(b => b.endMs > p.fromMs && b.endMs <= p.untilMs) }
      val nomLate = p.nominal.map(k => ticks(k).lateMs)
      val nomSet = p.nominal.toSet
      val alertLat = allSink.flatMap { case (e, at) =>
        // the tick whose release let the watermark pass the window's end
        val k = ticks.indexWhere(_.maxTs >= e.window_end + WatermarkS)
        if (nomSet(k)) Some((at - ticks(k).dueMs).toDouble) else None
      }
      // backlog just before each commit: rows released but not yet committed
      val backlogMax = RawConsumers.flatMap { q =>
        nomBatches(q).map(b => p.nominal.filter(k => ticks(k).dueMs <= b.endMs &&
          commitMs(bs(q), q, k).forall(_ >= b.endMs)).map(k => ticks(k).rows).sum)
      }.maxOption.getOrElse(0)
      // capacity probe: rows per second of the batch that consumed each
      // burst, per consumer. Back to back batches at that rate are the
      // steady state, so a wait for an in-flight no-data batch is left out
      val burstEps = RawConsumers.map(q => q -> p.bursts.map(k =>
        consumer(bs(q), q, k).map(b => b.rowsIn / (triggerMs(b) / 1e3)).getOrElse(Double.NaN))).toMap
      val capacity = p.bursts.indices.map(i => WindowStages.map(q => burstEps(q)(i)).min)
      val codec = Stats.median(burstEps("Codec"))
      // a consumer that commits bursts faster than the nominal rate has a
      // steady batch size at that rate: the rung's backlog does not grow.
      // The rung counts only while the control keeps up and the generator
      // runs less than one tick late; the probe only while the control
      // commits no slower than the slower window stage (else the feed is
      // the limit)
      val sustained = Stats.median(capacity) >= nominalEps
      val valid = codec >= nominalEps && Stats.pct(nomLate, 99) < tickMs
      val probeValid = codec >= Stats.median(capacity)
      val e2e = Map(
        "latency_p50_ms" -> Stats.pct(eventLat, 50),
        "latency_p90_ms" -> Stats.pct(eventLat, 90),
        "throughput_per_s" -> Stats.median(capacity))
      val layers = Stages.flatMap(s => Progress.stageMetrics(s, nomBatches(s))).toMap ++
        Progress.stageMetrics("Codec", nomBatches("Codec"), stateful = false) ++
        WindowStages.map(s => s"$s.late_rows" -> nomBatches(s).map(_.droppedByWatermark).sum.toDouble) ++
        RawConsumers.map(q => s"$q.burst_eps" -> Stats.median(burstEps(q))) ++
        Map(
          "LogGenerator.late_p99_ms" -> Stats.pct(nomLate, 99),
          "LogGenerator.rows_offered" -> p.nominal.map(k => ticks(k).rows).sum.toDouble,
          "LogGenerator.backlog_max_rows" -> backlogMax.toDouble,
          "alert_latency_p50_ms" -> (if (alertLat.isEmpty) Double.NaN else Stats.pct(alertLat, 50)),
          "alert_latency_p95_ms" -> (if (alertLat.isEmpty) Double.NaN else Stats.pct(alertLat, 95)))
      val notes = Map(
        "nominal" -> Map("eps" -> nominalEps, "secs" -> p.nominal.size * tickMs / 1e3,
          "rows" -> p.nominal.map(k => ticks(k).rows).sum, "sustained" -> sustained, "valid" -> valid),
        "probe" -> Map("burst_rows" -> burstRows, "valid" -> probeValid,
          "eps" -> burstEps.map { case (q, xs) => q -> xs },
          "batches" -> RawConsumers.map(q => q -> p.bursts.flatMap(k => consumer(bs(q), q, k).map(b =>
            Map("rows" -> b.rowsIn, "batch_ms" -> triggerMs(b), "start_after_release_ms" -> (b.startMs - ticks(k).dueMs))))).toMap),
        "event_latency_samples" -> eventLat.size, "alert_latency_samples" -> alertLat.size)
      (e2e, layers, notes, Seq(valid, probeValid).count(!_))
    }

    val (e2e, layers, notes, invalid) = measure(results.last)
    if (traced) Stages.foreach(s => Progress.recordSpans(s, results.last.batches(s)
      .filter(b => b.endMs > results.last.fromMs && b.endMs <= results.last.untilMs)))
    val overhead = if (traced) {
      val (base, _, _, _) = measure(results(passes - 2))
      Main.Overhead.map(k => s"trace_overhead.$k" -> (e2e(k) - base(k))).toMap
    } else Map.empty[String, Double]
    // attempted: every expected alert, every service's escalation count,
    // the nominal rung and the probe; a rung the harness could not feed, or
    // a metric that could not be measured, fails
    val failed = idFailures + escFailures + invalid + e2e.values.count(_.isNaN)
    Outcome(expectedIds.size + perService.size + 2, failed,
      e2e ++ Map("setup_s" -> setupS),
      layers ++ overhead,
      notes ++ Map("alerts_expected" -> expectedIds.size, "alerts_streamed" -> streamedIds.size,
        "escalation_failures" -> escFailures, "incident_id_failures" -> idFailures,
        "staging_s" -> stagingS, "phases" -> phases.toSeq.map(p => p._1 + "=" + p._2)))
  }
}
