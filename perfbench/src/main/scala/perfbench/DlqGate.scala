package perfbench

import java.nio.file.Path

import graft.oracle.Tables
import graft.ops.DlqRoute
import graft.streaming.LateDlq
import graft.streaming.TransitionGate.ItemEvent
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** `dlq-gate`: the fixture's item events through `LateDlq.routedOf` on the
  * RocksDB provider, closed loop. Arrivals follow the q172 model staged as
  * `tools.GateReplay` stages them: `shards` arrival micro-batches, the late
  * cohort delayed two shards; each shard drains before the next lands.
  * Every pass starts a fresh query on a fresh checkpoint, so each pass
  * routes the whole corpus from empty state. */
object DlqGate {

  val ExpectedKept = 95498L
  val ExpectedLate = 2091L

  /** Arrival shards of item events, in landing order. */
  def stage(spark: SparkSession, sfDir: String, shards: Int): Seq[Seq[ItemEvent]] = {
    val ev = Tables.table(spark, sfDir, "events")
    val routed = DlqRoute.routedOf(ev, Tables.tsMicros(ev))
    val maxId = routed.agg(max(col("event_id"))).head().getLong(0)
    val bucket = math.max(1L, maxId / shards + 1L)
    DlqRoute.routedOf(ev, Tables.tsMicros(ev), bucket = bucket, delay = 2L)
      .select(col("ab"), col("user_id"), col("event_id"), col("item"), col("t"))
      .collect()
      .map(r => (r.getLong(0), ItemEvent(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(_._2).toSeq }
  }

  final case class Pass(sec: Double, kept: Long, late: Long, shardMs: Seq[Double])

  /** One pass of `arrivals` through a fresh gate query named `LateDlq`. */
  def pass(spark: SparkSession, arrivals: Seq[Seq[ItemEvent]], cp: Path): Pass = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val kept = new java.util.concurrent.atomic.AtomicLong()
    val late = new java.util.concurrent.atomic.AtomicLong()
    val stream = MemoryStream[ItemEvent]
    val q = LateDlq.routedOf(stream.toDS())
      .writeStream.queryName("LateDlq")
      .foreachBatch { (batch: Dataset[LateDlq.Routed], _: Long) =>
        batch.groupBy(col("kind")).count().collect().foreach { r =>
          if (r.getString(0) == "late") late.addAndGet(r.getLong(1))
          else kept.addAndGet(r.getLong(1))
        }
      }
      .outputMode("update")
      .option("checkpointLocation", cp.toString)
      .start()
    val t0 = System.nanoTime()
    val shardMs = try arrivals.map { shard =>
      val s0 = System.nanoTime()
      stream.addData(shard)
      q.processAllAvailable()
      (System.nanoTime() - s0) / 1e6
    } finally q.stop()
    Pass((System.nanoTime() - t0) / 1e9, kept.get(), late.get(), shardMs)
  }

  def run(spark: SparkSession, sfDir: String, seconds: Int, shards: Int, work: Path,
          progress: ProgressLog, traced: Boolean): Outcome = {
    // transformWithState needs the multi-column-family store (RocksDB);
    // partitions as the program's GateReplay sets them
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.shuffle.partitions", Main.GatePartitions)
    val stagings = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); val a = stage(spark, sfDir, shards); (a, (System.nanoTime() - t0) / 1e9)
    }
    val arrivals = stagings.head._1
    val nEvents = arrivals.map(_.size.toLong).sum
    val stagingWall = stagings.map(_._2).sum
    // warm-up: one whole pass through a throwaway query. Shard times keep
    // falling for about ten shards of a cold process, so a shorter warm-up
    // leaves the measured pass on that slope
    var cpN = 0
    def nextCp(): Path = { cpN += 1; work.resolve(s"cp_gate_$cpN") }
    pass(spark, arrivals, nextCp())
    val setupS = Host.sinceStartS() - stagingWall + Stats.median(stagings.map(_._2))

    def measure(): Seq[Pass] = {
      progress.clear()
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Pass]
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (p, _) = Trace.span("gate.pass", s"pass$n")(pass(spark, arrivals, nextCp()))
        out += p
        n += 1
      }
      out.result()
    }
    def e2e(ps: Seq[Pass]): Map[String, Double] = {
      val lat = ps.flatMap(_.shardMs)
      Map("latency_p50_ms" -> Stats.pct(lat, 50), "latency_p90_ms" -> Stats.pct(lat, 90),
        "throughput_per_s" -> Stats.median(ps.map(p => nEvents / p.sec)))
    }

    // traced: an untraced baseline, then the traced measure; both follow
    // the whole warm-up pass
    val base = if (traced) Some(measure()) else None
    Trace.on = traced
    val passes = measure()
    val bs = progress.batches("LateDlq")
    if (traced) Progress.recordSpans("LateDlq", bs)
    Trace.on = false
    val metrics = e2e(passes)
    val custom = (k: String) => if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.custom.getOrElse(k, 0L).toDouble))
    val layers = Progress.stageMetrics("LateDlq", bs) ++ Map(
      "LateDlq.rocksdb_flush_ms" -> custom("rocksdbCommitFlushLatency"),
      "LateDlq.rocksdb_checkpoint_ms" -> custom("rocksdbCommitCheckpointLatency"),
      "LateDlq.rocksdb_sync_ms" -> custom("rocksdbCommitFileSyncLatencyMs"),
      "gate_eps" -> metrics("throughput_per_s")) ++
      base.map(b => Main.Overhead.map(k => s"trace_overhead.$k" -> (metrics(k) - e2e(b)(k))).toMap).getOrElse(Map.empty)
    val laneFailures = passes.count(p => p.kept != ExpectedKept) + passes.count(p => p.late != ExpectedLate)
    Outcome(2L * passes.size, laneFailures, metrics ++ Map("setup_s" -> setupS), layers,
      Map("events" -> nEvents, "passes" -> passes.size,
        "lanes" -> passes.map(p => Map("kept" -> p.kept, "late" -> p.late, "sec" -> p.sec, "shard_ms" -> p.shardMs)),
        "shard_events" -> arrivals.map(_.size),
        "rocksdb_custom_metric_keys" -> bs.headOption.map(_.custom.keys.toSeq.sorted).getOrElse(Nil),
        "staging_s" -> stagings.map(_._2)))
  }
}
