package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Harness entry point. `perfbench/run.py` builds this project, passes the
  * frozen workload parameters from `perfbench/suite.json`, and turns the
  * report line printed here into the benchmark's result line.
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --fixtures <dir> --work <dir> [workload options]
  */
object Main {

  /** End-to-end metrics whose traced-minus-untraced difference is reported
    * as the tracing overhead (set-up and memory happen once per process). */
  val Overhead: Seq[String] = Seq("latency_p50_ms", "latency_p90_ms", "throughput_per_s")

  /** Shuffle partitions of the stateful streaming queries: the default of
    * SPARK_GRAFT_GATE_PARTITIONS in `tools.GateReplay` and
    * `pipeline.ReplayDemo`, which pin their queries to it. */
  val GatePartitions: String = "8"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toInt
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val fixtures = arg("fixtures")
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    val loadStart = Host.load1()
    val cpus = Runtime.getRuntime.availableProcessors

    // the session the program's own mains build, every SPARK_GRAFT_* knob
    // at its default
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Host.sinceStartS()
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    val outcome = try workload match {
      case "log-pipeline" =>
        LogPipeline.run(spark, seed, seconds, arg("nominal-eps").toDouble, arg("nominal-share").toDouble,
          arg("tick-ms").toInt, arg("burst-rows").toInt, arg("bursts").toInt, work, progress, traced)
      case "dlq-gate" =>
        DlqGate.run(spark, s"$fixtures/sf0.1", seconds, arg("shards").toInt, work, progress, traced)
      case "batch-suite" =>
        val phases = Seq("loops", "onepass").map(p => p -> arg(p).split(",").toSeq.filter(_.nonEmpty))
        BatchSuite.run(spark, s"$fixtures/sf0.1", s"$fixtures/sf0.001", seconds, phases, work, traced)
      case "oracle-sql" =>
        // helper for make_expected.py: the DuckDB oracle SQL of the frozen queries
        val qs = BatchSuite.resolve(Seq("loops", "onepass").flatMap(p => arg(p).split(",").toSeq))
        Outcome(0, 0, Map.empty, Map.empty, Map("oracle_sql" -> qs.map(q => q.name -> q.oracle.getOrElse("")).toMap))
      case other => sys.error(s"unknown workload $other")
    } finally spark.streams.removeListener(progress)

    val selfTimes = if (traced) {
      Trace.write(work.resolve("spans.jsonl"))
      // only the layers this workload traced
      Trace.selfSecondsByLayer().collect {
        case (layer @ ("query" | "microbatch"), s) => s"$layer.self_s" -> s
      }
    } else Map.empty[String, Double]
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }
    val workEndS = Host.sinceStartS()
    spark.stop()
    val report = Map(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "e2e" -> (outcome.endToEnd ++ Map("peak_rss_mb" -> Host.peakRssMb())),
      "layers" -> (outcome.layers ++ selfTimes),
      "notes" -> outcome.notes,
      "run" -> Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "nproc" -> cpus, "load1_start" -> loadStart, "load1_end" -> Host.load1(),
        "session_s" -> sessionS, "work_end_s" -> workEndS, "stopped_s" -> Host.sinceStartS(), "conf" -> conf))
    println("PERFBENCH_REPORT " + Json.value(report))
  }
}
