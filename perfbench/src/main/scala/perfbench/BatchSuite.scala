package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import graft.oracle.{QueryDef, Registry, Tables}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-level counters per query, from public listener events. Jobs
  * carry the query's job group; jobs a builder launches from a helper
  * thread without it are attributed to the query running at the time (the
  * suite has one client, so only one query runs at once). */
class JobLog extends SparkListener {
  final class Acc {
    var jobs = 0L; var checkpointJobs = 0L; var tasks = 0L
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var cachePeak = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  @volatile var current: String = ""
  val byQuery = new ConcurrentHashMap[String, Acc]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val cached = new ConcurrentHashMap[String, Long]()

  private def acc(q: String): Acc = byQuery.computeIfAbsent(q, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)
    val a = acc(q)
    val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
    a.synchronized {
      a.jobs += 1
      if (site.toLowerCase.contains("checkpoint")) a.checkpointJobs += 1
    }
    e.stageIds.foreach(s => stageQuery.put(s, q))
    jobStart.put(e.jobId, (q, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (q, t0) =>
      val a = acc(q); a.synchronized(a.intervals += ((t0, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Option(stageQuery.get(e.stageId)).getOrElse(current))
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      if (info.storageLevel.isValid) cached.put(info.blockId.name, info.memSize + info.diskSize)
      else cached.remove(info.blockId.name)
      val total = cached.values().asScala.sum
      val a = acc(current)
      a.synchronized(a.cachePeak = math.max(a.cachePeak, total))
    }
  }

  /** Wall time covered by at least one job, in ms. */
  def busyMs(a: Acc): Long = a.synchronized {
    var covered = 0L; var end = Long.MinValue
    a.intervals.sortBy(_._1).foreach { case (s, t) =>
      if (t > end) { covered += t - math.max(s, end); end = t }
    }
    covered
  }
}

/** `batch-suite`: registered queries timed from `QueryDef.run` through a
  * parquet write, which evaluates every output column, one client, in two
  * frozen phases: `loops` (builders that launch >= 30 Spark jobs) and
  * `onepass` (work in the final action). */
object BatchSuite {

  final case class Timed(name: String, pkg: String, phase: String,
                         buildS: Double, planS: Double, execS: Double) {
    def totalS: Double = buildS + planS + execS
  }

  /** The package that registers a query: the defining class of its
    * builder closure (graft.oracle.*, graft.ops.*, graft.ext.*). */
  def pkgOf(q: QueryDef): String =
    q.run.getClass.getName.stripPrefix("graft.").takeWhile(_ != '.')

  private def release(spark: SparkSession): Unit = {
    Tables.releasePersisted()
    spark.catalog.clearCache()
  }

  /** Run one query: build, (plan when traced), then write its frame as
    * parquet under `out` — the action that evaluates every output column,
    * and the files the oracle check reads. */
  def timeOne(spark: SparkSession, q: QueryDef, phase: String, sfDir: String, traced: Boolean,
              jobs: JobLog, out: Path): Timed = {
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(q.name, q.name, interruptOnCancel = false)
    jobs.current = q.name
    val qid = Trace.nextId()
    try {
      val ((b, p, x), _) = Trace.span("query", q.name, id = qid) {
        val (df, b) = Trace.span("query.build", q.name, qid)(q.run(spark, sfDir))
        val p = if (traced) Trace.span("query.plan", q.name, qid)(df.queryExecution.executedPlan)._2 else 0L
        val (_, x) = Trace.span("query.exec", q.name, qid)(
          df.write.mode("overwrite").parquet(out.resolve(q.name).toString))
        (b, p, x)
      }
      Timed(q.name, pkgOf(q), phase, b / 1e9, p / 1e9, x / 1e9)
    } finally {
      if (traced) sc.clearJobGroup()
      jobs.current = ""
      release(spark)
    }
  }

  /** Each `functions` kernel against the interpreted expression it
    * replaced, over the fixture arrays, fully materialized: every row's
    * result feeds (count, bit_xor(xxhash64(result))), and the two
    * checksums must be equal. Returns (metrics, mismatches). */
  def kernels(spark: SparkSession, sfDir: String): (Map[String, Double], Int) = {
    graft.functions.IntDot.register(spark)
    graft.functions.IntL2.register(spark)
    graft.functions.CosineSim.register(spark)
    graft.functions.TextExprs.register(spark)
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("iv", expr("transform(v, x -> cast(round(x * 1000) AS bigint))"))
    val pairs = emb.select(col("v").as("qv"), col("iv").as("qi"))
      .crossJoin(emb.filter(col("vec_id") % 16 === 0).select(col("v"), col("iv")))
      .cache()
    pairs.count()
    val shingles = graft.ext.TextOps.docShingleArr(spark, sfDir, distinct = false)
      .filter(size(col("sarr")) > 0).cache()
    shingles.count()
    def hexVal(m: String, off: Int): String = (0 until 8).map { k =>
      s"CAST(instr('0123456789abcdef', substr($m, ${off + k}, 1)) - 1 AS BIGINT) * ${1L << (4 * (7 - k))}"
    }.mkString("(", " + ", ")")
    val minhashInterp = shingles
      .withColumn("ms", expr("transform(sarr, s -> md5(s))"))
      .withColumn("hs", expr(s"transform(ms, m -> struct(${hexVal("m", 1)} AS h1, ${hexVal("m", 9)} AS h2))"))
      .select(array((0 until 12).map(i => expr(s"array_min(transform(hs, h -> (h.h1 + $i * h.h2) % 2147483647))")): _*).as("r"))
    val cases: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("int_dot", pairs.select(expr("int_dot(qi, iv)").as("r")),
        pairs.select(expr("aggregate(zip_with(qi, iv, (x, y) -> x * y), 0L, (s, x) -> s + x)").as("r"))),
      ("int_l2", pairs.select(expr("int_l2(qi, iv)").as("r")),
        pairs.select(expr("aggregate(zip_with(qi, iv, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)").as("r"))),
      ("cosine_sim", pairs.select(expr("cosine_sim(qv, v)").as("r")),
        pairs.select(expr(graft.ext.Similarity.hofCosine).as("r"))),
      ("minhash_signatures", shingles.select(expr("minhash_signatures(sarr, 12)").as("r")), minhashInterp))
    var mismatches = 0
    val m = cases.flatMap { case (name, native, interp) =>
      def check(df: DataFrame) = Trace.span("kernel", name)(
        df.agg(count(lit(1)), bit_xor(xxhash64(col("r")))).head())
      val (a, na) = check(native)
      val (b, nb) = check(interp)
      if (a != b) mismatches += 1
      Seq(s"functions.${name}_s" -> na / 1e9, s"functions.${name}_interp_s" -> nb / 1e9)
    }.toMap
    pairs.unpersist(); shingles.unpersist()
    (m, mismatches)
  }

  /** A frozen short name selects the one query named n or n_*
    * (graft.NameFilter's rule). */
  def resolve(names: Seq[String]): Seq[QueryDef] = names.map { n =>
    Registry.all.filter(q => q.name == n || q.name.startsWith(n + "_")) match {
      case Seq(q) => q
      case other => sys.error(s"query $n matches ${other.size} registered queries")
    }
  }

  def run(spark: SparkSession, sfDir: String, warmDir: String, seconds: Int,
          phases: Seq[(String, Seq[String])], work: Path, traced: Boolean): Outcome = {
    val jobs = new JobLog
    val queries = phases.map { case (ph, names) => ph -> resolve(names) }
    val warms = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); graft.tools.WarmRead.warm(sfDir); (System.nanoTime() - t0) / 1e9
    }
    // warm-up: each loops query once at the smallest scale (the first also
    // takes the JVM's cold start); the fixture byte-warm is the repeated
    // part of set-up
    val warmS = queries.filter(_._1 == "loops").flatMap { case (ph, qs) => qs.map { q =>
      val t0 = System.nanoTime(); timeOne(spark, q, ph, warmDir, traced = false, jobs, work.resolve("warm"))
      q.name -> (System.nanoTime() - t0) / 1e9 } }
    val setupS = Host.sinceStartS() - warms.sum + Stats.median(warms)

    def measure(traceOn: Boolean): (Seq[Seq[Timed]], Map[String, Double]) = {
      Trace.on = traceOn
      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[Seq[Timed]]
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        jobs.byQuery.clear() // per-layer counters describe the last pass
        passes += queries.flatMap { case (ph, qs) => qs.map(q => timeOne(spark, q, ph, sfDir, traceOn, jobs, work.resolve("out"))) }
        n += 1
      }
      Trace.on = false
      val ps = passes.result()
      def phaseS(ph: String) = Stats.median(ps.map(_.filter(_.phase == ph).map(_.totalS).sum))
      val perQuery = ps.flatten.map(_.totalS)
      (ps, Map(
        "latency_p50_ms" -> Stats.pct(perQuery, 50) * 1e3,
        "latency_p90_ms" -> Stats.pct(perQuery, 90) * 1e3,
        "throughput_per_s" -> Stats.median(ps.map(p => p.size / p.map(_.totalS).sum)),
        "loops_s" -> phaseS("loops"), "onepass_s" -> phaseS("onepass")))
    }

    // traced: a discarded warm pass, then the untraced baseline, then the
    // traced measure with the job listener attached for it alone
    val base = if (traced) { measure(traceOn = false); Some(measure(traceOn = false)._2) } else None
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val (passes, e2e) = measure(traceOn = traced)
    if (traced) spark.sparkContext.removeSparkListener(jobs)
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      val last = passes.last
      Seq("oracle", "ops", "ext").foreach { pkg =>
        val ts = last.filter(_.pkg == pkg)
        val accs = ts.flatMap(t => Option(jobs.byQuery.get(t.name)).map(t -> _))
        val busy = accs.map { case (_, a) => jobs.busyMs(a) / 1e3 }.sum
        def sum(f: jobs.Acc => Long) = accs.map { case (_, a) => a.synchronized(f(a)).toDouble }.sum
        layers ++= Map(
          s"$pkg.build_s" -> ts.map(_.buildS).sum,
          s"$pkg.plan_s" -> ts.map(_.planS).sum,
          s"$pkg.exec_s" -> ts.map(_.execS).sum,
          s"$pkg.jobs" -> sum(_.jobs),
          s"$pkg.job_busy_s" -> busy,
          s"$pkg.driver_gap_s" -> (ts.map(_.totalS).sum - busy),
          s"$pkg.tasks" -> sum(_.tasks),
          s"$pkg.task_cpu_s" -> sum(_.cpuNs) / 1e9,
          s"$pkg.shuffle_mb" -> sum(_.shuffleBytes) / 1048576.0,
          s"$pkg.spill_mb" -> sum(_.spillBytes) / 1048576.0,
          s"$pkg.checkpoint_jobs" -> sum(_.checkpointJobs),
          s"$pkg.cache_peak_mb" -> (if (accs.isEmpty) 0.0 else accs.map(_._2.cachePeak).max / 1048576.0))
      }
      layers ++= Main.Overhead.map(k => s"trace_overhead.$k" -> (e2e(k) - base.get(k)))
    }
    val (kernelMetrics, kernelFailures) = if (traced) kernels(spark, sfDir) else (Map.empty[String, Double], 0)
    val allQ = passes.head
    Outcome(allQ.size.toLong + (if (traced) 4 else 0), kernelFailures,
      Map("setup_s" -> setupS) ++ e2e,
      layers.toMap ++ kernelMetrics ++ Map("loops_s" -> e2e("loops_s"), "onepass_s" -> e2e("onepass_s")),
      Map("passes" -> passes.size, "warm_s" -> warmS.toMap, "out_dir" -> work.resolve("out").toString,
        "queries" -> passes.last.map(t => Map("name" -> t.name, "pkg" -> t.pkg, "phase" -> t.phase,
          "build_s" -> t.buildS, "plan_s" -> t.planS, "exec_s" -> t.execS))))
  }
}
