package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer: the harness prints one result object and a few
  * report lines, and must not pull a JSON library onto the classpath. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Nearest-rank percentile (p in [0, 100]) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}

/** One traced interval. `parent` = 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept only while `on` (the traced
  * run); every span comes from the benchmark's own code, around the calls
  * it makes into the program or built from Spark's listener events. */
object Trace {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Time `f`, recording a span when tracing is on. Returns (result, ns). */
  def span[T](layer: String, name: String, parent: Long = 0L, id: Long = 0L)(f: => T): (T, Long) = {
    val myId = if (id != 0L) id else nextId()
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    record(Span(myId, parent, layer, name, t0, t1))
    (r, t1 - t0)
  }

  /** Self time per layer, in seconds: a span's duration minus the part
    * its direct children cover (children of one parent never overlap in
    * this harness, so covered time is their summed duration, capped). */
  def selfSecondsByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.durNs)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.durNs - math.min(s.durNs, childNs(s.id)))).sum / 1e9
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.value(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Host facts recorded in every run's report. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def load1(): Double = os.getSystemLoadAverage

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Seconds since the JVM started — the harness's process start. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** What one workload run hands back to [[Main]]. `endToEnd` carries the
  * BENCHMARK.json end-to-end metrics, `layers` the per-layer ones. */
final case class Outcome(attempted: Long, failed: Long,
                         endToEnd: Map[String, Double],
                         layers: Map[String, Double],
                         notes: Map[String, Any])
