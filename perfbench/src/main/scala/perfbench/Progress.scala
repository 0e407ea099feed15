package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.jdk.CollectionConverters._

/** One committed micro-batch, as Spark's progress event reports it.
  * `endMs` is the batch's commit (start + triggerExecution); `endOffset`
  * is the first source's end offset (MemoryStream: the index of the last
  * `addData` the batch consumed). */
final case class MicroBatch(query: String, batchId: Long, startMs: Long, endMs: Long,
                            endOffset: Long, rowsIn: Long, durations: Map[String, Long],
                            stateRows: Long, stateBytes: Long, stateCommitMs: Long,
                            droppedByWatermark: Long, custom: Map[String, Long])

/** Collects every micro-batch progress event, keyed by query name. */
class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[MicroBatch]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val endOffset = p.sources.headOption
      .flatMap(s => Option(s.endOffset)).flatMap(_.trim.toLongOption).getOrElse(-1L)
    val ops = p.stateOperators.toSeq
    val custom = ops.flatMap(_.customMetrics.asScala.toSeq)
      .groupMapReduce(_._1)(_._2.longValue)(_ + _)
    val b = MicroBatch(p.name, p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      endOffset, p.numInputRows, d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum, custom)
    byQuery.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue[MicroBatch]()).add(b)
  }

  def batches(query: String): Seq[MicroBatch] =
    Option(byQuery.get(query)).map(_.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)

  /** Highest end offset a query has committed so far (-1: none). */
  def committed(query: String): Long =
    Option(byQuery.get(query)).map(_.asScala.iterator.map(_.endOffset).maxOption.getOrElse(-1L))
      .getOrElse(-1L)

  def clear(): Unit = byQuery.clear()
}

object Progress {
  /** The per-stage metric family, computed over `bs`
    * (micro-batches whose commit fell in the measured interval). Per-batch
    * costs are medians; rows are totals; state is the last batch's rows
    * and the largest memory seen. */
  def stageMetrics(stage: String, bs: Seq[MicroBatch], stateful: Boolean = true): Map[String, Double] = {
    val withData = bs.filter(_.rowsIn > 0)
    def med(f: MicroBatch => Double) = if (withData.isEmpty) 0.0 else Stats.median(withData.map(f))
    val trig = withData.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val base = Map(
      s"$stage.batches" -> bs.size.toDouble,
      s"$stage.batch_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 50)),
      s"$stage.rows_in" -> bs.map(_.rowsIn).sum.toDouble)
    if (!stateful) base
    else base ++ Map(
      s"$stage.batch_p95_ms" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 95)),
      s"$stage.add_batch_ms" -> med(_.durations.getOrElse("addBatch", 0L).toDouble),
      s"$stage.planning_ms" -> med(_.durations.getOrElse("queryPlanning", 0L).toDouble),
      s"$stage.commit_ms" -> med(b => (b.durations.getOrElse("walCommit", 0L) +
        b.durations.getOrElse("commitOffsets", 0L)).toDouble),
      s"$stage.state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      s"$stage.state_mb" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max / 1048576.0),
      s"$stage.state_commit_ms" -> med(_.stateCommitMs.toDouble))
  }

  /** Record each micro-batch as a span with one child per `durationMs`
    * part, so per-layer self time covers the streaming stages too. */
  def recordSpans(stage: String, bs: Seq[MicroBatch]): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    bs.foreach { b =>
      val id = Trace.nextId()
      var t = b.startMs * 1000000L + offsetNs
      Trace.spans.add(Span(id, 0L, "microbatch", s"$stage/${b.batchId}", t, b.endMs * 1000000L + offsetNs))
      b.durations.toSeq.filter(_._1 != "triggerExecution").sortBy(_._1).foreach { case (part, ms) =>
        Trace.spans.add(Span(Trace.nextId(), id, s"microbatch.$part", s"$stage/${b.batchId}", t, t + ms * 1000000L))
        t += ms * 1000000L
      }
    }
  }
}
