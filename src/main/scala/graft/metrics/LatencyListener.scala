package graft.metrics

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch latency sample (SURVEY §2 a9): bolson tracks per-batch
  * time-in-stage seconds (reference: src/bolson/latency.h,
  * convert/metrics.cpp); Structured Streaming already measures the
  * equivalent stages per micro-batch — this listener snapshots them. */
case class BatchLatency(batchId: Long, inputRows: Long,
                        addBatchMs: Long, triggerMs: Long,
                        rowsPerSec: Double)

/** StreamingQueryListener collecting per-batch latency/throughput samples
  * of any graft streaming pipeline. Listeners are session-global and
  * events asynchronous, so samples are kept per query run (the newest
  * [[LatencyListener.Retain]]) and read after [[awaitTerminated]]. */
class LatencyListener extends StreamingQueryListener {
  private val byRun = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[BatchLatency]]()
  private val terminated = ConcurrentHashMap.newKeySet[UUID]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    terminated.add(event.runId); ()
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val addBatch = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
    val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val buf = byRun.computeIfAbsent(p.runId, _ => new ConcurrentLinkedQueue[BatchLatency]())
    buf.add(BatchLatency(p.batchId, p.numInputRows, addBatch, trigger,
      p.processedRowsPerSecond))
    while (buf.size > LatencyListener.Retain) { buf.poll(); () }
  }

  /** Waits until the run's QueryTerminatedEvent has been delivered — the
    * bus delivers a query's progress events before it, so afterwards
    * [[samples]] is complete. False when `timeoutMs` passed first. */
  def awaitTerminated(runId: UUID, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(runId) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    terminated.contains(runId)
  }

  def samples(runId: UUID): Seq[BatchLatency] =
    Option(byRun.get(runId)).map(_.asScala.toSeq).getOrElse(Nil)

  def summary(runId: UUID): Map[String, Double] = {
    val s = samples(runId)
    if (s.isEmpty) Map.empty
    else Map(
      "n_batches" -> s.size.toDouble,
      "rows_total" -> s.map(_.inputRows).sum.toDouble,
      "trigger_ms_avg" -> s.map(_.triggerMs).sum.toDouble / s.size,
      "trigger_ms_max" -> s.map(_.triggerMs).max.toDouble,
      "add_batch_ms_avg" -> s.map(_.addBatchMs).sum.toDouble / s.size)
  }
}

object LatencyListener {
  val Retain = 1024 // per run: bounds the driver heap of a long-running stream
}
