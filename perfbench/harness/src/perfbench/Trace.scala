package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One traced interval. Times are epoch milliseconds so spans line up with
  * the benchmark's own clock (feeder due times, file mtimes). `parent` is 0
  * for a root span; `label` is free text (for a job, the innermost
  * program frame of its call site). */
final case class Span(id: Long, parent: Long, name: String, label: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Double])

/** In-memory span store. Nothing is written until the launcher dumps it at
  * exit, so recording costs a queue append. */
object Trace {
  private val ids = new AtomicLong(1L)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** The innermost span enclosing work started from the benchmark's own
    * code, so Spark job spans can name it as their parent. */
  val current = new AtomicReference[java.lang.Long](0L)

  def record(name: String, parent: Long, label: String, startMs: Long,
             endMs: Long, attrs: Map[String, Double]): Unit = {
    spans.add(Span(ids.getAndIncrement(), parent, name, label, startMs, endMs, attrs))
    ()
  }

  /** Runs `body` as a span named `name`, a child of the enclosing one;
    * Spark jobs it starts are recorded as its children. `attrs` is
    * evaluated when the body ends. */
  def timed[A](name: String, attrs: => Map[String, Double] = Map.empty)(body: => A): A = {
    val id = ids.getAndIncrement()
    val parent = current.get()
    val t0 = System.currentTimeMillis()
    current.set(id)
    try body
    finally {
      current.set(parent)
      spans.add(Span(id, parent, name, "", t0, System.currentTimeMillis(), attrs))
      ()
    }
  }
}

/** Spark listener registered through `spark.extraListeners`: one span per
  * job, carrying the job's task-side sums (tasks, failures, CPU, GC,
  * shuffle, spill) and, for streaming jobs, the micro-batch id. */
class TaskTrace extends SparkListener {
  private case class Open(startMs: Long, parent: Long, batchId: Long,
                          label: String, sums: Array[Long])
  private val open = new ConcurrentHashMap[Int, Open]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val keys = Seq("tasks", "tasks_failed", "task_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    val label =
      if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).rddInfos
        .flatMap(_.scope.map(_.name)).filter(n => n.nonEmpty && n.head.isLower)
        .distinct.sorted.mkString(",")
    open.put(e.jobId, Open(e.time, Trace.current.get(), batch, label,
      new Array[Long](keys.size)))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(jobOfStage.get(e.stageId)).flatMap(j => Option(open.get(j))).foreach { o =>
      val s = o.sums
      s(0) += 1
      if (!e.taskInfo.successful) s(1) += 1
      Option(e.taskMetrics).foreach { m =>
        s(2) += m.executorCpuTime
        s(3) += m.jvmGCTime
        s(4) += m.shuffleWriteMetrics.bytesWritten
        s(5) += m.shuffleReadMetrics.totalBytesRead
        s(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { o =>
      Trace.record("job", o.parent, o.label, o.startMs, e.time,
        keys.zip(o.sums.map(_.toDouble)).toMap + ("batch_id" -> o.batchId.toDouble))
    }
}

/** Streaming listener registered through
  * `spark.sql.streaming.streamingQueryListeners`: one span per micro-batch
  * (triggerExecution) with its addBatch time and row count. */
class QueryTrace extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Trace.record("microbatch", 0L, "", start, start + ms("triggerExecution"),
      Map("batch_id" -> p.batchId.toDouble,
        "rows" -> p.numInputRows.toDouble,
        "add_batch_ms" -> ms("addBatch").toDouble))
  }
}
