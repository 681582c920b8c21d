package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.Tables
import graft.ipc.ArrowIpc
import graft.metrics.{LatencyListener, StageTimers}
import graft.operators.SeqColumn
import graft.sources.JsonConvert

/** End-to-end streaming pipeline (SURVEY §2 a8, d1): ND-JSON lines →
  * schema-driven parse → optional seq column → Arrow IPC serialize →
  * publish, as a Structured Streaming job — bolson's
  * client→converter→publisher loop (reference: src/bolson/stream.cpp:117-190)
  * with micro-batches replacing buffer rotation and the streaming engine
  * replacing hand-rolled drain / shutdown logic. The `stream` verb, the a8
  * oracle and the specs all run this one micro-batch body; checkpointing +
  * foreachBatch give at-least-once publish.
  */
object StreamPipeline {

  /** The conversion stage: parse a line stream against an explicit schema,
    * failing on malformed records and on any field outside the schema —
    * bolson's UnexpectedFieldBehavior::Error, which it sets unconditionally
    * (reference: src/bolson/parse/arrow.cpp:89). */
  def convert(lines: DataFrame, schema: StructType): DataFrame =
    lines.select(JsonConvert.parseJsonStrict(col("value"), schema).as("rec"))
      .select("rec.*")

  /** Every ND-JSON file under `dir`, at most 8 files per micro-batch. */
  def fileLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "8").text(dir)

  /** ND-JSON lines from a TCP connection — bolson's client mode. One
    * partition per micro-batch: by default Spark's socket source deals the
    * lines round-robin over `defaultParallelism` partitions
    * (TextSocketMicroBatchStream.planInputPartitions), which would break
    * the arrival order a seq column follows. */
  def socketLines(spark: SparkSession, host: String, port: String): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port)
      .option("numPartitions", "1").load()

  val DefaultMaxRows = 4096
  val DefaultMaxIpc: Long = 5L * 1024 * 1024

  /** Per-stage time of one micro-batch (core-ms, see [[StageTimers]]). */
  case class StageSample(batchId: Long, parseMs: Double,
                         serializeMs: Double, publishMs: Double)

  /** Publish totals of one [[publishStream]] query, recorded on the driver
    * after each micro-batch (read them once the query has stopped); with
    * `timers`, also the newest per-micro-batch stage-time deltas. */
  final class Ledger(val timers: Option[StageTimers] = None) {
    var messages = 0L; var rows = 0L; var bytes = 0L
    /** Wall clock of the last micro-batch that published rows. */
    @volatile var lastProgressMs: Long = System.currentTimeMillis()
    val stageSamples = ArrayBuffer[StageSample]()
    private var last = StageSample(-1L, 0.0, 0.0, 0.0)

    private[StreamPipeline] def record(batchId: Long, stats: PublishStats): Unit = {
      messages += stats.messages; rows += stats.rows; bytes += stats.bytes
      if (stats.rows > 0) lastProgressMs = System.currentTimeMillis()
      timers.foreach { st => // accumulators are totals: sample the delta
        val now = StageSample(batchId, st.parseMs, st.serializeMs, st.publishMs)
        stageSamples += StageSample(batchId, now.parseMs - last.parseMs,
          now.serializeMs - last.serializeMs, now.publishMs - last.publishMs)
        stageSamples.dropInPlace(stageSamples.length - LatencyListener.Retain)
        last = now
      }
    }
  }

  /** The one micro-batch body: convert → seq → IPC → publish, over any line
    * source. Returns the writer; callers own the trigger and checkpoint.
    * `mkPublisher` receives the micro-batch id (epoch), so sinks naming
    * outputs by batch_id stay collision-free across micro-batches;
    * `maxRows`/`maxIpc`/`codec` bound each message (bolson's --max-rows /
    * --max-ipc); `seqFrom` adds bolson's --arrow-seq-col, a contiguous
    * `seq` in arrival order across the stream starting at that value. */
  def publishStream(lines: DataFrame, schema: StructType,
                    mkPublisher: Long => Publisher,
                    maxRows: Int = DefaultMaxRows,
                    maxIpc: Long = DefaultMaxIpc,
                    codec: String = "none",
                    seqFrom: Option[Long] = None,
                    ledger: Ledger = new Ledger()): DataStreamWriter[Row] = {
    // SeqColumn numbers rows contiguously inside a micro-batch (no global
    // sort); this driver-side offset carries the numbering across them
    var nextSeq = seqFrom.getOrElse(0L)
    convert(lines, schema).writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        // persist exists ONLY for the retry-safe count() that keeps seq
        // contiguous; without a seq column caching is a pure memory tax
        val seq = seqFrom.isDefined
        val df = if (seq) batch.toDF().persist() else batch.toDF()
        try {
          val out =
            if (!seq) df
            else SeqColumn.withSeqInArrivalOrder(df)
              .withColumn("seq", col("seq") + nextSeq)
          val stats = Publish.run(
            ArrowIpc.serialize(out, maxRows, maxIpc, codec, ledger.timers),
            () => mkPublisher(epoch), ledger.timers)
          ledger.record(epoch, stats)
          // advance by an EXACT job-result count, not the publish
          // accumulator: retried tasks re-add to accumulators
          if (seq) nextSeq += df.count()
        } finally if (seq) { df.unpersist(); () }
        ()
      }
  }

  /** The seq a restarted run continues from: max published seq + 1, or 0
    * — the files at rest, not driver state, survive the restart. Assumes
    * the previous run exited cleanly: a run killed between publishing part
    * of a micro-batch and its checkpoint commit replays that batch with
    * fresh seqs — at-least-once, monotone but possibly gapped. */
  def resumeSeq(spark: SparkSession, outDir: String, schema: StructType): Long =
    if (PublishedFiles.list(outDir).isEmpty) 0L
    else ArrowIpc.deserialize(spark, PublishedFiles.read(spark, outDir),
        schema.add("seq", LongType))
      .agg(coalesce(max(col("seq")) + 1L, lit(0L))).head().getLong(0)

  /** Per-JVM memoized events ND-JSON corpus (micros timestamps: the IPC
    * unit) — the wire-format input a8 streams from files, materialized once
    * per data dir exactly like the a2/a3 corpora (generating input is
    * harness work; production ND-JSON arrives from storage or the wire). */
  private val eventsCorpus =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def eventsJsonCorpusPath(spark: SparkSession, dir: String): String =
    eventsCorpus.computeIfAbsent(dir, d => graft.metrics.MemoClock.timed {
      val p = graft.GraftSession.scratchDir(
        s"a8-corpus-${JsonConvert.pathKey(d)}").toString
      val ev = eventsProjection(spark, d)
      ev.select(to_json(struct(ev.columns.map(col): _*)).as("json"))
        .write.mode("overwrite").text(p)
      p
    })

  private def eventsProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))

  /** a8: the `stream` verb's pipeline as an oracle-checkable query, with
    * no driver-side buffering — ND-JSON corpus on disk → file source →
    * [[publishStream]] to a [[FilePublisher]] → read the published files
    * back. Identity oracle: any row lost, duplicated, or mangled anywhere
    * in the pipeline hash-mismatches. */
  def a8StreamPipeline(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsProjection(spark, dir).schema
    val corpus = eventsJsonCorpusPath(spark, dir)
    val outDir = graft.GraftSession.scratchDir("a8-publish").toString
    val ckpt = graft.GraftSession.scratchDir("a8-ckpt").toString
    val query = publishStream(fileLines(spark, corpus), schema,
      epoch => new FilePublisher(outDir, epoch))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    query.awaitTermination()
    spark.streams.resetTerminated()
    ArrowIpc.deserialize(spark, PublishedFiles.read(spark, outDir), schema)
      .transform(graft.operators.Relational.gateOrder("event_id"))
  }
}
