package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ipc.ArrowIpc

/** Verify-gate entry points for publish + metrics (SURVEY §2 a7, a9). */
object PipelineQueries {

  /** a7: publish round-trip — documents → IPC messages → FilePublisher
    * (one standalone .arrow file per message, N partitions publishing
    * concurrently) → read the files back → rows. Identity oracle proves
    * no message was lost, duplicated, or corrupted by the publish path. */
  def a7Publisher(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val schema = docs.schema
    // per-JVM scratch dir, cleared on entry: PID suffix prevents two JVMs
    // (bench + verify) racing on one path; within a JVM repeated runs reuse
    // it instead of leaking one .arrow dataset per run
    val outDir = graft.GraftSession.scratchDir("a7-publish").toString
    Publish.run(ArrowIpc.serialize(docs, maxRows = 256), () => new FilePublisher(outDir))
    ArrowIpc.deserialize(spark, PublishedFiles.read(spark, outDir), schema)
      .transform(graft.operators.Relational.gateOrder("doc_id"))
  }

  /** a10: the batch shape of the convert pipeline Bench times — ND-JSON →
    * schema-driven parse → Arrow IPC → rows. Identity oracle pins the exact
    * code path whose MB/s the benchmark reports (bolson's convert-stage
    * metric, reference: src/bolson/bench.cpp convert bench). */
  def a10ConvertBench(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsFanned(spark, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    val schema = ev.schema
    val lines = ev.select(to_json(struct(ev.columns.map(col): _*)).as("value"))
    val parsed = StreamPipeline.convert(lines, schema)
    ArrowIpc.deserialize(spark, ArrowIpc.serialize(parsed, maxRows = 4096), schema)
      .transform(graft.operators.Relational.gateOrder("event_id"))
  }

  /** a9: per-stage pipeline metrics via accumulators — rows converted,
    * batches serialized, messages/rows published (bolson's convert/publish
    * metrics). The single sorted partition makes batch counts reproducible
    * for the oracle; production metrics work identically at any
    * parallelism, they just stop being closed-form. */
  def a9Metrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .repartition(1).sortWithinPartitions("doc_id")
    // the query reads ONLY the accumulator stats — a collecting publisher
    // here would buffer every IPC payload driver-side for no reader
    val stats = Publish.run(ArrowIpc.serialize(docs, maxRows = 128),
      () => new NoopPublisher)
    Seq(
      ("batches_serialized", stats.messages),
      ("messages_published", stats.messages),
      ("rows_converted", stats.rows),
      ("rows_published", stats.rows))
      .toDF("metric", "value").orderBy("metric")
  }
}
