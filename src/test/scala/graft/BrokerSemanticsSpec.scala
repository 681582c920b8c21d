package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

import graft.ipc.{ArrowIpc, IpcMessage}
import graft.streaming.{BrokerPublisher, FailNthPublisher, FilePublisher,
  InMemoryBroker, InMemoryBrokerClient, PublishedFiles, StreamPipeline}

/** Broker delivery semantics behind the Publisher seam (no broker exists
  * in this sandbox, so the CONTRACT is spec'd instead): a failed publish
  * fails the micro-batch, a checkpoint restart REPLAYS that micro-batch
  * (at-least-once), and (epoch, batch_id) message naming makes the replay
  * idempotent at the sink — the mapping a real Pulsar/Kafka producer
  * client drops into (reference: bolson aborts its pipeline on a Pulsar
  * send error, src/bolson/publish/publisher.cpp). */
class BrokerSemanticsSpec extends SparkSpec {

  test("failed publish → batch retry from checkpoint → at-least-once, idempotent sink") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = StructType.fromDDL("id BIGINT, v BIGINT")
    val outDir = Files.createTempDirectory("graft-broker-out-").toString
    val ckpt = Files.createTempDirectory("graft-broker-ckpt-").toString
    val n = 300
    val lines = (0 until n).map(i => s"""{"id": $i, "v": ${i * 3}}""")

    val stream = MemoryStream[String]
    def startQuery() =
      StreamPipeline.publishStream(stream.toDF(), schema,
          epoch => new FailNthPublisher(new FilePublisher(outDir, epoch)),
          maxRows = 64)
        .option("checkpointLocation", ckpt)
        .start()

    // arm: the 3rd publish call of the JVM fails once — mid-batch, so the
    // first attempt has already written messages 1-2 before dying
    FailNthPublisher.armFailure(3)
    try {
      stream.addData(lines)
      val q1 = startQuery()
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(failed).exists(_.getMessage != null)
        && causes(failed).exists(c =>
          String.valueOf(c.getMessage).contains("injected publish failure")),
        s"query must die on the injected broker error, got: $failed")
      assert(q1.exception.isDefined)
      spark.streams.resetTerminated()

      // partial first attempt is on disk (messages before the failure)
      val partial = new java.io.File(outDir)
        .listFiles().count(_.getName.endsWith(".arrow"))
      assert(partial >= 1 && partial < n / 64 + 1,
        s"expected a PARTIAL first attempt, got $partial files")

      // restart from the checkpoint: the same micro-batch replays
      // (at-least-once); (epoch, batch_id) naming overwrites the partial
      // attempt instead of duplicating it
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      spark.streams.resetTerminated()

      val rows = ArrowIpc.deserialize(spark, PublishedFiles.read(spark, outDir), schema)
        .orderBy("id").collect()
      assert(rows.length == n,
        s"replay must deliver every row exactly once at the sink, got ${rows.length}")
      assert(rows.map(_.getAs[Long]("id")).toSeq == (0L until n).toSeq,
        "no row lost, none duplicated after the retry")
    } finally FailNthPublisher.disarm()
  }

  test("BrokerPublisher over the broker SPI: same retry contract against the in-repo stub") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = StructType.fromDDL("id BIGINT, v BIGINT")
    val topic = "graft-spec-topic"
    val ckpt = Files.createTempDirectory("graft-broker2-ckpt-").toString
    val n = 300
    val lines = (0 until n).map(i => s"""{"id": $i, "v": ${i * 3}}""")

    val stream = MemoryStream[String]
    def startQuery() =
      // the compile-checked drop-in: Publisher → BrokerPublisher →
      // BrokerClient SPI; a Pulsar/Kafka adapter swaps the factory
      StreamPipeline.publishStream(stream.toDF(), schema,
          epoch => new FailNthPublisher(
            new BrokerPublisher(() => new InMemoryBrokerClient, topic, epoch)),
          maxRows = 64)
        .option("checkpointLocation", ckpt)
        .start()

    InMemoryBroker.clear()
    FailNthPublisher.armFailure(3)
    try {
      stream.addData(lines)
      val q1 = startQuery()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      spark.streams.resetTerminated()
      val partial = InMemoryBroker.messages(topic).size
      assert(partial >= 1 && partial < n / 64 + 1,
        s"expected a PARTIAL first attempt at the broker, got $partial messages")

      // checkpoint restart replays the batch; (epoch, batch_id) send keys
      // make the replay idempotent at the broker (producer-idempotence)
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      spark.streams.resetTerminated()

      val delivered = InMemoryBroker.messages(topic)
      val msgs = delivered.values.toSeq.map(b => IpcMessage(0L, 0L, b.length.toLong, b))
      val rows = ArrowIpc.deserialize(spark, msgs.toDS(), schema)
        .orderBy("id").collect()
      assert(rows.length == n,
        s"replay must deliver every row exactly once at the broker, got ${rows.length}")
      assert(rows.map(_.getAs[Long]("id")).toSeq == (0L until n).toSeq,
        "no row lost, none duplicated after the retry")
    } finally {
      FailNthPublisher.disarm()
      InMemoryBroker.clear()
    }
  }

  test("BrokerPublisher closes the client even when the producer flush throws") {
    val clientClosed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val client = new graft.streaming.BrokerClient {
      override def createProducer(topic: String): graft.streaming.BrokerProducer =
        new graft.streaming.BrokerProducer {
          override def send(key: String, payload: Array[Byte]): Unit = ()
          override def flush(): Unit =
            throw new java.io.IOException("broker down at flush")
          override def close(): Unit = ()
        }
      override def close(): Unit = clientClosed.set(true)
    }
    val p = new graft.streaming.BrokerPublisher(() => client, "t")
    p.open(0)
    intercept[java.io.IOException] { p.close() }
    assert(clientClosed.get(),
      "a flush failure must not leak the broker client connection")
  }
}
