package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ipc.IpcMessage

/** Producer lifecycle for draining IPC messages to an external system —
  * the Spark-native shape of bolson's Pulsar publisher
  * (reference: src/bolson/publish/publisher.cpp): open ≙ create producer,
  * publish ≙ send, close ≙ flush + close. One instance lives per partition
  * task, so "N concurrent producers" is simply the partition count — no
  * thread pool to manage, and backpressure comes from task scheduling. */
trait Publisher extends Serializable {
  def open(partitionId: Int): Unit
  def publish(msg: IpcMessage): Unit
  def close(): Unit
}

/** Filesystem publisher: one file per IPC message, named by batch_id
  * (partition-unique within one serialize run) plus an optional caller
  * epoch — REQUIRED when publishing repeatedly into the same directory
  * (e.g. one epoch per micro-batch), because batch ids restart at
  * (pid<<32)|0 for every serialize() call and files would overwrite.
  * Stands in for any message broker; the files are standalone Arrow IPC
  * streams readable by any Arrow consumer. */
class FilePublisher(dir: String, epoch: Long = 0L) extends Publisher {
  override def open(partitionId: Int): Unit = {
    Files.createDirectories(Paths.get(dir)); ()
  }
  override def publish(m: IpcMessage): Unit = {
    Files.write(Paths.get(dir, f"msg-$epoch%08x-${m.batch_id}%016x.arrow"), m.bytes); ()
  }
  override def close(): Unit = ()
}

/** Producer-side batching options — bolson's Pulsar batching producer
  * (reference: src/bolson/publish/publisher.h:49-59 BatchingOptions,
  * publisher.cpp:63-68, CLI flags --pulsar-batch-max-messages/-bytes/-delay
  * at publisher.cpp:265-276). A batch is delivered when ANY limit trips:
  * message count, cumulative payload bytes, or age of the oldest buffered
  * message. */
case class BatchingOptions(maxMessages: Int = 1000,
                           maxBytes: Long = 128L * 1024,
                           maxDelayMs: Long = 10L)

/** Decorator adding producer batching to any [[Publisher]]: buffers
  * published messages and hands them to `deliver` as one batch per flush —
  * one broker/filesystem op per BATCH instead of per message, which is the
  * point of bolson's batching producer at production message rates.
  *
  * The delay limit is checked on each publish and on close (a synchronous
  * per-partition producer has no timer thread; bolson delegates that to the
  * Pulsar client's internal one). `clock` is injectable for deterministic
  * specs. Close flushes the remainder, so no message is ever dropped. */
class BatchingPublisher(deliver: Seq[IpcMessage] => Unit,
                        opts: BatchingOptions = BatchingOptions(),
                        clock: () => Long = () => System.currentTimeMillis())
    extends Publisher {
  private val buf = scala.collection.mutable.ArrayBuffer[IpcMessage]()
  private var bufBytes = 0L
  private var oldestTs = 0L

  override def open(partitionId: Int): Unit = ()

  override def publish(m: IpcMessage): Unit = {
    // a single message larger than maxBytes still ships (alone) — size
    // limits bound the BATCH envelope, they never drop a message
    if (buf.nonEmpty && bufBytes + m.bytes.length > opts.maxBytes) flushNow()
    if (buf.isEmpty) oldestTs = clock()
    buf += m
    bufBytes += m.bytes.length
    if (buf.size >= opts.maxMessages || bufBytes >= opts.maxBytes ||
        clock() - oldestTs >= opts.maxDelayMs) flushNow()
  }

  override def close(): Unit = if (buf.nonEmpty) flushNow()

  private def flushNow(): Unit = {
    deliver(buf.toSeq)
    buf.clear()
    bufBytes = 0L
  }
}

/** Framed batch-envelope codec for filesystem batch delivery: one file per
  * flush, holding each message's standalone Arrow IPC stream length-prefixed
  * — the filesystem stand-in for a broker's batch envelope. */
object BatchEnvelope {
  val Magic = 0x47425045 // "GBPE"

  def encode(msgs: Seq[IpcMessage]): Array[Byte] = {
    val size = 8 + msgs.map(8 + _.bytes.length).sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(Magic).putInt(msgs.size)
    msgs.foreach { m => bb.putLong(m.bytes.length.toLong); bb.put(m.bytes) }
    bb.array()
  }

  def decode(bytes: Array[Byte]): Seq[IpcMessage] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a graft batch envelope")
    val n = bb.getInt()
    (0 until n).map { i =>
      val len = bb.getLong().toInt
      val payload = new Array[Byte](len)
      bb.get(payload)
      IpcMessage(i.toLong, 0L, len.toLong, payload)
    }
  }
}

/** Batching filesystem publisher: one envelope FILE per flush (vs
  * [[FilePublisher]]'s one file per message) — at production message rates
  * this is the difference between one fs/broker op per message and one per
  * batch. Files are named by partition + flush sequence + epoch, so
  * concurrent partitions and repeated micro-batches never collide. */
class BatchingFilePublisher(dir: String, opts: BatchingOptions = BatchingOptions(),
                            epoch: Long = 0L) extends Publisher {
  private var pid = 0
  private var seq = 0
  private val inner = new BatchingPublisher(batch => {
    Files.write(Paths.get(dir, f"batch-$epoch%08x-$pid%05d-$seq%08d.arrowbag"),
      BatchEnvelope.encode(batch))
    seq += 1
  }, opts)
  override def open(partitionId: Int): Unit = {
    pid = partitionId
    Files.createDirectories(Paths.get(dir)); ()
  }
  override def publish(m: IpcMessage): Unit = inner.publish(m)
  override def close(): Unit = inner.close()
}

/** The one reader of a publish directory: every message of its `.arrow`
  * ([[FilePublisher]]) and `.arrowbag` ([[BatchingFilePublisher]]) files,
  * in no particular order, ready for `ArrowIpc.deserialize`. */
object PublishedFiles {

  /** The published files under `dir` (none when it does not exist yet). */
  private[streaming] def list(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getAbsolutePath)
      .filter(p => p.endsWith(".arrow") || p.endsWith(".arrowbag")).sorted

  def read(spark: SparkSession, dir: String): Dataset[IpcMessage] = {
    import spark.implicits._
    val files = list(dir)
    if (files.isEmpty) spark.emptyDataset[IpcMessage]
    else spark.read.format("binaryFile").load(files: _*)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, b) =>
        if (!path.endsWith(".arrowbag")) Seq(IpcMessage(0L, 0L, b.length.toLong, b))
        // Files.write is not atomic: a crash mid-flush leaves a torn
        // envelope. Delivery is at-least-once, so readers tolerate replay
        // and must also tolerate that one file: skip it loudly
        else try BatchEnvelope.decode(b) catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] WARN: skipping undecodable envelope " +
              s"$path (truncated write?): ${e.getMessage}")
            Seq.empty
        }
      }
  }
}

/** Minimal broker-client SPI — the two-trait surface a real client jar
  * provides, mirroring pulsar::Client / pulsar::Producer (reference:
  * src/bolson/publish/publisher.cpp:55-77 client + producer creation,
  * send at :72-77; publisher.h:64-68 url/topic/max message size). A
  * Pulsar adapter is `client.newProducer().topic(t).create()` /
  * `producer.send(...)` / `producer.flush(); producer.close()` behind
  * these methods; a Kafka adapter is `new KafkaProducer(...)` /
  * `send(new ProducerRecord(topic, key, payload))` / `flush(); close()`.
  * Nothing else in graft changes — [[BrokerPublisher]] is the
  * compile-checked proof. `send` throws on a broker error, which is what
  * propagates at-least-once + checkpoint-replay semantics up through the
  * Publisher seam (BrokerSemanticsSpec). */
trait BrokerClient extends Serializable {
  def createProducer(topic: String): BrokerProducer
  def close(): Unit
}

trait BrokerProducer {
  /** Synchronous send; throws on broker error. `key` is the message's
    * idempotence key — (epoch, batch_id) — the analogue of a broker
    * producer's (producer, sequence) dedup key. */
  def send(key: String, payload: Array[Byte]): Unit
  def flush(): Unit
  def close(): Unit
}

/** The drop-in [[Publisher]] over any [[BrokerClient]] — open ≙ create
  * client + producer, publish ≙ send, close ≙ flush + close producer +
  * close client, exactly bolson's producer lifecycle
  * (publisher.cpp:55-77). Wiring a real broker = implementing the two
  * SPI traits over the vendor jar and passing the factory here; the
  * delivery-semantics contract is spec'd against [[InMemoryBroker]]. */
class BrokerPublisher(mkClient: () => BrokerClient, topic: String,
                      epoch: Long = 0L) extends Publisher {
  private var client: BrokerClient = _
  private var producer: BrokerProducer = _
  override def open(partitionId: Int): Unit = {
    client = mkClient()
    producer = client.createProducer(topic)
  }
  override def publish(m: IpcMessage): Unit =
    producer.send(f"$epoch%08x-${m.batch_id}%016x", m.bytes)
  override def close(): Unit =
    // flush/close may throw (broker error — the retry path): the client
    // must still close or a real adapter leaks one connection per failed
    // micro-batch attempt across checkpoint replays
    try if (producer != null) { producer.flush(); producer.close() }
    finally if (client != null) client.close()
}

/** In-repo broker stub: a JVM-wide (topic, key) → payload store. Keyed
  * storage is the point — a checkpoint-replayed micro-batch re-sends the
  * same (epoch, batch_id) keys and OVERWRITES the partial first attempt
  * instead of duplicating it, modeling broker producer-idempotence the
  * same way FilePublisher's keyed file names do. Local-mode only
  * (executors share the driver JVM). */
object InMemoryBroker {
  private val topics = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]]()
  def clear(): Unit = topics.clear()
  def messages(topic: String): Map[String, Array[Byte]] = {
    val t = topics.get(topic)
    if (t == null) Map.empty else t.asScala.toMap
  }
  private[streaming] def put(topic: String, key: String,
                             payload: Array[Byte]): Unit = {
    topics.computeIfAbsent(topic,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]())
      .put(key, payload); ()
  }
}

class InMemoryBrokerClient extends BrokerClient {
  override def createProducer(topic: String): BrokerProducer =
    new BrokerProducer {
      override def send(key: String, payload: Array[Byte]): Unit =
        InMemoryBroker.put(topic, key, payload)
      override def flush(): Unit = ()
      override def close(): Unit = ()
    }
  override def close(): Unit = ()
}

/** Failure injection for broker-semantics specs: delegates to `inner` but
  * throws on the JVM-wide nth publish call, exactly once. Encodes the
  * delivery contract a real broker client (Pulsar/Kafka producer) brings:
  *  - a failed send fails the partition task → the micro-batch job → the
  *    streaming query; restarting from the checkpoint REPLAYS the batch —
  *    at-least-once delivery, bolson's effective guarantee (its Pulsar
  *    send error aborts the pipeline, publisher.cpp error path);
  *  - re-publishes are idempotent at the sink when message naming is
  *    (epoch = micro-batch id, batch_id): the replayed batch overwrites
  *    the partial first attempt instead of duplicating it — the
  *    filesystem analogue of a broker's producer-idempotence keyed on
  *    (producer, sequence).
  * The failure arming is JVM-wide (companion AtomicLong) because the
  * publisher instance is constructed per partition task — local-mode
  * specs share the JVM. */
object FailNthPublisher {
  private val remaining = new java.util.concurrent.atomic.AtomicLong(-1L)
  /** Arm: the nth publish call (1-based, JVM-wide) will throw, once. */
  def armFailure(nth: Long): Unit = remaining.set(nth)
  def disarm(): Unit = remaining.set(-1L)
  private[streaming] def shouldFail(): Boolean =
    remaining.decrementAndGet() == 0L
}

class FailNthPublisher(inner: Publisher) extends Publisher {
  override def open(partitionId: Int): Unit = inner.open(partitionId)
  override def publish(m: IpcMessage): Unit = {
    if (FailNthPublisher.shouldFail())
      throw new java.io.IOException("injected publish failure (broker send error)")
    inner.publish(m)
  }
  override def close(): Unit = inner.close()
}

/** Publisher that accepts and drops every message — for harnesses whose
  * observable output is the accumulator stats from [[Publish.run]] (e.g.
  * a9): buffering payload bytes anywhere would hold the corpus's IPC bytes
  * on the heap for no reader. */
class NoopPublisher extends Publisher {
  override def open(partitionId: Int): Unit = ()
  override def publish(m: IpcMessage): Unit = ()
  override def close(): Unit = ()
}

/** Counters published by a pipeline run — bolson's per-stage metrics
  * (reference: src/bolson/convert/metrics.cpp, publish counts in
  * publisher.cpp) as Spark accumulators: task-side adds, driver-side read,
  * zero coordination. (Accumulator semantics: retried tasks may re-add;
  * exact-once is guaranteed only for successful first attempts — fine for
  * throughput metrics.) */
case class PublishStats(messages: Long, rows: Long, bytes: Long)

object Publish {

  /** Drain a message stream to a publisher, one instance per partition.
    * An action (not a transformation): runs the upstream plan once and
    * returns the publish counters. With `timers`, publish-call nanos
    * (including the close-side flush) land in the publish-stage
    * accumulator — the last stamp of bolson's latency decomposition. */
  def run(messages: Dataset[IpcMessage], mkPublisher: () => Publisher,
          timers: Option[graft.metrics.StageTimers] = None): PublishStats = {
    val sc = messages.sparkSession.sparkContext
    val nMsgs = sc.longAccumulator("graft.messages_published")
    val nRows = sc.longAccumulator("graft.rows_published")
    val nBytes = sc.longAccumulator("graft.bytes_published")
    messages.foreachPartition { (it: Iterator[IpcMessage]) =>
      val timed = timers.isDefined
      val p = mkPublisher()
      p.open(TaskContext.getPartitionId())
      try it.foreach { m =>
        if (timed) {
          val t = System.nanoTime()
          p.publish(m)
          timers.get.publishNs.add(System.nanoTime() - t)
        } else p.publish(m)
        nMsgs.add(1); nRows.add(m.n_rows); nBytes.add(m.n_bytes)
      } finally {
        if (timed) {
          val t = System.nanoTime()
          p.close()
          timers.get.publishNs.add(System.nanoTime() - t)
        } else p.close()
      }
    }
    PublishStats(nMsgs.value, nRows.value, nBytes.value)
  }
}
