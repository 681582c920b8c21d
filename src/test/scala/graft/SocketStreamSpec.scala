package graft

import java.io.PrintWriter
import java.net.ServerSocket

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.StreamPipeline

/** d1 over a real TCP source — bolson's client mode (reference:
  * src/bolson/stream.cpp:120-170 receives ND-JSON over a socket into
  * rotating buffers; here the socket source feeds micro-batches). */
class SocketStreamSpec extends SparkSpec {

  test("d1: TCP ND-JSON socket source → schema-driven parse → sink") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val n = 200
    val writerThread = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      (0 until n).foreach(i => out.println(s"""{"v": $i}"""))
      out.flush()
      Thread.sleep(3000)
      sock.close()
    })
    writerThread.setDaemon(true)
    writerThread.start()

    val schema = StructType(Seq(StructField("v", LongType)))
    val lines = StreamPipeline.socketLines(spark, "127.0.0.1", port.toString)
    val q = StreamPipeline.convert(lines, schema)
      .writeStream.outputMode("append").format("memory").queryName("d1_sock").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("d1_sock").count() < n && System.nanoTime() < deadline)
        Thread.sleep(200)
      val got = spark.table("d1_sock").agg(count(lit(1)), sum("v")).head
      assert(got.getLong(0) == n, "every line received and parsed")
      assert(got.getLong(1) == n.toLong * (n - 1) / 2, "values intact")
    } finally {
      q.stop()
      server.close()
    }
  }
}
