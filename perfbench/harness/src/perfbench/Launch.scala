package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.metrics.MemoClock

/** Process under test for every benchmark launch.
  *
  * Usage: `perfbench.Launch REPORT CALL [-- CALL]...` makes each call
  * in turn, each to completion before the next starts (closed loop), as a
  * root span named after it. A call is `graft.Main` arguments, or
  * `curate-stages --in DIR --eval PATH --out DIR` for the curate stages
  * one by one (see [[CurateStages]]). Each call's span carries its CPU
  * time and the memo builds it made.
  *
  * The session is created first through `graft.GraftSession.get()` — the
  * call every verb starts with — so the moment it returns marks the end of
  * set-up; the verbs then get the same session back. After the work the
  * context is stopped, which drains the listener bus, and REPORT receives
  * one JSON object: set-up time, peak RSS, stage statistics and spans. */
object Launch {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: perfbench.Launch REPORT CALL [-- CALL]...")
    val report = args(0)
    val rest = args.drop(1)
    val spark = graft.GraftSession.get()
    val readyMs = System.currentTimeMillis()
    val readyCpuMs = cpuMs()
    val stageStats = scala.collection.mutable.Map[String, Double]()
    splitOn(rest, "--").foreach { a =>
      val (n0, s0, c0) = (MemoClock.count, MemoClock.totalS, cpuMs())
      Trace.timed(a.head, Map("memo_builds" -> (MemoClock.count - n0).toDouble,
          "memo_build_s" -> (MemoClock.totalS - s0), "cpu_ms" -> (cpuMs() - c0))) {
        if (a.head == "curate-stages") stageStats ++= CurateStages.run(spark, a.tail)
        else graft.Main.main(a)
      }
    }
    val hwmKb = peakRssKb()
    spark.stop()
    val fields = Seq(
      "ready_ms" -> readyMs.toString,
      "ready_cpu_ms" -> readyCpuMs.toString,
      "rss_peak_kb" -> hwmKb.toString,
      "stages" -> obj(stageStats.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "spans" -> Trace.spans.asScala.toSeq.sortBy(_.id).map { s =>
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> quote(s.name), "label" -> quote(s.label),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> v.toString })))
      }.mkString("[", ",", "]"))
    Files.writeString(Paths.get(report), obj(fields))
    sys.exit(0)
  }

  private def splitOn(a: Array[String], sep: String): Seq[Array[String]] =
    a.foldLeft(Vector(Vector.empty[String])) { (acc, x) =>
      if (x == sep) acc :+ Vector.empty else acc.init :+ (acc.last :+ x)
    }.filter(_.nonEmpty).map(_.toArray)

  /** CPU time of this process, all threads, in ms. The kernel does not
    * count time a virtual CPU was descheduled by its host (steal). */
  private def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6

  /** VmHWM of this process: the kernel's peak resident set size. */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
}
