package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command-line options, as run.py passes them. */
final case class Opts(
    workload: String,
    data: String,
    work: String,
    seconds: Int,
    trace: Boolean,
    threads: Int,
    clients: Int,
    out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m("--workload"), m("--data"), m("--work"), m("--seconds").toInt,
      m.getOrElse("--trace", "0") == "1", m("--threads").toInt,
      m.getOrElse("--clients", "1").toInt, m("--out"))
  }
}

/** One timed operation. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Collects the timed operations of a run, from any number of clients. */
final class Recorder {
  private val ops = scala.collection.mutable.ArrayBuffer[Op]()
  def add(op: Op): Unit = synchronized { ops += op }
  def count: Int = synchronized { ops.size }
  def all: Seq[Op] = synchronized { ops.toList }
}

/** A workload: set-up (session already built), the closed-loop timed
  * region, and the post-region drain that leaves outputs for the
  * checker. */
trait Workload {
  def setup(): Unit
  def run(rec: Recorder): Unit
  /** After the timed region: wait for outstanding work, write the
    * check manifest, return workload-specific trace metrics. */
  def finish(trace: Option[Trace]): Map[String, Double]
  def close(): Unit
}

object Main {
  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spark = graft.Sessions
      .builder(s"local[${o.threads}]", o.threads.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Sessions.quietBenignWarnFloods()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] session ready " +
      f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s after JVM start")
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val w: Workload = o.workload match {
      case "dashboard_gateway" => new DashboardGateway(spark, o)
      case "stream_events" => new StreamEvents(spark, o)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    try {
      w.setup()
      out.put("setup_done_ms", System.currentTimeMillis())
      val rec = new Recorder
      trace.foreach(_.begin())
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      w.run(rec)
      val wallNs = System.nanoTime() - t0
      val cpu = cpuNs() - cpu0
      trace.foreach(_.end())
      out.put("peak_rss_mb", peakRssMb())
      val ops = rec.all
      out.put("wall_s", wallNs / 1e9)
      out.put("cpu_ms", cpu / 1e6)
      out.put("attempted", ops.size)
      out.put("failed", ops.count(!_.ok))
      val lat = new java.util.ArrayList[java.util.Map[String, Any]]()
      ops.foreach { op =>
        val m = new java.util.HashMap[String, Any]()
        m.put("kind", op.kind); m.put("ms", op.ms); m.put("ok", op.ok)
        lat.add(m)
      }
      out.put("ops", lat)
      val extra = w.finish(trace)
      trace.foreach { t =>
        val m = new java.util.TreeMap[String, Any]()
        (t.metrics(ops, wallNs) ++ extra).foreach { case (k, v) =>
          m.put(k, v) }
        out.put("trace", m)
      }
    } finally {
      try w.close() finally spark.stop()
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(o.out), out)
  }
}
