package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one measurement layer: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener on one session.
  * The caller that measures constructs it (Bench, the specs) and closes
  * it; no session builder registers one, so an uninstrumented session
  * carries no listener.
  *
  * [[span]] runs a body and returns what Spark reported about it (see
  * [[Instrument.Span]]). Listener events arrive asynchronously, so a
  * span drains the listener bus with its own `waitUntilEmpty` before it
  * opens (an earlier action's late events stay out) and after its body
  * returns (every event the body posted is in). Spans are sequential:
  * an event any thread causes while a span is open counts toward it.
  * Streaming queries a gate starts on a session clone report here too,
  * because the clone inherits the session's streaming listeners.
  */
final class Instrument(spark: SparkSession) extends AutoCloseable {
  import Instrument._

  /** The open span's accumulator; null between spans. */
  @volatile private var open: Acc = null

  private def record(f: Acc => Unit): Unit = {
    val a = open
    if (a != null) a.synchronized(f(a))
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record { a =>
      val label = Option(e.properties)
        .fold("")(_.getProperty("spark.job.description", ""))
      a.jobs(e.jobId) = Job(e.jobId, e.time, e.time, e.stageInfos.size, label)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record { a =>
      a.jobs.get(e.jobId).foreach(j => a.jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      record { a =>
        val m = e.stageInfo.taskMetrics
        a.add("stages" -> 1L, "tasks" -> e.stageInfo.numTasks.toLong)
        if (m != null) a.add("task_ms" -> m.executorRunTime,
          "task_cpu_ns" -> m.executorCpuTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "scan_bytes" -> m.inputMetrics.bytesRead)
      }
  }

  private val actions = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = record(_.add(
      ("actions" -> 1L) +: Seq("analysis", "optimization", "planning")
        .flatMap(p => qe.tracker.phases.get(p).map(s"${p}_ms" -> _.durationMs))
        : _*))
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = phases(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = record { a =>
      val p = e.progress
      // an idle progress report (no batch ran) carries no addBatch
      if (p.durationMs.containsKey("addBatch"))
        a.batches += Batch(Option(p.name).getOrElse(""), p.batchId,
          p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(actions)
  spark.streams.addListener(streams)

  private def drain(): Boolean =
    GraftSqlBridge.drainListenerBus(spark, DrainTimeoutMs)

  /** Run `body` in a span keyed `key`; the span's wall time covers
    * exactly `body`. An exception from `body` closes the span and
    * propagates. */
  def span[T](key: String)(body: => T): (T, Span) = {
    val drained = drain()
    val acc = new Acc
    open = acc
    try {
      val cg0 = CodeGenerator.compileTime
      val compiles0 = compiles()
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      acc.add("codegen_ns" -> (CodeGenerator.compileTime - cg0),
        "codegen_compiles" -> (compiles() - compiles0))
      val complete = drain() && drained
      (out, acc.synchronized(Span(key, wallMs, acc.jobs.values.toSeq,
        acc.totals.toMap, acc.batches.toSeq, complete)))
    } finally open = null
  }

  /** Unregister all three listeners. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(actions)
    spark.streams.removeListener(streams)
  }
}

object Instrument {

  /** Janino compiles so far: every miss of Spark's compiled-class cache
    * records one compile time. */
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** How long a span waits for the listener bus to drain; a span that
    * timed out reads `complete = false`. */
  private val DrainTimeoutMs: Long = 60000L

  /** One Spark job: its scheduler times (epoch ms) and its Scope label. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
      label: String)

  /** One streaming micro-batch that ran: its input rows (0: an empty
    * batch), the state rows it left and its `durationMs` phases
    * (queryPlanning, latestOffset, getBatch, addBatch, walCommit,
    * triggerExecution, …). */
  final case class Batch(query: String, batchId: Long, inputRows: Long,
      stateRows: Long, durationsMs: Map[String, Long])

  /** What a span measured.
    *
    * `totals` holds, summed over the span: `stages`, `tasks`, `task_ms`
    * and `task_cpu_ns` (executor run and CPU time), `shuffle_write_bytes`,
    * `shuffle_read_bytes`, `spill_bytes`, `scan_bytes` (completed
    * stages); `actions` and their Catalyst `analysis_ms`,
    * `optimization_ms` and `planning_ms` (every finished query
    * execution, micro-batches included); `codegen_ns`, the exact Janino
    * compile time (`CodeGenerator.compileTime`), and `codegen_compiles`,
    * the number of classes Janino compiled (misses of the compiled-class
    * cache). `jobMs` is the time at least one job ran, `driverGapMs` the
    * rest of the wall: parsing, compiling, planning, driver-side loops
    * and job launch latency.
    * `complete` is false when a drain timed out. */
  final case class Span(key: String, wallMs: Double, jobs: Seq[Job],
      totals: Map[String, Long], batches: Seq[Batch], complete: Boolean) {
    def apply(total: String): Long = totals.getOrElse(total, 0L)
    val jobMs: Long = jobs.sortBy(_.startMs).foldLeft((0L, 0L)) {
      case ((sum, end), j) =>
        val s = math.max(j.startMs, end)
        if (j.endMs > s) (sum + j.endMs - s, j.endMs) else (sum, end)
    }._1
    val driverGapMs: Double = wallMs - jobMs
  }

  private final class Acc {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val totals = mutable.Map[String, Long]().withDefaultValue(0L)
    val batches = mutable.ArrayBuffer[Batch]()
    def add(kv: (String, Long)*): Unit =
      kv.foreach { case (k, v) => totals(k) += v }
  }

  private val mapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** `value` (case classes, collections, numbers) as one line of JSON. */
  def json(value: Any): String = mapper.writeValueAsString(value)
}
