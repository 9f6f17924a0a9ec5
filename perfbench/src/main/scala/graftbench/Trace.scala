package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all registered from outside the
  * program: a SparkListener (jobs, stages, task metrics, SQL execution
  * call sites), a QueryExecutionListener (Catalyst phase times of every
  * action), a StreamingQueryListener (per-batch durations and state)
  * and JVM counters (GC, codegen compile time). Only events that start
  * inside the timed region count. The untraced run never constructs this
  * class. */
final class Trace(spark: SparkSession) {
  import Trace._

  /** The timed region, in epoch ms. A listener event counts when its own
    * time (a job's or stage's start, a batch's trigger, a query's first
    * phase) falls inside it, whenever the listener bus delivers it. */
  @volatile private var beginMs = Long.MaxValue
  @volatile private var endMs = Long.MaxValue
  private def inRegion(t: Long): Boolean = t >= beginMs && t <= endMs

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  /** SQL executions: call site (or job description), start and end. */
  private val execs = mutable.Map[Long, Exec]()
  /** Catalyst planning of each action: (first phase start, phase ms). */
  private val plans = mutable.ArrayBuffer[(Long, Double)]()
  private val batches = mutable.ArrayBuffer[Batch]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs += Job(e.jobId, e.time, 0L, exec, site)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execs(s.executionId) = Exec(s.description, s.time, 0L)
      }
      case x: SparkListenerSQLExecutionEnd => Trace.this.synchronized {
        execs.get(x.executionId).foreach(_.end = x.time)
      }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val start = i.submissionTime.orElse(i.completionTime).getOrElse(0L)
        stages += Option(i.taskMetrics).fold(
          Stage(start, i.numTasks, 0L, 0L, 0L, 0L, 0L, 0L))(m =>
          Stage(start, i.numTasks, m.executorRunTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead))
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      val phases = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty)
        plans += ((phases.map(_.startTimeMs).min,
          phases.map(_.durationMs.toDouble).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        // idle progress reports (no batch ran) carry no addBatch
        if (p.durationMs.containsKey("addBatch"))
          batches += Batch(p.name,
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
              .toMap,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  })

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Whole-stage and expression codegen compile time so far, in ns: an
    * exact running total kept by Spark. */
  private def codegenNs(): Long = CodeGenerator.compileTime
  private var gc0, cg0 = 0L
  private var gcDelta, cgDelta = 0L

  def begin(): Unit = {
    gc0 = gcMs(); cg0 = codegenNs(); beginMs = System.currentTimeMillis()
  }

  def end(): Unit = {
    endMs = System.currentTimeMillis()
    gcDelta = gcMs() - gc0
    cgDelta = codegenNs() - cg0
    Thread.sleep(1000) // drain the asynchronous listener bus
  }

  /** An end time clipped to the region (0: still running at its end). */
  private def clipEnd(end: Long): Long =
    if (end == 0L) endMs else math.min(end, endMs)

  /** Time covered by at least one job, clipped to the region, in ms. */
  private def jobUnionMs(js: Seq[Job]): Double = {
    val iv = js.map(j => (j.start, clipEnd(j.end))).sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total.toDouble
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A job or SQL execution ran while a plan was being built (eager
    * fits and fills in hb and operators) unless it stores or returns
    * the result (the gateway's take, the lineage-cache write) or is a
    * streaming micro-batch. */
  private def isBuild(site: String): Boolean =
    !site.contains("Gateway.scala") && !site.contains("LineageCache.scala") &&
      !site.contains("batch = ")

  private def regionJobs: Seq[Job] = jobs.filter(j => inRegion(j.start)).toSeq

  def metrics(ops: Seq[Op], wallNs: Long): Map[String, Double] =
    synchronized {
      val n = math.max(1, ops.size).toDouble
      val mb = 1024.0 * 1024.0
      val js = regionJobs
      val ex = execs.filter { case (_, x) => inRegion(x.start) }
      val st = stages.filter(s => inRegion(s.start)).toSeq
      val bs = batches.filter(b => inRegion(b.start)).toSeq
      def jobSite(j: Job) = j.execId.flatMap(execs.get).map(_.site)
        .getOrElse(j.site)
      val buildJobs = js.filter(j => isBuild(jobSite(j)))
      val buildMs = ex.values.filter(x => isBuild(x.site))
        .map(x => clipEnd(x.end) - x.start).sum +
        buildJobs.filter(_.execId.isEmpty).map(j => clipEnd(j.end) - j.start)
          .sum
      val union = jobUnionMs(js)
      val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
      val planMs = plans.collect { case (t, ms) if inRegion(t) => ms }.sum
      val streamPlanMs = bs.map(_.durations.getOrElse("queryPlanning",
        0L)).sum.toDouble
      val generic = Map(
        "build.ms_per_op" -> buildMs / n,
        "build.jobs_per_op" -> buildJobs.size / n,
        "driver.gap_ms_per_op" -> (wallNs / 1e6 - union) / n,
        "catalyst.plan_ms_per_op" ->
          (planMs + streamPlanMs) / n,
        "codegen.compile_ms" -> cgDelta / 1e6,
        "execute.ms_per_op" -> union / n,
        "executor.jobs_per_op" -> js.size / n,
        "executor.stages_per_op" -> st.size / n,
        "executor.tasks_per_op" -> st.map(_.tasks.toLong).sum / n,
        "executor.task_ms_per_op" -> st.map(_.runMs).sum / n,
        "executor.task_cpu_ms_per_op" -> st.map(_.cpuNs).sum / 1e6 / n,
        "shuffle.write_mb_per_op" -> st.map(_.shuffleWrite).sum / mb / n,
        "shuffle.read_mb_per_op" -> st.map(_.shuffleRead).sum / mb / n,
        "spill.mb_per_op" -> st.map(_.spill).sum / mb / n,
        "sources.scan_mb_per_op" -> st.map(_.scanBytes).sum / mb / n,
        "cache.persisted_frames" -> storage.length.toDouble,
        "cache.persisted_mb" ->
          storage.map(s => s.memSize + s.diskSize).sum / mb,
        "jvm.gc_ms_per_op" -> gcDelta / n)
      val perQuery = Seq("window", "filter").flatMap { q =>
        val qb = bs.filter(_.query == q)
        def med(k: String) = median(qb.map(_.durations.getOrElse(k, 0L)
          .toDouble))
        Seq(
          s"stream.$q.batches_per_op" -> qb.size / n,
          s"stream.$q.empty_batches_per_op" -> qb.count(_.rows == 0) / n,
          s"stream.$q.trigger_ms" -> med("triggerExecution"),
          s"stream.$q.planning_ms" -> med("queryPlanning"),
          s"stream.$q.latest_offset_ms" -> med("latestOffset"),
          s"stream.$q.get_batch_ms" -> med("getBatch"),
          s"stream.$q.add_batch_ms" -> med("addBatch"),
          s"stream.$q.wal_commit_ms" -> med("walCommit"),
          s"stream.$q.state_rows" ->
            qb.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
          s"stream.$q.state_mb" ->
            qb.lastOption.map(_.stateBytes / mb).getOrElse(0.0))
      }
      generic ++ perQuery
    }

  /** Jobs launched inside the timed region. */
  def jobCount: Int = synchronized { regionJobs.size }

}

object Trace {
  private final case class Job(id: Int, start: Long, var end: Long,
      execId: Option[Long], site: String)
  private final case class Exec(site: String, start: Long, var end: Long)
  private final case class Stage(start: Long, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      scanBytes: Long)
  private final case class Batch(query: String, start: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)
}
