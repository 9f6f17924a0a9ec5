package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1): attribute a gate's wall time to Spark jobs vs
  * driver-side gaps (fits, parsing, planning, janino), plus codegen
  * compile counters — the measure-first step of the optimization rounds.
  *
  *   sbt "runMain graft.ProfileOne st_stream_join,a7_kmeans [sfDir]"
  *
  * Per gate: wall seconds, number of jobs, summed job wall time, the
  * driver gap (wall − jobs, including overlap slop), codegen compiles
  * and their mean ms, and the top jobs by duration with descriptions.
  */
object ProfileOne {
  private case class JobRec(id: Int, start: Long, var end: Long = 0L,
      var desc: String = "", var stages: Int = 0)

  def main(a: Array[String]): Unit = {
    val spark = Sessions.local()
    val names = a(0).split(",").toSeq
    val dir = if (a.length > 1) a(1) else "/root/testdata/sf0.1"
    val jobs = scala.collection.mutable.ArrayBuffer[JobRec]()
    var taskTimeMs = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs += JobRec(e.jobId, e.time, desc = d,
            stages = e.stageInfos.size)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val codegenCount =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // warmup pass so JIT/class-load constants don't masquerade as gate cost
    for (n <- names)
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    Thread.sleep(500)
    for (n <- names) {
      jobs.synchronized { jobs.clear(); taskTimeMs = 0L }
      val cg0 = codegenCount.getCount
      val cgMs0 = codegenCount.getSnapshot.getMean * codegenCount.getCount
      val wall = Scope.open { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(300) // let listener events drain
      val (snap, tt) = jobs.synchronized { (jobs.toList, taskTimeMs) }
      val jobSum = snap.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      val cgN = codegenCount.getCount - cg0
      val cgMs = codegenCount.getSnapshot.getMean * codegenCount.getCount - cgMs0
      println(f"[profile] $n wall=$wall%.2f jobs=${snap.size} " +
        f"jobTime=$jobSum%.2f driverGap=${wall - jobSum}%.2f " +
        f"taskTime=${tt / 1e3}%.2f codegen=$cgN (~${cgMs / 1e3}%.2f s)")
      val topN = sys.env.getOrElse("SPARK_GRAFT_PROFILE_TOP", "8").toInt
      snap.sortBy(j => -(j.end - j.start)).take(topN).foreach { j =>
        println(f"[profile]    job ${j.id}%4d ${(j.end - j.start) / 1e3}%6.2f s " +
          f"stages=${j.stages} ${j.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
