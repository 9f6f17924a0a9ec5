package graft

/** Dev tool: time a comma-separated subset of the gate catalogue, 3 reps
  * each, against an sf dir (default sf0.1) — the quick way to separate a
  * genuinely slow query from driver-box noise without a full Bench pass.
  *
  *   sbt "runMain graft.BenchOne st_stream_join,a7_kmeans [sfDir]"
  */
object BenchOne {
  def main(a: Array[String]): Unit = {
    val spark = Sessions.local()
    val names = a(0).split(",").toSeq
    val dir = if (a.length > 1) a(1) else "/root/testdata/sf0.1"
    for (r <- 1 to 3; n <- names) Scope.open { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      println(f"[benchone] $n rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
