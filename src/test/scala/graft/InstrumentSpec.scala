package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Instrument]] spans: what one span of a batch aggregate and of a
  * gate-shaped stream reports, and that consecutive spans keep their
  * events apart. */
class InstrumentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private def measured[T](body: => T): (T, Instrument.Span) = {
    val instrument = new Instrument(spark)
    try instrument.span("spec")(body) finally instrument.close()
  }

  test("a shuffling aggregate: jobs, stages, tasks, executor time, " +
      "shuffle, Catalyst phases and codegen") {
    val (groups, s) = measured {
      spark.range(0, 2000000, 1, 4)
        .groupBy((col("id") % 7).as("k")).agg(sum("id")).collect().length
    }
    assert(groups == 7)
    assert(s.complete)
    assert(s.jobs.nonEmpty && s.jobMs > 0 && s.wallMs >= s.jobMs)
    assert(s("stages") >= 2 && s("tasks") >= 4, s.totals)
    assert(s("task_ms") > 0 && s("task_cpu_ns") > 0, s.totals)
    assert(s("shuffle_write_bytes") > 0 && s("shuffle_read_bytes") > 0,
      s.totals)
    assert(s("actions") >= 1, s.totals)
    for (p <- Seq("analysis_ms", "optimization_ms", "planning_ms"))
      assert(s.totals.get(p).exists(_ >= 0), s"$p missing: ${s.totals}")
    assert(s.totals.get("codegen_ns").exists(_ >= 0), s.totals)
    assert(s.totals.get("codegen_compiles").exists(_ >= 0), s.totals)
    assert((s("codegen_compiles") > 0) == (s("codegen_ns") > 0), s.totals)
    assert(s.batches.isEmpty)
  }

  test("codegen_compiles: a program that differs from an earlier one " +
      "only in an `only` literal compiles what an exact re-run compiles") {
    val events = spark.range(0, 1000, 1, 2).select(col("id").as("user_id"),
      (col("id") % 5).cast("string").as("event_type"),
      (col("id") * 1.5).as("value"))
    def run(r: Int) = graft.hb.Graft.runHb(
      s"only !(user_id % 4 = $r)\nslice columns event_type value\n" +
        "group by event_type -> mean\n", events).collect()
    val first = run(1)
    val (again, rerun) = measured(run(1))
    val (other, variant) = measured(run(2))
    assert(again sameElements first)
    assert(!(other sameElements first))
    assert(variant("codegen_compiles") == rerun("codegen_compiles"),
      s"re-run ${rerun.totals}, variant ${variant.totals}")
  }

  test("a gate-shaped stream: per-batch durations, including the " +
      "trailing empty AvailableNow batch") {
    val (rows, s) = measured {
      SparkEntry.queries("st_stream_dedup")(spark,
        "/root/testdata/sf0.001").count()
    }
    assert(rows > 0)
    assert(s.batches.size >= 2, s.batches)
    assert(s.batches.head.inputRows > 0, s.batches)
    assert(s.batches.last.inputRows == 0, s.batches)
    for (b <- s.batches; d <- Seq("queryPlanning", "latestOffset",
        "getBatch", "addBatch", "walCommit", "triggerExecution"))
      assert(b.durationsMs.contains(d), s"batch ${b.batchId} lacks $d")
    assert(s.batches.exists(_.stateRows > 0), s.batches)
  }

  test("consecutive spans do not share events, and no span sleeps") {
    val instrument = new Instrument(spark)
    val (a, b) = try {
      def run(label: String) = instrument.span(label) {
        Scope.labeled(label)(spark.range(0, 1000, 1, 2)
          .groupBy((col("id") % 3).as("k")).count().collect())
      }._2
      (run("span a"), run("span b"))
    } finally instrument.close()
    assert(a.jobs.nonEmpty && b.jobs.nonEmpty)
    assert(a.jobs.forall(_.label == "span a"), a.jobs)
    assert(b.jobs.forall(_.label == "span b"), b.jobs)
    assert(a("actions") == 1 && b("actions") == 1)
    assert(a("stages") == b("stages"))
    val sleeps = SourceScan.hits(Seq("src/main/scala/graft/Instrument.scala"),
      Seq("Thread.sleep"))
    assert(sleeps.isEmpty, sleeps.mkString("\n"))
  }
}
