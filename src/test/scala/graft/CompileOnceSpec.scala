package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HoistedLiteral
import graft.hb.Graft

/** [[graft.functions.HoistLiterals]]: a program that differs from an
  * earlier one only in its constants compiles no new classes, and
  * nothing else about the plan changes — results, pushed filters,
  * EXPLAIN text and exchange reuse — on the batch, adaptive and
  * streaming paths. */
class CompileOnceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Sessions.local()

  /** 2,000 events of 150 users over about 30 days, as parquet. */
  private lazy val eventsPath: String = {
    val path = java.nio.file.Files.createTempDirectory("compile-once")
      .resolve("events").toString
    spark.range(0, 2000, 1, 2).select(
      col("id").as("event_id"),
      (col("id") * 1297 + 1704067200L).cast("timestamp").as("ts"),
      // hashed, so no `user_id % m` filter removes a whole event type
      // (which would change the pivot's columns, not just its counts)
      pmod(hash(col("id")), lit(150)).cast("long").as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "share")
        .map(lit): _*), pmod(hash(col("id"), lit(1)), lit(5)) + 1)
        .as("event_type"),
      (col("id") * 37 % 1000 / 4.0).as("value"))
      .write.parquet(path)
    path
  }

  private def events(): DataFrame = spark.read.parquet(eventsPath)

  /** The interactive dashboard shapes of the HbGates catalogue. */
  private val shapes = Seq(
    "velocity" ->
      """create column day (format date "ts" date)
        |pivot [day] [event_type] -> count [event_id]
        |sort by column day
        |create column click3 (moving mean 3 [click])
        |create column view7 (moving mean 7 [view])
        |slice columns day click view purchase click3 view7
        |""".stripMargin,
    "group_mean" ->
      """create column day (format date "ts" date)
        |slice columns day value
        |group by day -> mean
        |create column day keys
        |sort by column day
        |""".stripMargin,
    "pivot" ->
      """create column day (format date "ts" date)
        |pivot [day] [event_type] -> count [event_id] ['click'; 'view'; 'purchase']
        |sort by column day
        |slice columns day click view purchase
        |""".stripMargin,
    "mttr" ->
      """create column tick 1
        |slice columns user_id tick
        |group by user_id -> sum
        |create column user_id keys
        |sort by column user_id
        |create column running (expanding sum [tick])
        |create column m5 (moving mean 5 [tick])
        |only !(m5 = missing)
        |""".stripMargin)

  /** `body`'s result and the classes Janino compiled while it ran. */
  private def compiles[T](instrument: Instrument)(body: => T): (T, Long) = {
    val (out, span) = instrument.span("compile once")(body)
    (out, span("codegen_compiles"))
  }

  private def hoisted(plan: SparkPlan): Seq[HoistedLiteral] =
    collect(plan) { case f: FilterExec => f.condition }
      .flatMap(_.collect { case h: HoistedLiteral => h })

  test("a dashboard variant that differs only in its `only` literals " +
      "compiles no more classes than a re-run, and returns the rows of " +
      "a DataFrame-API filter") {
    val instrument = new Instrument(spark)
    try for ((shape, stmts) <- shapes) {
      def variant(m: Int, r: Int): Array[Row] =
        Graft.runHb(s"only !(user_id % $m = $r)\n$stmts", events()).collect()
      def expected(m: Int, r: Int): Array[Row] =
        Graft.runHb(stmts, events().filter(!(col("user_id") % m === r)))
          .collect()
      Graft.runHb(stmts, events()).collect() // the unfiltered dashboard
      val first = variant(7, 3)
      assert(first sameElements expected(7, 3),
        s"$shape (7, 3) differs from the DataFrame filter")
      val (_, rerun) = compiles(instrument)(variant(7, 3))
      val (second, other) = compiles(instrument)(variant(5, 1))
      assert(second sameElements expected(5, 1),
        s"$shape (5, 1) differs from the DataFrame filter")
      assert(!(first sameElements second), s"$shape: the variants agree")
      assert(other <= rerun, s"$shape: a new literal compiled $other " +
        s"classes, a re-run $rerun")
    } finally instrument.close()
  }

  test("`only (value >= 100)` over parquet keeps its pushed filter") {
    val df = Graft.runHb("only (value >= 100)\n", events())
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("GreaterThanOrEqual(value,100.0)"), plan)
    assert(hoisted(plan).map(_.value) == Seq(100.0), plan)
  }

  test("EXPLAIN output still shows the literal values") {
    val df = spark.range(0, 100, 1, 2)
      .filter(col("id") % 7 =!= 3 && col("id") > 10L)
      .select((col("id") * 2.5).as("x"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(hoisted(plan).map(_.value).toSet == Set(7L, 3L, 10L), plan)
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    for (s <- Seq("% 7) = 3)", "> 10)", "* 2.5)"))
      assert(text.contains(s), s"EXPLAIN lacks `$s`:\n$text")
    assert(!text.contains("HoistedLiteral") && !text.contains("hoisted"),
      text)
  }

  test("a streaming micro-batch plan carries the hoisted constants") {
    val root = java.nio.file.Files.createTempDirectory("compile-once")
    spark.range(0, 100, 1, 1).write.parquet(s"$root/in")
    val q = spark.readStream.schema("id LONG").parquet(s"$root/in")
      .filter(col("id") % 7 =!= 3)
      .writeStream.format("noop").option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(hoisted(plan).map(_.value).toSet == Set(7L, 3L), plan)
  }

  test("two exchanges that differ only in a constant are not reused " +
      "for each other") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val base = s.range(0, 1000, 1, 2)
    def agg(r: Int): DataFrame = base.filter(col("id") % 7 =!= r)
      .groupBy((col("id") % 3).as("k")).agg(sum("id").as("s"))
    def reused(df: DataFrame): Int = df.queryExecution.executedPlan
      .collect { case r: ReusedExchangeExec => r }.size
    val same = agg(1).union(agg(1))
    assert(reused(same) == 1, same.queryExecution.executedPlan)
    val differ = agg(1).union(agg(2))
    assert(reused(differ) == 0, differ.queryExecution.executedPlan)
    def want(r: Int) = (0L until 1000L).filter(_ % 7 != r)
      .groupBy(_ % 3).map { case (k, v) => (k, v.sum) }
    assert(differ.collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSeq.sorted == (want(1).toSeq ++ want(2).toSeq).sorted)
  }
}
