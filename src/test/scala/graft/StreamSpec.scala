package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Streaming operators: tumbling agg through a real streaming query and
  * the flatMapGroupsWithState sessionizer, cross-checked against the
  * batch session_window operator. */
class StreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()
  private val dir = "/root/testdata/sf0.001"

  test("tumbling agg equals the batch equivalent") {
    val streamed = StreamOps.tumblingAgg(spark, dir, "streamspec_tumble")
    val batch = graft.queries.Gate.t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.agg(sum("n")).head().getLong(0) ==
      batch.agg(sum("n")).head().getLong(0))
    assert(streamed.count() == batch.count())
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = StreamOps.intervalJoin(spark, dir,
      "streamspec_ijoin", maxDelayMinutes = 60)
    val ev = graft.queries.Gate.t(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("click_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"),
        col("event_id").as("purchase_id"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 60 MINUTES"))
      .select("click_id", "purchase_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(streamed) == pairs(batch))
    assert(streamed.columns.toSeq ==
      Seq("user_id", "click_id", "purchase_id"))
  }

  test("stream-static broadcast enrichment equals the batch join-agg") {
    val dim = graft.queries.Gate.t(spark, dir, "customer")
    val streamed = StreamOps.staticEnrich(spark, dir,
      "streamspec_enrich", dim, "c_custkey", "c_mktsegment")
    val batch = graft.queries.Gate.t(spark, dir, "events")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val s = streamed.select("c_mktsegment", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val b = batch.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(s == b)
  }

  test("stateful sessionizer closes sessions on the gap, matching " +
    "session_window counts for closed sessions") {
    val stateful = StreamOps.sessionizeStateful(spark, dir,
      "streamspec_sess", gapMinutes = 30)
    val batch = StreamOps.sessionAgg(
      graft.queries.Gate.t(spark, dir, "events"), "30 minutes")
    // flatMapGroupsWithState only emits *closed* sessions (the trailing
    // open session per user stays in state) → batch count minus one
    // session per user still open at end-of-data
    val users = batch.select("user_id").distinct().count()
    assert(stateful.count() == batch.count() - users)
    // every closed session matches a batch session exactly
    val b = batch.withColumn("session_start",
      col("session_start").cast("long"))
      .select("user_id", "session_start", "n_events")
    val joined = stateful.select("user_id", "session_start", "n_events")
      .join(b, Seq("user_id", "session_start", "n_events"))
    assert(joined.count() == stateful.count())
  }

  test("compactShardStore: >=5 micro-batches of appends collapse to one " +
    "file per shard with membership and content unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files
      .createTempDirectory("graftcompact").toString
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "txt")
    val q = docs
      .withColumn("shard",
        graft.operators.Sampling.hash32(col("doc_id"), "cp11") % 4)
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$tmp/store")
      .option("checkpointLocation", s"$tmp/ck")
      .partitionBy("shard")
      .start()
    // five distinct micro-batches — the accumulation regime the
    // compactor exists for
    (0 until 5).foreach { b =>
      mem.addData((0 until 40).map(i => (b * 40L + i, s"doc-$b-$i")): _*)
      q.processAllAvailable()
    }
    q.stop()
    def files(root: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") &&
            !p.toString.contains("_spark_metadata")).toSeq
      } finally s.close()
    }
    val before = files(s"$tmp/store")
    assert(before.size >= 5 * 4 - 4, // ≥1 file per batch per touched shard
      s"expected a small-files pile, got ${before.size}")
    StreamOps.compactShardStore(spark, s"$tmp/store", s"$tmp/compact",
      sortCols = Seq("doc_id"))
    val after = files(s"$tmp/compact")
    assert(after.size == 4, s"expected one file per shard, got $after")
    // maxRecordsPerFile splits oversized shards deterministically
    StreamOps.compactShardStore(spark, s"$tmp/store", s"$tmp/compact2",
      sortCols = Seq("doc_id"), maxRecordsPerFile = 20L)
    val split = files(s"$tmp/compact2")
    assert(split.size > 4 && split.size <= 200 / 20 + 4,
      s"expected bounded splitting, got ${split.size}")
    assert(spark.read.parquet(s"$tmp/compact2").count() == 200)
    // membership hash unchanged: the full (doc_id, shard, txt) set is
    // identical before and after
    def content(root: String) = spark.read.parquet(root)
      .select(col("doc_id"), col("shard").cast("long"), col("txt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val cBefore = content(s"$tmp/store")
    assert(cBefore.size == 200)
    assert(content(s"$tmp/compact") == cBefore)
    // membership law intact: shard = hash32(id, salt) % 4 for every row
    val expected = spark.createDataset(cBefore.map(_._1).toSeq).toDF("doc_id")
      .withColumn("shard",
        graft.operators.Sampling.hash32(col("doc_id"), "cp11") % 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cBefore.forall { case (id, sh, _) => expected(id) == sh })
  }

  test("a stateful run takes its state partitions from a session clone: " +
      "the shared session's shuffle partitions are never written") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    val want = StreamOps.stateParallelism(spark,
      StreamOps.tableBytes(dir, "events"))
    assert(want.toString != own,
      s"the check needs a state partition count other than the session's $own")
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // read the shared session's value for as long as the query drains
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var draining = true
    val poller = new Thread(() =>
      while (draining) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    spark.streams.addListener(listener)
    poller.start()
    try StreamOps.tumblingAgg(spark, dir, "streamspec_state_parts")
    finally {
      draining = false
      poller.join()
      spark.streams.removeListener(listener)
    }
    assert(seen.asScala.toSet == Set(own))
    assert(spark.conf.get(key) == own)
    // progress events arrive asynchronously
    def ours = progress.asScala.filter(_.name == "streamspec_state_parts")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ours.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(ours.nonEmpty, "no progress reported")
    assert(ours.last.stateOperators.map(_.numShufflePartitions).toSeq ==
      Seq(want.toLong))
  }

  test("stateful runs release their session clones' streaming listener " +
      "buses: the count stays flat across runs") {
    import org.apache.spark.sql.SparkInternals.streamListenerBuses
    // the first run builds the shared session's own query manager
    StreamOps.tumblingAgg(spark, dir, "streamspec_buses_0").count()
    val before = streamListenerBuses(spark)
    for (i <- 1 to 3) {
      StreamOps.tumblingAgg(spark, dir, s"streamspec_buses_t$i").count()
      StreamOps.intervalJoin(spark, dir, s"streamspec_buses_j$i",
        maxDelayMinutes = 60).count()
    }
    assert(streamListenerBuses(spark) == before)
  }
}
