package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY §2.8: the reference is batch-only
  * — one-shot sync jobs, kubernetes/sync-job.yaml:1-16 — so this is
  * beyond-parity surface, not a port).
  *
  * Batch parquet drives the streaming queries synchronously
  * (`processAllAvailable`), which is also how the gate queries exercise
  * them; in production the same plan runs on a live source with the
  * trigger swapped.
  */
/** Per-user open-session state for sessionizeStateful. */
case class SessionState(start: Long, last: Long, n: Int)

object StreamOps {

  private val dec6 = DecimalType(30, 6)

  /** Scale-adaptive state partitioning (guide §2: partition count must
    * follow data volume, not a constant). A stateful streaming query's
    * state-store partition count is pinned from
    * `spark.sql.shuffle.partitions` at query start; each partition
    * carries real per-micro-batch overhead (store init + delta-file
    * commit — an interval join keeps FOUR stores per partition).
    * Measured at sf0.1 (~2 MB events, 32-core master):
    * st_stream_join 10.6 s at 32 state partitions → 1.8 s at ≤4;
    * tumbling/session aggs ~2×. So derive the count from the input
    * volume: one partition per [[StateBytesPerPartition]], capped at
    * the cluster parallelism — large inputs still get every core, tiny
    * micro-batches stop paying for 32 empty state stores; correctness
    * is partition-count-independent (the driver already runs the same
    * gates at several core counts). */
  private[graft] def stateParallelism(spark: SparkSession,
      inputBytes: Long): Int = {
    val cap = spark.sparkContext.defaultParallelism.toLong max 1L
    math.max(1L, math.min(cap,
      (inputBytes + StateBytesPerPartition - 1) / StateBytesPerPartition))
      .toInt
  }

  /** Input volume per state partition: 16 MB. */
  private val StateBytesPerPartition = 16L << 20

  /** Size of one test table's parquet file(s) — the per-batch input
    * volume the gate-shaped AvailableNow queries replay. */
  private[graft] def tableBytes(dir: String, table: String): Long = {
    val f = new java.io.File(dir, s"$table.parquet")
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(x => x.isFile && x.getName.endsWith(".parquet"))
      .map(_.length).sum
  }

  /** The one gate-shaped run: start `df` as an AvailableNow query into
    * a memory sink named `queryName`, drain it and return the sink's
    * rows as a frame of `df`'s session. A stateful
    * query pins its state partition count from
    * `spark.sql.shuffle.partitions` when it starts; `inputBytes` >= 0
    * runs the query on a CLONE of the session whose conf carries
    * [[stateParallelism]] of that volume (and whose streaming listeners
    * are the session's), so the shared session's conf is never written
    * and concurrent callers cannot race it. One clone per call, so
    * concurrent callers never share a query-name namespace; once its query
    * has stopped, the clone's streaming listener bus and that of the clone
    * Spark made for the query are released
    * ([[org.apache.spark.sql.GraftSqlBridge.releaseStreams]]). */
  private[graft] def runToMemory(df: DataFrame, outputMode: String,
      queryName: String, inputBytes: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val session =
      if (inputBytes < 0) spark
      else {
        val clone = GraftSqlBridge.cloneSession(spark)
        clone.conf.set("spark.sql.shuffle.partitions",
          stateParallelism(spark, inputBytes).toString)
        spark.streams.listListeners().foreach(clone.streams.addListener)
        clone
      }
    // the checkpoint is Spark's temporary one, deleted when the query stops
    val q = GraftSqlBridge
      .ofRows(session, df.queryExecution.analyzed).writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    if (session ne spark) GraftSqlBridge.releaseStreams(q)
    GraftSqlBridge.ofRows(spark,
      session.table(queryName).queryExecution.analyzed)
  }

  /** Stream the events table (single parquet file — the streaming file
    * source wants a directory, so glob-filter the parent) with `ts`
    * normalized from long nanos (nanosAsLong, see Sessions) to a
    * microsecond timestamp. One definition for every streaming entry
    * point so the encoding invariant lives in exactly one place. */
  private[streaming] def readEventsStream(spark: SparkSession,
      dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** Tumbling event-time window aggregation with a watermark: the
    * canonical streaming shape (readStream → withWatermark → window agg).
    * Runs the events parquet through a real streaming query into a memory
    * sink and returns the completed result. */
  def tumblingAgg(spark: SparkSession, dir: String, queryName: String,
      windowLen: String = "1 hour"): DataFrame =
    runToMemory(readEventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec6)).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value")),
      "complete", queryName, tableBytes(dir, "events"))

  /** Session windows (gap-based) — Spark's session_window works for both
    * batch and streaming groupBy; used in batch form by the gate so the
    * result is oracle-checkable. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))

  /** Custom-state sessionization via flatMapGroupsWithState: emits one
    * row per closed session (gap timeout). The state-machine form of
    * sessionAgg, for session logic session_window can't express
    * (per-session event caps, custom close conditions). Runs on a
    * streaming Dataset; `sessionizeStateful` wires it to the events
    * parquet through a memory sink like tumblingAgg. */
  def sessionizeStateful(spark: SparkSession, dir: String,
      queryName: String, gapMinutes: Long = 30,
      maxEvents: Int = 1000): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = readEventsStream(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("epoch"))
      .as[(Long, Long)]

    val gap = gapMinutes * 60
    def fn(userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[SessionState]): Iterator[(Long, Long, Long, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Int)]()
      var cur = state.getOption
      rows.toSeq.sortBy(_._2).foreach { case (_, ep) =>
        cur match {
          case Some(s) if ep - s.last <= gap && s.n < maxEvents =>
            cur = Some(s.copy(last = ep, n = s.n + 1))
          case Some(s) =>
            out += ((userId, s.start, s.last, s.n))
            cur = Some(SessionState(ep, ep, 1))
          case None => cur = Some(SessionState(ep, ep, 1))
        }
      }
      cur match {
        case Some(s) => state.update(s)
        case None => state.remove()
      }
      out.iterator
    }
    val closed = events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "session_start", "session_last", "n_events")
    runToMemory(closed, "append", queryName, tableBytes(dir, "events"))
  }

  /** Streaming exact dedup on a key set with watermark-bounded state —
    * the streaming form of the corpus dedup pass
    * (dropDuplicatesWithinWatermark: a key's state is held only for the
    * watermark horizon, so state size is bounded by the horizon's key
    * cardinality, not the stream's lifetime). Emits only the KEY columns:
    * which physical row wins a key is arrival-order-dependent, the key
    * set itself is exact — so the result equals batch SELECT DISTINCT
    * and is oracle-checkable. Exactness caveat: across MULTIPLE
    * micro-batches a key recurring more than `horizon` after the
    * watermark re-emits (its state was evicted) — that is the operator's
    * documented contract, and the batch-DISTINCT equality here holds
    * because the single-file glob yields one micro-batch (and the
    * driver corpus spans ≪ the 30-day default horizon regardless). */
  def streamingDedup(spark: SparkSession, dir: String, queryName: String,
      keys: Seq[String], horizon: String = "30 days"): DataFrame =
    runToMemory(readEventsStream(spark, dir)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(keys.map(col): _*),
      "append", queryName, tableBytes(dir, "events"))

  /** Stream-stream interval join: conversions — each 'click' joined to
    * the same user's 'purchase' events landing within [0, maxDelay]
    * after it. The canonical funnel/attribution shape. Both sides carry
    * watermarks and the join condition carries the time bound, which is
    * what lets Spark EVICT join state: a click older than
    * watermark − maxDelay can never match a future purchase, so state is
    * bounded by the horizon's event volume, not the stream's lifetime —
    * the property that makes this runnable forever at 100 TB/day. Inner
    * join ⇒ the emitted match set equals the batch join exactly (late
    * data aside), so the gate oracle is plain SQL.
    *
    * Why the plan shows TWO file-source scans (and must): both sides
    * derive from one `readEventsStream`, but a stream-stream join's
    * sides are independent logical branches — each applies its own
    * filter, projection and (crucially) watermark on a
    * differently-named event-time column below the stateful join, so
    * the branches are not identical subtrees and no ReusedExchange/
    * scan-sharing applies; micro-batch planning instantiates a scan per
    * branch (source OFFSETS are tracked once — the batch's files are
    * just read twice, a narrow columnar re-read of page-cache-hot
    * data). The single-scan alternatives all lose the thing that makes
    * this operator correct at scale: `foreachBatch` + persist + batch
    * join reads once per trigger but can only match WITHIN a
    * micro-batch (a purchase in batch N+1 never meets its click from
    * batch N), and a hand-rolled flatMapGroupsWithState buffer
    * re-implements exactly the watermark-bounded join state Spark
    * already manages, minus the declarative eviction proof. Two narrow
    * re-reads of each micro-batch is the cheap side of that trade at
    * any scale — scan cost is O(batch), state cost is O(horizon). */
  def intervalJoin(spark: SparkSession, dir: String, queryName: String,
      maxDelayMinutes: Int = 60, horizon: String = "2 hours"): DataFrame = {
    val ev = readEventsStream(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", horizon)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", horizon)
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $maxDelayMinutes MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"))
    runToMemory(joined, "append", queryName, tableBytes(dir, "events"))
  }

  /** Stream-static enrichment: the stream joins a static dimension frame
    * (re-read per micro-batch, broadcast when small — Catalyst plans the
    * static side exactly as in batch) and aggregates per dimension
    * attribute. The classic "enrich events with the customer table"
    * shape; state-free apart from the aggregation. */
  def staticEnrich(spark: SparkSession, dir: String, queryName: String,
      dim: DataFrame, dimKey: String, dimAttr: String): DataFrame =
    runToMemory(readEventsStream(spark, dir)
      .join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col("user_id") === col(dimKey))
      .groupBy(col(dimAttr))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec6)).cast(DoubleType).as("sum_value")),
      "complete", queryName, tableBytes(dir, "events"))

  /** Sliding window aggregation (windowLen every slide). */
  def slidingAgg(events: DataFrame, windowLen: String,
      slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** Streaming ingestion into the training-store layout — the
    * continuous counterpart of [[graft.sinks.Sinks.writeShards]]:
    * each arriving doc gets its deterministic salted-hash shard
    * ([[graft.operators.Sampling.hash32]] mod `numShards` — the
    * Packing shard discipline: membership stable under any arrival
    * order or restart, no global state) and appends to a parquet
    * store partitioned by shard. Global epoch positions don't exist
    * on an unbounded stream, so in-shard order is arrival order; at
    * training time the batch side reads the accumulated store and
    * runs `shuffleOrder`/`epochShards` over it. Stateless append —
    * no watermark, no aggregation, any scale; the checkpoint gives
    * the file sink's exactly-once semantics across restarts. */
  def shardAppendStream(docs: DataFrame, idCol: String, salt: String,
      numShards: Int, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(numShards > 0,
      s"shardAppendStream: need numShards > 0, got $numShards")
    docs
      .withColumn("shard",
        graft.operators.Sampling.hash32(col(idCol), salt) % numShards)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("shard")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Batch compaction for a [[shardAppendStream]] store — the missing
    * half of the streaming-lake lifecycle: the file sink appends one
    * parquet file set per micro-batch per shard FOREVER, so a
    * long-running ingest accumulates unbounded small files (the
    * classic small-files failure; every downstream scan pays a task
    * per file). This job rewrites the accumulated store into
    * `outPath` with each shard's rows in ONE task → one file per
    * shard (`maxRecordsPerFile` splits oversized shards further, the
    * standard parquet-sizing control), preserving shard membership
    * and row content exactly.
    *
    * Why a NEW root instead of in-place: the append store's
    * `_spark_metadata` file-sink log is the stream's exactly-once
    * ledger — batch reads of the store trust it as the committed-file
    * list, and the resumed stream appends through it. Rewriting data
    * files under a live log would either orphan the new files
    * (invisible to readers) or double-count on restart; the robust
    * lifecycle is the one every streaming lake uses: the append store
    * is the WAL, compaction emits the read-optimized store, training
    * reads the compacted root. (A log-rewriting in-place compaction is
    * what table formats like Delta/Iceberg exist for; hand-editing
    * Spark's sink log format here would couple us to an internal
    * layout.)
    *
    * In-shard physical order normalizes to `sortCols` (pass the id for
    * a canonical layout): the append store's arrival order is an
    * artifact of micro-batch boundaries, not a contract — epoch order
    * comes from [[graft.operators.Sampling.shuffleOrder]] at training
    * time, the store is a SET. One shuffle keyed by shard; linear in
    * store size. */
  def compactShardStore(spark: SparkSession, storePath: String,
      outPath: String, sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Unit = {
    val df = spark.read.parquet(storePath)
    require(df.columns.contains("shard"),
      s"compactShardStore: no 'shard' partition column under $storePath")
    val oneTaskPerShard = df.repartition(col("shard"))
    val ordered =
      if (sortCols.nonEmpty)
        oneTaskPerShard.sortWithinPartitions(
          col("shard") +: sortCols.map(col): _*)
      else oneTaskPerShard
    val writer = ordered.write.mode("overwrite").partitionBy("shard")
    (if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile)
    else writer).parquet(outPath)
  }
}
