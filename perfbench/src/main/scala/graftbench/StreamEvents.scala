package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.hb.HbParser
import graft.streaming.StreamHb

/** stream_events: two long-running [[StreamHb]] queries over one
  * parquet file-source directory, each with a durable checkpoint and a
  * parquet file sink:
  *   - `window`: stateful event-time window
  *     (`window ts 60 group by event_type -> sum`, append mode),
  *   - `filter`: stateless filter and projection.
  * An op appends the next seeded, event-time-ordered 500-event file
  * (atomic rename into the source directory) and waits until both
  * queries have processed it. One appender: a closed loop. */
final class StreamEvents(spark: SparkSession, o: Opts) extends Workload {
  import StreamEvents._

  private val pool = Files.list(Paths.get(s"${o.data}/stream")).iterator()
    .asScala.map(_.toString).filter(_.endsWith(".parquet")).toIndexedSeq
    .sorted
  private val source = s"${o.work}/stream_in"
  private val staging = s"${o.work}/stream_staging"
  private var next = 0
  private var queries = Seq.empty[StreamingQuery]
  private val appended = scala.collection.mutable.ArrayBuffer[String]()

  /** Copy the next pool file into the source directory; the file
    * appears at once, complete (rename within one file system). */
  private def append(): Unit = {
    require(next < pool.size,
      s"stream input pool exhausted after $next files")
    val src = Paths.get(pool(next))
    val name = src.getFileName.toString
    val tmp = Paths.get(s"$staging/$name")
    Files.copy(src, tmp)
    Files.move(tmp, Paths.get(s"$source/$name"),
      StandardCopyOption.ATOMIC_MOVE)
    appended += s"$source/$name"
    next += 1
  }

  private def awaitBoth(): Unit = queries.foreach(_.processAllAvailable())

  def setup(): Unit = {
    Files.createDirectories(Paths.get(source))
    Files.createDirectories(Paths.get(staging))
    val schema = spark.read.parquet(pool.head).schema
    val stream = spark.readStream.schema(schema).parquet(source)
    queries = Programs.map { case (name, text) =>
      val program = HbParser.parse(text)
      StreamHb.apply(program, stream).writeStream
        .queryName(name)
        .outputMode(StreamHb.outputMode(program))
        .format("parquet")
        .option("path", s"${o.work}/sink_$name")
        .option("checkpointLocation", s"${o.work}/checkpoint_$name")
        .start()
    }
    // warm-up appends: the first batches of each query pay class
    // loading, codegen and state-store creation
    val t0 = System.nanoTime()
    for (_ <- 1 to WarmAppends) { append(); awaitBoth() }
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def run(rec: Recorder): Unit = {
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while (System.nanoTime() < deadline || rec.count < MinOps) {
      val t0 = System.nanoTime()
      val ok =
        try { append(); awaitBoth(); true }
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] append failed: $e"); false
        }
      rec.add(Op("append", t0, System.nanoTime(), ok))
    }
  }

  def finish(trace: Option[Trace]): Map[String, Double] = {
    // the window query emits the windows the last watermark closed in
    // one further batch that reads no data; wait for it, then stop
    val w = queries.head
    val lastData = w.recentProgress.filter(_.numInputRows > 0)
      .map(_.batchId).maxOption.getOrElse(-1L)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!w.recentProgress.exists(p => p.batchId > lastData &&
        p.numInputRows == 0 && p.durationMs.containsKey("addBatch")) &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    queries.foreach(_.stop())
    Files.write(Paths.get(s"${o.work}/manifest.jsonl"), Seq(
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        Map[String, Any]("files" -> appended.asJava,
          "sinks" -> Programs.map(p => p._1 -> s"${o.work}/sink_${p._1}")
            .toMap.asJava).asJava)).asJava)
    Map.empty
  }

  def close(): Unit = queries.foreach(q => if (q.isActive) q.stop())
}

object StreamEvents {
  val WarmAppends = 4
  /** At least this many timed appends, so p75 has ten samples beyond. */
  val MinOps = 40
  val Programs: Seq[(String, String)] = Seq(
    "window" ->
      """slice columns ts event_type value
        |window ts 60 group by event_type -> sum
        |""".stripMargin,
    "filter" ->
      """only (value >= 100)
        |slice columns event_id ts user_id event_type value
        |""".stripMargin)
}
