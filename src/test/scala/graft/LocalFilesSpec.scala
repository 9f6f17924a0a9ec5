package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.LineageCache
import graft.hb.HbParser
import graft.io.{LocalFiles, LocalFilesFs, RawLocalFiles}
import graft.streaming.StreamHb

/** The `file:` scheme of every session goes through [[graft.io]]: no
  * local file operation of the engine starts a process, and permissions
  * and symbolic links read as they do through Hadoop's own local file
  * system. */
class LocalFilesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()
  private val dir = "/root/testdata/sf0.001"
  private val window =
    """slice columns ts event_type value
      |window ts 60 group by event_type -> sum
      |""".stripMargin

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val events =
    queries.Gate.t(spark, dir, "events").select("ts", "event_type", "value")

  /** The events table cut into three event-time-ordered parquet files
    * (days 1-10, 11-20, 21-), each written under `root/staging`. */
  private def chunks(root: String): Seq[String] =
    Seq((1, 11), (11, 21), (21, 32)).zipWithIndex.map { case ((lo, hi), i) =>
      val out = s"$root/staging/part$i"
      events.filter(dayofmonth(col("ts")) >= lo && dayofmonth(col("ts")) < hi)
        .coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.toString
    }

  /** Start the windowed program on `root/in` into a parquet sink with a
    * checkpoint, both under `root`. */
  private def start(root: String, name: String): StreamingQuery = {
    val program = HbParser.parse(window)
    val stream = spark.readStream.schema(events.schema).parquet(s"$root/in")
    StreamHb(program, stream).writeStream
      .queryName(name)
      .outputMode(StreamHb.outputMode(program))
      .format("parquet")
      .option("path", s"$root/sink")
      .option("checkpointLocation", s"$root/checkpoint")
      .start()
  }

  /** Move chunk `i` into the source directory and wait for the query. */
  private def append(root: String, files: Seq[String], i: Int,
      q: StreamingQuery): Unit = {
    Files.move(Paths.get(files(i)), Paths.get(s"$root/in/part$i.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
  }

  /** Wait (up to 60 s) for the no-data batch that follows the last data
    * batch: it emits the windows the last watermark closed. */
  private def settle(q: StreamingQuery): Unit = {
    val last = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.batchId).maxOption.getOrElse(-1L)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!q.recentProgress.exists(p => p.batchId > last &&
        p.numInputRows == 0 && p.durationMs.containsKey("addBatch")) &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  private def sinkRows(root: String): Seq[String] =
    spark.read.parquet(s"$root/sink").collect().map(_.toString).toSeq.sorted

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val commands = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      rs.onFlush(() => flushes.incrementAndGet(): Unit)
      rs.startAsync()
      while (flushes.get == 0) Thread.sleep(10)
      body
      // a flush that began after `body` returned has delivered its events
      val seen = flushes.get
      while (flushes.get < seen + 2) Thread.sleep(10)
    } finally rs.close()
    commands.asScala.toSeq
  }

  test("a durable stateful stream and a lineage-cache write start no " +
      "process") {
    val root = tmp("localfiles-jfr")
    Files.createDirectories(Paths.get(s"$root/in"))
    val files = chunks(root)
    val q = start(root, "localfiles_jfr")
    // one-time per JVM, and otherwise due at the first executor heartbeat
    SparkInternals.probePageSize()
    val started =
      try processStarts {
        for (i <- files.indices) append(root, files, i, q)
        settle(q)
        new LineageCache(spark, s"$root/lineage")
          .getOrCompute("k")(spark.range(10).toDF("id")).count(): Unit
      } finally q.stop()
    assert(started.isEmpty, started.mkString("process starts:\n", "\n", ""))
    assert(sinkRows(root).nonEmpty)
    // the recording sees a process this JVM starts
    assert(processStarts(new ProcessBuilder("true").start().waitFor(): Unit)
      .exists(_.contains("true")))
  }

  test("create and mkdirs leave the POSIX mode Hadoop's own local file " +
      "system leaves, under umask 022 and 077") {
    val root = tmp("localfiles-perm")
    def mode(p: String): Int =
      Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
    for (umask <- Seq("022", "077"); perm <- Seq(0x1a4, 0x180, 0x1ed, 0x1c0,
        0x3ff)) { // 644 600 755 700 1777
      val conf = new Configuration(false)
      conf.set("fs.permissions.umask-mode", umask)
      val modes = Seq(new RawLocalFiles, new RawLocalFileSystem).map { fs =>
        fs.initialize(URI.create("file:///"), conf)
        val at = s"$root/${fs.getClass.getSimpleName}-$umask-$perm"
        val p = new FsPermission(perm.toShort)
        fs.create(new Path(s"$at-file"), p, true, 4096, 1.toShort,
          1L << 20, null).close()
        assert(fs.mkdirs(new Path(s"$at-dir/sub"), p))
        Seq(mode(s"$at-file"), mode(s"$at-dir"), mode(s"$at-dir/sub"))
      }
      assert(modes(0) == modes(1),
        f"umask $umask mode $perm%o: graft ${modes(0).map(m => f"$m%o")} " +
          f"vs Hadoop ${modes(1).map(m => f"$m%o")}")
    }
  }

  test("a symbolic link reads as one, with its target, through FileSystem " +
      "and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = tmp("localfiles-link")
    val target = Paths.get(s"$root/target")
    Files.write(target, "x".getBytes)
    val link = Files.createSymbolicLink(Paths.get(s"$root/link"), target)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[LocalFiles])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf)
      .isInstanceOf[LocalFilesFs])
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), new Configuration(false))

    val byFs = fs.getFileLinkStatus(new Path(link.toString))
    assert(byFs.isSymlink)
    assert(byFs.getSymlink == new Path(s"file:$target"))
    assert(byFs.getSymlink ==
      stock.getFileLinkStatus(new Path(link.toString)).getSymlink)
    val byFc = FileContext.getFileContext(conf)
      .getFileLinkStatus(new Path(link.toString))
    assert(byFc.isSymlink)
    assert(byFc.getSymlink == new Path(s"file:$target"))

    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
  }

  test("a windowed query stopped and restarted from its checkpoint writes " +
      "the rows of an uninterrupted run") {
    def prepared(prefix: String) = {
      val root = tmp(prefix)
      Files.createDirectories(Paths.get(s"$root/in"))
      (root, chunks(root))
    }
    val (whole, wFiles) = prepared("localfiles-whole")
    val q = start(whole, "localfiles_whole")
    try {
      for (i <- wFiles.indices) append(whole, wFiles, i, q)
      settle(q)
    } finally q.stop()

    val (split, sFiles) = prepared("localfiles-split")
    val first = start(split, "localfiles_split")
    try {
      for (i <- 0 to 1) append(split, sFiles, i, first)
      settle(first)
    } finally first.stop()
    val again = start(split, "localfiles_split")
    try {
      append(split, sFiles, 2, again)
      settle(again)
    } finally again.stop()

    val rows = sinkRows(whole)
    assert(rows.nonEmpty)
    assert(sinkRows(split) == rows)
  }
}
