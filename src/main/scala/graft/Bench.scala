package graft
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The one gate timer. With no arguments it times the whole catalogue
  * at `SPARK_GRAFT_SF_DIR` (default sf0.1). Optional arguments: a
  * comma-separated gate list (empty: every gate) and a comma-separated
  * list of sf dirs, interleaved inside each pass.
  *
  *   sbt "runMain graft.Bench"
  *   sbt "runMain graft.Bench st_stream_join,a7_kmeans"
  *   sbt "runMain graft.Bench a7_kmeans <sfDirA>,<sfDirB>"
  *
  * Every run also writes `bench_layers.json`, one [[Layer]] per line for
  * each gate × sf × rep: the [[Instrument.Span]] of the timed run (jobs
  * and their labels, driver gap, task time, shuffle, spill, scan,
  * Catalyst and codegen time, stream batches). For several sf dirs the
  * per-gate median/ratio scaling table is printed before the JSON lines.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.filter(_.nonEmpty)
      .fold(SparkEntry.queries.keys.toSeq)(_.split(",").toSeq)
    val dirs = args.lift(1).fold(Seq(sfDir))(_.split(",").toSeq)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    RoundArtifacts.warnIfStale()
    val spark = Sessions.local()
    // JIT/codegen warmup at the smallest sf so timed runs measure
    // steady-state query throughput, not first-call class loading
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && !dirs.contains(warmDir))
      names.foreach { name =>
        try Scope.open(_ => SparkEntry.queries(name)(spark, warmDir).count())
        catch { case e: Throwable => fail(s"$name (warm-up)", e) }
      }
    val shortLine = run(spark, names, dirs, reps, outFile, ".")
    spark.stop()
    println(shortLine)
  }

  // name the failure: r16's bench recorded 117 silent -1s with
  // zero diagnostic — a swallowed exception class/message is the
  // difference between "box hiccup" and "engine bug"
  private def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[bench] FAIL $what: " +
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")

  private def label(dir: String): String =
    dir.split("/").filter(_.nonEmpty).last

  /** One `bench_layers.json` row: a timed gate run and its span. */
  final case class Layer(gate: String, sf: String, rep: Int, ok: Boolean,
      span: Instrument.Span)

  /** The timed passes and their output: prints the per-gate line
    * and the short total line, writes `outFile`, `bench_total.json` and
    * `bench_layers.json` (relative paths resolve against `outDir`) and
    * returns the short line. */
  def run(spark: SparkSession, names: Seq[String], dirs: Seq[String],
      reps: Int, outFile: String, outDir: String): String = {
    def key(name: String, dir: String): String =
      if (dirs.size == 1) name else s"$name@${label(dir)}"
    // Median of `reps` INTERLEAVED catalogue passes: single-run numbers on
    // a shared box swing 4-6x with co-tenant load. Back-to-back reps of
    // one query all land inside the same busy window, so a loaded
    // half-minute used to poison that query's median (r3 driver artifact:
    // six queries "2-7x slower" that re-ran clean). Running the whole
    // catalogue per pass separates a query's reps by minutes, so a busy
    // window costs at most one pass — the cross-pass median survives it.
    val times = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val failed = mutable.Set[String]()
    val layers = mutable.ArrayBuffer[String]()
    val instrument = new Instrument(spark)
    try for (rep <- 1 to reps; name <- names; dir <- dirs) {
      val fn = SparkEntry.queries(name)
      // one scope per gate run: its cached frames and memos (verified
      // minhash pairs, ANN cell models) die with the run, so a rep is
      // never served by a previous rep's fit (r16 honesty fix). The
      // scope closes after the clock stops.
      Scope.open { _ =>
        val (ok, span) = instrument.span(key(name, dir)) {
          try { fn(spark, dir).count(); true }
          catch { case e: Throwable => fail(key(name, dir), e); false }
        }
        if (!ok) failed += key(name, dir)
        times(key(name, dir)) ::= span.wallMs / 1e3
        layers += Instrument.json(Layer(name, dir, rep, ok, span))
      }
    } finally instrument.close()
    val results = for (name <- names; dir <- dirs) yield {
      val k = key(name, dir)
      val ts = times(k).sorted
      // a failed query must read as BROKEN (-1), not as its tiny
      // time-to-failure masquerading as the fastest query in the bench
      k -> (if (failed(k)) -1.0 else ts(ts.size / 2))
    }
    if (dirs.size > 1) {
      val wall = results.toMap
      scaleTable(names, dirs, (n, d) => wall(key(n, d)))
    }
    // millisecond precision: full-precision doubles made the line ~4 KB
    // and the driver's truncated log-tail grep cut it mid-JSON two rounds
    // running ("parsed": null) — 3 decimals halves the line and sub-ms
    // digits are pure box noise anyway
    def ms3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    // failed queries carry a -1 sentinel in `queries` but must not reduce
    // the headline total (a broken query reading as "faster" corrupts
    // round-over-round comparison)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val sf = dirs.mkString(",")
    val line =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"sf":"$sf"}"""
    println(line)
    def write(file: String, text: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir).resolve(file), text)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $file: ${e.getMessage}")
      }
    // the driver greps a truncated sbt log tail — r3's artifact lost 5
    // queries and the total that way; the file copy survives intact
    write(outFile, line + "\n")
    // SHORT total line: the driver captures only a tail window of stdout,
    // and the full per-gate line above (~4 KB at 280 gates) overran it
    // three rounds running ("parsed": null in BENCH_r13/r14/r15 — r15's
    // tail DID hold the line intact but the driver still parsed nothing,
    // likely because sbt prefixes program stdout with "[info] "). Defenses,
    // all cheap: (a) ~200 bytes so any tail window holds it whole;
    // (b) printed TWICE — immediately after the per-gate line and again
    // as the very last line — so both a head-anchored and a tail-anchored
    // grep find it; (c) ALSO written to a fixed file (bench_total.json)
    // an [info]-prefix-blind parser can read directly.
    val shortLine =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec",""" +
        s""""gates":${results.size},"failed":${failed.size},""" +
        s""""sf":"$sf","detail":"$outFile"}"""
    println(shortLine)
    write("bench_total.json", shortLine + "\n")
    write("bench_layers.json", layers.map(_ + "\n").mkString)
    shortLine
  }

  /** Per gate, the median wall at each sf and the last/first ratio. */
  private def scaleTable(names: Seq[String], dirs: Seq[String],
      wall: (String, String) => Double): Unit = {
    println(dirs.map(d => s"${label(d)} (s)")
      .mkString("| gate | ", " | ", " | ratio (last/first) |"))
    println("|---|" + "---|" * dirs.size + "---|")
    names.foreach { n =>
      val ws = dirs.map(wall(n, _))
      println(ws.map(w => f"$w%.2f").mkString(s"| $n | ", " | ", "") +
        f" | ${ws.last / ws.head}%.1fx |")
    }
  }
}
