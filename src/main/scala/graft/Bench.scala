package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    RoundArtifacts.warnIfStale()
    val spark = Sessions.local()
    // JIT/codegen warmup at the smallest sf so timed runs measure
    // steady-state query throughput, not first-call class loading
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (_, fn) =>
        try Scope.open(_ => fn(spark, warmDir).count())
        catch { case _: Throwable => () }
      }
    // Median of `reps` INTERLEAVED catalogue passes: single-run numbers on
    // a shared box swing 4-6x with co-tenant load. Back-to-back reps of
    // one query all land inside the same busy window, so a loaded
    // half-minute used to poison that query's median (r3 driver artifact:
    // six queries "2-7x slower" that re-ran clean). Running the whole
    // catalogue per pass separates a query's reps by minutes, so a busy
    // window costs at most one pass — the cross-pass median survives it.
    val names = SparkEntry.queries.keys.toSeq
    val timesByQuery =
      scala.collection.mutable.Map[String, List[Double]]()
        .withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set[String]()
    for (_ <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      // one scope per gate run: its cached frames and memos (verified
      // minhash pairs, ANN cell models) die with the run, so a rep is
      // never served by a previous rep's fit (r16 honesty fix). The
      // scope closes after the clock stops.
      Scope.open { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          // name the failure: r16's driver bench recorded 117 silent -1s
          // with zero diagnostic — a swallowed exception class/message is
          // the difference between "box hiccup" and "engine bug"
          failed += name
          System.err.println(s"[bench] FAIL $name: " +
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        timesByQuery(name) ::= (System.nanoTime() - t0) / 1e9
      }
    }
    val results = names.map { name =>
      val ts = timesByQuery(name).sorted
      // a failed query must read as BROKEN (-1), not as its tiny
      // time-to-failure masquerading as the fastest query in the bench
      name -> (if (failed(name)) -1.0 else ts(ts.size / 2))
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
    val line =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver greps a truncated sbt log tail — r3's artifact lost 5
    // queries and the total that way; the file copy survives intact
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
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
        s""""sf":"$sfDir","detail":"$outFile"}"""
    println(shortLine)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_total.json"), shortLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_total.json: ${e.getMessage}")
    }
    spark.stop()
    println(shortLine)
  }
}
