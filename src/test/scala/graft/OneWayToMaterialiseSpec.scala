package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans for mechanisms the engine keeps ONE of. */
object SourceScan {

  /** `(path:line, text)` for every line under `roots` (Scala sources,
    * recursively; a root may be one file). */
  def lines(roots: Seq[String]): Seq[(String, String)] = {
    val files0 = roots.map(new java.io.File(_))
    assert(files0.forall(_.exists), "run from the repository root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- files0.flatMap(files)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .toSeq.map(_.toString).zipWithIndex
    } yield (s"${f.getPath}:${i + 1}", line)
  }

  /** `path:line: token` for every line under `roots` that contains one
    * of `forbidden`. */
  def hits(roots: Seq[String], forbidden: Seq[String]): Seq[String] =
    for ((at, line) <- lines(roots); p <- forbidden if line.contains(p))
      yield s"$at: $p"

  /** `path:line: match` for every match of `pattern` under `roots`. */
  def matches(roots: Seq[String],
      pattern: scala.util.matching.Regex): Seq[String] =
    for ((at, line) <- lines(roots); m <- pattern.findAllIn(line).toSeq)
      yield s"$at: $m"
}

/** The engine has ONE way to materialise and label — [[graft.Scope]]. A
  * raw persist, local checkpoint or job-description call in the
  * operator, compiler, gate or server sources would bring back an
  * unowned cache or an unrestored label. */
class OneWayToMaterialiseSpec extends AnyFunSuite {

  test("no persist, localCheckpoint or setJobDescription outside Scope") {
    val hits = SourceScan.hits(
      Seq("operators", "hb", "queries", "server")
        .map(d => s"src/main/scala/graft/$d"),
      Seq(".persist(", "localCheckpoint(", "setJobDescription("))
    assert(hits.isEmpty, hits.mkString("use graft.Scope instead:\n", "\n", ""))
  }
}

/** One production trainer per tokenizer family: [[operators.Bpe.fit]]
  * and [[operators.WordPiece.fit]]. The round-by-round Spark trainers
  * live in the tests as the parity oracle, and no knob truncates the
  * fit corpus. */
class OneTrainerPerFamilySpec extends AnyFunSuite {

  test("no second trainer or truncation knob under src/main") {
    val hits = SourceScan.hits(Seq("src/main/scala"),
      Seq("fitDelta", "fitBytes", "fitLocal", "maxWords"))
    assert(hits.isEmpty, hits.mkString("one trainer per family:\n", "\n", ""))
  }
}

/** One k-means assignment kernel: [[operators.KMeansDet]] assigns
  * through [[functions.ArgminDist]], whose centroids ride in a codegen
  * reference object. The literal column form, which writes k·d new
  * constants into the plan every Lloyd iteration, lives in the tests
  * (`SpecKMeans`) as the parity oracle. */
class OneAssignmentKernelSpec extends AnyFunSuite {

  test("no literal-bearing k-means assignment under src/main") {
    val hits = SourceScan.matches(Seq("src/main/scala"), """\bassignExpr\b""".r)
    assert(hits.isEmpty, hits.mkString("assign through ArgminDist:\n", "\n", ""))
  }
}

/** One k-means: every fit runs [[operators.KMeansDet.fitVecs]], every
  * fitted model goes through [[cache.LineageCache.model]], and no
  * randomized quantizer comes back. */
class OneKMeansSpec extends AnyFunSuite {

  test("no MLlib import, second model memo or second Lloyd loop under " +
      "src/main") {
    val hits = SourceScan.matches(Seq("src/main/scala"),
      """org\.apache\.spark\.ml\b|fitCellsMemo|fitSubspacesMemo|fitVecMulti\b""".r)
    assert(hits.isEmpty, hits.mkString("one k-means:\n", "\n", ""))
  }
}

/** One statement translator: [[graft.hb.Engine.applyStatement]]
  * translates every `.hb` statement, `… using` included. StreamHb keeps
  * only what is streaming-specific, and StreamOps neither hand-writes a
  * model pairing nor writes the shared session's conf. */
class OneTranslatorSpec extends AnyFunSuite {

  private val streaming = "src/main/scala/graft/streaming"

  test("StreamHb translates no `… using` statement and calls no " +
      "operator but Dedup.fingerprint") {
    val src = Seq(s"$streaming/StreamHb.scala")
    val hits = SourceScan.matches(src, """\w+Using\(""".r) ++
      SourceScan.matches(src, """graft\.operators\.[\w.]*""".r)
        .filterNot(_.endsWith(": graft.operators.Dedup.fingerprint"))
    assert(hits.isEmpty, hits.mkString("translate in Engine:\n", "\n", ""))
  }

  test("StreamOps defines no scorer or encoder stream and sets no " +
      "session conf") {
    val src = Seq(s"$streaming/StreamOps.scala")
    val hits =
      SourceScan.matches(src, """def \w*(ScoreStream|EncodeStream)""".r) ++
        SourceScan.hits(src, Seq("spark.conf.set"))
    assert(hits.isEmpty, hits.mkString("one translator:\n", "\n", ""))
  }
}

/** One measurement harness: [[graft.Instrument]] is the only listener
  * registration under src/main, and Bench is the only gate timer — the
  * one-purpose profiling mains and their top-N knob stay gone. */
class OneHarnessSpec extends AnyFunSuite {

  test("no listener registration outside Instrument and no folded " +
      "timing main") {
    val main = Seq("src/main/scala")
    val hits = SourceScan.hits(main, Seq("addSparkListener(",
      "listenerManager.register(", "streams.addListener("))
      .filterNot(_.startsWith("src/main/scala/graft/Instrument.scala:")) ++
      SourceScan.matches(main,
        """object (BenchOne|ProfileOne|StreamProbe|ScaleBench)\b""".r) ++
      SourceScan.hits(main, Seq("SPARK_GRAFT_PROFILE_TOP"))
    assert(hits.isEmpty, hits.mkString("measure with Instrument:\n", "\n", ""))
  }
}

/** One configuration resolver: [[graft.hb.Configurations.Runner]]. The
  * Gateway translates its uploads into configurations and resolves every
  * route through a Runner, so it neither runs a chain nor reads the
  * LineageCache itself, and no second lineage-key or chain-cache path
  * comes back. */
class OneResolverSpec extends AnyFunSuite {

  test("no second resolver under src/main and no direct chain run in " +
      "the server") {
    val hits = SourceScan.hits(Seq("src/main/scala"),
      Seq("lineageKeyOf", "resolveSource", "resolveKeyed", "runChain")) ++
      SourceScan.hits(Seq("src/main/scala/graft/server"),
        Seq("Engine.run", "Engine.runKeyed", "Graft.run", "getOrCompute("))
    assert(hits.isEmpty, hits.mkString("resolve through Runner:\n", "\n", ""))
  }
}

/** One session builder: [[graft.Sessions.builder]] is the only place a
  * session is built and the only place the `file:` scheme is bound to
  * [[graft.io]], so no session of the engine, its mains or its specs
  * misses the in-process local file system. */
class OneSessionBuilderSpec extends AnyFunSuite {

  test("sessions are built, and the file scheme bound, only in " +
      "Sessions.scala") {
    val hits = SourceScan.matches(Seq("src"),
      ("""SparkSession\.builder\(|"(spark\.hadoop\.)?fs\.""" +
        """(AbstractFileSystem\.)?file\.impl"""").r)
      .filterNot(_.startsWith("src/main/scala/graft/Sessions.scala:"))
    assert(hits.isEmpty, hits.mkString("build sessions in Sessions:\n", "\n", ""))
  }
}
