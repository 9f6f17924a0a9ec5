package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scans for mechanisms the engine keeps ONE of. */
object SourceScan {

  /** `path:line: token` for every line under `roots` (Scala sources,
    * recursively) that contains one of `forbidden`. */
  def hits(roots: Seq[String], forbidden: Seq[String]): Seq[String] = {
    val dirs = roots.map(new java.io.File(_))
    assert(dirs.forall(_.isDirectory), "run from the repository root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- dirs.flatMap(files)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .toSeq.map(_.toString).zipWithIndex
      p <- forbidden if line.contains(p)
    } yield s"${f.getPath}:${i + 1}: $p"
  }
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
