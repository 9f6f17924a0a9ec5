package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the engine has ONE way to materialise and label —
  * [[graft.Scope]]. A raw persist, local checkpoint or job-description
  * call in the operator, compiler, gate or server sources would bring
  * back an unowned cache or an unrestored label. */
class OneWayToMaterialiseSpec extends AnyFunSuite {

  private val forbidden = Seq(".persist(", "localCheckpoint(",
    "setJobDescription(")

  test("no persist, localCheckpoint or setJobDescription outside Scope") {
    val roots = Seq("operators", "hb", "queries", "server")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- roots.flatMap(files)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .toSeq.map(_.toString).zipWithIndex
      p <- forbidden if line.contains(p)
    } yield s"${f.getPath}:${i + 1}: $p"
    assert(hits.isEmpty, hits.mkString("use graft.Scope instead:\n", "\n", ""))
  }
}
