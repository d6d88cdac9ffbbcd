package graft

import org.scalatest.funsuite.AnyFunSuite

/** Deployment settings (master, cores, data dir, output paths) are read
  * from the environment by the two mains and nowhere else: the engine's
  * behaviour is fixed by its code, not by a process-wide knob. */
class EnvReadsSpec extends AnyFunSuite {

  test("src/main reads the environment only in graft.Bench and graft.Verify") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val read = """\bsys\.env\b|\bSystem\.getenv\b""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sites = for {
      f <- files(root) if f.getName.endsWith(".scala")
      path = root.toPath.relativize(f.toPath).toString
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if read.findFirstIn(line).isDefined
    } yield (path, i + 1)
    val allowed = Set("graft/Bench.scala", "graft/Verify.scala")
    val stray = sites.filterNot { case (path, _) => allowed(path) }
    assert(stray.isEmpty, "read deployment settings in Bench or Verify instead: " +
      stray.map { case (p, l) => s"$p:$l" }.mkString(", "))
    assert(sites.map(_._1).toSet == allowed, s"expected reads in exactly $allowed, got $sites")
  }
}
