package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session-wide settings are written in two places only: `Adaptive.tune`
  * sets the shuffle width and AQE for the query being built, and
  * `DedupOps.connectedComponents` narrows the width for its loop and
  * restores it in its `finally`. Any other session conf or experimental
  * optimizer write would leak into every later query of the session. */
class SessionConfWritesSpec extends AnyFunSuite {

  test("src/main writes session state only in Adaptive.tune and DedupOps.connectedComponents") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val write = """\bconf\.set\(|\bexperimental\.""".r
    val defName = """\bdef\s+(\w+)""".r.unanchored
    def indent(l: String) = l.takeWhile(_ == ' ').length
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    // each write, with the innermost def that encloses it by indentation
    val sites = for {
      f <- files(root) if f.getName.endsWith(".scala")
      path = root.toPath.relativize(f.toPath).toString
      src = scala.io.Source.fromFile(f, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex if write.findFirstIn(line).isDefined
      owner = lines.take(i).reverseIterator.collectFirst {
        case l @ defName(name) if indent(l) < indent(line) => name
      }.getOrElse("")
    } yield (s"$path:${i + 1}", s"$path#$owner")
    val allowed = Set("graft/ops/Adaptive.scala#tune",
      "graft/ops/DedupOps.scala#connectedComponents")
    val stray = sites.filterNot { case (_, owner) => allowed(owner) }
    assert(stray.isEmpty, "session conf or optimizer written outside " +
      s"$allowed: ${stray.map(_._1).mkString(", ")}")
    assert(sites.map(_._2).toSet == allowed, s"expected writes in exactly $allowed, got $sites")
  }
}
