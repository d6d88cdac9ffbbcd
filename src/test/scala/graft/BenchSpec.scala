package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeQueries`: a failing query is timed, named on stderr and
  * listed in the failures, and the queries after it still run. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is named, timed and listed as failed") {
    var ran = Seq.empty[String]
    val queries = Seq[(String, () => Any)](
      "q01_ok" -> (() => { ran :+= "q01_ok"; 1L }),
      "q02_boom" -> (() => throw new IllegalStateException("planted failure")),
      "q03_ok" -> (() => { ran :+= "q03_ok"; 3L }))
    val err = new java.io.ByteArrayOutputStream()
    val (times, failed) = Console.withErr(err)(Bench.timeQueries(queries))
    assert(times.map(_._1) == Seq("q01_ok", "q02_boom", "q03_ok"))
    assert(times.forall(_._2 >= 0.0))
    assert(failed == Seq("q02_boom"))
    assert(ran == Seq("q01_ok", "q03_ok"))
    val log = err.toString("UTF-8")
    assert(log.contains("q02_boom") && log.contains("planted failure"), log)
    assert(!log.contains("q01_ok") && !log.contains("q03_ok"), log)
  }
}
