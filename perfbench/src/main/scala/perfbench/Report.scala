package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Process CPU time (all threads: tasks, JIT, GC). Unlike wall time it does
  * not count time the host gave the machine's cores to someone else. */
object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def cpuSince(ns: Long): Double = (cpuNs - ns) / 1e9

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated quantile (q in [0, 1]) of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Named metrics with units, printed in insertion order. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def get(name: String): Option[Double] = values.get(name).map(_._1)
  def json: String = Json.obj(values.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** Outcome of one workload run: the operations it timed and every
  * correctness problem it found, each named. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]

  /** Counts one timed operation; `problem` names what went wrong with it. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; problems += p }
  }

  /** A check outside the timed operations (warm-up, cross-checks). */
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def correct: Boolean = problems.isEmpty && failed == 0
}

/** Values recorded on a known-good commit: `workload <TAB> key <TAB>
  * name=value,name=value`. */
object Expected {
  def load(path: java.nio.file.Path): Map[(String, String), Map[String, String]] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path).asScala.iterator
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(w, k, kv) = l.split("\t", 3)
          (w, k) -> kv.split(",").map { p => val Array(a, b) = p.split("=", 2); a -> b }.toMap
        }.toMap
    }

  def line(workload: String, key: String, values: Seq[(String, Any)]): String =
    s"$workload\t$key\t" + values.map { case (a, b) => s"$a=$b" }.mkString(",")

  /** Names every field of `observed` that differs from, or lacks, a
    * recorded value. */
  def diff(recorded: Map[String, String], observed: Seq[(String, Any)]): Seq[String] =
    observed.collect {
      case (k, v) if !recorded.get(k).contains(v.toString) =>
        s"$k=$v (recorded ${recorded.getOrElse(k, "nothing")})"
    }
}
