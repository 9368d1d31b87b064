package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Minimal JSON rendering for the result and artifact files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Latency summaries. A failed operation is an infinite latency: it
  * counts against the median and the tail and is never dropped. */
object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The highest whole percentile with at least ten samples above it.
    * Below 30 samples that percentile would sit at or near the median,
    * so the tail is then the maximum. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) =
    if (xs.size < 30) (100, xs.max)
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      (p, percentile(xs, p))
    }

  def summary(xs: Seq[Double]): Map[String, Any] = {
    val (p, v) = if (xs.isEmpty) (0, Double.NaN) else tail(xs)
    Map("n" -> xs.size, "p50_ms" -> median(xs), "tail_ms" -> v,
      "tail_percentile" -> p, "samples_beyond_tail" -> xs.count(_ > v))
  }
}

/** Host context: CPU count, how busy the host is before and after the
  * run, and the hypervisor steal share over it (from /proc/stat), so a
  * noisy run can be told apart from a regression. */
object Host {
  final case class CpuTimes(busy: Long, idle: Long, steal: Long) {
    def total: Long = busy + idle + steal
  }
  def cpuTimes(): Option[CpuTimes] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val idle = f(3) + f(4)
      val steal = if (f.length > 7) f(7) else 0L
      Some(CpuTimes(f.take(3).sum + f(5) + f(6), idle, steal))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Busy share of all CPUs over a short window. */
  def busyFraction(windowMs: Long = 250): Double = {
    val a = cpuTimes(); Thread.sleep(windowMs); val b = cpuTimes()
    (a, b) match {
      case (Some(x), Some(y)) if y.total > x.total =>
        (y.busy + y.steal - x.busy - x.steal).toDouble / (y.total - x.total)
      case _ => Double.NaN
    }
  }
  def stealFraction(a: Option[CpuTimes], b: Option[CpuTimes]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      (y.steal - x.steal).toDouble / (y.total - x.total)
    case _ => Double.NaN
  }
}

object Disk {
  /** Bytes of all regular files under `root`. */
  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach((f: Path) => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }
  }
  def filesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).count() finally s.close()
    }
  }
}
