package perfbench

import java.io.File

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no values. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** Minimal JSON rendering for the result line and the detail artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}

object Dirs {
  /** The regular files directly in `dir` whose names end in `suffix`. */
  def files(dir: String, suffix: String): Seq[File] = {
    val d = new File(dir)
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(suffix))
  }
}

/** Resident memory of this JVM, MB: peak (VmHWM) or current (VmRSS). */
object Rss {
  private def field(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(key) => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
  def peakMb(): Double = field("VmHWM:")
  def currentMb(): Double = field("VmRSS:")
}
