package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings); NaN and infinities are written as null. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares fit y = a + b·x; (a, b), or NaNs with < 2 distinct x. */
  def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (pts.size < 2 || sxx == 0) (Double.NaN, Double.NaN)
    else {
      val b = pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
      (my - b * mx, b)
    }
  }
}

object Rows {
  private def fmt(v: Any): String = v match {
    case null => "∅"
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case o => o.toString
  }

  /** Order-insensitive digest of a result: md5 over the sorted rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => r.toSeq.map(fmt).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Fs {
  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }
}
