package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small numeric and file-system helpers shared by the workloads. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Element-wise median of per-sample metric maps (keys of the first). */
  def medianMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.head.keys.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap

  /** (bytes, regular files) under `dir`, 0 when it does not exist. */
  def treeSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally w.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally w.close()
    }
  }

  /** Peak resident set of this JVM in MB (`VmHWM`, Linux). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(0.0)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its result with its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** A JSON object; values are numbers, booleans, strings or nested maps
    * of the same.
    */
  def json(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:${value(v)}" }
      .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => json(m.map { case (k, x) => k.toString -> x })
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
