package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of values each carrying a weight (an event count): the
    * smallest value whose cumulative weight reaches q of the total.
    */
  def weightedQuantile(vw: Seq[(Double, Long)], q: Double): Double = {
    val s = vw.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= math.ceil(q * total) }.map(_._1).getOrElse(s.last._1)
  }

  /** Least-squares slope of y over x. */
  def slope(xy: Seq[(Double, Double)]): Double = {
    if (xy.size < 2) return 0.0
    val mx = xy.map(_._1).sum / xy.size
    val my = xy.map(_._2).sum / xy.size
    val den = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) 0.0 else xy.map { case (x, y) => (x - mx) * (y - my) }.sum / den
  }
}

/** Everything one run reports: named metrics with units, the operation
  * counts behind `fail_ratio`, the failures themselves, and free-form
  * facts (sample counts, sizes) for the human-readable header.
  */
final class Out {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(k: String, v: Any): Unit = info(k) = v.toString
  def fail(n: Long, what: String): Unit = if (n > 0) { failed += n; failures += s"$n × $what" }

  /** Keeps the operations and failures of a pass whose metrics are not reported. */
  def failuresOf(other: Out): Unit = {
    attempted += other.attempted; failed += other.failed; failures ++= other.failures
  }

  def write(path: String): Unit = {
    val m = metrics.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val i = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}},""" +
      s""""failures":[${failures.map(Json.str).mkString(",")}],"info":{${i.mkString(",")}}}"""
    Files.write(Paths.get(path), json.getBytes(UTF_8))
  }
}

object Fs {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk) else Iterator(f)

  /** Bytes of the data files under `dir` (Hadoop checksum files excluded). */
  def bytes(dir: String): Long = walk(new File(dir)).filterNot(_.getName.endsWith(".crc")).map(_.length).sum

  def parquetFiles(dir: String): Long = walk(new File(dir)).count(_.getName.endsWith(".parquet")).toLong

  def rm(dir: String): Unit = {
    val f = new File(dir)
    if (f.exists()) walk(f).foreach(_.delete())
    def dirs(d: File): Unit = { Option(d.listFiles).foreach(_.foreach(x => if (x.isDirectory) dirs(x))); d.delete() }
    if (f.isDirectory) dirs(f)
  }
}
