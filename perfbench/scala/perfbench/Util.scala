package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** `--key value` command-line options. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

/** JSON for the run record (Jackson with its Scala module, both shipped with
  * Spark); `obj` keeps keys in insertion order. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, as (percentile, value); None when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => p -> quantile(xs, p / 100))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def sizeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeBytes).sum).getOrElse(0L)
    else f.length()

  def children(f: java.io.File): Seq[String] =
    Option(f.list()).map(_.toSeq).getOrElse(Nil)
}
