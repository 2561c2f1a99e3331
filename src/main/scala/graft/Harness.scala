package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Selects, runs and times catalog queries for every main (Bench, Verify,
  * PlanFiles, ScaleProbe). Each main supplies only its sink: a noop write,
  * a parquet dump or an explain-to-file.
  */
object Harness {

  /** `SPARK_GRAFT_ONLY`: comma-separated name prefixes; unset runs all. */
  val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))

  /** The selected catalog names, in the catalog's iteration order. */
  def names: Seq[String] = SparkEntry.queries.keys.filter(selected).toSeq

  /** Forces evaluation of EVERY output column — a bare count() would let
    * Catalyst skip projection work and under-time the scan-heavy queries.
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Builds catalog query `name` over `sfDir` and applies `sink` to it.
    * Right(wall seconds, build + sink) or Left(whatever it threw) — a
    * swallow-and-time would make a crash look like a fast run.
    */
  def run(spark: SparkSession, sfDir: String, name: String)
         (sink: DataFrame => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      sink(SparkEntry.queries(name)(spark, sfDir))
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
  }

  /** `Class: message`, the form failure records carry. */
  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in SQL or an exception message would otherwise
    * make a json.load of the record fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
