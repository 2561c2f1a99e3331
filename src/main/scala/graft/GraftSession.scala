package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way this engine builds a SparkSession. Every main and the spec
  * suite go through `apply`, so their settings cannot drift apart:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions` = cpus;
  *  - UTC session time zone and no UI;
  *  - a catalog-sized codegen class cache: the catalog's queries × several
  *    codegen units each ≫ the default 100-entry janino cache, and at the
  *    default every bench pass recompiled every generated class (measured:
  *    pass totals 661/563/388 s — only the third ever ran warm);
  *  - `spark.graft.scratchDir` when the caller owns a private scratch dir
  *    (see `Materialize.toStoragePath`);
  *  - `GraftExtensions`, so SQL text resolves the custom functions without
  *    a runtime `GraftFunctions.register` call.
  */
object GraftSession {

  val Extensions = "graft.functions.GraftExtensions"

  /** cpus for the mains: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `spark.sql.extensions` with `GraftExtensions` appended unless it is
    * already listed (say by `--conf` or a `-Dspark.sql.extensions`):
    * a second copy would inject every function twice.
    */
  private[graft] def withExtensions(listed: Option[String]): String = {
    val names = listed.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    (if (names.contains(Extensions)) names else names :+ Extensions).mkString(",")
  }

  def apply(cpus: Int, scratchDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions",
        withExtensions(new SparkConf().getOption("spark.sql.extensions")))
    scratchDir.foreach(b.config("spark.graft.scratchDir", _))
    b.getOrCreate()
  }
}
