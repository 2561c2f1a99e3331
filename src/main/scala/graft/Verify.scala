package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir>"
  *
  * `SPARK_GRAFT_ONLY` (local iteration only) dumps a name-prefix subset.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query wall budget (the Bench discipline, round 12): the
    // sf0.01 gate must stay CHEAP — the driver's correctness artifact
    // arrived empty in r11, most plausibly a driver-side timeout on the
    // grown catalog — so any query whose dump exceeds the budget is
    // flagged loudly here, in the round it regresses.
    val BudgetSec = 10.0
    val timings = Harness.names.flatMap { name =>
      Harness.run(spark, sfDir, name)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")) match {
        case Right(t) => Some(name -> t)
        case Left(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          None
      }
    }
    val over = timings.filter(_._2 > BudgetSec).sortBy(-_._2)
    if (over.nonEmpty) System.err.println(
      s"[verify] over_budget(${BudgetSec}s): " +
        over.map { case (n, t) => f"$n=$t%.1fs" }.mkString(", "))
    System.err.println(
      f"[verify] ${timings.size} queries dumped in ${timings.map(_._2).sum}%.1f s")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
