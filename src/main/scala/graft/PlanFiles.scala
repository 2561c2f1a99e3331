package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for catalog queries to one file per query —
  * the before/after plan evidence the optimization rounds commit under
  * plans/rNN/.
  *
  *   SPARK_GRAFT_ONLY=<prefix1,prefix2,...> \
  *     sbt "runMain graft.PlanFiles <outDir> <suffix> [sfDir]"
  *
  * writes <outDir>/<name>_<suffix>.txt for each selected query (all of
  * them when `SPARK_GRAFT_ONLY` is unset). Same session as Bench, so the
  * plans match what the bench executes; sfDir defaults to the bench
  * default.
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    Harness.names.sorted.foreach { name =>
      Harness.run(spark, sfDir, name) { df =>
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      } match {
        case Right(_) => System.err.println(s"[plans] wrote $name ($suffix)")
        case Left(e) => System.err.println(s"[plans] $name failed: ${Harness.describe(e)}")
      }
    }
    spark.stop()
  }
}
