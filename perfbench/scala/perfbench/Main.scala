package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** What a workload run hands back to [[Main]] for the run record. */
final case class Outcome(endToEnd: Map[String, Double], report: Map[String, Any],
                         layers: Map[String, Double], detail: Map[String, Any])

/** Session, clocks, failure and check records shared by both run kinds. */
final class Ctx(val args: Args) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val workload: String = args("workload")
  val seed: Long = args.long("seed")
  val seconds: Double = args.int("seconds").toDouble
  val traced: Boolean = args.int("trace") == 1
  val cores: Int = args.int("cpus")
  val work = new File(args("work"))
  val scratchDir = new File(work, "scratch")
  val fixtureDir = new File(work, "fixtures")

  val spark: SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.graft.scratchDir", scratchDir.getPath)
      .config("spark.graft.fixtureDir", fixtureDir.getPath)
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  val trace: Option[Trace] = if (traced) Some(new Trace(spark.sparkContext)) else None
  val spans = new Spans
  val runId: String = java.util.UUID.randomUUID().toString

  private var attemptedOps = 0L
  val failures = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  private var setupS = Double.NaN
  private var jitS = Double.NaN
  private var liveMb = Double.NaN

  /** Count one operation (query execution, micro-batch or check). */
  def attempt(n: Long = 1): Unit = attemptedOps += n
  def attempted: Long = attemptedOps

  def fail(op: String, name: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    failures += Json.obj("op" -> op, "name" -> name, "class" -> root.getClass.getName,
      "message" -> Option(root.getMessage).getOrElse("").take(500))
  }

  /** A correctness check outside the timed region; `body` returns the
    * mismatch, or None when the output is correct. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempt()
    val verdict = try body catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    checks += Json.obj("name" -> name, "ok" -> verdict.isEmpty, "detail" -> verdict.getOrElse(""))
    verdict.foreach(m => failures += Json.obj("op" -> "check", "name" -> name,
      "class" -> "CorrectnessMismatch", "message" -> m.take(500)))
  }

  /** Marks the end of set-up: everything until the first timed operation. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  }

  /** Untimed, after an untraced repetition or query: a full GC, then the
    * heap and non-heap memory in use. The run reports the largest sample as
    * `peak_live_mb`, the memory the program keeps live; the fixed heap
    * size does not enter it, as it does VmHWM. */
  def sampleLive(): Unit = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    val mb = (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
    liveMb = if (liveMb.isNaN) mb else math.max(liveMb, mb)
  }

  /** The run repeats its unit of work (a drain or a pass) for `seconds`,
    * and at least twice, so every run has the same minimum composition; a
    * traced run alternates untraced and traced repetitions, so it does
    * both twice over. */
  def measuring(reps: Int, sinceNs: Long): Boolean = {
    val factor = if (traced) 2 else 1
    reps < 2 * factor || (System.nanoTime() - sinceNs) / 1e9 < seconds * factor
  }

  /** Is the i-th repetition (pass or drain) of a traced run a traced one:
    * untraced, traced, traced, untraced, so a steady warm-up drift cancels
    * out of the tracing overhead. */
  def tracedRep(i: Int): Boolean = traced && (i % 4 == 1 || i % 4 == 2)

  /** Runs one repetition with tracing switched to `on`; the listener bus is
    * drained on both sides so no event lands in the wrong repetition. */
  def rep[A](on: Boolean)(body: => A): A = trace match {
    case None => body
    case Some(t) =>
      t.flush(); t.on = on
      try body finally { t.flush(); t.on = false }
  }

  def record(o: Outcome): Map[String, Any] = {
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    Json.obj(
      "workload" -> workload, "kind" -> args("kind"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores, "run_id" -> runId,
      "end_to_end" -> (o.endToEnd ++ Map("setup_s" -> setupS, "peak_live_mb" -> liveMb)),
      "report" -> (o.report ++ Map("vm_hwm_mb" -> rssMb)),
      "layers" -> (if (traced) o.layers ++ Map("jvm.jit_s" -> jitS) else Map.empty),
      "attempted" -> attempted, "failures" -> failures.toSeq, "checks" -> checks.toSeq,
      "detail" -> o.detail,
      "self_ms_by_kind" -> (if (traced) spans.selfMsByKind else Map.empty),
      "spans" -> spans.json)
  }
}

/** One benchmark run in one JVM. `perfbench/run.py` is the entry point: it
  * builds these classes, generates the catalog inputs, launches this main
  * and checks the catalog outputs against DuckDB.
  *
  * {{{
  * perfbench.Main --kind stream|catalog --workload <name> --seed <n> --seconds <s>
  *   --trace 0|1 --cpus <n> --work <dir> --out <record.json> [kind options]
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(new Args(argv))
    val outcome =
      try ctx.args("kind") match {
        case "stream" => new StreamRun(ctx).run()
        case "catalog" => new CatalogRun(ctx).run()
        case k => throw new IllegalArgumentException(s"unknown --kind $k")
      } finally ctx.spark.stop()
    java.nio.file.Files.writeString(new File(ctx.args("out")).toPath, Json(ctx.record(outcome)))
  }
}
