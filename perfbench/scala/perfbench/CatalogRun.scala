package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.SparkEntry

/** Warm passes over a fixed set of `SparkEntry.queries`: each query is the
  * call into its function and a `noop` write of the frame it returns.
  *
  * Set-up runs one cold pass, which also builds the per-JVM
  * `Materialize.fixture` memo. Warm passes then repeat, each in its own
  * seeded order, until the run's seconds are used. After the timed region
  * one more pass writes every query's output as parquet for the DuckDB
  * oracle check that `run.py` performs.
  */
final class CatalogRun(ctx: Ctx) {
  import ctx._

  private val MB = 1048576.0
  private val names = args.list("queries")
  private val dataDir = args("data")
  private val outDir = new File(work, "outputs")
  private val catalog = SparkEntry.queries
  private val sc = spark.sparkContext
  names.foreach(n => require(catalog.contains(n), s"no catalog query named $n"))

  private final case class QueryRun(name: String, pass: Int, traced: Boolean, startMs: Long,
                                    eagerS: Double, execS: Double, observed: Map[String, Double]) {
    def s: Double = eagerS + execS
    def eagerEndMs: Long = startMs + (eagerS * 1000).toLong
    def endMs: Long = startMs + (s * 1000).toLong
  }

  /** Untimed fence before every query. `clearCache()` drops the cache
    * manager's entries as well as their blocks, so no `Materialize(df)`
    * finds a predecessor's entry; the run-private scratch dir is swept. The
    * per-JVM fixture memo is left alone: it is the program's own
    * amortization, paid in set-up. */
  private def fence(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Files.children(scratchDir).foreach(c => Files.delete(new File(scratchDir, c)))
    System.gc()
  }

  /** The seed fixes each pass's query order. */
  private def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(names)

  private def runQuery(name: String, pass: Int, traced: Boolean): QueryRun = {
    fence()
    val fixturesBefore = Files.children(fixtureDir).size
    attempt()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var eagerEnd = Option.empty[Long]
    try {
      sc.setJobGroup(name, s"p$pass:eager")
      val df = catalog(name)(spark, dataDir)
      eagerEnd = Some(System.nanoTime())
      sc.setJobGroup(name, s"p$pass:exec")
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => fail("query", s"$name#pass$pass", e) }
    finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    val t1 = eagerEnd.getOrElse(t2)
    val observed =
      if (!traced) Map.empty[String, Double]
      else Map(
        "fixtures_built" -> (Files.children(fixtureDir).size - fixturesBefore).toDouble,
        "scratch_mb" -> Files.sizeBytes(scratchDir) / MB,
        "persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "cached_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB)
    if (pass > 0 && !traced) sampleLive()  // before the next fence drops this query's caches
    QueryRun(name, pass, traced, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9, observed)
  }

  /** Writes each query's output for the oracle check (untimed). */
  private def writeOutputs(): Unit = {
    names.sorted.foreach { name =>
      fence()
      attempt()
      try catalog(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(new File(outDir, name).getPath)
      catch { case e: Throwable => fail("query", s"$name#output", e) }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(new File(outDir, "oracle_sql.json").toPath, Json(oracles))
  }

  def run(): Outcome = {
    val cold = order(0).map(runQuery(_, 0, traced = false))
    val fixturesBuilt = Files.children(fixtureDir).size
    setupDone()
    val t0 = System.nanoTime()
    val wl0 = System.currentTimeMillis()
    val passes = ArrayBuffer.empty[Seq[QueryRun]]
    while (measuring(passes.size, t0)) {
      val p = passes.size + 1
      val on = tracedRep(passes.size)
      passes += rep(on)(order(p).map(runQuery(_, p, on)))
    }
    val wl1 = System.currentTimeMillis()
    writeOutputs()

    val plain = passes.filterNot(_.head.traced).toSeq
    val passS = Stats.median(plain.map(_.map(_.s).sum))
    val queryS = plain.flatten.map(_.s)
    val tail = Stats.tail(queryS)
    val report = Json.obj(
      "pass_s" -> passS, "query_s_p50" -> Stats.median(queryS),
      "query_s_tail" -> tail.map(_._2), "query_s_tail_pct" -> tail.map(_._1),
      "query_samples" -> queryS.size, "passes" -> plain.size, "queries" -> names.size)
    val layers =
      if (!traced) Map.empty[String, Double]
      else traceLayers(passes.toSeq, wl0, wl1, fixturesBuilt, passS)
    Outcome(
      endToEnd = Map("throughput_per_s" -> names.size / passS, "op_ms_p50" -> Stats.median(queryS) * 1e3),
      report = report, layers = layers,
      detail = Json.obj(
        "cold_s" -> Json.obj(cold.map(r => r.name -> r.s): _*),
        "warm_s" -> Json.obj(names.sorted.map(n => n -> plain.flatten.filter(_.name == n).map(_.s)): _*)))
  }

  private def traceLayers(passes: Seq[Seq[QueryRun]], wl0: Long, wl1: Long,
                          fixturesBuilt: Int, plainPassS: Double): Map[String, Double] = {
    val t = trace.get
    val runs = passes.filter(_.head.traced).flatten
    def jobsOf(r: QueryRun, phase: String) =
      t.jobsWhere(j => j.group == r.name && j.desc == s"p${r.pass}:$phase")
    val execs = runs.map(r => t.exec(jobsOf(r, "eager") ++ jobsOf(r, "exec")))
    val qes = runs.map(r => t.qesIn(r.startMs, r.endMs))
    def per(f: QueryRun => Double) = Stats.mean(runs.map(f))
    def observed(k: String) = per(_.observed.getOrElse(k, 0.0))

    // spans: workload → pass → query → {eager, exec} → jobs → stages, with
    // each QueryExecution's planning phases under the phase it started in
    val root = spans.add(0, workload, "workload", wl0, wl1)
    passes.filter(_.head.traced).foreach { pass =>
      val pid = spans.add(root, s"pass ${pass.head.pass}", "pass", pass.head.startMs, pass.last.endMs)
      pass.foreach { r =>
        val qid = spans.add(pid, r.name, "query", r.startMs, r.endMs)
        val eid = spans.add(qid, "eager", "operators.eager", r.startMs, r.eagerEndMs)
        val xid = spans.add(qid, "exec", "operators.exec", r.eagerEndMs, r.endMs)
        t.jobSpans(spans, eid, jobsOf(r, "eager"))
        t.jobSpans(spans, xid, jobsOf(r, "exec"))
        t.qesIn(r.startMs, r.endMs).foreach(q => t.qeSpans(spans, if (q.startMs < r.eagerEndMs) eid else xid, q))
      }
    }
    val tracedPassS = Stats.median(passes.filter(_.head.traced).map(_.map(_.s).sum))
    Layers.exec(execs, runs.map(_.s), cores) ++ Layers.catalyst(qes) ++ Map(
      "operators.eager_s" -> per(_.eagerS),
      "operators.exec_s" -> per(_.execS),
      "operators.eager_jobs" -> per(r => jobsOf(r, "eager").size.toDouble),
      "operators.exec_jobs" -> per(r => jobsOf(r, "exec").size.toDouble),
      "materialize.fixtures_built" -> fixturesBuilt.toDouble,
      "materialize.fixtures_built_warm" -> runs.map(_.observed.getOrElse("fixtures_built", 0.0)).sum,
      "materialize.fixture_mb" -> Files.sizeBytes(fixtureDir) / MB,
      "materialize.scratch_mb" -> observed("scratch_mb"),
      "materialize.persisted_rdds" -> observed("persisted_rdds"),
      "materialize.cached_mb" -> observed("cached_mb"),
      "trace.overhead_frac" -> (tracedPassS / plainPassS - 1))
  }
}
