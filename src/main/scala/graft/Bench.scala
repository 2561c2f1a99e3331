package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. A short untimed warmup first
  * — the first query otherwise pays JVM/codegen/parquet-reader init
  * (~8-10 s) and the numbers stop measuring the queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local iteration only: a repeat count to separate real cost from
    // run-to-run variance (SPARK_GRAFT_ONLY, read by Harness, times just a
    // subset)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    // Bench-private scratch dir for Materialize.toStorage outputs: a
    // query's scratch is never re-read after the query completes, so the
    // fence sweeps it below — three passes over the catalog otherwise
    // leave 3× every iterative operator's per-round scratch on disk for
    // the whole run (one of the r9 suspects for the graph heavies'
    // pass-over-pass degradation; round-10's reproduction runs came back
    // flat, but bounding the growth makes that answer structural, not
    // environmental). Private dir, NOT the shared default: a concurrent
    // Verify/ScaleProbe JVM keeps its own scratch untouched.
    val benchScratch =
      sys.props("java.io.tmpdir") + s"/graft-bench-scratch-${java.util.UUID.randomUUID()}"
    val spark = GraftSession(GraftSession.envCpus, Some(benchScratch))
    def sweepScratch(): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      Option(new java.io.File(benchScratch).listFiles()).foreach(_.foreach(rm))
    }
    // ERROR, not WARN: the driver's log window is ~2000 chars shared by
    // whatever prints near the metric line; benign WindowExec/AQE WARNs
    // were crowding the JSON line out of the captured tail (rounds 2-4).
    spark.sparkContext.setLogLevel("ERROR")

    // Fence (untimed) before each query. GC: without it, a heavy
    // predecessor's broadcast/shuffle debris gets collected INSIDE the
    // next query's timing — observed inflating sub-second queries to
    // 10+ s late in the run. clearCache(): drops predecessors' persisted
    // frames (partEdges, sketched, q49's successor table) — 148 queries'
    // worth of pinned blocks squeeze storage memory enough to triple
    // late-run timings (g01 measured 5.3 s isolated vs 23.5 s late in a
    // full pass before any fence). It must be the CacheManager's clear,
    // not an unpersist of the persisted RDDs: that left each entry
    // registered at StorageLevel NONE, so the next Materialize(df) of the
    // same plan found it, skipped its persist and every consumer
    // recomputed the frame (p01 warm passes 10.5/11.6 s under the RDD
    // sweep vs 5.1/4.8 s under clearCache). Clearing is SAFE because
    // every materialized frame keeps its lineage (graft.Materialize
    // persists, never localCheckpoints): the next use recomputes. No
    // operator may memoize a lineage-truncated frame across invocations.
    def timedPass(): Map[String, Either[Throwable, Double]] =
      Harness.names.map { name =>
        spark.catalog.clearCache()
        sweepScratch()
        System.gc()
        name -> Harness.run(spark, sfDir, name)(Harness.noop)
      }.toMap

    // Three full executions per query; reported time = the MIN of the
    // three. Pass 1 doubles as warmup (JIT + whole-stage-codegen +
    // parquet footer caches land there), so passes 2-3 are steady-state
    // — and taking the min discards the one-off GC spikes this box's
    // 2–3× run-to-run swings are made of (SCALING.md, round-6
    // attribution; round-7's bench_detail measured the SAME JVM timing
    // g01 at 17.2 s and 7.9 s in consecutive passes, which made the
    // noise band the dominant uncertainty in round-over-round
    // comparison — a third pass halves the odds a spike survives into
    // the min). All executions are complete plans over the full input —
    // nothing is cached between passes (the fence clears the cache), so
    // the min is a real end-to-end time, not a warm-cache artifact. A
    // query that failed in any pass reports -1 (a swallow-and-time would
    // make a crash look like a fast run) and its first exception lands
    // in bench_detail.json's "errors".
    // raw per-pass times ride along into bench_detail.json so the min is
    // auditable (which pass won, how far apart they were)
    val Passes = 3
    // row name -> its timed runs: one row per query over all passes, or
    // (reps mode) one row per query and rep
    val rows: Seq[(String, Seq[Either[Throwable, Double]])] =
      if (reps > 1) {
        // local iteration mode: per-rep times, no min-folding — the
        // point there is to SEE the variance (one untimed warmup first)
        Harness.names.foreach(Harness.run(spark, sfDir, _)(Harness.noop))
        (1 to reps).flatMap(r => timedPass().toSeq.map { case (n, t) => s"$n#$r" -> Seq(t) })
      } else {
        val ps = (1 to Passes).map(_ => timedPass())
        Harness.names.sorted.map(n => n -> ps.map(_(n)))
      }
    val times = rows.map { case (n, ts) => n -> ts.map(_.getOrElse(-1.0)) }
    val results: Seq[(String, Double)] = times.map { case (n, ts) =>
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val passDetail: Map[String, Seq[Double]] = if (reps > 1) Map.empty else times.toMap
    val errors: Seq[(String, Throwable)] =
      rows.flatMap { case (n, ts) => ts.collectFirst { case Left(e) => n -> e } }
    // The driver captures only the LAST ~2000 chars of the run log, so the
    // whole printed JSON line must fit in that window (minus sbt's
    // ~90-char [success] trailer). The per-query map does NOT fit: at 261
    // queries even 1-decimal family codes ran ~4 kB and the stored tail
    // began mid-JSON (parsed=null in 10 of 11 rounds). The printed line
    // therefore carries ONLY the compact totals + the budget flags
    // (~200 bytes); the FULL per-query detail (names, per-pass times,
    // medians, millisecond precision) lives in bench_detail.json in the
    // working directory.
    def fmt(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
    val total = if (results.nonEmpty) results.map(_._2).filter(_ >= 0).sum else 0.0
    // median-of-passes alongside the min (round 8's two same-catalog runs
    // spread ~8% on min-of-three; the median is noise-visible where the
    // min hides which pass spiked) — a per-query map in bench_detail and
    // ONE scalar on the printed line so the driver's window stays safe
    def medianOf(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2)
    val medTotal = results.flatMap { case (n, _) => passDetail.get(n) }
      .map(medianOf).filter(_ >= 0).sum
    // Per-query budget flag (round 11): the catalog grows ~10 queries a
    // round and nine > 5 s queries already carry ~95 s of the median
    // total — erosion must be visible in the round it happens, not when
    // the 2× gate finally breaks. Any query whose MEDIAN-of-passes
    // exceeds BudgetSec is listed (print, not fail: the by-design
    // heavies g04/e18 live over the line and are documented as such).
    val BudgetSec = 10.0
    val overBudget = results.flatMap { case (n, _) =>
      passDetail.get(n).map(medianOf).filter(m => m > BudgetSec).map(_ => n)
    }.sorted
    val overJson =
      if (passDetail.isEmpty) ""
      else s""","budget_sec":$BudgetSec,"over_budget":${
        overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val fullQs = results.map { case (k, v) => s"\"$k\":" + fmt(v, 3) }.mkString("{", ",", "}")
    val medQs =
      if (passDetail.isEmpty) ""
      else results.map { case (k, _) =>
        s"\"$k\":" + fmt(passDetail.get(k).map(medianOf).getOrElse(-1.0), 3)
      }.mkString(""","medians":{""", ",", "}")
    val passes =
      if (passDetail.isEmpty) ""
      else passDetail.toSeq.sortBy(_._1).map { case (k, ts) =>
        s"\"$k\":[${ts.map(fmt(_, 3)).mkString(",")}]"
      }.mkString(""","passes":{""", ",", "}")
    // Subset/rep runs (SPARK_GRAFT_ONLY / SPARK_GRAFT_REPS — local
    // iteration only) write a SIDE file: the round's full-catalog
    // bench_detail.json is an evidence artifact, and a later one-query
    // iteration run must not silently replace it (the verify_summary
    // clobber lesson, applied to the bench record).
    val detailName =
      if (Harness.only.isEmpty && reps == 1) "bench_detail.json" else "bench_detail_subset.json"
    // failed rows only: name -> "Class: message" of its first failure
    val errorsJson =
      if (errors.isEmpty) ""
      else errors.map { case (n, e) =>
        s"${Harness.jsonString(n)}:${Harness.jsonString(Harness.describe(e))}"
      }.mkString(""","errors":{""", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(detailName),
      s"""{"metric":"total","value":${fmt(total, 3)},"median_total":${fmt(medTotal, 3)},"unit":"sec","queries":$fullQs$medQs$passes$overJson$errorsJson,"sf":"$sfDir"}""".getBytes("UTF-8"))
    // stop() BEFORE the metric println: spark shutdown (and log4j's exit
    // flush of anything it buffered) must not print after the one JSON
    // line the driver scrapes from the captured tail. Rounds 2–5 recorded
    // parsed=null because flushed startup logs landed after the metric.
    spark.stop()
    sweepScratch()
    new java.io.File(benchScratch).delete()
    // "queries" stays present (the driver's documented shape) but holds
    // only the SLOWEST handful — bounded at ~300 bytes no matter how the
    // catalog grows; everything else is in bench_detail.json.
    // family codes (the prefix before '_') are unique across the catalog
    // today, but nothing enforces that — a collision would make the JSON
    // object carry duplicate keys and silently lose a timing to the
    // parser, so fall back to full names if the selected 12 ever collide
    // (12 full names still fit the driver's 2000-char window).
    val slowestRows = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
    val codes = slowestRows.map(_._1.takeWhile(_ != '_'))
    val slowest = (if (codes.distinct.size == codes.size) slowestRows.map {
        case (k, v) => s"\"${k.takeWhile(_ != '_')}\":" + fmt(v, 1)
      } else slowestRows.map { case (k, v) => s"\"$k\":" + fmt(v, 1) })
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":${fmt(total, 1)},"median_total":${fmt(medTotal, 1)},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"queries":$slowest$overJson,"sf":"$sfDir"}""")
    Console.out.flush()
  }
}
