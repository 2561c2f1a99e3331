package perfbench

/** Per-layer metrics shared by both run kinds, averaged per operation
  * (a catalog query execution or a micro-batch). */
object Layers {
  private val MB = 1048576.0

  def exec(es: Seq[ExecStats], wallS: Seq[Double], cores: Int): Map[String, Double] = {
    def per(f: ExecStats => Double) = Stats.mean(es.map(f))
    val stages = es.map(_.stages).sum
    Map(
      "exec.jobs" -> per(_.jobs), "exec.stages" -> per(_.stages), "exec.tasks" -> per(_.tasks),
      "exec.stages_skipped_frac" -> (if (stages > 0) es.map(_.stagesSkipped).sum.toDouble / stages else 0.0),
      "exec.executor_run_s" -> per(_.runS), "exec.executor_cpu_s" -> per(_.cpuS), "exec.gc_s" -> per(_.gcS),
      "exec.busy_frac" -> (if (wallS.sum > 0) es.map(_.runS).sum / (wallS.sum * cores) else 0.0),
      "exec.task_wait_s" -> per(_.waitS),
      "exec.driver_gap_s" -> Stats.mean(es.zip(wallS).map { case (e, w) => math.max(0.0, w - e.jobUnionS) }),
      "exec.shuffle_read_mb" -> per(_.shuffleReadB / MB), "exec.shuffle_write_mb" -> per(_.shuffleWriteB / MB),
      "exec.spill_mb" -> per(_.spillB / MB), "exec.input_mb" -> per(_.inputB / MB),
      "exec.task_failures" -> es.map(_.taskFailures).sum.toDouble)
  }

  /** Catalyst phases summed over each operation's QueryExecutions. */
  def catalyst(perOp: Seq[Seq[QeRec]]): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> Stats.mean(perOp.map(_.map(_.ms("analysis")).sum)),
    "catalyst.optimization_ms" -> Stats.mean(perOp.map(_.map(_.ms("optimization")).sum)),
    "catalyst.planning_ms" -> Stats.mean(perOp.map(_.map(_.ms("planning")).sum)),
    "catalyst.executions_per_query" -> Stats.mean(perOp.map(_.size.toDouble)))
}
