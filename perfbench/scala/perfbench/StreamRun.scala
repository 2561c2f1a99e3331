package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, max, sum}
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryException, Trigger}
import graft.sources.EnvelopeSynthSource
import graft.streaming.Envelope

/** The reference's checkpointed ingest: `EnvelopeSynthSource` → decode →
  * per-shard update-mode aggregate (count, last sequence number, Σid) with a
  * checkpoint → `foreachBatch` sink, drained with `Trigger.AvailableNow`.
  *
  * Each drain reads the closed-form input ids 1..records from a fresh
  * checkpoint, so every drain is checked against the same oracle. Set-up
  * runs two untimed drains; timed drains then repeat until the run's
  * seconds are used. The input is spread over the reference's 32 shards.
  */
final class StreamRun(ctx: Ctx) {
  import ctx._

  private val records = args.long("records")
  private val perBatch = args.long("per-batch")
  private val shards = 32
  private val warmDrains = 2

  /** Micro-batch progress plus the sink's own wall interval. */
  private final case class Batch(id: Long, rows: Long, startMs: Long, durations: Map[String, Long],
                                 state: Option[StateOperatorProgress], sink: Option[(Long, Long)]) {
    def ms(phase: String): Double = durations.getOrElse(phase, 0L).toDouble
    def sinkMs: Double = sink.map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
  }

  private final case class Drain(idx: Int, traced: Boolean, startMs: Long, endMs: Long,
                                 wallS: Double, runId: String, batches: Seq[Batch], failed: Boolean)

  /** Phases of `durationMs` in the order a micro-batch runs them. */
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private def drain(idx: Int, traced: Boolean): Drain = {
    val name = s"$workload.drain$idx"
    val table = new ConcurrentHashMap[String, (Long, Long, Long)]()
    val sinkWall = new ConcurrentHashMap[Long, (Long, Long)]()
    val src = spark.readStream.format("graft.sources.EnvelopeSynthSource")
      .option("records", records).option("shards", shards)
      .option("maxRecordsPerBatch", perBatch).load()
    val perShard = Envelope.decoded(src).groupBy("shard_id")
      .agg(count(lit(1)).as("n"), max("sequence_number").as("last_seq"), sum("id").as("sum_id"))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val query = perShard.writeStream
      .queryName(name.replace('-', '_').replace('.', '_'))
      .outputMode("update")
      .option("checkpointLocation", new File(work, s"checkpoints/$name").getPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val s = System.currentTimeMillis()
        df.collect().foreach(r => table.put(r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        sinkWall.put(batchId, (s, System.currentTimeMillis()))
        ()
      }
      .start()
    val failed =
      try { query.awaitTermination(); false }
      catch { case e: StreamingQueryException => fail("micro-batch", name, e); true }
    val wallS = (System.nanoTime() - t0) / 1e9
    val batches = query.recentProgress.toSeq.map(p => Batch(
      p.batchId, p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.headOption, Option(sinkWall.get(p.batchId))))
    attempt(batches.size + (if (failed) 1 else 0))
    if (!failed) check(s"$name.oracle")(oracle(table.asScala.toMap, batches.map(_.rows).sum))
    Drain(idx, traced, startMs, System.currentTimeMillis(), wallS, query.runId.toString, batches, failed)
  }

  /** Closed-form expectation: ids 1..records routed by `shardOf`; per shard
    * the count and the last sequence number, Σid = R(R+1)/2, total = R. */
  private def oracle(got: Map[String, (Long, Long, Long)], committed: Long): Option[String] = {
    val n = Array.fill(shards)(0L)
    val last = Array.fill(shards)(0L)
    var i = 1L
    while (i <= records) { val s = EnvelopeSynthSource.shardOf(i, shards); n(s) += 1; last(s) = i; i += 1 }
    val want = (0 until shards).filter(n(_) > 0).map(s => f"shardId-$s%012d" -> (n(s), last(s))).toMap
    val bad = want.keySet.union(got.keySet).toSeq.sorted.filter(k =>
      !got.get(k).exists(g => want.get(k).contains((g._1, g._2))))
    val sumId = got.values.map(_._3).sum
    val total = got.values.map(_._1).sum
    val problems = Seq(
      if (bad.nonEmpty) Some(s"per-shard (count, last_seq) wrong for ${bad.take(3).mkString(",")}") else None,
      if (total != records) Some(s"total $total != $records") else None,
      if (committed != records) Some(s"committed rows $committed != $records") else None,
      if (sumId != records * (records + 1) / 2) Some(s"sum(id) $sumId != R(R+1)/2") else None).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def run(): Outcome = {
    (1 to warmDrains).foreach(i => drain(-i, traced = false))
    setupDone()
    val t0 = System.nanoTime()
    val wl0 = System.currentTimeMillis()
    val drains = ArrayBuffer.empty[Drain]
    while (measuring(drains.size, t0)) {
      val on = tracedRep(drains.size)
      drains += rep(on)(drain(drains.size, on))
      if (!on) sampleLive()
    }
    val plain = drains.filterNot(_.traced).toSeq
    val batchMs = plain.flatMap(_.batches).filter(_.rows > 0).map(_.ms("triggerExecution"))
    val rate = plain.map(_.batches.map(_.rows).sum).sum / plain.map(_.wallS).sum
    val tail = Stats.tail(batchMs)
    // share of drain wall time outside every micro-batch: query start-up
    // and shutdown, which a short drain does not amortize
    val outsideFrac = 1 - plain.flatMap(_.batches).map(_.ms("triggerExecution")).sum / 1e3 / plain.map(_.wallS).sum
    val report = Json.obj(
      "ingest_rec_per_s" -> rate, "wall_outside_batches_frac" -> outsideFrac,
      "batch_ms_p50" -> Stats.median(batchMs),
      "batch_ms_tail" -> tail.map(_._2), "batch_ms_tail_pct" -> tail.map(_._1),
      "batch_samples" -> batchMs.size, "drains" -> plain.size, "records_per_drain" -> records,
      "records_per_batch" -> perBatch, "shards" -> shards)
    val layers = if (traced) traceLayers(drains.toSeq, wl0, batchMs) else Map.empty[String, Double]
    Outcome(
      endToEnd = Map("throughput_per_s" -> rate, "op_ms_p50" -> Stats.median(batchMs)),
      report = report, layers = layers,
      detail = Json.obj("drains" -> drains.map(d => Json.obj(
        "drain" -> d.idx, "traced" -> d.traced, "wall_s" -> d.wallS, "failed" -> d.failed,
        "batch_ms" -> d.batches.map(_.ms("triggerExecution"))))))
  }

  private def traceLayers(drains: Seq[Drain], wl0: Long, plainBatchMs: Seq[Double]): Map[String, Double] = {
    val t = trace.get
    val on = drains.filter(_.traced)
    val all = on.flatMap(d => d.batches.map(d -> _))
    val data = all.filter(_._2.rows > 0)
    def jobsOf(d: Drain, b: Batch) = t.jobsWhere(j => j.group == d.runId && j.batchId == b.id.toString)
    def window(b: Batch) = (b.startMs, b.startMs + b.ms("triggerExecution").toLong)
    val execs = data.map { case (d, b) => t.exec(jobsOf(d, b)) }
    val qes = data.map { case (_, b) => t.qesIn(window(b)._1, window(b)._2) }
    def per(f: Batch => Double) = Stats.mean(data.map(x => f(x._2)))
    val batchMs = data.map(_._2.ms("triggerExecution"))
    val addBatchS = data.map(_._2.ms("addBatch")).sum / 1e3

    // spans: workload → drain → micro-batch → durationMs phases (laid end
    // to end in execution order) and the sink → jobs → stages
    val root = spans.add(0, workload, "workload", wl0, System.currentTimeMillis())
    on.foreach { d =>
      val did = spans.add(root, s"drain ${d.idx}", "drain", d.startMs, d.endMs)
      d.batches.foreach { b =>
        val (bs, be) = window(b)
        val bid = spans.add(did, s"batch ${b.id}", "micro-batch", bs, be)
        var at = bs
        val phaseIds = Phases.map { ph =>
          val id = spans.add(bid, ph, s"streaming.$ph", at, at + b.ms(ph).toLong)
          at += b.ms(ph).toLong
          ph -> id
        }.toMap
        val sinkId = b.sink.map { case (s, e) => spans.add(phaseIds("addBatch"), "sink", "streaming.sink", s, e) }
        t.jobSpans(spans, sinkId.getOrElse(bid), jobsOf(d, b))
        t.qesIn(bs, be).foreach(q => t.qeSpans(spans, sinkId.getOrElse(bid), q))
      }
    }
    Layers.exec(execs, batchMs.map(_ / 1e3), cores) ++
      Layers.catalyst(qes) ++ Map(
      "sources.latest_offset_ms" -> per(_.ms("latestOffset")),
      "sources.partitions_per_batch" -> Stats.mean(execs.map(_.rootTasks.toDouble)),
      "sources.rows_per_s" -> (if (addBatchS > 0) data.map(_._2.rows).sum / addBatchS else 0.0),
      "streaming.trigger_ms" -> Stats.mean(batchMs),
      "streaming.query_planning_ms" -> per(_.ms("queryPlanning")),
      "streaming.wal_commit_ms" -> per(_.ms("walCommit")),
      "streaming.commit_offsets_ms" -> per(_.ms("commitOffsets")),
      "streaming.add_batch_ms" -> per(_.ms("addBatch")),
      "streaming.sink_ms" -> per(_.sinkMs),
      "streaming.phase_cover_frac" ->
        (if (batchMs.sum > 0) data.map(x => Phases.map(x._2.ms).sum).sum / batchMs.sum else 0.0),
      "streaming.jobs_per_batch" -> Stats.mean(execs.map(_.jobs.toDouble)),
      "streaming.tasks_per_batch" -> Stats.mean(execs.map(_.tasks.toDouble)),
      "streaming.no_data_batches" -> all.count(_._2.rows == 0).toDouble,
      "streaming.state_commit_ms" -> per(_.state.map(_.commitTimeMs.toDouble).getOrElse(0.0)),
      "streaming.state_rows_total" -> data.flatMap(_._2.state.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0),
      "streaming.state_memory_mb" -> data.flatMap(_._2.state.map(_.memoryUsedBytes / 1048576.0)).maxOption.getOrElse(0.0),
      "streaming.batches_failed" -> on.count(_.failed).toDouble,
      "trace.overhead_frac" -> (Stats.median(batchMs) / Stats.median(plainBatchMs) - 1))
  }
}
