package perfbench

/** Per-layer metrics, counters and span records from a traced run's op
  * spans. Every metric is reported on every workload; a layer the
  * workload does not exercise reads 0. */
object Layers {

  /** Engine call-site frames that mark a job as one TxLog phase. */
  val AppendFrame = "graft.bitemporal.TxLog.append"
  val CompactFrame = "graft.bitemporal.TxLog.compactIncremental"

  private def isTx(s: OpSpan) = s.kind.startsWith("tx.")
  private def isPointRead(s: OpSpan) =
    s.kind == "read.point" || s.kind == "read.reopen"

  /** Mean of `f` over `ss` (0 when empty). */
  private def avg(ss: Seq[OpSpan])(f: OpSpan => Double): Double =
    Stats.mean(ss.map(f))

  private def attr(s: OpSpan, k: String): Double = s.attrs.getOrElse(k, 0.0)

  def metrics(all: Seq[OpSpan], extra: Map[String, Double], strayJobs: Int,
              callbackMs: Double): Seq[(String, Double, String)] = {
    val ss = all.filter(_.traced)
    val per = avg(ss) _
    val txs = ss.filter(isTx)
    val compacting = ss.filter(_.phaseJobs(CompactFrame) > 0)
    val points = ss.filter(isPointRead)
    val reads = ss.filter(_.kind.startsWith("read."))
    val creates = ss.filter(_.kind.startsWith("mv.create"))
    val refreshes = ss.filter(_.kind.startsWith("mv.refresh"))
    val serves = ss.filter(_.kind.startsWith("mv.serve"))
    def qsum(s: OpSpan)(f: QuerySpan => Double) = s.queries.map(f).sum
    val totalJobs = ss.map(_.jobs.size).sum
    Seq(
      ("spark.queries", per(_.queries.size.toDouble), "count"),
      ("spark.analysis_ms", per(qsum(_)(_.analysisMs)), "ms"),
      ("spark.optimizer_ms", per(qsum(_)(_.optimizerMs)), "ms"),
      ("spark.physical_plan_ms", per(qsum(_)(_.planningMs)), "ms"),
      ("spark.jobs", per(_.jobs.size.toDouble), "count"),
      ("spark.stages", per(_.sumJobs(_.stages.toDouble)), "count"),
      ("spark.tasks", per(_.sumJobs(_.tasks.toDouble)), "count"),
      ("spark.job_busy_ms", per(_.jobBusyMs), "ms"),
      ("spark.task_run_ms", per(_.sumJobs(_.taskRunMs)), "ms"),
      ("spark.task_cpu_ms", per(_.sumJobs(_.taskCpuMs)), "ms"),
      ("spark.sched_delay_ms", per(_.sumJobs(_.schedDelayMs)), "ms"),
      ("spark.task_gc_ms", per(_.sumJobs(_.taskGcMs)), "ms"),
      ("spark.driver_gap_ms", per(_.driverGapMs), "ms"),
      ("spark.driver_gap_per_job_ms",
        if (totalJobs == 0) 0.0 else ss.map(_.driverGapMs).sum / totalJobs, "ms"),
      ("jvm.driver_gc_ms", per(_.driverGcMs), "ms"),
      ("spark.exchanges", per(qsum(_)(_.exchanges.toDouble)), "count"),
      ("spark.shuffle_write_bytes", per(_.sumJobs(_.shuffleWriteBytes.toDouble)), "bytes"),
      ("spark.shuffle_read_bytes", per(_.sumJobs(_.shuffleReadBytes.toDouble)), "bytes"),
      ("spark.spill_bytes", per(_.sumJobs(_.spillBytes.toDouble)), "bytes"),
      ("spark.scan_files", per(qsum(_)(_.scanFiles.toDouble)), "count"),
      ("spark.scan_bytes", per(_.sumJobs(_.inputBytes.toDouble)), "bytes"),
      ("spark.scan_rows", per(_.sumJobs(_.inputRows.toDouble)), "count"),
      ("spark.retained_block_bytes", per(attr(_, "retained_bytes")), "bytes"),
      ("graft.call_ms", avg(ss.filter(_.kind == "query"))(attr(_, "call_ms")), "ms"),
      ("txlog.append_ms", avg(txs)(_.phaseMs(AppendFrame)), "ms"),
      ("txlog.append_jobs", avg(txs)(_.phaseJobs(AppendFrame).toDouble), "count"),
      ("txlog.bytes_written_per_tx", avg(txs)(attr(_, "tx_bytes")), "bytes"),
      ("txlog.compact_ms", avg(compacting)(_.phaseMs(CompactFrame)), "ms"),
      ("txlog.compact_bytes_rewritten", avg(compacting)(attr(_, "base_bytes")), "bytes"),
      ("txlog.vacuum_ms", avg(ss.filter(_.kind == "maint.vacuum"))(_.wallMs), "ms"),
      ("txlog.tail_txs", avg(reads)(attr(_, "tail_txs")), "count"),
      ("txlog.space_amp", extra.getOrElse("space_amp", 0.0), "ratio"),
      ("read.files_per_point_read", avg(points)(qsum(_)(_.scanFiles.toDouble)), "count"),
      ("read.files_opened_ratio", avg(points)(s =>
        qsum(s)(_.scanFiles.toDouble) / math.max(1.0, attr(s, "live_files"))), "ratio"),
      ("mv.create_jobs", avg(creates)(_.jobs.size.toDouble), "count"),
      ("mv.create_exchanges", avg(creates)(qsum(_)(_.exchanges.toDouble)), "count"),
      ("mv.refresh_jobs", avg(refreshes)(_.jobs.size.toDouble), "count"),
      ("mv.refresh_exchanges", avg(refreshes)(qsum(_)(_.exchanges.toDouble)), "count"),
      ("mv.refresh_shuffle_bytes", avg(refreshes)(s =>
        s.sumJobs(j => (j.shuffleReadBytes + j.shuffleWriteBytes).toDouble)), "bytes"),
      ("mv.state_bytes", avg(refreshes)(attr(_, "state_bytes")), "bytes"),
      ("server.sql_front_ms", avg(serves)(attr(_, "sql_front_ms")), "ms"),
      ("server.nav_decide_ms", avg(serves)(attr(_, "nav_decide_ms")), "ms"),
      ("server.nav_hit_ratio", avg(serves)(s =>
        if (s.queries.exists(_.readsMatviewState)) 1.0 else 0.0), "ratio"),
      ("trace.overhead_pct", overheadPct(all), "%"),
      ("trace.callback_ms", if (ss.isEmpty) 0.0 else callbackMs / ss.size, "ms"),
      ("trace.stray_jobs", strayJobs.toDouble, "count"),
      ("trace.traced_ops", ss.size.toDouble, "count"))
  }

  /** Tracing overhead: per op type with both traced and untraced
    * samples, traced median over untraced median, minus one; the mean of
    * those ratios (types traced first and types traced second weigh
    * their warm-up bias against each other), in percent. */
  def overheadPct(all: Seq[OpSpan]): Double = {
    val ratios = all.groupBy(_.opType).values.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.wallMs)) / Stats.median(u.map(_.wallMs)) - 1)
    }.toSeq
    100 * Stats.mean(ratios)
  }

  /** Counters of each op type's first traced occurrence: the fixed-seed
    * snapshot a later run is diffed against. */
  def counters(all: Seq[OpSpan]): Map[String, Map[String, Double]] =
    all.filter(_.traced).groupBy(_.opType).values.map(_.minBy(_.occurrence)).map { s =>
      s.opType -> Map(
        "spark.jobs" -> s.jobs.size.toDouble,
        "spark.exchanges" -> s.queries.map(_.exchanges).sum.toDouble,
        "spark.scan_files" -> s.queries.map(_.scanFiles).sum.toDouble,
        "txlog.bytes_written_per_tx" -> attr(s, "tx_bytes"),
        "mv.refresh_jobs" ->
          (if (s.kind.startsWith("mv.refresh")) s.jobs.size.toDouble else 0.0))
    }.toMap

  /** One op span with its children, for the run's span file. */
  def spanJson(s: OpSpan): Map[String, Any] = Map(
    "op" -> s.index, "kind" -> s.kind, "name" -> s.name,
    "occurrence" -> s.occurrence, "start_ms" -> s.startMs,
    "wall_ms" -> s.wallMs, "job_busy_ms" -> s.jobBusyMs,
    "driver_gap_ms" -> s.driverGapMs, "driver_gc_ms" -> s.driverGcMs,
    "attrs" -> s.attrs.toMap,
    "jobs" -> s.jobs.map(j => Map(
      "job" -> j.jobId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stages, "tasks" -> j.tasks,
      "task_run_ms" -> j.taskRunMs, "shuffle_read_bytes" -> j.shuffleReadBytes,
      "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "site" -> j.callSite.linesIterator.find(_.contains("graft.")).getOrElse(
        j.callSite.linesIterator.toSeq.headOption.getOrElse("")))),
    "queries" -> s.queries.map(q => Map(
      "func" -> q.funcName, "analysis_ms" -> q.analysisMs,
      "optimizer_ms" -> q.optimizerMs, "planning_ms" -> q.planningMs,
      "exchanges" -> q.exchanges, "scan_files" -> q.scanFiles,
      "matview_state" -> q.readsMatviewState)))
}
