package finbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics, all derived from the trace: the benchmark's spans
  * (one root "op" span per traced operation) joined with the listener
  * records through each job's span id, and from jobs to SQL executions
  * through the stages that updated the executions' metrics. Each metric is
  * computed per traced operation and reported as the median over them
  * (`exec.peak_mem_bytes` as the maximum); a layer the workload does not
  * exercise reports 0.
  */
object Layers {

  /** (name, unit) of every per-layer metric, in output order. */
  val metrics: Seq[(String, String)] = Seq(
    "indicators.call_ms" -> "ms", "indicators.stage_task_s" -> "s", "indicators.stage_cpu_s" -> "s",
    "indicators.shuffle_bytes" -> "bytes", "indicators.spill_bytes" -> "bytes", "indicators.task_skew" -> "ratio",
    "clean.call_ms" -> "ms", "clean.rows_dropped" -> "count",
    "sink.write_s" -> "s", "sink.files_written" -> "count", "sink.bytes_written" -> "bytes",
    "table.data_files" -> "count",
    "incremental.call_s" -> "s", "incremental.jobs" -> "count", "incremental.checkpoint_s" -> "s",
    "incremental.append_s" -> "s", "incremental.watermark_s" -> "s",
    "incremental.rows_scanned_per_new_row" -> "ratio", "incremental.late_rows_skipped" -> "count",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes", "scan.rows_read_per_row_out" -> "ratio",
    "query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.jobs" -> "count",
    "ingest.trigger_ms" -> "ms", "ingest.add_batch_ms" -> "ms", "ingest.state_rows" -> "count",
    "ingest.state_mem_bytes" -> "bytes", "ingest.dups_dropped" -> "count", "ingest.files_written" -> "count",
    "jvm.gc_s" -> "s", "jvm.jit_cpu_ms" -> "ms", "exec.peak_mem_bytes" -> "bytes",
    "op.self_ms" -> "ms", "trace.spans" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio")

  private def sumBy[A](xs: Iterable[A])(f: A => Double): Double = xs.iterator.map(f).sum

  /** Layer values of one traced operation. */
  def ofOp(tr: Tracer, c: Collector, op: Span, r: OpResult, tableDir: String): Map[String, Double] = {
    val sub = tr.subtree(op)
    val spans = tr.spans.filter(s => sub.contains(s.id))
    def named(n: String) = spans.filter(_.name == n)
    val jobs = c.jobs.values.asScala.filter(j => sub.contains(j.span)).toSeq
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct.flatMap(s => Option(c.stages.get(s)))
    val allQes = c.qes.asScala.toSeq
    def stagesOfQe(q: QeRec) = c.stages.values.asScala.filter(s => s.synchronized(s.accs.exists(q.accs.contains)))
    def qesOf(js: Seq[JobRec]) = {
      val st = stagesOf(js).toSet
      allQes.filter(q => stagesOfQe(q).exists(st.contains))
    }
    val qes = qesOf(jobs)
    val stages = stagesOf(jobs)
    def under(dir: String)(q: QeRec) = q.outPath.exists(_.startsWith(dir))
    val sinkQes = qes.filter(under(tableDir))

    val indStages = qes.filter(_.indicators).flatMap(stagesOfQe).distinct
    val skew = if (indStages.isEmpty) 0.0 else {
      val top = indStages.maxBy(_.runMs)
      val ts = top.synchronized(top.taskMs.toSeq.map(_.toDouble))
      if (ts.isEmpty || Stats.median(ts) == 0) 0.0 else ts.max / Stats.median(ts)
    }

    val incSpans = named("incremental")
    val incJobs = jobs.filter(j => incSpans.exists(s => tr.subtree(s).contains(j.span)))
    val incQes = qesOf(incJobs)
    val appended = sumBy(incQes.filter(under(tableDir)))(_.writeRows)
    val landed = sumBy(named("land"))(_.counts.getOrElse("landed_distinct", 0.0))

    val progress = Option(c.progress.get(r.runId)).map(p => p.synchronized(p.toSeq)).getOrElse(Nil)
      .filter(_.inputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val rowsOut = op.counts.getOrElse("rows_out", 0.0)

    Map(
      "indicators.call_ms" -> sumBy(named("indicators"))(_.ns / 1e6),
      "indicators.stage_task_s" -> sumBy(indStages)(_.runMs / 1e3),
      "indicators.stage_cpu_s" -> sumBy(indStages)(_.cpuNs / 1e9),
      "indicators.shuffle_bytes" -> sumBy(indStages)(_.shuffleWrite.toDouble),
      "indicators.spill_bytes" -> sumBy(indStages)(_.spill.toDouble),
      "indicators.task_skew" -> skew,
      "clean.call_ms" -> sumBy(named("clean"))(_.ns / 1e6),
      // rows the backfill scanned but did not write: Clean's dropped rows
      "clean.rows_dropped" -> (if (named("sink").isEmpty) 0.0
        else sumBy(qes.filter(_.indicators))(_.scanRows) - sumBy(sinkQes)(_.writeRows)),
      "sink.write_s" -> sumBy(sinkQes)(_.durNs / 1e9),
      "sink.files_written" -> sumBy(sinkQes)(_.writeFiles),
      "sink.bytes_written" -> sumBy(sinkQes)(_.writeBytes),
      "table.data_files" -> op.counts.getOrElse("table_files", 0.0),
      "incremental.call_s" -> sumBy(incSpans)(_.ns / 1e9),
      "incremental.jobs" -> incJobs.size.toDouble,
      "incremental.checkpoint_s" -> sumBy(incQes.filter(_.func == "localCheckpoint"))(_.durNs / 1e9),
      "incremental.append_s" -> sumBy(incQes.filter(under(tableDir)))(_.durNs / 1e9),
      "incremental.watermark_s" -> sumBy(incQes.filter(q =>
        q.func == "isEmpty" || q.outPath.exists(_.contains("/state/"))))(_.durNs / 1e9),
      "incremental.rows_scanned_per_new_row" -> ratio(sumBy(incQes)(_.scanRows), appended),
      "incremental.late_rows_skipped" -> (if (incSpans.isEmpty) 0.0 else landed - appended),
      "scan.files_read" -> sumBy(qes)(_.scanFiles),
      "scan.bytes_read" -> sumBy(qes)(_.scanBytes),
      "scan.rows_read_per_row_out" -> ratio(sumBy(qes)(_.scanRows), rowsOut),
      "query.plan_ms" -> sumBy(qes)(_.planMs),
      "query.exec_ms" -> sumBy(qes)(_.durNs / 1e6),
      "query.jobs" -> jobs.size.toDouble,
      "ingest.trigger_ms" -> med(progress.map(_.triggerMs.toDouble)),
      "ingest.add_batch_ms" -> med(progress.map(_.addBatchMs.toDouble)),
      "ingest.state_rows" -> progress.lastOption.fold(0.0)(_.stateRows.toDouble),
      "ingest.state_mem_bytes" -> progress.lastOption.fold(0.0)(_.stateMem.toDouble),
      "ingest.dups_dropped" -> sumBy(progress)(_.dups),
      "ingest.files_written" -> (if (r.runId.isEmpty) 0.0 else sumBy(qes.filter(_.outPath.nonEmpty))(_.writeFiles)),
      "jvm.gc_s" -> op.counts.getOrElse("gc_ms", 0.0) / 1e3,
      "jvm.jit_cpu_ms" -> r.cpu.jitNs / 1e6,
      "exec.peak_mem_bytes" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakMem.toDouble).max),
      "op.self_ms" -> tr.selfNs(op) / 1e6,
      "trace.spans" -> spans.size.toDouble)
  }

  /** Medians over traced operations, plus the tracing overhead: the median
    * CPU time (outside the JIT) of the traced operations minus that of the
    * untraced ones, which ran interleaved with them on the same data.
    */
  def derive(perOp: Seq[Map[String, Double]], traced: Seq[Double], untraced: Seq[Double]): Map[String, Double] = {
    val base = metrics.map(_._1).filterNot(_.startsWith("trace.overhead")).map { m =>
      val xs = perOp.map(_.getOrElse(m, 0.0))
      m -> (if (xs.isEmpty) 0.0 else if (m == "exec.peak_mem_bytes") xs.max else Stats.median(xs))
    }.toMap
    val over = if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(untraced)
    base ++ Map("trace.overhead_ms" -> over,
      "trace.overhead_share" -> (if (untraced.isEmpty) 0.0 else over / Stats.median(untraced)))
  }
}
