package finbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a benchmark-side call into an engine layer. Counts
  * recorded while the span is innermost land in `counts`.
  */
final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  var end: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ns: Long = end - start
}

/** In-memory span recorder. Spans exist only while `on`; each span's id is
  * set as a Spark local property, so every job the call submits — also from
  * a streaming query started inside it — names the span that caused it.
  */
final class Tracer(spark: SparkSession) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.length, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      stack ::= s
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => if (on) s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Span ids of `root` and everything under it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root.id).toSet
  }

  /** Span time not covered by its direct children (children of one span
    * run one after another on the calling thread, so they never overlap).
    */
  def selfNs(s: Span): Long = s.ns - spans.filter(_.parent == s.id).map(_.ns).sum

  def toJson: String = spans.map { s =>
    val counts = s.counts.map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},""" +
      s""""end_ns":${s.end},"self_ns":${selfNs(s)},"counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanProp = "finbench.span"

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

final case class JobRec(id: Int, span: Int, stages: Seq[Int])

final class StageRec {
  var runMs, cpuNs, shuffleWrite, spill, peakMem = 0L
  var accs: Set[Long] = Set.empty
  val taskMs: ArrayBuffer[Long] = ArrayBuffer.empty
}

/** One finished SQL execution; `accs` are the ids of its plan's metrics. */
final case class QeRec(func: String, durNs: Long, outPath: Option[String],
    writeFiles: Long, writeBytes: Long, writeRows: Long,
    scanFiles: Long, scanBytes: Long, scanRows: Long, planMs: Long, indicators: Boolean,
    accs: Set[Long])

final case class ProgressRec(triggerMs: Long, addBatchMs: Long,
    stateRows: Long, stateMem: Long, dups: Long, inputRows: Long)

/** Spark's public listeners, registered by the benchmark: jobs, stages and
  * tasks (SparkListener), finished SQL executions with their Catalyst
  * phase times, scans and writes (QueryExecutionListener), and streaming
  * micro-batch progress (StreamingQueryListener). Callbacks arrive on
  * Spark's listener threads, so every record goes into a concurrent map.
  *
  * An execution's callback carries no job or stage id. It is joined to
  * the stages that ran it through its plan's SQL metrics: every stage
  * reports the accumulators its tasks updated, and each plan node's
  * metrics are accumulators of their own.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val jobsEnded = new ConcurrentHashMap[Int, Boolean]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentHashMap[String, ArrayBuffer[ProgressRec]]()
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()
  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, _ => new StageRec)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).fold(-1)(_.toInt)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.stageIds))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.put(e.jobId, true); touch() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach(m => s.peakMem = math.max(s.peakMem, m.peakExecutionMemory))
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized(s.accs = e.stageInfo.accumulables.keySet.toSet)
    Option(e.stageInfo.taskMetrics).foreach { m =>
      s.synchronized {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Collector.nodes(qe.executedPlan)
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    val writes = nodes.collect { case d: DataWritingCommandExec => d }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val out = writes.collectFirst { case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
      c.outputPath.toUri.getPath }
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val indicators = nodes.exists {
      case w: WindowExec => w.output.exists(_.name == "sma_200")
      case _ => false
    }
    qes.add(QeRec(funcName, durationNs, out,
      writes.map(metric(_, "numFiles")).sum, writes.map(metric(_, "numOutputBytes")).sum,
      writes.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum, planMs, indicators,
      nodes.flatMap(_.metrics.values.map(_.id)).toSet))
    touch()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      progress.computeIfAbsent(p.runId.toString, _ => ArrayBuffer.empty).synchronized {
        progress.get(p.runId.toString) += ProgressRec(dur("triggerExecution"), dur("addBatch"),
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.flatMap(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))).map(_.longValue).getOrElse(0L),
          p.numInputRows)
      }
      touch()
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Wait until every started job has ended and no event arrived for
    * `quietMs` (the listener bus delivers asynchronously).
    */
  def quiesce(quietMs: Long = 300, timeoutMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (jobs.keySet.asScala.exists(j => !jobsEnded.containsKey(j)) ||
        System.nanoTime() - lastEvent < quietMs * 1000000L)) Thread.sleep(50)
  }
}

object Collector extends AdaptiveSparkPlanHelper {
  /** Every node of a physical plan, through adaptive stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
}

/** Spark jobs, tasks and rows read from storage per timed operation, in
  * every run, traced or not. Each operation runs under the local property
  * `OpProp`, which the jobs it submits carry, also those of a streaming
  * query started inside it (local properties pass to the threads a thread
  * starts).
  */
final class WorkCounter extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val rowsRead = new AtomicLong
  }
  val byOp = new ConcurrentHashMap[Integer, Counts]()
  private val stageOp = new ConcurrentHashMap[Integer, Integer]()
  private val started, ended = new AtomicLong
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(WorkCounter.OpProp))).foreach { v =>
      val op = Integer.valueOf(v.toInt)
      byOp.computeIfAbsent(op, _ => new Counts).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); lastEvent = System.nanoTime() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageOp.get(e.stageId)).map(byOp.get).foreach { c =>
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => c.rowsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until every started job has ended and no event arrived for
    * `quietMs` (the listener bus delivers asynchronously).
    */
  def quiesce(quietMs: Long = 300, timeoutMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (started.get != ended.get || System.nanoTime() - lastEvent < quietMs * 1000000L)) Thread.sleep(50)
  }
}

object WorkCounter {
  val OpProp = "finbench.op"
}
