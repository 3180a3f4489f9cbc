package finbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.control.NonFatal

import graft.GraftSession
import graft.sources.Compaction

/** The benchmark's JVM side. Usage:
  * `finbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch dir>`.
  * Prints human-readable lines, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and the end-to-end (trace 0) or
  * per-layer (trace 1) metrics.
  */
object Main {

  val Workloads: Seq[String] = Seq("etl_backfill", "daily_incremental", "serving_queries", "stream_ingest")

  /** Setups per run; `setup_s` is their median. */
  val SetupRuns = 3

  /** (name, unit) of every end-to-end metric in the result line, in
    * output order. The cost of an operation is gated as counts of the work
    * Spark does for it (jobs, tasks, rows read), which repeat from run to
    * run. Its wall and CPU time are printed with the workload's named
    * metrics instead: on a shared 4-core host the speed of the cores
    * drifted by up to 2x within an hour, with no steal time to show for
    * it, and ten runs of the same code spread by 25–41% in wall time and
    * up to 24% in CPU time outside the JIT (see `Cpu`).
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_jobs" -> "count", "op_tasks" -> "count", "op_rows_read" -> "count",
    "stored_bytes_per_row" -> "B/row", "peak_rss_mb" -> "MB")

  private def say(s: String): Unit = println(s"[finbench] $s")

  /** Any error ends the JVM with exit code 1 and no result line: Spark's
    * and the generator's non-daemon threads would otherwise keep it alive.
    */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    require(Workloads.contains(name), s"unknown workload $name; one of ${Workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val dir = need("dir")

    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    say(f"session start ${(System.nanoTime() - t0) / 1e9}%.3f s on local[${spark.sparkContext.defaultParallelism}]")
    val tr = new Tracer(spark)
    val collector = new Collector
    if (traced) collector.register(spark)
    val work = new WorkCounter
    spark.sparkContext.addSparkListener(work)

    def make(d: String): Workload = name match {
      case "etl_backfill" => new Backfill(spark, tr, seed, d)
      case "daily_incremental" => new Daily(spark, tr, seed, d)
      case "serving_queries" => new Serving(spark, tr, seed, d)
      case "stream_ingest" => new Ingest(spark, tr, seed, d)
    }

    // set up SetupRuns times from scratch; the first also pays JVM and
    // codegen warm-up; the last one is kept, warmed up by one untimed
    // operation and then measured
    val setupS = ArrayBuffer.empty[Double]
    var w: Workload = null
    (0 until SetupRuns).foreach { k =>
      if (w != null) { w.close(); Pipeline.rmrf(w.dir) }
      val s = System.nanoTime()
      w = make(s"$dir/setup$k")
      w.setup()
      setupS += (System.nanoTime() - s) / 1e9
    }
    say(s"setup runs (s): ${setupS.map(x => f"$x%.3f").mkString(" ")}")
    val wu = System.nanoTime()
    w.warmUp()
    say(f"warm-up ${(System.nanoTime() - wu) / 1e9}%.3f s")
    // after a fixed amount of work, so it does not depend on how many
    // operations fit in the timed window
    val storedBytesPerRow = Compaction.dataBytes(spark, w.tableDir).toDouble / w.tableRows

    // closed loop, one client; in a traced run every other operation is
    // traced and the untraced ones between them give the tracing overhead
    val results = ArrayBuffer.empty[(OpResult, Option[Span])]
    val okOps = ArrayBuffer.empty[Int]
    var failed = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // past the window, go on until there is a result to report: one
    // operation, and in a traced run one traced and one untraced
    def enough = results.nonEmpty && (!traced || results.exists(_._2.isEmpty) && results.exists(_._2.nonEmpty))
    var i = 0
    while (elapsed < seconds || !enough && elapsed < 4 * seconds + 60) {
      tr.on = traced && i % 2 == 1
      val gc0 = Tracer.gcMs
      try {
        spark.sparkContext.setLocalProperty(WorkCounter.OpProp, i.toString)
        val r = try w.op(i) finally spark.sparkContext.setLocalProperty(WorkCounter.OpProp, null)
        tr.on = false
        val span = if (traced && i % 2 == 1) tr.spans.reverseIterator.find(_.parent == -1) else None
        span.foreach { s =>
          s.counts("gc_ms") = (Tracer.gcMs - gc0).toDouble
          s.counts("table_files") = Compaction.dataFileCount(spark, w.tableDir).toDouble
        }
        results += ((r, span))
        okOps += i
      } catch {
        case NonFatal(e) =>
          tr.on = false
          failed += 1
          say(s"op $i failed: $e")
      }
      i += 1
    }
    val attempted = i
    work.quiesce()
    def perOp(f: work.Counts => Long) =
      Stats.median(okOps.toSeq.map(k => Option(work.byOp.get(k)).fold(0.0)(c => f(c).toDouble)))
    val measuredS = elapsed

    val c0 = System.nanoTime()
    val failures = try w.check() catch { case NonFatal(e) => Seq(s"check threw $e") }
    say(f"output checks took ${(System.nanoTime() - c0) / 1e9}%.2f s")
    failures.foreach(f => say(s"CHECK FAILED: $f"))
    if (failures.nonEmpty) failed += 1
    say(s"$attempted operations in ${f"$measuredS%.2f"} s, $failed failed; output checks " +
      (if (failures.isEmpty) "passed" else "FAILED"))

    val lat = results.flatMap(_._1.latenciesMs).toSeq
    def cpuMs(r: OpResult) = r.cpu.engineNs / 1e6
    say("operation wall ms: " + results.map(r => f"${r._1.wallNs / 1e6}%.0f").mkString(" "))
    say("operation CPU ms outside the JIT: " + results.map(r => f"${cpuMs(r._1)}%.0f").mkString(" "))
    say("operation JIT CPU ms: " + results.map(r => f"${r._1.cpu.jitNs / 1e6}%.0f").mkString(" "))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val (pct, tail) = Stats.tail(lat)
        val rowsPerS = results.map(_._1.rows).sum / (results.map(_._1.wallNs).sum / 1e9)
        val e2e = Map(
          "setup_s" -> Stats.median(setupS.toSeq), "op_cpu_ms" -> Stats.median(results.map(r => cpuMs(r._1)).toSeq),
          "op_p50_ms" -> Stats.median(lat), "op_tail_ms" -> tail, "rows_per_s" -> rowsPerS,
          "jit_cpu_ms" -> Stats.median(results.map(_._1.cpu.jitNs / 1e6).toSeq),
          "op_jobs" -> perOp(_.jobs.get), "op_tasks" -> perOp(_.tasks.get), "op_rows_read" -> perOp(_.rowsRead.get),
          "stored_bytes_per_row" -> storedBytesPerRow, "peak_rss_mb" -> peakRssMb)
        say(s"latency samples: ${lat.length}; op_tail_ms is p$pct = $tail ms")
        named(name, results.toSeq.map(_._1), e2e, pct, attempted, failed)
          .foreach { case (n, v, u) => say(s"metric $n = $v $u") }
        endToEnd.map { case (n, u) => (n, e2e(n), u) }
      } else {
        collector.quiesce()
        val tracedOps = results.collect { case (r, Some(s)) => Layers.ofOp(tr, collector, s, r, w.tableDir) }
        val tracedCpu = results.collect { case (r, Some(_)) => cpuMs(r) }.toSeq
        val plainCpu = results.collect { case (r, None) => cpuMs(r) }.toSeq
        val m = Layers.derive(tracedOps.toSeq, tracedCpu, plainCpu)
        val traceFile = new File(s"$dir/../traces/$name-seed$seed.json")
        traceFile.getParentFile.mkdirs()
        Files.write(traceFile.toPath, tr.toJson.getBytes(StandardCharsets.UTF_8))
        say(s"${tr.spans.length} spans over ${tracedOps.length} traced operations written to ${traceFile.getCanonicalPath}")
        if (tracedCpu.nonEmpty && plainCpu.nonEmpty)
          say(f"tracing overhead: traced op CPU ${Stats.median(tracedCpu)}%.1f ms vs untraced ${Stats.median(plainCpu)}%.1f ms")
        Layers.metrics.map { case (n, u) => (n, m(n), u) }
      }

    w.close()
    spark.stop()
    val body = metrics.map { case (n, v, u) => s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${body.mkString(",")}}}""")
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** The workload's end-to-end metrics under their pipeline names. */
  private def named(name: String, rs: Seq[OpResult], e2e: Map[String, Double], pct: Int,
      attempted: Int, failed: Int): Seq[(String, Double, String)] = {
    val n = rs.flatMap(_.latenciesMs).length
    val common = Seq(("setup_s", e2e("setup_s"), "s"),
      ("op_cpu_ms", e2e("op_cpu_ms"), "ms"), ("op_jit_cpu_ms", e2e("jit_cpu_ms"), "ms"),
      ("failed_op_share", failed.toDouble / attempted, "share"),
      ("peak_rss_mb", e2e("peak_rss_mb"), "MB"))
    def p50(kind: String) = {
      val xs = rs.filter(_.kind == kind).flatMap(_.latenciesMs)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    common ++ (name match {
      case "etl_backfill" => Seq(("backfill_rows_per_s", e2e("rows_per_s"), "rows/s"),
        ("stored_bytes_per_row", e2e("stored_bytes_per_row"), "B/row"))
      case "daily_incremental" => Seq(("increment_p50_s", e2e("op_p50_ms") / 1e3, "s"),
        (s"increment_tail_s[p$pct of $n]", e2e("op_tail_ms") / 1e3, "s"),
        ("stored_bytes_per_row", e2e("stored_bytes_per_row"), "B/row"))
      case "serving_queries" => Seq(("serving_p50_ms", e2e("op_p50_ms"), "ms"),
        (s"serving_tail_ms[p$pct of $n]", e2e("op_tail_ms"), "ms"),
        ("history_read_p50_ms", p50("symbol_history"), "ms"),
        ("latest_snapshot_p50_ms", p50("latest_snapshot"), "ms"),
        ("top_movers_p50_ms", p50("top_movers"), "ms"))
      case "stream_ingest" => Seq(("ingest_rows_per_s", e2e("rows_per_s"), "rows/s"),
        ("ingest_batch_p50_s", e2e("op_p50_ms") / 1e3, "s"))
    })
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }
}
