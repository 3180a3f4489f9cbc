package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Future, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ElementAt, GenericRowWithSchema, Literal}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftnative.WatermarkLookup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.operators.{Checkpoints, Clean, Incremental, Indicators}
import graft.streaming.MicroBatch

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def mkInput(days: Range) = {
    days.map { i =>
      ("S", f"2024-01-${i}%02d", 100.0 + i, 100.0 + i, 100.0 + i, 100.0 + i, 10L)
    }.toDF("symbol", "d", "close", "open", "high", "low", "volume")
      .withColumn("trading_date", to_date(col("d")))
      .withColumn("timestamp", to_timestamp(col("d")))
      .drop("d")
  }

  // total order on this synthetic data (one row per date)
  private val specOrd = Seq("trading_date", "timestamp")

  private def tmp() = Files.createTempDirectory("graft_inc").toString

  private val day0 = java.time.LocalDate.parse("2023-01-02")

  /** `days` consecutive daily bars per symbol from `day0`, with a close
    * that moves both ways (so every indicator sees gains and losses).
    */
  private def series(symbols: Seq[String], days: Seq[Int]): DataFrame =
    (for (s <- symbols; i <- days) yield {
      val c = 100.0 + 10 * math.sin(i * 0.3 + s.hashCode % 7) + i * 0.05
      (s, day0.plusDays(i).toString, c, c - 0.5, c + 1.0, c - 1.0, 10L + i % 13)
    }).toDF("symbol", "d", "close", "open", "high", "low", "volume")
      .withColumn("trading_date", to_date(col("d")))
      .withColumn("timestamp", to_timestamp(col("d")))
      .drop("d")

  private def asParquet(df: DataFrame, dir: String = tmp() + "/in"): DataFrame = {
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def tsOf(day: Int) = lit(s"${day0.plusDays(day)} 00:00:00").cast("timestamp")

  /** Jobs started by `body` and the input records their tasks read. */
  private case class Work(jobs: Int, records: Long)

  /** The jobs carrying a local property set on this thread (inherited by
    * the broadcast and stage threads) and their tasks' input records. A
    * tagged sentinel job flushes the listener bus before the totals are
    * read.
    */
  private def work(body: => Unit): Work = {
    val sc = spark.sparkContext
    val tag = "graft.test.work"
    val read = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bodyJobs = ConcurrentHashMap.newKeySet[Int]()
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") => bodyJobs.add(e.jobId); e.stageIds.foreach(stages.add)
          case Some("sentinel") => sentinelJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Work(bodyJobs.size, read.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Parquet input in `inDir` of two symbols × 300 days whose first 280
    * days are already processed: (input, state dir, output dir).
    */
  private def bootedIncrement(inDir: String = tmp() + "/in"): (DataFrame, String, String) = {
    val input = asParquet(series(Seq("A", "B"), 0 until 300), inDir)
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Checkpoints.release(Incremental.runIncremental(spark,
      input.filter(col("trading_date") < lit(day0.plusDays(280).toString)),
      st, out, Incremental.OverlapReload, specOrd))
    (input, st, out)
  }

  test("two-batch overlap-reload run equals single-batch run") {
    val (st1, out1) = (tmp() + "/wm", tmp() + "/out")
    val (st2, out2) = (tmp() + "/wm", tmp() + "/out")

    // single shot
    Incremental.runIncremental(spark, mkInput(1 to 20), st1, out1, Incremental.OverlapReload, specOrd)
    // two increments
    Incremental.runIncremental(spark, mkInput(1 to 12), st2, out2, Incremental.OverlapReload, specOrd)
    Incremental.runIncremental(spark, mkInput(1 to 20), st2, out2, Incremental.OverlapReload, specOrd)

    val a = spark.read.parquet(out1).select("symbol_date_key", "sma_5", "obv", "rsi")
      .orderBy("symbol_date_key").collect().toSeq
    val b = spark.read.parquet(out2).select("symbol_date_key", "sma_5", "obv", "rsi")
      .orderBy("symbol_date_key").collect().toSeq
    assert(a.size == 20 && b.size == 20)
    // overlap mode: warm frames agree except OBV (running sum restarts at
    // each increment boundary, as in the reference); SMA/RSI must be exact
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0))
      assert(x.getDouble(1) == y.getDouble(1), s"sma_5 mismatch at ${x.getString(0)}")
    }
  }

  test("truncated mode: second increment restarts warm-up (reference semantics)") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Incremental.runIncremental(spark, mkInput(1 to 12), st, out, Incremental.Truncated, specOrd)
    val second = Incremental.runIncremental(spark, mkInput(1 to 20), st, out, Incremental.Truncated, specOrd)
    // first row of the new increment has a 1-row SMA-5 frame = its own close
    val first = second.orderBy("trading_date").select("close", "sma_5").head
    assert(first.getDouble(0) == first.getDouble(1))
  }

  test("idempotent re-run: same watermark -> zero new rows") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd)
    val rerun = Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd)
    assert(rerun.isEmpty)
  }

  test("overlap-reload on REAL ohlcv data (with ties) equals single-batch run") {
    val ord = Queries.tieCols
    val base = Tables.ohlcv(spark, sf0001)
    val half = base.filter(col("timestamp") < lit("1995-06-01"))

    val (st1, out1) = (tmp() + "/wm", tmp() + "/out")
    Incremental.runIncremental(spark, base, st1, out1, Incremental.OverlapReload, ord)
    val (st2, out2) = (tmp() + "/wm", tmp() + "/out")
    Incremental.runIncremental(spark, half, st2, out2, Incremental.OverlapReload, ord)
    Incremental.runIncremental(spark, base, st2, out2, Incremental.OverlapReload, ord)

    def snap(dir: String) = spark.read.parquet(dir)
      .select("symbol", "trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "sma_5", "rsi", "bb_middle")
      .orderBy("symbol", "trading_date", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect().toSeq
    val (a, b) = (snap(out1), snap(out2))
    assert(a.size == b.size && a.size == 6000)
    a.zip(b).foreach { case (x, y) =>
      (6 until 9).foreach { i =>
        assert(x.getDouble(i) == y.getDouble(i),
          s"col $i differs at ${x.get(0)}/${x.get(2)}: ${x.getDouble(i)} vs ${y.getDouble(i)}")
      }
    }
  }

  test("watermark state advances to max timestamp per symbol") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd)
    val wm = Incremental.readWatermarks(spark, st).collect()
    assert(wm.length == 1)
    assert(wm.head.getAs[java.sql.Timestamp]("last_processed_timestamp").toString.startsWith("2024-01-10"))
  }

  test("an increment scans its input once and never reads its checkpoint back") {
    val (input, st, out) = bootedIncrement()
    var inc: DataFrame = null
    val read = work {
      inc = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd)
    }.records
    val outRows = inc.count()
    Checkpoints.release(inc)
    val stateRows = Incremental.readWatermarks(spark, st).count()
    assert(outRows == 40 && stateRows == 2)
    // one input scan; the state is a driver-side record, and the append
    // fills the checkpoint and observes the watermarks, so nothing reads
    // the checkpoint back
    val bound = 600
    assert(read <= bound, s"read $read input records, bound $bound (input 600)")
  }

  test("an increment over existing state runs at most 2 jobs") {
    val (input, st, out) = bootedIncrement()
    var inc: DataFrame = null
    val jobs = work {
      inc = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd)
    }.jobs
    assert(inc.count() == 40)
    Checkpoints.release(inc)
    // the checkpoint's shuffle-map stage and the staging append (which
    // fills the checkpoint and observes the watermarks); the state read
    // and the commit are driver-side file I/O
    assert(jobs <= 2, s"runIncremental ran $jobs jobs")
  }

  test("the returned increment is checkpointed: its lineage is cut and a later count reads no input") {
    val inDir = tmp() + "/in"
    val (input, st, out) = bootedIncrement(inDir)
    val before = spark.read.parquet(out).count()
    val inc = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd)
    val rdds = inc.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.nonEmpty && rdds.forall(_.isCheckpointed), "the append did not fill the checkpoint")
    val written = spark.read.parquet(out).count() - before
    // more files land in the input directory: a frame that still carried
    // its lineage would rescan the directory and see them
    series(Seq("A", "B", "C"), 300 until 310).write.mode("append").parquet(inDir)
    assert(inc.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }.isEmpty)
    var n = 0L
    val w = work { n = inc.count() }
    Checkpoints.release(inc)
    // a checkpoint block read counts as input records: the count reads its
    // own rows, not the 630 input rows a rescan would
    assert(w.records == n, s"count read ${w.records} input records for $n rows")
    assert(n == written && written == 40)
  }

  test("TIMESTAMP_NTZ input keeps NTZ state and skips processed rows") {
    def ntz(days: Range) = mkInput(days).withColumn("timestamp", col("trading_date").cast("timestamp_ntz"))
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    def stateType = Incremental.readWatermarks(spark, st).schema("last_processed_timestamp").dataType
    Checkpoints.release(Incremental.runIncremental(spark, ntz(1 to 12), st, out, Incremental.Truncated, specOrd))
    assert(stateType == TimestampNTZType)
    val second = Incremental.runIncremental(spark, ntz(1 to 20), st, out, Incremental.Truncated, specOrd)
    val days = second.select("trading_date").collect().map(_.getDate(0).toString).sorted.toSeq
    Checkpoints.release(second)
    assert(days == (13 to 20).map(i => f"2024-01-$i%02d"))
    assert(stateType == TimestampNTZType)
    val wm = Incremental.readWatermarks(spark, st).collect()
    assert(wm.length == 1 && wm.head.getAs[java.time.LocalDateTime]("last_processed_timestamp") ==
      java.time.LocalDateTime.parse("2024-01-20T00:00"))
  }

  test("TIMESTAMP_NTZ watermarks keep their wall time under a non-UTC session time zone") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    // 02:30 on 2024-03-10 does not exist in New York (DST gap): a detour
    // through the session zone would move it to 03:30
    val gap = java.time.LocalDateTime.parse("2024-03-10T02:30")
    def ntz(days: Range) = mkInput(days).withColumn("timestamp", col("trading_date").cast("timestamp_ntz"))
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    spark.conf.set(key, "America/New_York")
    try {
      Checkpoints.release(Incremental.runIncremental(spark, ntz(1 to 12), st, out, Incremental.Truncated, specOrd))
      val late = ntz(10 to 10).withColumn("trading_date", lit(gap.toLocalDate)).withColumn("timestamp", lit(gap))
      val second = Incremental.runIncremental(spark, ntz(1 to 12).unionByName(late), st, out,
        Incremental.Truncated, specOrd)
      assert(second.count() == 1)
      Checkpoints.release(second)
      val state = Incremental.readWatermarks(spark, st)
      assert(state.schema("last_processed_timestamp").dataType == TimestampNTZType)
      val wm = state.collect()
      assert(wm.length == 1 && wm.head.getAs[java.time.LocalDateTime]("last_processed_timestamp") == gap)
    } finally spark.conf.set(key, prev)
  }

  test("a rerun with no fresh rows writes no state and runs at most 1 job") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Checkpoints.release(Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd))
    def files = Files.list(java.nio.file.Paths.get(st)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
    def state = Incremental.readWatermarks(spark, st).collect().toSeq
    val (files0, state0) = (files, state)
    var rerun: DataFrame = null
    val jobs = work {
      rerun = Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd)
    }.jobs
    assert(rerun.isEmpty)
    Checkpoints.release(rerun)
    // the (empty) staging append: the local input filters to nothing, so
    // no shuffle runs, and nothing is committed
    assert(jobs <= 1, s"a rerun ran $jobs jobs")
    assert(files == files0, "the state directory was rewritten")
    assert(state == state0, "updated_at or a watermark changed")
  }

  test("an increment leaves the session serializable (tasks that capture it still ship)") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Checkpoints.release(Incremental.runIncremental(spark, mkInput(1 to 10), st, out, Incremental.Truncated, specOrd))
    // Spark ML models keep their training summary, which holds the session,
    // and their transform closures capture the model
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream).writeObject(spark)
  }

  test("missing watermark metrics fail the run loudly instead of standing in as an empty map") {
    val st = "/state/of/this/table"
    val timedOut = intercept[IllegalStateException] {
      Incremental.observedMaxima(Promise[Row]().future, 50.millis, st)
    }
    assert(timedOut.getMessage.contains(st))
    val failed = intercept[IllegalStateException] {
      Incremental.observedMaxima(Future.failed(new RuntimeException("boom")), 1.second, st)
    }
    assert(failed.getMessage.contains(st))
    val other = new GenericRowWithSchema(Array(1L), StructType(Seq(StructField("rows", LongType))))
    Seq(Row.empty, other).foreach { row =>
      val e = intercept[IllegalStateException](Incremental.observedMaxima(Future.successful(row), 1.second, st))
      assert(e.getMessage.contains(st))
    }
    val present = new GenericRowWithSchema(Array(Map("A" -> 5L)),
      StructType(Seq(StructField("max_ts", MapType(StringType, LongType)))))
    assert(Incremental.observedMaxima(Future.successful(present), 1.second, st) == Map("A" -> 5L))
  }

  test("a crash mid-swap leaves only <state>_bak: the next run resumes from it and promotes it") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Checkpoints.release(Incremental.runIncremental(spark, mkInput(1 to 12), st, out, Incremental.Truncated, specOrd))
    val (state, bak) = (java.nio.file.Paths.get(st), java.nio.file.Paths.get(st + "_bak"))
    // the swap renamed <state> to <state>_bak, then died before the promote
    Files.move(state, bak)
    val second = Incremental.runIncremental(spark, mkInput(1 to 20), st, out, Incremental.Truncated, specOrd)
    assert(second.count() == 8)
    Checkpoints.release(second)
    val keys = spark.read.parquet(out).select("symbol_date_key").collect().map(_.getString(0))
    assert(keys.length == 20 && keys.distinct.length == 20, "a processed row was written twice")
    assert(Files.isDirectory(state) && !Files.exists(bak), "<state> not promoted or _bak left behind")
    val wm = Incremental.readWatermarks(spark, st).collect()
    assert(wm.length == 1 && wm.head.getAs[java.sql.Timestamp]("last_processed_timestamp").toString.startsWith("2024-01-20"))
  }

  test("historyBound keeping >= maxFrame-1 rows per symbol leaves every indicator unchanged") {
    val input = asParquet(series(Seq("A", "B"), 0 until 330))
    val boot = input.filter(col("trading_date") < lit(day0.plusDays(300).toString))
    def run(bound: Option[org.apache.spark.sql.Column]) = {
      val (st, out) = (tmp() + "/wm", tmp() + "/out")
      Checkpoints.release(Incremental.runIncremental(spark, boot, st, out, Incremental.OverlapReload, specOrd))
      val inc = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd, bound)
      val rows = inc.select((Seq("symbol_date_key") ++ Indicators.indicatorCols).map(col): _*)
        .orderBy("symbol_date_key").collect().toSeq
      Checkpoints.release(inc)
      rows
    }
    val unbounded = run(None)
    // day 95 leaves 204 history rows per symbol (days 95..299)
    val bounded = run(Some(col("timestamp") >= tsOf(95)))
    assert(unbounded.size == 60)
    assert(bounded == unbounded)
    // a bound that keeps too few rows does change the first increment rows:
    // the contract is load-bearing, not vacuous
    val tooTight = run(Some(col("timestamp") >= tsOf(250)))
    assert(tooTight != unbounded)
  }

  test("historyBound: late rows are never written; fresh rows older than the bound are") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    val boot = series(Seq("A"), (0 until 250).filter(_ != 120))
    Checkpoints.release(
      Incremental.runIncremental(spark, asParquet(boot), st, out, Incremental.OverlapReload, specOrd))
    // day 120 of A lands late (before A's watermark, inside the bound);
    // symbol N is new, and all its rows predate the bound
    val next = asParquet(series(Seq("A"), 0 until 260).unionByName(series(Seq("N"), 0 until 30)))
    Checkpoints.release(Incremental.runIncremental(spark, next, st, out, Incremental.OverlapReload, specOrd,
      Some(col("timestamp") >= tsOf(40))))
    val keys = spark.read.parquet(out).select("symbol_date_key").collect().map(_.getString(0)).toSet
    assert(!keys.contains(s"A_${day0.plusDays(120)}"), "late row was written")
    assert(keys.size == 249 + 10 + 30)
    assert((0 until 30).forall(i => keys.contains(s"N_${day0.plusDays(i)}")))
    val wm = Incremental.readWatermarks(spark, st).collect()
      .map(r => r.getString(0) -> r.get(1).toString).toMap
    assert(wm("A").startsWith(day0.plusDays(259).toString) && wm("N").startsWith(day0.plusDays(29).toString))
  }

  /** Every row of a processed table, in key order. */
  private def table(out: String) = {
    val df = spark.read.parquet(out)
    df.select(df.columns.sorted.map(col).toSeq: _*).orderBy("symbol_date_key").collect().toSeq
  }

  private def watermarks(st: String) = Incremental.readWatermarks(spark, st).collect()
    .map(r => r.getString(0) -> r.get(1)).toMap

  /** The table and watermarks of the booted increment run without a crash. */
  private lazy val uninterrupted = {
    val (input, st, out) = bootedIncrement()
    Checkpoints.release(Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd))
    (table(out), watermarks(st))
  }

  /** Run the booted increment's steps up to `crash`, then stop, as a killed
    * driver would; then rerun the increment in full. The table must hold
    * every row once, equal to an uninterrupted run, with its watermarks.
    */
  private def recoversFrom(crash: String): Unit = {
    val (input, st, out) = bootedIncrement()
    val state = Incremental.recover(spark, st, out, TimestampType)
    val staged = Incremental.stage(input, state, Incremental.OverlapReload, specOrd, None, out, st)
    Checkpoints.release(staged.rows)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$out/_staging/${staged.runId}")
    if (crash != "staged") assert(Incremental.commit(spark, st, out, state, staged))
    if (crash == "mid-publish") {
      // publish's own moves, for half of the staged data files
      val it = fs.listFiles(staging, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filterNot(_.getName.startsWith("_")).toSeq
      assert(files.size == 2)
      val src = files.head
      val dst = new org.apache.hadoop.fs.Path(out, s"${src.getParent.getName}/${src.getName}")
      assert(fs.rename(src, dst))
    }
    assert(fs.exists(staging))
    assert(spark.read.parquet(out).count() == 560 + (if (crash == "mid-publish") 20 else 0),
      "a reader saw staged rows")
    val rerun = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd)
    // rows of a committed run are published by recovery, not processed again
    assert(rerun.count() == (if (crash == "staged") 40 else 0))
    Checkpoints.release(rerun)
    val keys = spark.read.parquet(out).select("symbol_date_key").collect().map(_.getString(0))
    assert(keys.length == 600 && keys.distinct.length == 600, s"${keys.length} rows, ${keys.distinct.length} keys")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/_staging")).isEmpty, "staging left behind")
    val (expectedRows, expectedMarks) = uninterrupted
    assert(watermarks(st) == expectedMarks)
    assert(table(out) == expectedRows)
  }

  test("a crash after staging: the next run discards the staged files and processes the increment once") {
    recoversFrom("staged")
  }

  test("a crash after the commit record: the next run publishes the staged files once") {
    recoversFrom("committed")
  }

  test("a crash mid-publish: the next run moves the rest and never a file twice") {
    recoversFrom("mid-publish")
  }

  test("a state dir holding the parquet table of earlier versions (or its _bak) is read once and replaced") {
    Seq("", "_bak").foreach { suffix =>
      val (st, out) = (tmp() + "/wm", tmp() + "/out")
      val at = java.sql.Timestamp.valueOf("2024-01-12 00:00:00")
      Seq(("S", at, at)).toDF("symbol", "last_processed_timestamp", "updated_at")
        .coalesce(1).write.parquet(st + suffix)
      val second = Incremental.runIncremental(spark, mkInput(1 to 20), st, out, Incremental.Truncated, specOrd)
      val days = second.select("trading_date").collect().map(_.getDate(0).toString).sorted.toSeq
      Checkpoints.release(second)
      assert(days == (13 to 20).map(i => f"2024-01-$i%02d"), s"state in <state>$suffix was not read")
      val left = Files.list(java.nio.file.Paths.get(st)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filterNot(_.startsWith("."))
      assert(left == Seq("v1.json"), s"state dir holds ${left.mkString(", ")}")
      assert(!Files.exists(java.nio.file.Paths.get(st + "_bak")))
      assert(watermarks(st)("S").toString.startsWith("2024-01-20"))
    }
  }

  test("5,000 symbols: a hashed watermark lookup, with the rows and state of the map-literal lookup") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    val symbols = (0 until 5000).map(i => f"S$i%05d")
    // known symbols were processed through day 3, except every 50th,
    // processed through day 2; 50 symbols are new
    val marks = symbols.zipWithIndex.map { case (s, i) =>
      s -> Incremental.micros(java.time.Instant.parse(s"${day0.plusDays(if (i % 50 == 0) 2 else 3)}T00:00:00Z"))
    }.toMap
    Incremental.writeState(spark, st, Incremental.State(1, TimestampType,
      marks.map { case (s, t) => s -> Incremental.Mark(t, 0L) }, None))
    val input = asParquet(series(symbols ++ (0 until 50).map(i => s"N$i"), 0 until 4))
    val plan = Incremental.process(input, marks, Incremental.Truncated, specOrd, None).queryExecution
    Seq(plan.optimizedPlan, plan.sparkPlan).foreach { p =>
      val exprs = p.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
      assert(!exprs.exists { case ElementAt(_: Literal, _, _, _) => true; case _ => false },
        s"element_at over a map literal:\n$p")
      assert(exprs.exists(_.isInstanceOf[WatermarkLookup]), s"no hashed lookup:\n$p")
    }
    val inc = Incremental.runIncremental(spark, input, st, out, Incremental.Truncated, specOrd)
    // the lookup it replaces: element_at over a map literal
    val wm = timestamp_micros(element_at(typedLit(marks), col("symbol")))
    val fresh = input.filter(wm.isNull || col("timestamp") > wm)
    val expected = Indicators.withIndicators(fresh, Window.partitionBy("symbol").orderBy(specOrd.map(col): _*))
      .withColumn("symbol_date_key", Clean.compositeKey(col("symbol"), col("trading_date")))
    val cols = inc.columns.sorted.map(col).toSeq
    val got = inc.select(cols: _*).orderBy("symbol_date_key").collect().toSeq
    Checkpoints.release(inc)
    assert(got.size == 100 + 200)
    assert(got == expected.select(cols: _*).orderBy("symbol_date_key").collect().toSeq)
    val raised = fresh.groupBy("symbol").agg(unix_micros(max(col("timestamp")))).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(watermarks(st).map { case (s, t) => s -> Incremental.micros(t) } == marks ++ raised)
    assert(table(out) == got)
  }

  /** Every column chunk under `dir` is zstd and every column in `tsCols` is
    * INT64 TIMESTAMP(MICROS, adjusted to UTC): the session's write policy.
    */
  private def assertWritePolicy(dir: String, tsCols: String*): Unit = {
    val files = ParquetFooters.under(spark, dir)
    assert(files.exists(_._2.getBlocks.size > 0), s"no row group under $dir")
    val micros = LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
    files.foreach { case (p, f) =>
      val codecs = f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      assert(codecs.forall(_ == CompressionCodecName.ZSTD), s"$p has $codecs chunks")
      tsCols.foreach { c =>
        val t = ParquetFooters.physicalType(f, c)
        assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && t.getLogicalTypeAnnotation == micros,
          s"$p stores $c as $t")
      }
    }
  }

  /** Every data file under `dir` stores each of `cols` DELTA_BINARY_PACKED,
    * the writer v2 encoding of an integer column whose dictionary does not
    * pay. */
  private def assertDeltaPacked(dir: String, cols: String*): Unit =
    ParquetFooters.under(spark, dir).filter(_._2.getBlocks.size > 0).foreach { case (p, f) =>
      cols.foreach { c =>
        val enc = ParquetFooters.encodings(f, c)
        assert(enc.contains(Encoding.DELTA_BINARY_PACKED), s"$p stores $c as $enc")
      }
    }

  test("the processed table and the stream sink are zstd with INT64 TIMESTAMP(MICROS) timestamps") {
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    Checkpoints.release(
      Incremental.runIncremental(spark, mkInput(1 to 12), st, out, Incremental.Truncated, specOrd))
    assertWritePolicy(out, "timestamp")
    assertDeltaPacked(out, "timestamp", "trading_date")
    val mem = MemoryStream[String](spark)
    mem.addData("""{"ticker":"AAPL","date":"2024-01-01","open":1.0,"high":1.0,"low":1.0,"close":1.0,""" +
      """"volume":10,"timestamp":"2024-01-01 00:00:00"}""")
    val (sink, ckpt) = (tmp() + "/sink", tmp() + "/ckpt")
    assert(MicroBatch.idempotentSink(MicroBatch.decode(mem.toDF()), sink, ckpt).awaitTermination(60000))
    assertWritePolicy(sink, "consumed_at")
    assertDeltaPacked(sink, "volume")
  }

  test("a timestamp predicate past the bootstrap watermark reads only the increment's records") {
    val (input, st, out) = bootedIncrement()
    val wm = Incremental.readState(spark, st).marks.values.map(_.micros).toSet
    assert(wm.size == 1, s"the booted symbols end on different days: $wm")
    Checkpoints.release(Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd))
    var rows = 0
    val read = work {
      rows = spark.read.parquet(out).filter(col("timestamp") > timestamp_micros(lit(wm.head))).collect().length
    }.records
    // the bootstrap's row groups end at the watermark, so their statistics
    // skip them; without statistics the scan reads all 600 rows
    assert(rows == 40)
    assert(read == 40, s"read $read of the table's 600 records")
  }

  test("a table written under snappy/INT96 reads back unchanged after an increment under the current policy") {
    val input = asParquet(series(Seq("A", "B"), 0 until 300))
    val boot = input.filter(col("trading_date") < lit(day0.plusDays(280).toString))
    def run(st: String, out: String, in: DataFrame) =
      Checkpoints.release(Incremental.runIncremental(spark, in, st, out, Incremental.OverlapReload, specOrd))
    // bootstrap under the settings tables were written with before the
    // policy, then the increment under the policy
    val (st, out) = (tmp() + "/wm", tmp() + "/out")
    val legacy = Seq("spark.sql.parquet.compression.codec" -> "snappy",
      "spark.sql.parquet.outputTimestampType" -> "INT96", "parquet.writer.version" -> "v1")
    val current = legacy.map { case (k, _) => k -> spark.conf.get(k) }
    legacy.foreach { case (k, v) => spark.conf.set(k, v) }
    try run(st, out, boot) finally current.foreach { case (k, v) => spark.conf.set(k, v) }
    run(st, out, input)
    // (timestamp type, codec, writer v2's delta-packed dates)
    val layouts = ParquetFooters.under(spark, out).map { case (_, f) =>
      (ParquetFooters.physicalType(f, "timestamp").getPrimitiveTypeName,
        f.getBlocks.get(0).getColumns.get(0).getCodec,
        ParquetFooters.encodings(f, "trading_date").contains(Encoding.DELTA_BINARY_PACKED))
    }.toSet
    assert(layouts == Set((PrimitiveTypeName.INT96, CompressionCodecName.SNAPPY, false),
      (PrimitiveTypeName.INT64, CompressionCodecName.ZSTD, true)), s"layouts $layouts")
    // the same two runs, both under the policy
    val (refSt, refOut) = (tmp() + "/wm", tmp() + "/out")
    run(refSt, refOut, boot)
    run(refSt, refOut, input)
    val expected = table(refOut)
    assert(expected.size == 600)
    assert(table(out) == expected)
    // the watermarks committed over the legacy files still skip them
    val rerun = Incremental.runIncremental(spark, input, st, out, Incremental.OverlapReload, specOrd)
    assert(rerun.count() == 0)
    Checkpoints.release(rerun)
    assert(table(out) == expected)
  }

  test("WatermarkLookup: generated and interpreted code agree, nulls included") {
    val marks = Map("A" -> 5L, "B" -> -7L)
    // the exchange keeps the optimizer from folding the projection into
    // the local relation, which it would evaluate interpreted
    val df = Seq[String]("A", "B", "C", null).toDF("symbol").repartition(1)
      .select(col("symbol"), WatermarkLookup.column(col("symbol"), marks, TimestampType).as("wm"))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    def eval(settings: String*) = {
      keys.zip(settings).foreach { case (k, v) => spark.conf.set(k, v) }
      try df.collect().map(r => Option(r.getString(0)) -> Option(r.get(1)).map(Incremental.micros)).toMap
      finally keys.foreach(spark.conf.unset)
    }
    val expected = Map(Some("A") -> Some(5L), Some("B") -> Some(-7L), Some("C") -> None, None -> None)
    assert(eval("true", "CODEGEN_ONLY") == expected)
    assert(eval("false", "NO_CODEGEN") == expected)
  }

  /** Run `body` with the session `settings`, then restore each key's
    * previous value (or unset it).
    */
  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val Advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
  private val OpenCost = SQLConf.FILES_OPEN_COST_IN_BYTES.key
  private def sqlConf = spark.range(1).queryExecution.sparkSession.sessionState.conf

  /** Every row of a processed table in key order, each double as its bits. */
  private def bits(out: String) = table(out).map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  /** A bootstrap, then three increments: before each run `land` lands its
    * days as new input files (none for an empty `Seq`), and `input()` reads
    * the whole input. Each run goes under the single-task plan and the
    * forced split plan in all three modes, each with a state and an output
    * directory of its own. A single-task run is one job and a split run
    * `splitJobs`; both plans write the same rows bit for bit with the same
    * watermarks. Returns the output directory of the single-task truncated
    * runs.
    */
  private def assertPlansAgree(landings: Seq[Seq[Int]], land: Seq[Int] => Unit, input: () => DataFrame,
      splitJobs: Int): String = {
    val modes = Seq(
      "truncated" -> (Incremental.Truncated, None),
      "overlap_unbounded" -> (Incremental.OverlapReload, None),
      "overlap_bounded" -> (Incremental.OverlapReload, Some(col("timestamp") >= tsOf(80))))
    val dirs = (for ((m, _) <- modes; split <- Seq(false, true))
      yield (m, split) -> (tmp() + "/wm", tmp() + "/out")).toMap
    landings.foreach { days =>
      if (days.nonEmpty) land(days)
      for ((m, (mode, bound)) <- modes; split <- Seq(false, true)) {
        val (st, out) = dirs(m -> split)
        // read outside the counted work: schema inference runs a job
        val in = input()
        def run() = Incremental.runIncremental(spark, in, st, out, mode, specOrd, bound)
        var inc: DataFrame = null
        // an advisory size under any file's open cost forces the split plan
        val jobs = work { inc = if (split) withConf(Advisory -> "1k")(run()) else run() }.jobs
        Checkpoints.release(inc)
        // each of the split plan's exchanges runs its map side as a job of its own
        assert(jobs == (if (split) splitJobs else 1), s"$m split=$split: $jobs jobs")
      }
    }
    modes.foreach { case (m, _) =>
      val (single, split) = (dirs(m -> false), dirs(m -> true))
      assert(bits(single._2) == bits(split._2), s"$m: the plans wrote different rows")
      val (a, b) = (Incremental.readState(spark, single._1), Incremental.readState(spark, split._1))
      assert(a.version == landings.size && b.version == landings.size && a.tsType == b.tsType &&
        a.micros == b.micros, s"$m: watermarks differ: ${a.micros} vs ${b.micros}")
    }
    dirs("truncated" -> false)._2
  }

  test("the single-task plan writes the split plan's rows bit for bit, with the same watermarks") {
    // few input files: each file's open cost counts against the advisory
    // size, and 16 files alone would fill it
    val inDir = tmp() + "/in"
    series(Seq("A", "B", "C"), 0 until 300).coalesce(2).write.parquet(inDir)
    val out = assertPlansAgree(Seq(Nil, 300 until 310, 310 until 320, 320 until 330),
      days => series(Seq("A", "B", "C"), days).coalesce(1).write.mode("append").parquet(inDir),
      () => spark.read.parquet(inDir), splitJobs = 2)
    assert(spark.read.parquet(out).count() == 990)
  }

  test("a fitting input's own dedup runs in the single task, bit for bit as the split plan") {
    // the daily increment's shape: history ∪ a landing that carries
    // redelivered copies, deduplicated by the caller
    val (histDir, landDir) = (tmp() + "/raw", tmp() + "/landing")
    val symbols = Seq("A", "B", "C")
    series(symbols, 0 until 300).coalesce(2).write.parquet(histDir)
    val out = assertPlansAgree(Seq(300 until 301, 301 until 311, 311 until 321, 321 until 331),
      days => series(symbols, days).unionByName(series(symbols, days.take(3))).coalesce(1)
        .write.mode("append").parquet(landDir),
      () => spark.read.parquet(histDir).unionByName(spark.read.parquet(landDir).dropDuplicates()),
      // the landing dedup's exchange and the window's
      splitJobs = 3)
    assert(spark.read.parquet(out).count() == 3 * 331)
  }

  /** Whether `process` plans `input` split, with a hash exchange, rather
    * than as one task: no exchange, at least one coalesce, each to one
    * partition, and every file scan under one. Exactly one of the two holds.
    */
  private def splits(input: DataFrame): Boolean = {
    val p = Incremental.process(input, Map.empty, Incremental.OverlapReload, specOrd, None)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val hashed = p.collect { case e: ShuffleExchangeExec => e }.nonEmpty
    val coalesces = p.collect { case c: CoalesceExec => c }
    val scans = p.collect { case s: FileSourceScanExec => s }
    val oneTask = !hashed && coalesces.nonEmpty && coalesces.forall(_.numPartitions == 1) &&
      coalesces.flatMap(_.collect { case s: FileSourceScanExec => s }).toSet == scans.toSet
    assert(hashed != oneTask, s"expected exactly one of an exchange and the one-task plan:\n$p")
    hashed
  }

  test("an input whose files' open cost exceeds the advisory size keeps the exchange") {
    def filesOf(n: Int) = asParquet(series(Seq("A", "B"), 0 until 30).repartition(n))
    val (two, three) = (filesOf(2), filesOf(3))
    assert(two.inputFiles.length == 2 && three.inputFiles.length == 3)
    assert(!splits(three))
    // three files' open cost alone is over the advisory size, two files' is not
    val advisory = sqlConf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    withConf(OpenCost -> (advisory / 3 + 1).toString) {
      assert(splits(three))
      assert(!splits(two))
    }
  }

  test("an input of unknown size keeps the exchange") {
    val local = series(Seq("A", "B"), 0 until 30)
    val overRdd = spark.createDataFrame(local.rdd, local.schema)
    assert(overRdd.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(Long.MaxValue))
    assert(splits(overRdd))
    assert(!splits(local))
  }

  test("an input whose plan holds a Generate keeps the exchange; the same input without it is one task") {
    val input = asParquet(series(Seq("A", "B"), 0 until 30))
    // ten rows per input row, estimated at no more than the input's size
    val exploded = input.withColumn("_rep", explode(sequence(lit(1), lit(10)))).drop("_rep")
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(exploded) <= size(input))
    assert(splits(exploded))
    assert(!splits(input))
  }

  test("an input just over the advisory size keeps the exchange; one at it is one task") {
    val input = asParquet(series(Seq("A", "B"), 0 until 30))
    val size = input.queryExecution.optimizedPlan.stats.sizeInBytes +
      BigInt(input.inputFiles.length) * sqlConf.filesOpenCostInBytes
    withConf(Advisory -> size.toString)(assert(!splits(input)))
    withConf(Advisory -> (size - 1).toString)(assert(splits(input)))
  }

  test("fitsOneTask: size plus files × open cost at most the advisory size") {
    val (advisory, open) = (64L << 20, 4L << 20)
    def fits(size: BigInt, files: Int) = Incremental.fitsOneTask(size, files, advisory, open)
    assert(fits(0, 0))
    assert(fits(advisory, 0) && !fits(advisory + 1, 0))
    assert(fits(advisory - 2 * open, 2) && !fits(advisory - 2 * open + 1, 2))
    assert(fits(0, 16) && !fits(0, 17))
    assert(!fits(Long.MaxValue, 0))
    // no overflow at the extremes
    assert(!Incremental.fitsOneTask(0, Int.MaxValue, Long.MaxValue, Long.MaxValue))
    // the file count is evaluated only when the size alone fits
    assert(!Incremental.fitsOneTask(advisory + 1, fail("file count evaluated"), advisory, open))
    var evaluated = false
    assert(Incremental.fitsOneTask(advisory - open, { evaluated = true; 1 }, advisory, open) && evaluated)
  }
}
