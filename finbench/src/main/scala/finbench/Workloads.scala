package finbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.concurrent.{Executors, Future}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Clean, Incremental, Indicators}
import graft.streaming.MicroBatch

/** One timed operation: its latency samples (one, or one per micro-batch),
  * the rows it produced, its wall time, the CPU time it took and, for
  * mixes, its kind.
  */
final case class OpResult(latenciesMs: Seq[Double], rows: Long, wallNs: Long, cpu: Cpu.Stamp,
    kind: String = "", runId: String = "")

/** A closed-loop workload with one client: `setup` builds the inputs and
  * state from the seed, `warmUp` runs untimed work so JIT and codegen are
  * warm before timing, `op` runs one operation and `check` verifies
  * everything written or answered.
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val seed: Long, val dir: String) {
  def setup(): Unit
  def op(i: Int): OpResult
  def check(): Seq[String]
  /** The table this workload writes or serves. */
  def tableDir: String
  def tableRows: Long
  def warmUp(): Unit = op(-1)
  def close(): Unit = ()

  /** `body`'s value, wall time in ns and CPU time. */
  protected def timed[T](body: => T): (T, Long, Cpu.Stamp) = {
    val c0 = Cpu.now()
    val t0 = System.nanoTime()
    val v = body
    val ns = System.nanoTime() - t0
    (v, ns, Cpu.since(c0))
  }
}

/** The engine pipeline pieces every workload shares, called only through
  * the engine's public operators.
  */
object Pipeline {
  val rawSchema: StructType = StructType(
    Seq("symbol", "date", "open", "high", "low", "close", "volume", "timestamp")
      .map(StructField(_, StringType)))

  /** Rows in generated order; the local relation splits them into the
    * session's default parallelism, so the files are a function of the seed.
    */
  def rawFrame(spark: SparkSession, bars: Seq[Bar]): DataFrame =
    spark.createDataFrame(bars.map(b => Row.fromSeq(b.rawFields)).asJava, rawSchema)

  /** `Clean` on the raw strings: salvage the trading date, type the
    * timestamp, cast OHLCV to double and drop rows that did not parse.
    */
  def clean(tr: Tracer, raw: DataFrame): DataFrame = tr.span("clean") {
    val dated = raw.withColumn("trading_date", Clean.salvageDate(col("date")))
      .withColumn("timestamp", to_timestamp(col("timestamp")))
      .drop("date")
    Clean.dropNullRows(Clean.castNumeric(dated))
  }

  /** (symbol, trading_date) is unique in every generated series. */
  val order: Seq[String] = Seq("trading_date")
  val window = Window.partitionBy("symbol").orderBy(order.map(col): _*)

  def readOut(spark: SparkSession, dir: String, filter: DataFrame => DataFrame = identity): Seq[OutRow] =
    outRows(filter(spark.read.parquet(dir)))

  def outRows(df: DataFrame): Seq[OutRow] =
    df.select((Seq("symbol", "trading_date", "symbol_date_key", "close") ++ Oracle.cols).map(col): _*)
      .collect().toSeq.map { r =>
        OutRow(r.getString(0), r.getDate(1).toLocalDate, r.getString(2), r.getDouble(3),
          Oracle.cols.indices.map(c => if (r.isNullAt(4 + c)) None else Some(r.getDouble(4 + c))))
      }

  def truthOf(bars: Array[Bar]): Array[Bar] = bars.filterNot(_.corrupt)

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }
}

/** etl_backfill: raw table → Clean → Indicators → composite key → processed
  * table overwritten, partitioned by symbol.
  */
final class Backfill(spark: SparkSession, tr: Tracer, seed: Long, dir: String)
    extends Workload(spark, tr, seed, dir) {
  import Backfill._
  private val rawDir = s"$dir/raw"
  val tableDir = s"$dir/processed"
  private var universe: Array[Array[Bar]] = _
  var tableRows = 0L

  def setup(): Unit = {
    universe = Gen.backfill(seed, Symbols, LongShare, LongDays, CorruptShare)
    Pipeline.rawFrame(spark, universe.toSeq.flatten).write.mode(SaveMode.Overwrite).parquet(rawDir)
    tableRows = universe.map(Pipeline.truthOf(_).length.toLong).sum
  }

  def op(i: Int): OpResult = {
    val (_, ns, cpu) = timed(tr.span("op") {
      val cleaned = Pipeline.clean(tr, spark.read.parquet(rawDir))
      val ind = tr.span("indicators")(Indicators.withIndicators(cleaned, Pipeline.window))
      val keyed = ind.withColumn("symbol_date_key", Clean.compositeKey(col("symbol"), col("trading_date")))
      tr.span("sink")(keyed.write.mode(SaveMode.Overwrite).partitionBy("symbol").parquet(tableDir))
      tr.count("rows_out", tableRows.toDouble)
    })
    OpResult(Seq(ns / 1e6), tableRows, ns, cpu)
  }

  /** Row count and keys of the whole table, and every indicator of a
    * seeded sample of symbols (always including the longest history).
    */
  def check(): Seq[String] = {
    val r = new SplittableRandom(seed ^ 0x5EED)
    val longest = universe.indices.maxBy(universe(_).length)
    val sample = (Seq(longest) ++ Seq.fill(SampleSymbols - 1)(r.nextInt(universe.length))).distinct
    val truth = sample.map(i => Gen.symbol(i) -> Pipeline.truthOf(universe(i))).toMap
    val keys = spark.read.parquet(tableDir).select("symbol_date_key").collect().map(_.getString(0)).toSeq
    val countErr = if (keys.length != tableRows) Seq(s"table has ${keys.length} rows, expected $tableRows") else Nil
    countErr ++ Checks.uniqueKeys(keys) ++
      Checks.indicators(truth, Pipeline.readOut(spark, tableDir, _.filter(col("symbol").isin(truth.keys.toSeq: _*))))
  }
}

object Backfill {
  val Symbols = 16
  val LongShare = 0.03
  val LongDays = 5040 // 20 years of trading days
  val CorruptShare = 0.005
  val SampleSymbols = 4
}

/** The processed table kept current by daily increments: a bootstrap run
  * over `BootDays` of history, then one landed trading day per `cycle`.
  * Each landing also carries late rows (corrections dated older than the
  * watermark and the history bound, which the watermark must skip) and
  * redelivered copies of the day's rows (dropped by the landing dedup).
  */
final class DailyTable(spark: SparkSession, tr: Tracer, seed: Long, dir: String, symbols: Int) {
  import DailyTable._
  private val days = Gen.tradingDays(Gen.firstDay, BootDays + MaxCycles)
  private val series = Array.tabulate(symbols)(i => Gen.series(seed, i, days, CorruptShare))
  private val rawDir = s"$dir/raw"
  private val landDir = s"$dir/landing"
  val outDir = s"$dir/processed"
  private val stateDir = s"$dir/state/watermarks"
  private var cycles = 0
  private var late = Vector.empty[Bar]

  def bootstrap(): Unit = {
    Pipeline.rawFrame(spark, series.toSeq.flatMap(_.take(BootDays))).write.parquet(rawDir)
    Incremental.runIncremental(spark, Pipeline.clean(tr, spark.read.parquet(rawDir)), stateDir,
      outDir, Incremental.OverlapReload, Pipeline.order).unpersist()
  }

  /** Landing-day bars are delivered clean; only bootstrap history has corrupt rows. */
  private def dayBars(d: Int): Seq[Bar] = series.toSeq.map(_(d).copy(corrupt = false))

  /** One day landed → indicators written → watermark advanced. Returns new rows. */
  def cycle(): Long = {
    val d = BootDays + cycles
    require(cycles < MaxCycles, s"DailyTable ran out of generated days after $cycles cycles")
    val r = new SplittableRandom(seed * 31 + d)
    val today = dayBars(d)
    val dups = today.filter(_ => r.nextDouble() < RedeliverShare)
    val lateRows = series.toSeq.filter(_ => r.nextDouble() < LateShare).map { s =>
      val b = s(d - LateMin - r.nextInt(LateMax - LateMin))
      b.copy(close = math.rint(b.close * 105) / 100, corrupt = false)
    }
    late ++= lateRows
    tr.span("land") {
      Pipeline.rawFrame(spark, today ++ dups ++ lateRows).coalesce(1).write.mode(SaveMode.Append).parquet(landDir)
      tr.count("landed_distinct", (today.length + lateRows.length).toDouble)
    }
    val landed = spark.read.parquet(landDir).dropDuplicates()
    val input = Pipeline.clean(tr, spark.read.parquet(rawDir).unionByName(landed))
    // keeps HistoryRows ≥ maxFrame−1 trading rows of history per symbol
    val bound = col("timestamp") >= lit(s"${days(d - HistoryRows)} 00:00:00").cast("timestamp")
    tr.span("incremental") {
      Incremental.runIncremental(spark, input, stateDir, outDir, Incremental.OverlapReload,
        Pipeline.order, Some(bound)).unpersist()
    }
    cycles += 1
    tr.count("rows_out", symbols.toDouble)
    symbols.toLong
  }

  /** True series per symbol: clean bootstrap history plus the landed days. */
  def truth: Map[String, Array[Bar]] =
    series.map(s => s.head.symbol -> (Pipeline.truthOf(s.take(BootDays)) ++ s.slice(BootDays, BootDays + cycles)
      .map(_.copy(corrupt = false)))).toMap

  def rows: Long = truth.values.map(_.length.toLong).sum

  /** Increments equal a batch backfill of the true series (bar for bar,
    * except OBV), with no late row and no duplicate key in the table.
    */
  def check(): Seq[String] = {
    val t = truth
    val truthBars = t.values.flatten.toSeq
    val firstNew = days(BootDays)
    val back = Pipeline.outRows(
      Indicators.withIndicators(Pipeline.clean(tr, Pipeline.rawFrame(spark, truthBars)), Pipeline.window)
        .withColumn("symbol_date_key", Clean.compositeKey(col("symbol"), col("trading_date")))
        .filter(col("trading_date") >= lit(firstNew.toString).cast("date")))
    val all = Pipeline.readOut(spark, outDir)
    val inc = all.filter(r => !r.date.isBefore(firstNew))
    val expected = t.values.flatMap(_.filter(b => !b.date.isBefore(firstNew)).map(b => s"${b.symbol}_${b.dateStr}")).toSet
    val countErr = if (all.length != rows) Seq(s"table has ${all.length} rows, expected $rows") else Nil
    countErr ++ Checks.incrementsMatchBackfill(inc, back, expected, late, all)
  }
}

object DailyTable {
  val BootDays = 320 // 15 months of trading days
  val MaxCycles = 400
  val CorruptShare = 0.002
  val RedeliverShare = 0.02
  val LateShare = 0.02
  val HistoryRows = 230
  // late corrections are dated 240..299 trading days before their landing
  // day: older than the watermark and than the history bound
  val LateMin = 240
  val LateMax = 300
}

/** daily_incremental: one landed day per operation on a bootstrapped table. */
final class Daily(spark: SparkSession, tr: Tracer, seed: Long, dir: String)
    extends Workload(spark, tr, seed, dir) {
  private val table = new DailyTable(spark, tr, seed, dir, Daily.Symbols)
  def tableDir: String = table.outDir
  def tableRows: Long = table.rows

  def setup(): Unit = table.bootstrap()

  def op(i: Int): OpResult = {
    val (rows, ns, cpu) = timed(tr.span("op")(table.cycle()))
    OpResult(Seq(ns / 1e6), rows, ns, cpu)
  }

  def check(): Seq[String] = table.check()
}

object Daily {
  val Symbols = 12
}

/** serving_queries: read-only mix on a table built by one backfill plus
  * `Increments` daily increments, symbols drawn Zipf(1.1).
  */
final class Serving(spark: SparkSession, tr: Tracer, seed: Long, dir: String)
    extends Workload(spark, tr, seed, dir) {
  import Serving._
  private val table = new DailyTable(spark, tr, seed, dir, Symbols)
  private var truth: Map[String, Array[Bar]] = _
  private var syms: IndexedSeq[String] = _
  private val zipf = new Gen.Zipf(seed, Symbols, 1.1)
  private val r = new SplittableRandom(seed ^ 0x5E4E)
  private var failures = Vector.empty[String]
  def tableDir: String = table.outDir
  def tableRows: Long = table.rows

  def setup(): Unit = {
    table.bootstrap()
    (1 to Increments).foreach(_ => table.cycle())
    truth = table.truth
    syms = truth.keys.toIndexedSeq.sorted
  }

  /** Warm every query kind, not just the one the mix draws first. */
  override def warmUp(): Unit = Kinds.indices.foreach(query)

  def op(i: Int): OpResult = {
    val u = r.nextDouble()
    query(Weights.scanLeft(0.0)(_ + _).tail.indexWhere(u < _))
  }

  private def query(kind: Int): OpResult = {
    val ((rows, err), ns, cpu) = timed(tr.span("op") {
      val df = spark.read.parquet(tableDir)
      val (n, e) = Kinds(kind) match {
        case "symbol_history" =>
          val bars = truth(syms(zipf.next()))
          val k = r.nextInt(bars.length - HistoryDays)
          val (from, to) = (bars(k).date, bars(k + HistoryDays - 1).date)
          val got = df.filter(col("symbol") === bars.head.symbol &&
              col("trading_date").between(lit(from.toString).cast("date"), lit(to.toString).cast("date")))
            .orderBy("trading_date").collect()
          (got.length, Checks.history(bars, from, to,
            got.toSeq.map(x => (x.getAs[java.sql.Date]("trading_date").toLocalDate, x.getAs[Double]("close")))))
        case "latest_snapshot" =>
          val got = df.withColumn("_rn", row_number().over(
              Window.partitionBy("symbol").orderBy(desc("trading_date"))))
            .filter(col("_rn") === 1).drop("_rn").collect()
          (got.length, Checks.latest(truth, got.toSeq.map(x =>
            (x.getAs[String]("symbol"), x.getAs[java.sql.Date]("trading_date").toLocalDate, x.getAs[Double]("close")))))
        case "top_movers" =>
          val bars = truth(syms(zipf.next()))
          val date = bars(bars.length - 1 - r.nextInt(MoverDays)).date
          val got = df.filter(col("trading_date") === lit(date.toString).cast("date"))
            .orderBy(desc("day_change_pct")).limit(10).collect()
          (got.length, Checks.topMovers(truth, date,
            got.toSeq.map(x => (x.getAs[String]("symbol"), x.getAs[Double]("day_change_pct")))))
        case "symbols_list" =>
          val got = df.select("symbol").distinct().orderBy("symbol").collect()
          (got.length, Checks.symbols(truth, got.toSeq.map(_.getString(0))))
      }
      tr.count("rows_out", n.toDouble)
      (n, e)
    })
    failures ++= err
    OpResult(Seq(ns / 1e6), rows.toLong, ns, cpu, Kinds(kind))
  }

  /** Answers are checked as they arrive; this reports what failed. */
  def check(): Seq[String] = failures.take(5)
}

object Serving {
  val Symbols = 30
  val Increments = 2
  val Kinds: IndexedSeq[String] = IndexedSeq("symbol_history", "latest_snapshot", "top_movers", "symbols_list")
  val Weights: IndexedSeq[Double] = IndexedSeq(0.4, 0.2, 0.2, 0.2)
  val HistoryDays = 60
  val MoverDays = 20
}

/** stream_ingest: a generator thread stages JSON message files of
  * `PerFile` messages (5% redeliveries) for the next round once the
  * current one has drained, so its CPU time falls outside every timed
  * drain; each operation publishes the staged files and drains them with
  * `MicroBatch.fileSource → decode → idempotentSink` (AvailableNow,
  * stateful dedup), one file per micro-batch, on one long-lived checkpoint.
  */
final class Ingest(spark: SparkSession, tr: Tracer, seed: Long, dir: String)
    extends Workload(spark, tr, seed, dir) {
  import Ingest._
  private val srcDir = s"$dir/source"
  private val stageDir = s"$dir/staging"
  private val outDir = s"$dir/out"
  private val ckptDir = s"$dir/checkpoint"
  private val gen = new Gen.MessageStream(seed, Tickers, DaysPerVisit, RedeliverShare, PerFile)
  private val pool = Executors.newSingleThreadExecutor()
  private var staged: Future[Seq[Bar]] = _
  private var fileNo = 0
  /** First deliveries of every published message, by (ticker, date). */
  private val published = scala.collection.mutable.LinkedHashMap.empty[(String, String), Bar]
  def tableRows: Long = published.size.toLong
  def tableDir: String = outDir

  private def stage(files: Int): Future[Seq[Bar]] = pool.submit(() => {
    Files.createDirectories(new File(stageDir).toPath)
    (0 until files).flatMap { _ =>
      val f = new File(stageDir, f"msgs-$fileNo%06d.json")
      fileNo += 1
      val (lines, fresh) = gen.nextFile()
      Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      fresh
    }
  })

  /** Ends with the first backlog drained, so the checkpoint and the dedup
    * state store exist before any timed operation.
    */
  def setup(): Unit = {
    Files.createDirectories(new File(srcDir).toPath)
    staged = stage(FilesPerRound)
    op(-1)
  }


  def op(i: Int): OpResult = {
    staged.get().foreach(b => published((b.symbol, b.dateStr)) = b)
    new File(stageDir).listFiles().sortBy(_.getName).foreach { f =>
      Files.move(f.toPath, new File(srcDir, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    val (q, ns, cpu) = timed(tr.span("op") {
      val q = MicroBatch.idempotentSink(
        MicroBatch.decode(MicroBatch.openSource(spark, MicroBatch.fileSource(srcDir))), outDir, ckptDir)
      q.awaitTermination()
      q
    })
    staged = stage(FilesPerRound)
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    val rows = batches.map(_.numInputRows).sum
    OpResult(batches.toSeq.map(_.durationMs.get("triggerExecution").doubleValue), rows, ns, cpu,
      runId = q.runId.toString)
  }

  def check(): Seq[String] = {
    val got = spark.read.parquet(outDir).select("es_id", "ticker", "date", "close").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    Checks.streamOutput(published, got)
  }

  override def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
  }
}

object Ingest {
  val Tickers = 40
  val DaysPerVisit = 1000
  val RedeliverShare = 0.05
  val PerFile = 500 // the reference consumer's size flush
  val FilesPerRound = 4
}
