package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.MicroBatch
import graft.sources.CsvSource

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def msg(ticker: String, date: String, close: Double): String =
    s"""{"ticker":"$ticker","date":"$date","open":$close,"high":$close,"low":$close,"close":$close,"volume":10,"timestamp":"$date 00:00:00"}"""

  test("S8 decode: parse, drop ticker-less messages, stamp consumed_at") {
    val raw = Seq(msg("AAPL", "2024-01-01", 10.5), """{"noticker":1}""", "not json")
      .toDF("value")
    val out = MicroBatch.decode(raw)
    assert(out.count() == 1)
    val r = out.head
    assert(r.getAs[String]("ticker") == "AAPL")
    assert(r.getAs[Double]("close") == 10.5)
    assert(r.getAs[java.sql.Timestamp]("consumed_at") != null)
  }

  test("S6/S8 encode-decode round trip") {
    val df = Seq(("AAPL", "2024-01-01", 1.0, 2.0, 0.5, 1.5, 100L, "2024-01-01 00:00:00"))
      .toDF("ticker", "date", "open", "high", "low", "close", "volume", "timestamp")
    val wire = MicroBatch.encode(df)
    assert(wire.columns.toSeq == Seq("key", "value"))
    val back = MicroBatch.decode(wire)
    assert(back.select("ticker", "close").as[(String, Double)].head == (("AAPL", 1.5)))
  }

  test("S7/S5 micro-batch stream with idempotent sink dedups on es_id") {
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString

    // duplicate message in the same batch -> single row after dedup
    mem.addData(msg("AAPL", "2024-01-01", 10.0), msg("AAPL", "2024-01-01", 10.0),
      msg("MSFT", "2024-01-01", 20.0))
    val decoded = MicroBatch.decode(mem.toDF())
    val q = MicroBatch.idempotentSink(decoded, out, ckpt)
    q.awaitTermination(60000)

    val rows = spark.read.parquet(out)
    assert(rows.count() == 2)
    assert(rows.select("es_id").as[String].collect().sorted.toSeq ==
      Seq("AAPL_2024-01-01", "MSFT_2024-01-01"))
  }

  test("stateful dedup removes duplicates ACROSS micro-batches") {
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_xbatch_out").toString
    val ckpt = Files.createTempDirectory("graft_xbatch_ckpt").toString
    val decoded = MicroBatch.decode(mem.toDF())
    // batch 1
    mem.addData(msg("AAPL", "2024-01-01", 10.0))
    val q1 = MicroBatch.idempotentSink(decoded, out, ckpt)
    q1.awaitTermination(60000)
    // batch 2 re-delivers the same record (at-least-once) + one new
    mem.addData(msg("AAPL", "2024-01-01", 10.0), msg("AAPL", "2024-01-02", 11.0))
    val q2 = MicroBatch.idempotentSink(decoded, out, ckpt)
    q2.awaitTermination(60000)

    val rows = spark.read.parquet(out)
    assert(rows.count() == 2, "cross-batch duplicate was not removed")
    assert(rows.select("es_id").as[String].collect().sorted.toSeq ==
      Seq("AAPL_2024-01-01", "AAPL_2024-01-02"))
  }

  test("crash recovery: batch replayed after a commit-log-lost crash is exactly-once") {
    // The at-least-once crash window foreachBatch exposes: the batch's
    // files are fully committed to the sink, then the process dies BEFORE
    // the streaming commit log records the batch. On restart Spark
    // replays that batch. Simulate the window precisely by deleting the
    // checkpoint's commits/<epoch> record while keeping its offsets —
    // that IS the on-disk state such a crash leaves — then restart with
    // more (partially re-delivered) input and require the final sink to
    // equal a single uninterrupted run over the same messages.
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_crash_out").toString
    val ckpt = Files.createTempDirectory("graft_crash_ckpt").toString
    val decoded = MicroBatch.decode(mem.toDF())
    val first = Seq(msg("AAPL", "2024-01-01", 10.0), msg("MSFT", "2024-01-01", 20.0))
    mem.addData(first: _*)
    val q1 = MicroBatch.idempotentSink(decoded, out, ckpt)
    q1.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 2)
    // crash: batch 0's sink files exist, its commit record does not
    val commits = new java.io.File(ckpt, "commits").listFiles()
    assert(commits != null && commits.nonEmpty, "no commit log to lose")
    commits.foreach(f => assert(f.delete(), s"could not delete $f"))
    // restart from the same checkpoint + outDir: batch 0 replays (same
    // batch id -> overwrites its own partition), then the new data —
    // with the upstream re-delivering one old record — lands in batch 1
    val second = Seq(msg("AAPL", "2024-01-01", 10.0), msg("GOOG", "2024-01-02", 30.0))
    mem.addData(second: _*)
    val q2 = MicroBatch.idempotentSink(decoded, out, ckpt)
    q2.awaitTermination(60000)
    val recovered = spark.read.parquet(out)
      .select("es_id", "ticker", "close").as[(String, String, Double)]
      .collect().sorted.toSeq
    // single-run reference: the same messages, no crash, one stream
    val refMem = MemoryStream[String](spark)
    val refOut = Files.createTempDirectory("graft_crash_ref_out").toString
    val refCkpt = Files.createTempDirectory("graft_crash_ref_ckpt").toString
    refMem.addData((first ++ second): _*)
    val qr = MicroBatch.idempotentSink(MicroBatch.decode(refMem.toDF()), refOut, refCkpt)
    qr.awaitTermination(60000)
    val reference = spark.read.parquet(refOut)
      .select("es_id", "ticker", "close").as[(String, String, Double)]
      .collect().sorted.toSeq
    assert(recovered == reference,
      s"crash-recovered sink diverged: $recovered vs $reference")
    assert(recovered.map(_._1) == Seq("AAPL_2024-01-01", "GOOG_2024-01-02", "MSFT_2024-01-01"))
  }

  test("watermark-bounded dedup collapses duplicates within the lateness horizon") {
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_wmdedup_out").toString
    val ckpt = Files.createTempDirectory("graft_wmdedup_ckpt").toString
    val decoded = MicroBatch.decode(mem.toDF())
      .withColumn("event_ts", to_timestamp(col("timestamp")))
    // batch 1: in-batch duplicate
    mem.addData(msg("AAPL", "2024-01-01", 10.0), msg("AAPL", "2024-01-01", 10.0))
    val q1 = MicroBatch.idempotentSink(decoded, out, ckpt,
      dedupWatermark = Some(("event_ts", "1 hour")))
    q1.awaitTermination(60000)
    // batch 2: re-delivery within the horizon + one new record
    mem.addData(msg("AAPL", "2024-01-01", 10.0), msg("AAPL", "2024-01-02", 11.0))
    val q2 = MicroBatch.idempotentSink(decoded, out, ckpt,
      dedupWatermark = Some(("event_ts", "1 hour")))
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(out)
    assert(rows.select("es_id").as[String].collect().sorted.toSeq ==
      Seq("AAPL_2024-01-01", "AAPL_2024-01-02"),
      "duplicates inside the watermark horizon must collapse; state stays bounded")
  }

  test("idempotentSink refuses a fresh checkpoint against a populated outDir") {
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("graft_guard_out").toString
    val ckpt1 = Files.createTempDirectory("graft_guard_ckpt1").toString
    mem.addData(msg("AAPL", "2024-01-01", 10.0))
    val q = MicroBatch.idempotentSink(MicroBatch.decode(mem.toDF()), out, ckpt1)
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 1)
    // same outDir, brand-new checkpoint: batch ids would restart at 0
    val ckpt2 = Files.createTempDirectory("graft_guard_ckpt2").toString
    val ex = intercept[IllegalArgumentException] {
      MicroBatch.idempotentSink(MicroBatch.decode(mem.toDF()), out, ckpt2)
    }
    assert(ex.getMessage.contains("fresh"))
  }

  test("tumbling window counts with watermark over events-shaped stream") {
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), "view"))
    val events = mem.toDF().toDF("ts", "event_type")
    val agg = MicroBatch.tumblingCounts(events)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumble")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("select * from tumble").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString, r.getAs[String]("event_type"), r.getAs[Long]("n_events")))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 11:00:00.0", "view", 1L)))
  }

  test("§2.8 allowed lateness: in-horizon late rows aggregate, beyond-watermark rows drop") {
    // The reference silently skips rows at-or-before its stored watermark
    // (`etl_job.py:181`); Structured Streaming's withWatermark gives the
    // bounded-lateness refinement: a late row ABOVE the current watermark
    // still aggregates, one BELOW it is dropped. This pins both sides of
    // that boundary through real micro-batches (append mode, so window
    // finalization is also exercised — `complete` mode would mask drops).
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    val agg = MicroBatch.tumblingCounts(mem.toDF().toDF("ts", "event_type"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_tumble").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: two on-time clicks; watermark after the batch = 10:10 − 1h
    mem.addData((ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:10:00"), "click"))
    q.processAllAvailable()
    // batch 2: a 10:20 click arrives LATE (after the 12:30 view in event
    // time order it would precede) but ABOVE the 9:10 watermark → must
    // aggregate; the 12:30 row advances the watermark to 11:30 at commit,
    // finalizing and emitting the 10:00 window
    mem.addData((ts("2024-01-01 10:20:00"), "click"), (ts("2024-01-01 12:30:00"), "view"))
    q.processAllAvailable()
    // batch 3: a 10:40 click BELOW the 11:30 watermark → silently dropped
    // (the reference's skip semantic); must not resurrect the closed window
    mem.addData((ts("2024-01-01 10:40:00"), "click"))
    q.processAllAvailable()
    // flush batches: advance event time so remaining windows finalize
    // (watermark for batch N is computed from data through batch N−1, so
    // the 12:00 window emits one batch after the 14:30 row arrives)
    mem.addData((ts("2024-01-01 14:30:00"), "click"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 16:30:00"), "click"))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from late_tumble").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
    // = 3: the in-horizon late row counted; exactly ONE 10:00 row: the
    // beyond-watermark row neither counted nor reopened the window
    assert(got.contains(("2024-01-01 10:00:00.0", "click", 3L)), s"got $got")
    assert(got.count(_._1 == "2024-01-01 10:00:00.0") == 1, s"got $got")
    assert(got.contains(("2024-01-01 12:00:00.0", "view", 1L)), s"got $got")
  }

  test("streaming session_window merges within-gap rows, state evicted past watermark") {
    // the streaming twin of the batch sessionize key: same 30-min gap
    // definition, but sessions FINALIZE — append mode only emits a
    // session once the watermark passes its end, proving state eviction
    val mem = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val agg = MicroBatch.sessionCounts(
      mem.toDF().toDF("user_id", "ts"), gap = "30 minutes", delay = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: two rows 10 min apart (one session), then a 12:00 row beyond
    // the 30-min gap (a second session); u2: one singleton session
    mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (2L, ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    // flush: advance the watermark far past every session end
    mem.addData((9L, ts("2024-01-01 15:00:00")))
    q.processAllAvailable()
    mem.addData((9L, ts("2024-01-01 18:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from sessions").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSet
    // merged session: start = first ts, end = last ts + gap
    assert(got.contains((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L)), s"got $got")
    assert(got.contains((1L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L)), s"got $got")
    assert(got.contains((2L, "2024-01-01 10:05:00.0", "2024-01-01 10:35:00.0", 1L)), s"got $got")
  }

  test("sessionStats close boundary: a session whose padded end EQUALS the watermark is emitted") {
    // pins the exact append-mode emission rule the stream_sessions oracle
    // mirrors: a session is emitted iff last_event_ts + gap <= watermark
    // (= max event ts with delay 0). Three probes:
    //  u1 @10:00            -> padded end 10:30 == watermark: boundary
    //  u3 @09:00            -> padded end 09:30 <  watermark: closed
    //  u2 @10:30 (the max)  -> padded end 11:00 >  watermark: open, absent
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = MicroBatch.sessionStats(
      mem.toDF().toDF("user_id", "ts", "value"), gap = "30 minutes",
      delay = "0 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_boundary").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (3L, ts("2024-01-01 09:00:00"), 3.0),
      (2L, ts("2024-01-01 10:30:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select user_id from sess_boundary").as[Long].collect().toSet
    spark.catalog.dropTempView("sess_boundary")
    assert(got == Set(1L, 3L), s"boundary semantics changed: got $got")
  }

  test("stream-stream interval join matches in-horizon quotes only") {
    // the live twin of asof/range joins: a trade picks up quotes of its
    // symbol from the 10 minutes before it — older quotes and other
    // symbols never match; the two-sided time bound keeps join state
    // evictable (asserted here semantically: results are exact)
    val trades = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val quotes = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = MicroBatch.enrichTrades(
      trades.toDF().toDF("symbol", "trade_ts", "qty"),
      quotes.toDF().toDF("q_symbol", "quote_ts", "px"),
      horizon = "10 minutes")
      .select(col("symbol"), col("trade_ts"), col("quote_ts"), col("px"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    quotes.addData(
      ("A", ts("2024-01-01 09:50:00"), 99.0),  // 10 min before → in horizon
      ("A", ts("2024-01-01 09:30:00"), 98.0),  // 30 min before → stale
      ("B", ts("2024-01-01 09:59:00"), 50.0))  // wrong symbol
    trades.addData(("A", ts("2024-01-01 10:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from enriched").collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("quote_ts").toString,
        r.getAs[Double]("px"))).toSet
    assert(got == Set(("A", "2024-01-01 09:50:00.0", 99.0)), s"got $got")
  }

  test("stream-stream join state is EVICTED once the watermark passes the horizon") {
    // the 100 TB contract behind the two-sided time bound: buffered rows
    // leave the state store when the watermark passes quote_ts + horizon
    // — without this the join accumulates the full history forever. Feed
    // many old quotes, then advance the watermark far past them with
    // later batches and assert the store holds almost nothing.
    val trades = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val quotes = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = MicroBatch.enrichTrades(
      trades.toDF().toDF("symbol", "trade_ts", "qty"),
      quotes.toDF().toDF("q_symbol", "quote_ts", "px"),
      horizon = "10 minutes", delay = "0 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("evict_probe").start()
    val nQuotes = 100
    quotes.addData((0 until nQuotes).map(i =>
      ("A", ts(f"2024-01-01 09:0${i / 10}:0${i % 10}"), i.toDouble)))
    trades.addData(("A", ts("2024-01-01 09:10:00"), 1.0))
    q.processAllAvailable()        // batch 1: watermark → ~09:10
    // the global watermark is the MIN across both inputs — BOTH sides
    // must see later event times for it to advance past the old quotes
    trades.addData(("A", ts("2024-01-01 12:00:00"), 2.0))
    quotes.addData(("B", ts("2024-01-01 12:00:00"), 0.0))
    q.processAllAvailable()        // batch 2: watermark → 12:00
    trades.addData(("A", ts("2024-01-01 13:00:00"), 3.0))
    quotes.addData(("B", ts("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()        // batch 3: eviction visible in state
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    spark.catalog.dropTempView("evict_probe")
    assert(stateRows < nQuotes / 2,
      s"join state not evicted: $stateRows rows retained of ${nQuotes + 3} fed")
  }

  test("enrichStatic: broadcast per micro-batch, ZERO state operators, batch-equal") {
    val dir = sf0001
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val qname = "enrich_static_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = MicroBatch.enrichStatic(stream, dim)
      .writeStream.outputMode("append").format("memory").queryName(qname)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // no state store anywhere: a dim lookup must never shuffle into
    // stateful-join machinery
    q.recentProgress.foreach(p =>
      assert(p.stateOperators.isEmpty, s"unexpected state operator in batch ${p.batchId}"))
    val got = spark.table(qname)
      .select("event_id", "user_id", "value", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    spark.catalog.dropTempView(qname)
    // stream-batch consistency: identical to the plain batch join
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
      .join(dim, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("value"), col("c_mktsegment"))
    val want = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(got == want)
    // the broadcast-build plan shape is pinned in PlanSpec
    // ("stream_static_join: dim side broadcast") via the physical() helper
  }

  test("joinToKeyedSink (production form of stream_join) matches the memory-sink harness") {
    val dir = sf0001
    val out = Files.createTempDirectory("graft_join_sink").toFile
    val ckpt = Files.createTempDirectory("graft_join_ckpt").toFile
    try {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      def src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select(col("event_id"), col("user_id"),
          col("event_type"), col("ts").cast("timestamp").as("ts"))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("symbol"), col("ts").as("trade_ts"),
          col("event_id").as("click_id"))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("q_symbol"), col("ts").as("quote_ts"),
          col("event_id").as("view_id"))
      val joined = MicroBatch.enrichTrades(clicks, views, "24 hours")
        .select(col("symbol").as("user_id"), col("view_id"), col("click_id"),
          (unix_micros(col("trade_ts")) - unix_micros(col("quote_ts"))).as("lag_us"))
      val q = MicroBatch.joinToKeyedSink(joined, out.getPath, ckpt.getPath)
      q.awaitTermination()
      val sinkRows = MicroBatch.joinedPairs(spark, out.getPath, joined.schema,
          Seq("view_id", "click_id"))
        .orderBy("user_id", "view_id", "click_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val harness = Queries.all("stream_join").fn(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(sinkRows.nonEmpty && sinkRows == harness)
      // Without row counts Catalyst sizes a join as the product of its
      // sides (~84 MB for these two ~27 KB scans), so the data batch runs
      // two write tasks of the four state partitions, not one
      val files = filesPerBatch(out)
      assert(files.nonEmpty && files.forall(n => n >= 1 && n <= 2), s"files per batch: $files")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out); rm(ckpt)
    }
  }

  test("funnelToKeyedSink (foreachBatch production form) matches the memory-sink harness") {
    import graft.streaming.StatefulOps
    implicit val s = spark
    val dir = sf0001
    val out = Files.createTempDirectory("graft_funnel_sink").toFile
    val ckpt = Files.createTempDirectory("graft_funnel_ckpt").toFile
    try {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("user_id"), col("event_type"), col("ts_us"))
        .as[StatefulOps.FunnelEvent]
      val q = StatefulOps.funnelToKeyedSink(stream, out.getPath, ckpt.getPath)
      q.awaitTermination()
      // the keyed parquet sink, resolved distributedly, must equal the
      // memory-sink + collect harness the oracle gate runs — pinning that
      // the production shape and the gate shape are the same operator
      val sinkStates = StatefulOps.funnelFinalStates(spark, out.getPath)
        .orderBy("user_id").as[(Long, Long, Long, Long)].collect().toSeq
      val harness = Queries.all("stream_funnel").fn(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(sinkStates.nonEmpty)
      assert(sinkStates == harness)
      val files = filesPerBatch(out)
      assert(files.nonEmpty && files.forall(_ == 1), s"files per batch: $files")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(out); rm(ckpt)
    }
  }

  test("funnelToKeyedSink: commit-log-lost crash replay is idempotent; empty sink reads empty") {
    import graft.streaming.StatefulOps
    implicit val s = spark
    val out = Files.createTempDirectory("graft_funnel_crash_out").toFile
    val ckpt = Files.createTempDirectory("graft_funnel_crash_ckpt").toFile
    try {
      // a consumer polling between stream start and first batch sees an
      // EMPTY funnel table, not a schema-inference crash
      assert(StatefulOps.funnelFinalStates(spark, out.getPath).count() == 0)
      val mem = MemoryStream[StatefulOps.FunnelEvent](spark)
      def run(): Unit = {
        val q = StatefulOps.funnelToKeyedSink(mem.toDS(), out.getPath, ckpt.getPath)
        q.awaitTermination(60000); ()
      }
      mem.addData(StatefulOps.FunnelEvent(1L, "view", 1000L),
        StatefulOps.FunnelEvent(1L, "click", 2000L))
      run()
      val afterFirst = StatefulOps.funnelFinalStates(spark, out.getPath)
        .as[(Long, Long, Long, Long)].collect().toSeq
      // crash window: batch files committed, commit log lost
      val commits = new java.io.File(ckpt, "commits").listFiles()
      assert(commits != null && commits.nonEmpty)
      commits.foreach(f => assert(f.delete()))
      // restart replays batch 0 (overwrites its own batch_id partition)
      // and processes the new event; resolution must show the funnel
      // advanced exactly once per stage
      mem.addData(StatefulOps.FunnelEvent(1L, "purchase", 3000L))
      run()
      val resolved = StatefulOps.funnelFinalStates(spark, out.getPath)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(afterFirst == Seq((1L, 1000L, 2000L, StatefulOps.FunnelUnset)))
      assert(resolved == Seq((1L, 1000L, 2000L, 3000L)),
        s"crash replay corrupted the funnel: $resolved")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(out); rm(ckpt)
    }
  }

  test("streamExactDedup: content seen in ANY earlier micro-batch never survives twice") {
    val mem = MemoryStream[String](spark)
    val docs = mem.toDF().select(col("value").as("text"))
    val out = Files.createTempDirectory("graft_sdedup_out").toString
    val ckpt = Files.createTempDirectory("graft_sdedup_ckpt").toString
    def run(): Unit = {
      val q = MicroBatch.streamExactDedup(docs)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out).start()
      q.awaitTermination(60000); ()
    }
    // batch 1: an in-batch duplicate collapses
    mem.addData("alpha doc", "alpha doc", "beta doc")
    run()
    assert(spark.read.parquet(out).count() == 2)
    // batch 2: a re-crawl of batch-1 content is dropped by CHECKPOINTED
    // state; only the genuinely new doc survives
    mem.addData("alpha doc", "gamma doc")
    run()
    val texts = spark.read.parquet(out).select("text").as[String]
      .collect().sorted.toSeq
    assert(texts == Seq("alpha doc", "beta doc", "gamma doc"),
      s"cross-batch duplicate survived: $texts")
  }

  test("kafka source config carries the reference consumer's flow control") {
    val cfg = MicroBatch.kafkaSource("broker:9092", "stock_ohlcv")
    assert(cfg.format == "kafka")
    assert(cfg.options("kafka.bootstrap.servers") == "broker:9092")
    assert(cfg.options("subscribe") == "stock_ohlcv")
    // 500 = the consumer's size-flush (consumer.py:35-36)
    assert(cfg.options("maxOffsetsPerTrigger") == "500")
    assert(cfg.options("startingOffsets") == "earliest")
    assert(cfg.options("failOnDataLoss") == "false")
  }

  test("file source config streams messages end-to-end through decode") {
    val dir = Files.createTempDirectory("graft_filesrc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.jsonl"),
      (msg("AAPL", "2024-01-01", 10.0) + "\n" + msg("TSLA", "2024-01-02", 20.0))
        .getBytes("UTF-8"))
    val src = MicroBatch.openSource(spark, MicroBatch.fileSource(dir))
    assert(src.isStreaming && src.columns.toSeq == Seq("value"))
    val q = MicroBatch.decode(src).writeStream
      .format("memory").queryName("filesrc")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("select ticker from filesrc").as[String].collect().sorted.toSeq ==
      Seq("AAPL", "TSLA"))
  }

  /** Parquet data files directly under `dir`. */
  private def parquetFiles(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet"))

  /** Subdirectories of `dir` named `<col>=<value>`. */
  private def partitionDirs(dir: java.io.File, col: String): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith(s"$col="))

  /** Parquet files in each `batch_id=` directory of an unpartitioned sink. */
  private def filesPerBatch(out: java.io.File): Seq[Int] =
    partitionDirs(out, "batch_id").map(parquetFiles(_).size)

  /** Writes one JSON-lines message file `name` into `dir`. */
  private def stageFile(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.write(java.nio.file.Paths.get(dir, name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  /** Drains `cfg` through decode → idempotentSink (AvailableNow) into
    * `out` on checkpoint `ckpt`; returns the micro-batches that had input
    * and the jobs the query ran. A sentinel job in its own group flushes
    * the listener bus before the jobs are counted.
    */
  private def drain(cfg: MicroBatch.SourceConfig, out: String, ckpt: String): (Int, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val sentinel = "graft.test.sentinel"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => if (g == sentinel) flushed.countDown() else groups.add(g))
    }
    sc.addSparkListener(listener)
    try {
      val q = MicroBatch.idempotentSink(
        MicroBatch.decode(MicroBatch.openSource(spark, cfg)), out, ckpt)
      q.awaitTermination(60000)
      q.exception.foreach(e => throw e)
      sc.setJobGroup(sentinel, "flush listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      val runId = q.runId.toString
      (q.recentProgress.count(_.numInputRows > 0), groups.asScala.count(_ == runId))
    } finally sc.removeSparkListener(listener)
  }

  private def esIds(out: String): Seq[String] =
    spark.read.parquet(out).select("es_id").as[String].collect().sorted.toSeq

  /** Four files of three messages each (one redelivered within its own
    * file), then a later fifth file redelivering a key of the first.
    */
  private val backlog: Seq[Seq[String]] = (0 until 4).map { f =>
    val d = f"2024-01-${f + 1}%02d"
    Seq(msg("AAPL", d, 10.0 + f), msg("MSFT", d, 20.0 + f), msg("AAPL", d, 10.0 + f))
  }
  private val lateFile = Seq(msg("MSFT", "2024-01-01", 20.0), msg("TSLA", "2024-01-05", 30.0))
  private val backlogKeys =
    ((1 to 4).flatMap(d => Seq(f"AAPL_2024-01-$d%02d", f"MSFT_2024-01-$d%02d")) :+ "TSLA_2024-01-05").sorted

  /** Stages [[backlog]], drains it, stages [[lateFile]] and drains again,
    * all through `cfg`; returns (batches with input, jobs) per drain and
    * the sink's es_ids.
    */
  private def backlogDrains(cfg: String => MicroBatch.SourceConfig): (Seq[(Int, Int)], Seq[String]) = {
    val dir = Files.createTempDirectory("graft_backlog_src").toString
    val out = Files.createTempDirectory("graft_backlog_out").toString + "/sink"
    val ckpt = Files.createTempDirectory("graft_backlog_ckpt").toString
    backlog.zipWithIndex.foreach { case (lines, i) => stageFile(dir, s"m$i.json", lines) }
    val first = drain(cfg(dir), out, ckpt)
    stageFile(dir, "m4.json", lateFile)
    val second = drain(cfg(dir), out, ckpt)
    (Seq(first, second), esIds(out))
  }

  test("file source drains a backlog of small files in ONE micro-batch and one job") {
    val (drains, ids) = backlogDrains(MicroBatch.fileSource(_))
    assert(drains == Seq((1, 1), (1, 1)),
      s"(batches with input, jobs) per drain: $drains")
    assert(ids == backlogKeys, s"redelivery across drains must collapse: $ids")
  }

  test("a byte budget below one file admits one file per batch and never stalls") {
    val (drains, ids) = backlogDrains(MicroBatch.fileSource(_, maxBytesPerTrigger = 1L))
    assert(drains.map(_._1) == Seq(4, 1), s"batches with input per drain: $drains")
    assert(ids == backlogKeys, s"every row once, no duplicate: $ids")
  }

  test("a checkpoint started one file per trigger resumes under the byte budget") {
    val dir = Files.createTempDirectory("graft_resume_src").toString
    val out = Files.createTempDirectory("graft_resume_out").toString + "/sink"
    val ckpt = Files.createTempDirectory("graft_resume_ckpt").toString
    backlog.take(2).zipWithIndex.foreach { case (lines, i) => stageFile(dir, s"m$i.json", lines) }
    val perFile = MicroBatch.SourceConfig("text", Map("path" -> dir, "maxFilesPerTrigger" -> "1"))
    assert(drain(perFile, out, ckpt)._1 == 2)
    // two more files; the later one redelivers a key of the first drain
    stageFile(dir, "m2.json", backlog(2))
    stageFile(dir, "m3.json", backlog(3) ++ lateFile)
    assert(drain(MicroBatch.fileSource(dir), out, ckpt)._1 == 1,
      "the resumed drain must admit both new files in one batch")
    assert(esIds(out) == backlogKeys, s"every key exactly once: ${esIds(out)}")
  }

  test("stream state partitions: a failed size probe falls back to parallelism, not 1") {
    def parts(bytes: => Long): Int = QueriesMeta.streamStatePartitions("events", 8)(bytes)
    assert(parts(throw new java.io.FileNotFoundException("events.parquet")) == 8)
    assert(parts(0L) == 1)
    assert(parts(300L * 1024) == 2)
    assert(parts(2L * 1024 * 1024) == 8)
    assert(parts(1L << 40) == 8)
  }

  test("write tasks: one per advisory size of the batch estimate, within [1, numPartitions]") {
    val advisory = 64L * 1024 * 1024
    def tasks(bytes: BigInt): Int = MicroBatch.writeTasks(bytes, advisory, 8)
    assert(tasks(0) == 1)
    assert(tasks(1) == 1)
    assert(tasks(advisory) == 1)
    assert(tasks(advisory + 1) == 2)
    assert(tasks(advisory * 8) == 8)
    assert(tasks(advisory * 8 + 1) == 8)
    // unknown statistics: defaultSizeInBytes, and the larger products a
    // join's estimate reaches, keep every partition instead of overflowing
    assert(tasks(BigInt(Long.MaxValue)) == 8)
    assert(tasks(BigInt(Long.MaxValue) * Long.MaxValue) == 8)
    for (parts <- 1 to 16; bytes <- Seq(BigInt(0), BigInt(advisory) * 3, BigInt(Long.MaxValue)))
      assert((1 to parts).contains(MicroBatch.writeTasks(bytes, advisory, parts)), s"$parts parts, $bytes B")
  }

  test("a small drain writes one parquet file per ticker per micro-batch") {
    val dir = Files.createTempDirectory("graft_files_src").toString
    val out = Files.createTempDirectory("graft_files_out").toString + "/sink"
    val ckpt = Files.createTempDirectory("graft_files_ckpt").toString
    (1 to 4).foreach { d =>
      val date = f"2024-01-$d%02d"
      stageFile(dir, s"m$d.json", Seq("AAPL", "MSFT", "TSLA", "AAPL").map(msg(_, date, 10.0 + d)))
    }
    // the executed plans of the batch's parquet write, through the same
    // listener bus the drain flushes before it returns
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec])) writes.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try assert(drain(MicroBatch.fileSource(dir), out, ckpt) == ((1, 1)))
    finally spark.listenerManager.unregister(listener)
    val batches = partitionDirs(new java.io.File(out), "batch_id")
    assert(batches.map(_.getName) == Seq("batch_id=0"))
    val tickers = partitionDirs(batches.head, "ticker")
    assert(tickers.map(_.getName).sorted == Seq("ticker=AAPL", "ticker=MSFT", "ticker=TSLA"))
    tickers.foreach(t => assert(parquetFiles(t).size == 1, s"${t.getName}: ${parquetFiles(t)}"))
    assert(esIds(out).size == 12)
    tickers.foreach { t =>
      val ids = spark.read.parquet(new java.io.File(t, parquetFiles(t).head).getPath)
        .select("es_id").as[String].collect().toSeq
      assert(ids.size == 4 && ids == ids.sorted, s"${t.getName} is not in es_id order: $ids")
    }
    // the sort by (ticker, es_id) is the write's only sort: it satisfies
    // the planned write's ordering by ticker
    assert(writes.size == 1, s"${writes.size} writes")
    val sorts = new AdaptiveSparkPlanHelper {}.collect(writes.peek()) { case s: SortExec => s }
    assert(sorts.size == 1, s"${sorts.size} sorts:\n${writes.peek()}")
  }

  test("S10 csv symbols source with fallback") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Seq("AAPL", "TSLA").toDF("Symbol").write.option("header", "true").csv(dir + "/ok")
    val ok = CsvSource.readSymbols(spark, dir + "/ok")
    assert(ok.as[String].collect().sorted.toSeq == Seq("AAPL", "TSLA"))
    val missing = CsvSource.readSymbols(spark, dir + "/nope")
    assert(missing.count() == CsvSource.defaultSymbols.size)
  }
}
