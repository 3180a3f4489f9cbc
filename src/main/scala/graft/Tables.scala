package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Testdata loaders + the OHLCV projection every parity query runs on.
  *
  * The reference engine (`/root/reference/spark-job/etl_job.py`) operates on
  * per-symbol OHLCV rows. FIXTURES.md §3 maps those onto the driver's TPC-H-ish
  * `lineitem` so every query is runnable against the DuckDB oracle:
  * symbol := l_returnflag, trading_date := l_shipdate, close := l_extendedprice,
  * volume := cast(l_quantity as bigint), tiebreakers l_orderkey, l_linenumber.
  *
  * Scale note (100 TB): all loaders are plain columnar parquet scans — column
  * pruning and predicate pushdown reach the scan via Catalyst; no driver-side
  * materialization anywhere.
  */
object Tables {

  /** Decimal type used for exact (order-independent) price sums.
    * l_extendedprice < 1e7 with 2 decimals → DECIMAL(12,2) holds every value;
    * sums get Spark's +10 precision headroom without hitting the 38 cap even
    * after squaring (bollinger: (12,2)² → (25,4), sum → (35,4)).
    */
  val PriceDec: DecimalType = DecimalType(12, 2)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cores-adaptive scan fan-out (optimization guide §2.5 "input skew:
    * one huge unsplittable file … repartition immediately after the
    * read", §6 input split size): the fixture parquets are written as a
    * SINGLE row group each, so however many cores the session has, every
    * scan — and everything map-side above it: the per-row decode
    * expressions, minhash/shingle projections, partial aggregations —
    * ran as ONE task (measured: wiki_dump_bz2 spent 14 s on local[32]
    * with 31 idle cores; the whole per-row decode family was serial).
    *
    * Policy, derived from input size rather than a local constant: when
    * the scan's natural split count (bytes / maxPartitionBytes) is below
    * the cluster's default parallelism, round-robin repartition to that
    * parallelism; otherwise return the scan untouched. At 100 TB the
    * input has thousands of splits, the condition is false, and no
    * exchange is added — the fan-out exists precisely for the
    * unsplittable-small-input case.
    *
    * Applied SELECTIVELY at the point where expensive per-row work
    * begins (decode-lane seeds, the shingle/signature projections) — a
    * first cut wired it into [[table]] for every scan, and the measured
    * bench total went UP 17%: plans that scan a fixture several times
    * (the dedup family reads `documents` up to 12×) paid the exchange +
    * extra AQE stage per scan (~0.3-0.5 s each) while most of those
    * scans feed a shuffle within milliseconds anyway. Fan out where the
    * map stage is the cost, never blanket.
    *
    * A failed size probe logs the path and the exception class and fans
    * out: the safe fallback is parallel, not one silent task.
    */
  def fanOut(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (p <= 1) return df
    val bytes =
      try inputBytes(spark, path)
      catch { case scala.util.control.NonFatal(e) =>
        // an unknown size must not pin the per-row work to one task:
        // fan out as for any small input, and say so
        log.warn(s"size probe of $path failed (${e.getClass.getName}); " +
          s"fanning out to $p partitions")
        0L
      }
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val naturalSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (naturalSplits < p) df.repartition(p) else df
  }

  /** Bytes of every leaf file under `path`: the input-size probe behind
    * [[fanOut]] and the stateful-stream partition count. One recursive
    * `getContentSummary` RPC, so a directory-layout parquet reports its
    * real data size; `getFileStatus` would return the directory entry's
    * own length (~0) and mis-read a huge table as one split. Throws when
    * the path cannot be read; each caller picks its logged fallback.
    */
  private[graft] def inputBytes(spark: SparkSession, path: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(hp).getLength
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** doc_id seed frame for the per-row synth-decode lanes, fanned out
    * across cores: those lanes derive their entire payload from the seed
    * (synth → decode → fields per row), so the fan-out exchange carries
    * ONE long per row while the decode work above it spreads over every
    * core — the "decide with small rows" half of the optimization
    * guide's §8 rule, applied to generation. At 100 TB the analogous
    * seed/frontier table is fanned out the same way before a decode
    * pass; [[fanOut]] self-disables once the input carries enough
    * natural splits.
    */
  def documentSeeds(spark: SparkSession, dir: String): DataFrame =
    fanOut(spark,
      documents(spark, dir).select(org.apache.spark.sql.functions.col("doc_id")),
      s"$dir/documents.parquet")

  /** [[documentSeeds]] WITHOUT the fan-out exchange — for the CHEAP
    * decode lanes (metadata probes, light text formats, single-raster
    * decodes), where the r16 per-lane A/B bench (all 63 seeded lanes,
    * fanned vs plain, quiet box: control_ratio 0.96/1.03) measured the
    * exchange costing 0.03–0.47 s per key against decode work too light
    * to repay it; the heavy codecs (pdf, zip/tar, mp4/video, epub/pptx/
    * xlsx, webdataset, wiki/bz2 dumps) measured 2–3× WORSE plain and
    * keep [[documentSeeds]]. The split is a per-operator decode-cost
    * property, not a fixture tune: at scale [[fanOut]] self-disables and
    * the two forms converge — the choice only matters for the
    * unsplittable-small-input case the fan-out exists for.
    */
  def documentSeedsPlain(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(org.apache.spark.sql.functions.col("doc_id"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** OHLCV frame per FIXTURES.md §3. Mirrors the record shape produced at
    * reference `crawler/crawler.py:99-108`, keyed for deterministic window
    * order (SURVEY §7.4.1 tiebreakers).
    */
  def ohlcv(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select(
      col("l_returnflag").as("symbol"),
      col("l_shipdate").as("trading_date"),
      col("l_extendedprice").as("close"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("open"),
      (col("l_extendedprice") * (lit(1.0) + col("l_tax"))).as("high"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount") - col("l_tax"))).as("low"),
      col("l_quantity").cast(LongType).as("volume"),
      col("l_shipdate").as("timestamp"),
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_partkey"),
      col("l_suppkey")
    )

  /** Fixture: the symbol universe written once per (JVM, sfDir) as a real
    * header CSV, for the CSV source round-trip (S10). Lives here — not in
    * the query body — so every declared query function stays pure (no
    * side effects, no java.io); the memo makes repeated bench reps free.
    * The memo key includes the source parquet's mtime, so regenerating
    * testdata under the same dir invalidates the cached universe instead
    * of silently serving stale symbols for the JVM's lifetime.
    * createTempDirectory is collision-free across JVMs; deleteOnExit is
    * best-effort cleanup.
    */
  private val symbolCsvMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def symbolUniverseCsv(spark: SparkSession, dir: String): String = {
    // ArtifactMemo.stamp, not raw lastModified(): a missing/in-flight
    // lineitem.parquet must fail fast, never memoize under `dir@0`
    val srcStamp = ArtifactMemo.stamp(dir, "lineitem.parquet")
    symbolCsvMemo.computeIfAbsent(srcStamp, { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_symbols_csv_").toFile
      tmp.deleteOnExit()
      val path = new java.io.File(tmp, "universe").getPath
      ohlcv(spark, dir).select(col("symbol").as("Symbol")).distinct()
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
      path
    })
  }

  /** Fixture: a compact OHLCV projection written once per (JVM, sfDir)
    * as ORC — the second columnar format of the source matrix
    * (parquet / CSV / JSON / ORC). Same memo discipline as
    * [[symbolUniverseCsv]]: stamp-keyed, pure query functions, fail-fast
    * on a missing source.
    */
  private val orcMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def ohlcvOrc(spark: SparkSession, dir: String): String = {
    val srcStamp = ArtifactMemo.stamp(dir, "lineitem.parquet")
    orcMemo.computeIfAbsent(srcStamp, { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_ohlcv_orc_").toFile
      tmp.deleteOnExit()
      val path = new java.io.File(tmp, "ohlcv").getPath
      ohlcv(spark, dir)
        .select(col("symbol"), col("trading_date"), col("volume"),
          col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite").orc(path)
      path
    })
  }

  /** The same projection as ANSI SQL, shared by every oracle query. */
  val ohlcvSql: String =
    """SELECT l_returnflag AS symbol,
      |       l_shipdate AS trading_date,
      |       l_extendedprice AS close,
      |       l_extendedprice * (1.0 - l_discount) AS open,
      |       l_extendedprice * (1.0 + l_tax) AS high,
      |       l_extendedprice * (1.0 - l_discount - l_tax) AS low,
      |       CAST(l_quantity AS BIGINT) AS volume,
      |       l_shipdate AS "timestamp",
      |       l_orderkey, l_linenumber, l_partkey, l_suppkey
      |FROM lineitem""".stripMargin
}
