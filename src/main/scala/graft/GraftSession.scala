package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.GraftExtensions

/** The engine's only session factory: every main, the test suite and
  * finbench build their session here, so the config the oracle gate and
  * the tests check is the config the engine ships. Local mode for
  * tests/bench; the same knobs transfer to cluster submissions (where
  * shuffle.partitions should track total cores and AQE coalesces the rest).
  * Harness-only settings (a stress lane's shuffle width) are runtime SQL
  * confs the caller sets on the returned session.
  */
object GraftSession {

  /** Optimizer rules excluded in every engine session.
    *
    * `InferFiltersFromGenerate` synthesizes `size(g) > 0 AND
    * isnotnull(g)` below each explode. For a generator over a scanned
    * column that can prune I/O; every generator in this engine is a
    * COMPUTED expression (decode codecs, shingle builders), so the
    * inferred filter re-evaluates the full expression once in the
    * filter and again in the projection — measured as a full duplicate
    * decode pass on wiki_dump_bz2 and the minhash shingle stage, and it
    * prunes nothing (exploding an empty array already emits no rows).
    * Excluding the rule halves every decode-then-explode lane at any
    * scale (optimization guide §4.4: stop the optimizer duplicating
    * expensive expressions).
    */
  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Local cores for a main: `SPARK_GRAFT_CPUS` when set, else every
    * processor (the same default as [[local]]). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      // SQL functions only (dot_f, word_shingles, the decoders); no rules
      .withExtensions(new GraftExtensions)
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE: runtime partition coalescing + skew-join splitting — the
      // default-on safety net for the skewed-symbol case at scale
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // columnar parquet + pushdown are defaults; pinned here as contract
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // The one parquet write policy: zstd columns, INT64
      // TIMESTAMP(MICROS) timestamps and Parquet v2 encodings. It reaches
      // every parquet file written through the session: the processed
      // table (Incremental), the stream sinks (MicroBatch, StatefulOps),
      // Compaction output, ArtifactMemo's stores (IVF/PQ indexes and
      // codebooks, pagerank base ranks, the cc map), ScaleOps' durable
      // graph rounds and bm25 postings tables, the
      // MlParity registry and Verify's dumps. Spark's INT96 default carries
      // no min/max statistics, so no timestamp predicate can skip a row
      // group: a `timestamp > <watermark>` read of a bootstrapped table
      // reads every record under INT96 and only the increment's under this
      // policy (IncrementalSpec: 600 → 40). The pin alone grows the files,
      // since INT64 columns carry statistics (finbench stored_bytes_per_row
      // 55.41 → 55.55 on stream_ingest); zstd more than pays for it
      // (medians of 10 runs: 55.3 → 41.7 B/row on stream_ingest, 191.5 →
      // 172.7 on daily_incremental, both measured when the stream sinks
      // still wrote one file per ticker per state partition; see
      // MicroBatch.writeBatch). The daily gain holds while bootstrap
      // files dominate the table: a one-row increment file is mostly
      // footer, and zstd makes it slightly larger, so after 20–40 daily
      // increments without compaction the table is larger than under
      // snappy/INT96. Tables written before the policy (snappy, INT96)
      // read back the same instants next to newer files; only their row
      // groups are never skipped.
      // Writer v2 changes the fallback when a dictionary does not pay:
      // INT32/INT64 columns become DELTA_BINARY_PACKED and strings
      // DELTA_BYTE_ARRAY instead of PLAIN; doubles stay PLAIN. Sorted
      // columns shrink most: the processed table's `timestamp` and
      // `trading_date`, and the stream sink's columns once
      // MicroBatch.idempotentSink sorts each file by `es_id`. finbench,
      // sort and v2 together (medians of 10 and 6 runs): stream_ingest
      // 27.8 → 22.8 B/row, daily_incremental 172.7 → 165.9, the daily
      // saving all in the bootstrap files. Every reader must decode
      // data page v2 and the DELTA encodings: Spark's vectorized reader,
      // DuckDB 1.0 (the oracle) and pyarrow 16 do. BYTE_STREAM_SPLIT is
      // left off: Spark 4.1.2's vectorized reader has no case for it.
      // Tables written under v1 read back next to v2 files.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("parquet.writer.version", "v2")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
