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

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
