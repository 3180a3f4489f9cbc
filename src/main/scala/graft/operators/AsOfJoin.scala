package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — "for each left row, the latest right row with
  * rightTime <= leftTime within the same key" — the canonical finance
  * lookup (trade → prevailing quote). Spark has no native ASOF JOIN;
  * following the custom-operator preference order (compose built-ins
  * first), this is the union-and-window formulation:
  *
  *   stack left (probe) and right (quote) rows; sort within each key by
  *   (time, side) with quotes before probes at equal times; the running
  *   `last(value, ignoreNulls)` over that order carries each quote forward
  *   to every following probe row.
  *
  * One shuffle on the key, one sort — the same cost as a sort-merge join,
  * no range explosion. At 100 TB both sides hash-partition by key and the
  * window never materializes more than a partition.
  *
  * Duplicate (key, time) quotes resolve deterministically to the GREATEST
  * value (the `_v` sort tiebreaker below and [[asofJoinChunked]]'s
  * max-struct summary agree on this). When "latest by ingest order" rather
  * than "greatest value" is the wanted duplicate semantics, pre-dedupe
  * with [[latestPerKeyTime]].
  */
object AsOfJoin {

  /** Keep one right row per (key, time): the one with the greatest
    * tiebreaker. Makes the as-of value well-defined when quotes tie.
    */
  def latestPerKeyTime(right: DataFrame, key: String, time: String,
      tiebreakers: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(key), col(time))
      .orderBy(tiebreakers.map(_.desc): _*)
    right.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Shared probe/quote stacking for both as-of paths: probes ride with a
    * null `_v`, quotes are projected onto the left schema with null
    * padding. Null-TIME rows are dropped on both sides — a row without a
    * position on the time axis has no "latest ≤ t" semantics (DuckDB's
    * inner ASOF JOIN likewise never matches a null-time probe) — as are
    * null-valued quotes (see [[asofJoin]]'s contract).
    */
  private def stack(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, valueCol: String): DataFrame = {
    val probe = left
      .filter(col(leftTime).isNotNull)
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumn("_v", lit(null).cast(right.schema(valueCol).dataType))
    val quote = right
      .filter(col(rightTime).isNotNull && col(valueCol).isNotNull)
      .select(col(key), col(rightTime).as("_t"), col(valueCol).as("_v"))
      .withColumn("_side", lit(0))
    val leftCols = left.columns
    probe.select(
      (leftCols.map(col) ++ Seq(col("_t"), col("_side"), col("_v"))): _*)
      .unionByName(quote
        .select((leftCols.map(c => if (c == key) col(key) else lit(null).as(c)) ++
          Seq(col("_t"), col("_side"), col("_v"))): _*))
  }

  /** Inner as-of join: returns `left` columns plus `valueCol` as
    * `asofValueName`; left rows with no preceding right row are dropped.
    *
    * Null-valued right rows never match: the carry-forward uses
    * `last(_v, ignoreNulls)` (probe rows ride as nulls), so a null quote
    * is skipped and the probe gets the latest OLDER non-null quote —
    * "latest non-null value" semantics, a declared divergence from engines
    * whose ASOF JOIN would match the null row itself. The explicit filter
    * below restates what ignoreNulls already does (and prunes the rows
    * before the shuffle), so the contract is visible in the plan rather
    * than implicit in a window flag.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, leftTime: String,
      rightTime: String, valueCol: String, asofValueName: String): DataFrame = {
    val stacked = stack(left, right, key, leftTime, rightTime, valueCol)
    // quotes (side 0) sort before probes (side 1) at equal _t, so an
    // exactly-simultaneous quote is visible to the probe (<= semantics).
    // _v is the final tiebreaker: if the right side was NOT pre-deduped
    // and carries duplicate (key, time) quotes, the GREATEST value wins
    // deterministically — the same choice asofJoinChunked's max(struct)
    // summary makes, so the pinned plain≡chunked equality holds for
    // arbitrary right inputs, not just latestPerKeyTime-deduped ones.
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"), col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    stacked
      .withColumn(asofValueName, last(col("_v"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .filter(col(asofValueName).isNotNull)
      .drop("_t", "_side", "_v")
  }

  /** Chunked as-of join — the skew answer when ONE key's history exceeds a
    * task (the same wall [[graft.operators.Indicators.chunkedTrueEma]]
    * answers for EMA): `partitionBy(key)` puts a key's entire merged
    * probe+quote stream in one sort. The carry-forward decomposes exactly:
    *
    *  1. within (key, chunk) — bounded partitions — the usual
    *     `last(_v, ignoreNulls)` window;
    *  2. per (key, chunk): the latest quote value (argmax over quote rows,
    *     map-side combinable; null for quote-less chunks);
    *  3. the tiny per-key summary set carries the latest non-null prior-
    *     chunk value forward (`last(ignoreNulls)` over chunks);
    *  4. per row: `coalesce(chunk-local value, incoming value)`.
    *
    * `chunkOf` must bucket times monotonically (all times of chunk k sort
    * before chunk k+1 — e.g. `year(t)`, `date_trunc`). Identical results
    * to [[asofJoin]] for any such bucketing (pinned by AsOfJoinSpec).
    */
  def asofJoinChunked(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, valueCol: String,
      asofValueName: String, chunkOf: Column => Column): DataFrame = {
    val stacked = stack(left, right, key, leftTime, rightTime, valueCol)
      .withColumn("_chunk", chunkOf(col("_t")))

    // _v tiebreaker matches asofJoin's window AND the max(struct(_t, _v))
    // summary below: duplicate (key, time) quotes resolve to the greatest
    // value on every path
    val cw = Window.partitionBy(col(key), col("_chunk"))
      .orderBy(col("_t"), col("_side"), col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val withLocal = stacked.withColumn("_local", last(col("_v"), ignoreNulls = true).over(cw))

    // latest quote per (key, chunk): argmax on _t over the QUOTE SIDE
    // directly — aggregating `stacked` would re-execute the whole
    // union+projection pipeline a second time (Spark rebuilds diamond
    // branches), paying another full pass over probes+quotes; the quote
    // table alone is what the summary actually reads. Quotes are unique
    // per (key, _t) by the latestPerKeyTime contract; on raw duplicates
    // max(struct) picks the greatest value — the same choice as the
    // window's _v tiebreaker.
    val qSummaries = right
      .filter(col(rightTime).isNotNull && col(valueCol).isNotNull)
      .select(col(key), col(rightTime).as("_t"), col(valueCol).as("_v"))
      .withColumn("_chunk", chunkOf(col("_t")))
      .groupBy(col(key), col("_chunk"))
      .agg(max(struct(col("_t"), col("_v"))).as("_m"))
      .select(col(key), col("_chunk"), col("_m._v").as("_chunk_last"))
    // the carry-forward domain must also cover probe-only chunks (a
    // quote-less chunk still needs its incoming value): distinct probe
    // chunks are a map-side-combinable aggregate over the (small
    // relative to quotes) probe side
    val probeChunks = left.filter(col(leftTime).isNotNull)
      .select(col(key), chunkOf(col(leftTime)).as("_chunk")).distinct()
    val domain = probeChunks
      .unionByName(qSummaries.select(col(key), col("_chunk"))).distinct()
    val summaries = domain.join(qSummaries, Seq(key, "_chunk"), "left")
    val prevW = Window.partitionBy(col(key)).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val incoming = summaries
      .withColumn("_in_v", last(col("_chunk_last"), ignoreNulls = true).over(prevW))
      .select(col(key), col("_chunk"), col("_in_v"))

    // NO broadcast hint: incoming has #keys × #chunks rows and the as-of
    // key is an arbitrary user column — with millions of keys a forced
    // broadcast is a driver OOM. AQE broadcasts it when it is small.
    withLocal.join(incoming, Seq(key, "_chunk"))
      .withColumn(asofValueName, coalesce(col("_local"), col("_in_v")))
      .filter(col("_side") === 1)
      .filter(col(asofValueName).isNotNull)
      .drop("_t", "_side", "_v", "_chunk", "_local", "_in_v")
  }
}
