package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cleaning / normalization operators E1-E11 (SURVEY §2.2), mirroring
  * `/root/reference/spark-job/etl_job.py:200-263` (clean_and_prepare_data)
  * and `:406-462` (ES NaN scrub). All narrow transforms — no shuffles —
  * so they fuse into the scan's whole-stage-codegen span at any scale.
  */
object Clean {

  val numericCols: Seq[String] = Seq("open", "high", "low", "close", "volume")

  private val datePat = "\\d{4}-\\d{2}-\\d{2}"

  /** E1 — date-string salvage (`etl_job.py:223-231`): extract the first
    * `yyyy-MM-dd` run from a free-form date string, null otherwise.
    */
  def salvageDate(dateStr: Column): Column =
    to_date(
      when(dateStr.rlike(datePat), regexp_extract(dateStr, s"($datePat)", 1))
        .otherwise(lit(null)),
      "yyyy-MM-dd")

  /** E1+E2 — full date-normalization step with the >50%-null fallback rule
    * (`etl_job.py:233-238`): if most dates fail to parse, derive
    * trading_date from `timestamp` instead. The fallback decision is a
    * driver-side conditional on one aggregate — one extra job, as in the
    * reference.
    */
  def withTradingDate(df: DataFrame): DataFrame = {
    val extracted = df.withColumn("trading_date", salvageDate(col("date")))
    if (!df.columns.contains("timestamp")) return extracted
    val Array(nulls, total) = extracted
      .agg(count(when(col("trading_date").isNull, 1)), count(lit(1)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    if (total > 0 && nulls > total * 0.5)
      extracted.withColumn("trading_date", to_date(col("timestamp")))
    else extracted
  }

  /** E3 — numeric cast normalize (`etl_job.py:240-243`). `try_cast`
    * keeps the reference's non-ANSI semantics under Spark's ANSI default:
    * a malformed value (`n/a`, `""`) becomes null, which `dropNullRows`
    * then removes, instead of failing the whole job.
    */
  def castNumeric(df: DataFrame, cols: Seq[String] = numericCols): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).try_cast(DoubleType)))

  /** E4 — null-row filter (`etl_job.py:245-247`). */
  def dropNullRows(df: DataFrame, cols: Seq[String] = numericCols): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df)((d, c) =>
      d.filter(col(c).isNotNull))

  /** E5 — constant symbol column when missing (`etl_job.py:254-255`). */
  def ensureSymbol(df: DataFrame, symbol: String): DataFrame =
    if (df.columns.contains("symbol")) df
    else df.withColumn("symbol", lit(symbol))

  /** E6 — row-id generation (`etl_job.py:257`). Non-deterministic by
    * nature; excluded from oracle-matched projections.
    */
  def withRowId(df: DataFrame): DataFrame =
    df.withColumn("row_id", expr("uuid()"))

  /** E7 — drop temp columns starting with `_` (`etl_job.py:335-336`). */
  def dropTempCols(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("_")).toSeq: _*)

  /** E9 — NaN→null scrub before the search sink (`etl_job.py:439-450`):
    * doubles with NaN become typed nulls; string-typed numerics with the
    * literal "NaN" become null, otherwise cast to double.
    */
  def nanScrub(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case DoubleType | FloatType =>
          d.withColumn(c, when(isnan(col(c)), lit(null).cast(DoubleType)).otherwise(col(c)))
        case StringType =>
          d.withColumn(c, when(col(c) === "NaN", lit(null).cast(DoubleType))
            .otherwise(col(c).cast(DoubleType)))
        case _ => d
      }
    }

  /** E11 — composite key `<symbol>_yyyy-MM-dd` used as both the Mongo
    * `symbol_date_key` and the ES upsert doc id (`etl_job.py:386-388,
    * 420-422`) — the dedup key that makes the at-least-once pipeline
    * effectively exactly-once on the search path.
    */
  def compositeKey(symbol: Column, tradingDate: Column): Column =
    concat_ws("_", symbol, date_format(tradingDate, "yyyy-MM-dd"))

  /** Full clean pipeline in reference order (E1..E6). */
  def cleanAndPrepare(df: DataFrame, symbol: String): DataFrame = {
    val dated = if (df.columns.contains("date")) withTradingDate(df) else df
    val casted = castNumeric(dated)
    val filtered = dropNullRows(casted)
    withRowId(ensureSymbol(filtered, symbol))
  }
}
