package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Clean

class CleanSpec extends SparkSpec {
  import spark.implicits._

  test("E1 date salvage extracts first yyyy-MM-dd run, null otherwise") {
    val df = Seq("2024-01-15", "x 2023-12-31 y", "garbage", "15/01/2024", "2024-1-5")
      .toDF("date")
      .withColumn("d", Clean.salvageDate(col("date")))
    val got = df.select("d").collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got.toSeq == Seq(Some("2024-01-15"), Some("2023-12-31"), None, None, None))
  }

  test("E2 fallback: >50% unparseable dates switch to timestamp column") {
    val df = Seq(
      ("bad1", "2020-01-01 00:00:00"), ("bad2", "2020-01-02 00:00:00"),
      ("bad3", "2020-01-03 00:00:00"), ("2021-05-05", "2020-01-04 00:00:00"))
      .toDF("date", "ts")
      .withColumn("timestamp", to_timestamp(col("ts")))
    val out = Clean.withTradingDate(df)
    val dates = out.select("trading_date").collect().map(_.get(0).toString).sorted
    // all four rows fall back to to_date(timestamp)
    assert(dates.toSeq == Seq("2020-01-01", "2020-01-02", "2020-01-03", "2020-01-04"))
  }

  test("E2 no fallback when most dates parse") {
    val df = Seq(
      ("2021-01-01", "2020-01-01 00:00:00"), ("2021-01-02", "2020-01-02 00:00:00"),
      ("bad", "2020-01-03 00:00:00"))
      .toDF("date", "ts")
      .withColumn("timestamp", to_timestamp(col("ts")))
    val out = Clean.withTradingDate(df)
    val dates = out.select("trading_date").collect().map(r => Option(r.get(0)).map(_.toString))
    assert(dates.count(_.isEmpty) == 1)
    assert(dates.flatten.forall(_.startsWith("2021")))
  }

  test("E3 castNumeric: malformed numeric strings become null under ANSI and are dropped") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val raw = Seq(("A", "10.5", "100"), ("B", "n/a", "5"), ("C", "", "7"), ("D", "1e2", "x"))
        .toDF("symbol", "close", "volume")
      val cast = Clean.castNumeric(raw)
      assert(cast.schema("close").dataType == DoubleType)
      val rows = cast.orderBy("symbol").collect()
      assert(rows(1).isNullAt(1) && rows(2).isNullAt(1) && rows(3).isNullAt(2))
      assert(rows(3).getDouble(1) == 100.0)
      val kept = Clean.dropNullRows(cast).collect()
      assert(kept.map(_.getString(0)).toSeq == Seq("A"))
      assert(kept.head.getDouble(1) == 10.5 && kept.head.getDouble(2) == 100.0)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("E9 NaN scrub: double NaN -> null; 'NaN' string -> null; numeric string -> double") {
    val df = Seq((Double.NaN, "NaN"), (1.5, "42"), (2.5, "7"))
      .toDF("d", "s")
    val out = Clean.nanScrub(df, Seq("d", "s"))
    val rows = out.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 1.5 && rows(1).getDouble(1) == 42.0)
    assert(out.schema("s").dataType == DoubleType)
  }

  test("E11 composite key formats symbol_yyyy-MM-dd") {
    val df = Seq(("AAPL", "2024-03-05 10:30:00")).toDF("symbol", "ts")
      .withColumn("trading_date", to_timestamp(col("ts")))
      .withColumn("k", Clean.compositeKey(col("symbol"), col("trading_date")))
    assert(df.select("k").head.getString(0) == "AAPL_2024-03-05")
  }

  test("E5/E6/E7: ensureSymbol, row ids, temp-column drop") {
    val df = Seq((1.0, 2.0)).toDF("close", "_tmp")
    val sym = Clean.ensureSymbol(df, "AAPL")
    assert(sym.select("symbol").head.getString(0) == "AAPL")
    // existing symbol column is left untouched
    val already = Clean.ensureSymbol(sym, "MSFT")
    assert(already.select("symbol").head.getString(0) == "AAPL")
    // row ids unique
    val ids = Clean.withRowId(Seq(1, 2, 3).toDF("x")).select("row_id")
      .collect().map(_.getString(0))
    assert(ids.distinct.length == 3)
    // temp cols dropped
    assert(!Clean.dropTempCols(df).columns.contains("_tmp"))
  }

  test("full cleanAndPrepare pipeline on raw-shaped input") {
    val raw = Seq(
      ("2024-01-02", "10.5", "11.0", "10.0", "10.8", "100", "2024-01-02 00:00:00"),
      ("garbage", "1.0", null, "0.9", "1.0", "5", "2024-01-03 00:00:00"))
      .toDF("date", "open", "high", "low", "close", "volume", "ts")
      .withColumn("timestamp", to_timestamp(col("ts"))).drop("ts")
    val out = Clean.cleanAndPrepare(raw, "TEST")
    // row 2 has null high -> dropped; row 1 survives fully typed
    assert(out.count() == 1)
    val r = out.head()
    assert(r.getAs[String]("symbol") == "TEST")
    assert(out.schema("close").dataType == DoubleType)
    assert(r.getAs[java.sql.Date]("trading_date").toString == "2024-01-02")
    assert(r.getAs[String]("row_id") != null)
  }

  test("E4 dropNullRows removes rows with nulls in listed cols only") {
    val df = Seq((Some(1.0), 2.0), (None, 3.0)).toDF("a", "b")
    assert(Clean.dropNullRows(df, Seq("a")).count() == 1)
    assert(Clean.dropNullRows(df, Seq("b")).count() == 2)
  }
}
