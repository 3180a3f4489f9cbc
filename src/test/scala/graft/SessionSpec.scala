package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.functions.{col, lit}

/** The test suite runs under the engine's own session config,
  * [[GraftSession]] stays the only place that builds a session and sets
  * the parquet write policy, [[Bench]] stays the one measurement runner,
  * and every scaladoc block in the engine sources reaches its definition.
  */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("the shared test session carries GraftSession's pinned config") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") == GraftSession.ExcludedRules)
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(spark.conf.get("parquet.writer.version") == "v2")
  }

  test("GraftExtensions functions resolve in plain SQL") {
    val d = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(d == 11.0)
  }

  /** Scala sources under `roots` whose text `hits`, except the files named
    * in `allowed`. */
  private def offenders(roots: Seq[String], hits: String => Boolean, allowed: Set[String]): Seq[Path] =
    roots.map(Paths.get(_)).flatMap { r =>
      assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter((p: Path) => !allowed(p.getFileName.toString) && hits(Files.readString(p)))

  test("no source file but GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own search
    val found = offenders(Seq("src/main/scala", "src/test/scala"),
      _.contains("SparkSession" + ".builder("), Set("GraftSession.scala"))
    assert(found.isEmpty, s"build sessions through GraftSession: ${found.mkString(", ")}")
  }

  test("no source file but GraftSession.scala sets a parquet write option") {
    // the session keys and parquet-mr's writer keys (`parquet.compression`
    // covers both, `writer.version` is parquet-mr's), and a writer's own
    // `compression` option on a line that writes parquet; CSV, ORC and
    // JSON compression are not the policy's
    def setsPolicy(text: String) =
      text.contains("parquet.compression") || text.contains("outputTimestampType") ||
        text.contains("writer.version") ||
        text.linesIterator.exists(l => l.contains("\"compression\"") && l.contains(".parquet("))
    val found = offenders(Seq("src/main/scala"), setsPolicy, Set("GraftSession.scala"))
    assert(found.isEmpty, s"set the write policy once, in GraftSession: ${found.mkString(", ")}")
  }

  test("Verify dumps TIMESTAMP columns unadjusted, as the oracle's naive TIMESTAMP, with the same wall times") {
    val df = Seq(("A", "2024-01-01 09:30:00"), ("B", "2024-01-02 16:00:00")).toDF("symbol", "ts")
      .select(col("symbol"), col("ts").cast("timestamp").as("timestamp"), lit(1).as("n"))
    val dir = Files.createTempDirectory("verify_dump").toString + "/dump"
    Verify.naiveTimestamps(df).write.parquet(dir)
    val unadjusted = LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)
    val files = ParquetFooters.under(spark, dir).filter(_._2.getBlocks.size > 0)
    assert(files.nonEmpty)
    files.foreach { case (p, f) =>
      val t = ParquetFooters.physicalType(f, "timestamp")
      assert(t.getLogicalTypeAnnotation == unadjusted, s"$p: $t")
    }
    val back = spark.read.parquet(dir).select(col("symbol"), col("timestamp").cast("string"))
    assert(back.collect().toSet == df.select(col("symbol"), col("timestamp").cast("string")).collect().toSet)
  }

  /** Whether a scaladoc block is followed, past blank or `//` lines only,
    * by another doc block: scaladoc then drops the first one. */
  private def orphanedDoc(text: String): Boolean = {
    val lines = text.linesIterator.map(_.trim).toVector
    def next(j: Int): Int =
      if (j < lines.size && (lines(j).isEmpty || lines(j).startsWith("//"))) next(j + 1) else j
    var inDoc = false
    lines.indices.exists { i =>
      if (lines(i).startsWith("/**")) inDoc = true
      val closes = inDoc && lines(i).contains("*/")
      if (closes) inDoc = false
      closes && { val j = next(i + 1); j < lines.size && lines(j).startsWith("/**") }
    }
  }

  test("no scaladoc block in src/main is orphaned by a second doc block") {
    val found = offenders(Seq("src/main/scala"), orphanedDoc, Set.empty)
    assert(found.isEmpty,
      s"merge each pair into one doc on its definition: ${found.mkString(", ")}")
  }

  test("only Bench, Verify and Smoke define a main") {
    val found = offenders(Seq("src/main/scala"), _.contains("def main("),
      Set("Bench.scala", "Verify.scala", "Smoke.scala"))
    assert(found.isEmpty, s"add a mode to graft.Bench instead: ${found.mkString(", ")}")
  }
}
