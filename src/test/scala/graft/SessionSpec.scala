package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The test suite runs under the engine's own session config, and
  * [[GraftSession]] stays the only place that builds a session.
  */
class SessionSpec extends SparkSpec {

  test("the shared test session carries GraftSession's pinned config") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") == GraftSession.ExcludedRules)
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("GraftExtensions functions resolve in plain SQL") {
    val d = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(d == 11.0)
  }

  test("no source file but GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder("
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter((p: Path) => p.getFileName.toString != "GraftSession.scala" &&
      Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"build sessions through GraftSession: ${offenders.mkString(", ")}")
  }
}
