package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The test suite runs under the engine's own session config,
  * [[GraftSession]] stays the only place that builds a session, and
  * [[Bench]] stays the one measurement runner.
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

  /** Scala sources under `roots` whose text contains `needle`, except
    * the files named in `allowed`. */
  private def offenders(roots: Seq[String], needle: String, allowed: Set[String]): Seq[Path] =
    roots.map(Paths.get(_)).flatMap { r =>
      assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter((p: Path) => !allowed(p.getFileName.toString) &&
      Files.readString(p).contains(needle))

  test("no source file but GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own search
    val found = offenders(Seq("src/main/scala", "src/test/scala"),
      "SparkSession" + ".builder(", Set("GraftSession.scala"))
    assert(found.isEmpty, s"build sessions through GraftSession: ${found.mkString(", ")}")
  }

  test("only Bench, Verify and Smoke define a main") {
    val found = offenders(Seq("src/main/scala"), "def main(",
      Set("Bench.scala", "Verify.scala", "Smoke.scala"))
    assert(found.isEmpty, s"add a mode to graft.Bench instead: ${found.mkString(", ")}")
  }
}
