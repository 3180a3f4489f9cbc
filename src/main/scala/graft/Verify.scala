package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: `all` or a comma-separated key subset (dev runs
    // / splitting a long sf0.1 verify into halves); oracle_sql.json is
    // filtered to match so check_oracle.py compares exactly the dumped
    // keys. A typo'd name fails here: a silently-dropped filter entry
    // would dump nothing and leave the downstream gate vacuously green
    val keyFilter = args.lift(2).map(Bench.selectKeys(_).toSet)
    def keep(name: String): Boolean = keyFilter.forall(_.contains(name))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try naiveTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        // the class too: getMessage alone can be null
        System.err.println(s"[verify] $name failed: $e")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `df` with each TIMESTAMP column cast to TIMESTAMP_NTZ, the type the
    * oracle's DuckDB TIMESTAMP compares equal to. The session writes a
    * TIMESTAMP as INT64 micros adjusted to UTC, which DuckDB reads as
    * TIMESTAMPTZ; an NTZ column is written unadjusted and read as
    * TIMESTAMP. The session time zone is UTC, so every value keeps its
    * wall time.
    */
  private[graft] def naiveTimestamps(df: DataFrame): DataFrame =
    df.withColumns(df.schema.fields.collect {
      case f if f.dataType == TimestampType =>
        f.name -> df.col(s"`${f.name.replace("`", "``")}`").cast(TimestampNTZType)
    }.toMap)
}
