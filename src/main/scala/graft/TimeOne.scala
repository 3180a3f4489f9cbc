package graft

import java.nio.file.{Files, Paths}

/** Dev utility for single query keys, in the session [[Bench]] and
  * [[Verify]] use. Two modes:
  *
  *  - `runMain graft.TimeOne <key>[,key...] [sfDir] [reps] [explain]` times
  *    each key's `count()` `reps` times (default 2) and prints the best;
  *    `explain` prints the formatted physical plan first.
  *  - `runMain graft.TimeOne <key>[,key...] [sfDir] plan [outDir]` dumps
  *    each key's formatted plan WITHOUT executing it, to `<outDir>/<key>.txt`
  *    (stdout when no outDir).
  *
  * `all` as the key list means every key in [[SparkEntry.queries]], in
  * name order: `TimeOne all <sfDir> plan <outDir>` dumps the whole
  * registry, so two builds' plans can be diffed key by key.
  *
  * Comma-separated keys run in sequence in ONE session — reproduces
  * cross-query interactions (broadcast/GC state) the per-key isolation of
  * a fresh JVM would hide. `SPARK_GRAFT_LOG` overrides the WARN log level.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val keys =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = args.drop(2)
    val spark = GraftSession.local(GraftSession.cpus)
    sys.env.get("SPARK_GRAFT_LOG").foreach(spark.sparkContext.setLogLevel)
    def plan(k: String): String = SparkEntry.queries(k)(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    keys.foreach { k =>
      if (mode.headOption.contains("plan")) mode.lift(1) match {
        case Some(d) =>
          val p = Files.createDirectories(Paths.get(d)).resolve(s"$k.txt")
          Files.writeString(p, plan(k))
          println(s"[timeone] wrote $p")
        case None => println(s"===== $k =====\n" + plan(k))
      } else {
        if (mode.contains("explain")) println(plan(k))
        val times = (1 to mode.headOption.flatMap(_.toIntOption).getOrElse(2)).map { i =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(k)(spark, sfDir).count()
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[timeone] $k rep$i: $s%.3f s ($n rows)")
          s
        }
        println(f"[timeone] $k best: ${times.min}%.3f s")
      }
    }
    spark.stop()
  }
}
