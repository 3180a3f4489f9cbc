package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of checkpointed frames. An operator that returns a
  * `localCheckpoint`ed frame ([[Incremental.runIncremental]],
  * [[ScaleOps.dhashHammingClusters]], the iterative graph operators) leaves
  * its blocks on the executors, and the caller owns them.
  * `Dataset.unpersist()` does not free them: it drops cache-manager entries
  * only, and a local checkpoint's blocks belong to the RDD under the frame's
  * `LogicalRDD`. Without [[release]] they stay held until a GC lets the
  * ContextCleaner find them.
  *
  * [[Rounds]] is how an iterative operator keeps its rounds: as local
  * checkpoints, or as parquet under a run directory (the durable form,
  * which survives executor loss). Either way it lets round i−1 go once
  * round i is materialized, and drops what the result does not read
  * before the operator returns.
  */
object Checkpoints {

  /** Unpersists the RDD of every `LogicalRDD` under `df`'s plan. A frame
    * derived from a checkpoint releases that checkpoint too, so call it once
    * no frame over the same checkpoint is still needed.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** The frames one run of an iterative operator keeps, by name.
    *
    * Without `runDir` a kept frame is a `localCheckpoint`. With it, the
    * frame is written as parquet to `<runDir>/<name>` and read back, so
    * the run survives executor loss. One run owns its directory: it must
    * be absent or empty, so a second run can never overwrite the files
    * behind an earlier run's result. The caller deletes the directory
    * once it no longer reads the result.
    */
  final class Rounds(spark: SparkSession, runDir: Option[String]) {
    private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    runDir.foreach { d =>
      val p = new Path(d)
      require(!fs(p).exists(p) || fs(p).listStatus(p).isEmpty,
        s"runDir $d is not empty: each run needs its own directory, and " +
          "an earlier run's result may still read the files in this one")
    }

    private val kept = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    private var live: Option[String] = None

    /** Keeps `df` under `name`. A local checkpoint is `eager` or lazy as
      * asked; a parquet write always materializes. */
    def keep(df: DataFrame, name: String, eager: Boolean): DataFrame = {
      val out = runDir match {
        case Some(d) =>
          df.write.parquet(s"$d/$name")
          spark.read.parquet(s"$d/$name")
        case None => df.localCheckpoint(eager)
      }
      kept(name) = out
      out
    }

    /** Lets a kept frame go: releases its blocks, or deletes its
      * directory. A name that is not kept is a no-op. */
    def drop(name: String): Unit = kept.remove(name).foreach { df =>
      runDir match {
        case Some(d) =>
          val p = new Path(s"$d/$name")
          fs(p).delete(p, true)
        case None => release(df)
      }
    }

    /** Keeps `df` as the run's next round and runs `probe` on it — for a
      * lazy keep, the full scan that materializes it — then drops the
      * round kept before it, which nothing reads any more.
      */
    def advance[T](df: DataFrame, name: String, eager: Boolean)
        (probe: DataFrame => T): (DataFrame, T) = {
      val next = keep(df, name, eager)
      val t = probe(next)
      live.foreach(drop)
      live = Some(name)
      (next, t)
    }

    /** Returns `result` after releasing every kept local checkpoint that
      * its plan does not reference. Durable frames stay under `runDir`
      * until the caller deletes it. */
    def finish(result: DataFrame): DataFrame = {
      if (runDir.isEmpty) {
        val read = rddIds(result)
        kept.collect { case (name, df) if !rddIds(df).subsetOf(read) => name }
          .toList.foreach(drop)
      }
      result
    }
  }
}
