package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once cache for offline artifacts (codebooks, index segments,
  * cluster maps, trained models) — the one place that owns the
  * staleness rule every memoized artifact shares: the cache key embeds
  * the SOURCE PARQUET's mtime ([[stamp]]), so a long-lived JVM that
  * regenerates testdata under the same path rebuilds instead of serving
  * a stale artifact (the Tables.symbolUniverseCsv recipe). Centralizing
  * the pattern keeps the memo-key shape uniform across artifacts — four
  * hand-rolled copies of this had already drifted on sentinel and stamp
  * details once.
  */
object ArtifactMemo {

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Source-staleness stamp: `dir@mtime` of the parquet the artifact is
    * derived from. Fails fast on a missing source — `lastModified` of an
    * absent (or still-being-written) file is 0, which would memoize an
    * artifact built against nothing under a stable-looking key.
    */
  def stamp(dir: String, sourceFile: String): String = {
    val f = new java.io.File(s"$dir/$sourceFile")
    require(f.exists(), s"ArtifactMemo.stamp: source $f does not exist")
    s"$dir@${f.lastModified()}"
  }

  /** Build-once value for `key` (include a [[stamp]] in it). The build
    * runs OUTSIDE any map lock: artifacts nest (the IVF base segment's
    * build loads the codebook artifact), and a nested
    * `computeIfAbsent` on one shared map is a recursive update —
    * forbidden by the CHM contract and an `IllegalStateException`
    * whenever the two keys land in one bin. Racing builders may both
    * compute; the first `putIfAbsent` wins and the loser's result is
    * discarded (builds are deterministic, so this wastes work, never
    * correctness).
    */
  def cached[T <: AnyRef](key: String)(build: => T): T = {
    val existing = memo.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build.asInstanceOf[AnyRef]
      val prev = memo.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Test hook: drop in-JVM memo entries containing `substr`, simulating
    * the cold-memo state a fresh process starts from — the state the
    * durable re-open path exists for.
    */
  private[graft] def forgetForTest(substr: String): Unit = {
    memo.keySet.removeIf(_.contains(substr)); ()
  }

  /** Build-once parquet artifact: materializes `build` under a fresh
    * temp directory and returns the path (read it back with
    * `spark.read.parquet`).
    */
  def parquet(key: String, name: String)(build: => DataFrame): String =
    cached[String](s"$key#$name") {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toFile
      tmp.deleteOnExit()
      val path = new java.io.File(tmp, name).getPath
      build.write.mode("overwrite").parquet(path)
      path
    }

  /** DURABLE build-once parquet artifact — the cross-process serving
    * store: the location is a STABLE function of (name, key-digest)
    * under `<warehouse>/graft_artifacts/`, so a fresh JVM over the same
    * corpus RE-OPENS the previous process' complete directory (judged by
    * its `_SUCCESS` marker) instead of re-deriving the artifact; a
    * partial directory (crashed build) is deleted and rebuilt. The
    * in-JVM memo still short-circuits repeat calls. One directory exists
    * per (artifact, corpus stamp); artifacts of other stamps — the three
    * SF fixtures, or a regenerated corpus — coexist under their own
    * digests, and same-name siblings untouched for >48 h are swept as
    * orphans on the next build (never a directory another live process
    * could still be reading at fixture timescales).
    *
    * Once written, the built frame's checkpoints are released
    * ([[graft.operators.Checkpoints.release]]): `build` must return a
    * frame whose checkpoints it created itself and nothing else reads,
    * such as an iterative graph operator's result.
    */
  def parquetDurable(spark: SparkSession, key: String, name: String,
      partitionCols: Seq[String] = Nil)(build: => DataFrame): String =
    cached[String](s"durable#$key#$name#${partitionCols.mkString(",")}") {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$key#${partitionCols.mkString(",")}".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      val root = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        "graft_artifacts")
      val loc = new org.apache.hadoop.fs.Path(root, s"${name}_$sha")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val complete = fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
      if (!complete) {
        if (fs.exists(loc)) fs.delete(loc, true) // crashed-build debris
        if (fs.exists(root)) { // orphan sweep: same artifact, dead stamps
          val cutoff = System.currentTimeMillis() - 48L * 3600 * 1000
          fs.listStatus(root).foreach { st =>
            if (st.isDirectory && st.getPath.getName.startsWith(s"${name}_") &&
                st.getModificationTime < cutoff)
              fs.delete(st.getPath, true)
          }
        }
        val built = build
        val w = built.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(loc.toString)
        graft.operators.Checkpoints.release(built)
      }
      loc.toString
    }
}
