package graft

/** Local smoke main mirroring the driver's t1 check: SparkEntry.entry
  * must return rows > 0 on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)

    // extensions must make dot_f available to plain SQL (fresh JVM only —
    // extensions bind at session instantiation)
    val dotSql = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    println(s"[smoke] sql dot_f=$dotSql")
    assert(dotSql == 11.0, "dot_f not registered via GraftExtensions")
    val shSql = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .head().getSeq[String](0)
    println(s"[smoke] sql word_shingles=$shSql")
    assert(shSql == Seq("a b c", "b c d"), "word_shingles not registered")
    val rhSql = spark.sql("SELECT rolling_hash('') AS h").head().getLong(0)
    println(s"[smoke] sql rolling_hash('')=$rhSql")
    assert(rhSql == 217L, "rolling_hash not registered or empty-string semantics off")
    val repSql = spark.sql(
      "SELECT ngram_repetition('a b a b a', 2, 3, 5).top_a_cover AS c").head().getLong(0)
    println(s"[smoke] sql ngram_repetition top2=$repSql")
    assert(repSql == 6L, "ngram_repetition not registered or coverage off")
    // media parsers in plain SQL: a GIF89a header built from hex
    val gifSql = spark.sql(
      "SELECT m.format, m.width, m.height FROM " +
        "(SELECT image_meta(unhex('4749463839611000200000003B')) AS m)")
      .head
    println(s"[smoke] sql image_meta=$gifSql")
    assert(gifSql.getString(0) == "gif" && gifSql.getLong(1) == 16L &&
      gifSql.getLong(2) == 32L, "image_meta not registered or GIF parse off")
    // round-11 registrations: the perceptual hash over a decoded raster
    // (tiny 1x1 P5 PGM "P5\n1 1\n255\n" + one sample byte) and the MP3
    // frame walk over one hand-built MPEG-2 Layer III frame
    val dhSql = spark.sql(
      "SELECT raster_dhash(image_decode(unhex('50350A3120310A3235350A40'))) AS h")
      .head().getLong(0)
    println(s"[smoke] sql raster_dhash(1x1)=$dhSql")
    assert(dhSql == 0L, "raster_dhash not registered (flat image must hash 0)")
    val mp3Sql = spark.sql(
      "SELECT mp3_meta(unhex(concat('FFF320C0', repeat('00', 48)))).sample_rate AS r")
      .head().getLong(0)
    println(s"[smoke] sql mp3_meta rate=$mp3Sql")
    assert(mp3Sql == 22050L, "mp3_meta not registered or frame walk off")
    // round-12 registrations: full EXIF metadata and Layer III PCM
    // decode in plain SQL (fixture payloads built by the same synth
    // objects the keys use)
    val mk = org.apache.spark.sql.graftnative.ExifMeta.compute(
      org.apache.spark.sql.graftnative.ExifMetaSynth.jpegWithMeta(16, 16, 3, 2))
      .getUTF8String(0).toString
    val mkSql = spark.sql(
      s"SELECT exif_meta(unhex('${org.apache.spark.sql.graftnative.ExifMetaSynth
        .jpegWithMeta(16, 16, 3, 2).map("%02X".format(_)).mkString}')).make AS mk")
      .head().getString(0)
    println(s"[smoke] sql exif_meta.make=$mkSql")
    assert(mkSql == mk && mkSql == "CAM3", "exif_meta not registered")
    val mp3PcmSql = spark.sql(
      s"SELECT mp3_decode(unhex('${org.apache.spark.sql.graftnative.Mp3PcmSynth
        .mp3Bytes(0L).map("%02X".format(_)).mkString}')).pcm_abs_max AS p")
      .head().getInt(0)
    println(s"[smoke] sql mp3_decode silent peak=$mp3PcmSql")
    assert(mp3PcmSql == 0, "mp3_decode not registered or silence broken")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n cols=${df.columns.length}")
    df.show(3, truncate = false)
    assert(n > 0, "entry returned 0 rows")

    // cap observability (no-silent-caps): how the LSH banding behaved on
    // this corpus — skipped (degenerate) buckets and worst bucket size
    Seq("minhash" -> QueriesScale.minhashBucketStats(spark, "/root/testdata/sf0.001"),
        "minhash_xx" -> QueriesScale.minhashBucketStats(spark, "/root/testdata/sf0.001", prod = true),
        "simhash" -> QueriesScale.simhashBucketStats(spark, "/root/testdata/sf0.001"))
      .foreach { case (name, stats) =>
        val r = stats.head
        println(s"[smoke] $name buckets=${r.getAs[Long]("n_buckets")} " +
          s"skipped=${r.getAs[Long]("n_skipped")} max_bucket=${r.getAs[Int]("max_bucket")}")
      }

    // incremental engine end-to-end over real testdata: two half-runs then
    // an idempotent re-run (must add zero rows)
    val tmp = java.nio.file.Files.createTempDirectory("graft_smoke_inc").toString
    val base = Tables.ohlcv(spark, "/root/testdata/sf0.001")
    val half = base.filter(org.apache.spark.sql.functions.col("timestamp") <
      org.apache.spark.sql.functions.lit("1995-01-01"))
    val ord = Queries.tieCols // canonical total order on this data
    // each run returns a checkpoint the caller owns: every block must be
    // released once the section is done, not whenever GC next runs. The
    // results stay strongly referenced until the check, and the check
    // compares RDD ids: a GC that collected some other RDD could hide a
    // leak from a count
    val sc = spark.sparkContext
    val heldBefore = sc.getPersistentRDDs.keySet
    def inc(input: org.apache.spark.sql.DataFrame) = operators.Incremental.runIncremental(
      spark, input, s"$tmp/wm", s"$tmp/out", operators.Incremental.Truncated, ord)
    val first = inc(half)
    operators.Checkpoints.release(first)
    val second = inc(base)
    operators.Checkpoints.release(second)
    val rerun = inc(base)
    val written = spark.read.parquet(s"$tmp/out").count()
    println(s"[smoke] incremental written=$written rerun_new=${rerun.count()}")
    assert(written == n, s"incremental total $written != $n")
    assert(rerun.isEmpty, "re-run was not idempotent")
    operators.Checkpoints.release(rerun)
    val heldAfter = sc.getPersistentRDDs.keySet
    println(s"[smoke] incremental held RDDs before=${heldBefore.size} after=${heldAfter.size}")
    assert(heldAfter.subsetOf(heldBefore),
      s"incremental left RDD(s) ${(heldAfter -- heldBefore).mkString(", ")} held")
    java.lang.ref.Reference.reachabilityFence(Seq(first, second, rerun))

    // the iterative graph operators keep their rounds as checkpoints too:
    // releasing the result must leave none of its rounds held
    val graphBefore = sc.getPersistentRDDs.keySet
    import spark.implicits._
    val tinyEdges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val cc = operators.ScaleOps.connectedComponents(tinyEdges)
    val (pr, prRounds) = operators.ScaleOps.pageRankConverge(
      Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L).toDF("node"), tinyEdges, tol = 1000000L)
    val ccRows = cc.count()
    println(s"[smoke] graph cc_rows=$ccRows pr_rows=${pr.count()} pr_rounds=$prRounds")
    assert(ccRows == 5, "connectedComponents lost a component member")
    operators.Checkpoints.release(cc)
    operators.Checkpoints.release(pr)
    val graphAdded = sc.getPersistentRDDs.keySet -- graphBefore
    println(s"[smoke] graph held RDDs before=${graphBefore.size} added=${graphAdded.size}")
    assert(graphAdded.isEmpty, s"graph operators left ${graphAdded.size} checkpoint(s) held")

    // ML parity end-to-end on real testdata: indicators -> future target ->
    // train -> registry -> predict latest
    val mlDir = java.nio.file.Files.createTempDirectory("graft_smoke_ml").toString
    val labeled = ml.MlParity.withFutureTarget(
      operators.Indicators.withIndicators(base, operators.Indicators.baseWindow()), ord)
    val feats = Seq("close", "sma_5", "sma_20", "rsi", "obv")
    val tm = ml.MlParity.trainLinear(labeled.na.drop(feats), feats)
    ml.MlParity.saveModel(spark, tm, "A", "linear_regression", mlDir)
    val latest = ml.MlParity.latestFeatures(labeled.na.drop(feats), ord)
    val preds = ml.MlParity.predict(spark, mlDir, "A", latest, feats)
    println(s"[smoke] ml r2=${tm.r2} predictions=${preds.count()}")
    assert(preds.count() > 0, "no predictions")
    spark.stop()
  }
}
