package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{JpegSynthFunctions, RasterFunctions,
  RasterSynthFunctions, TiffFunctions, Vp8SynthFunctions, WebpSynthFunctions}

/** Throughput probe for the compressed-raster decode path (PNG inflate +
  * unfilter, GIF LZW): synthesize-and-decode `SPARK_GRAFT_RASTER_DOCS`
  * images of `SPARK_GRAFT_RASTER_DIM`² RGB pixels per format and report
  * wall seconds, images/s, and raster MB/s (`runMain graft.Bench stress
  * raster`, fresh JVM, quiet box, as every stress lane). The timed
  * pipeline is synthesize → decode → per-channel sums (one codegen'd
  * per-row stage, zero shuffle until the final scalar aggregate), so the
  * number prices the whole encode+decode round trip — a decode-only
  * figure would need pre-materialized files and measure parquet IO
  * instead.
  */
object RasterStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_RASTER_DOCS", "100000").toLong
    val dim = sys.env.getOrElse("SPARK_GRAFT_RASTER_DIM", "32").toLong
    val ids = spark.range(0, nDocs).select(col("id"))
    // warm-up: codegen + classloading outside the timed runs
    ids.limit(1000).select(RasterFunctions.raster_channel_sums(RasterFunctions.image_decode(
      RasterSynthFunctions.synth_png(lit(dim), lit(dim), col("id"), 3))).as("s"))
      .agg(sum(element_at(col("s"), 1))).head()
    val rawMb = nDocs * dim * dim * 3 / 1e6
    val fields = collection.mutable.ArrayBuffer(
      s""""docs":$nDocs""", s""""dim":$dim""", s""""cpus":$cpus""",
      f""""raster_mb":$rawMb%.1f""")
    Seq(
      "png" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => RasterSynthFunctions.synth_png(w, w, s, 3)),
      "gif" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => RasterSynthFunctions.synth_gif(w, w, s)),
      // 4:2:0 YCbCr — the dominant web JPEG shape (dim must stay a
      // multiple of 16 for the fixture's exactness contract)
      "jpeg" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => JpegSynthFunctions.synth_jpeg(w, w, s, mode = 1)),
      "webp" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => WebpSynthFunctions.synth_webpl(w, w, s)),
      // round-11 lanes: progressive JPEG (multi-scan coefficient
      // accumulation) and predictor+meta-Huffman WebP
      "jpeg_prog" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => JpegSynthFunctions.synth_jpeg(w, w, s, mode = 4)),
      "webp_pred" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => WebpSynthFunctions.synth_webpl_pred(w, w, s)),
      // lossy VP8 key frames, both fixture shapes (B_PRED and 16x16/Y2)
      "vp8" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => when(s % 2 === 0, Vp8SynthFunctions.synth_vp8(w, w, s, mode = 0))
          .otherwise(Vp8SynthFunctions.synth_vp8(w, w, s, mode = 1))),
      // baseline TIFF, PackBits RGB (the compressed path)
      "tiff" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => TiffFunctions.synth_tiff(w, w, s, 3)),
      // round-12 TIFF: LZW + horizontal predictor RGB — the classic
      // scanner output, pricing the real §13 dictionary decode
      "tiff_lzw" -> ((w: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column)
        => TiffFunctions.synth_tiff(w, w, s, 5))
    ).foreach { case (fmt, synth) =>
      val (sec, r) = Bench.best(spark, 1)(ids
        .select(RasterFunctions.raster_channel_sums(RasterFunctions.image_decode(
          synth(lit(dim), col("id")))).as("s"))
        .agg(sum(element_at(col("s"), 1)).as("r"),
          sum(element_at(col("s"), 2)).as("g"),
          sum(element_at(col("s"), 3)).as("b"),
          // count the NON-NULL sums: count(lit(1)) would count rows whose
          // decode failed ('unknown' → null sums) and a partial decode
          // regression would silently inflate the reported images/s
          count(col("s")).as("n"))
        .head())
      require(r.getLong(3) == nDocs && !r.isNullAt(0),
        s"$fmt: decoded ${r.getLong(3)} of $nDocs (every row must decode)")
      fields += f""""${fmt}_sec":$sec%.2f"""
      fields += f""""${fmt}_img_per_s":${nDocs / sec}%.0f"""
      fields += f""""${fmt}_mb_per_s":${rawMb / sec}%.1f"""
    }
    fields.mkString("""{"metric":"raster_stress",""", ",", "}")
  }
}
