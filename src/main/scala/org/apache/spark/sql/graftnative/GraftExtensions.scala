package org.apache.spark.sql.graftnative

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions for SQL users, so `SELECT dot_f(a, b)` works in plain
  * `spark.sql` (and in thrift/connect frontends that honor extensions).
  *
  * Every `graft.GraftSession` session installs it. External frontends
  * wire it up with
  * `spark.sql.extensions=org.apache.spark.sql.graftnative.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductFloat].getName, "dot_f"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"dot_f expects exactly 2 arguments, got ${children.length}")
        DotProductFloat(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"word_shingles expects (text, k), got ${children.length} arguments")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles k must be an integer literal, got $other")
        }
        WordShingles(children(0), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cdc_cuts"),
      new ExpressionInfo(classOf[CdcCuts].getName, "cdc_cuts"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"cdc_cuts expects (text, window, mask), got ${children.length} arguments")
        val lits = children.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"cdc_cuts window/mask must be integer literals, got $other")
        }
        CdcCuts(children.head, lits(0), lits(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[PolyRollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"rolling_hash expects exactly 1 argument, got ${children.length}")
        PolyRollingHash(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_repetition"),
      new ExpressionInfo(classOf[NgramRepetitionStats].getName, "ngram_repetition"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"ngram_repetition expects (text, nTopA, nTopB, nDup), got ${children.length} arguments")
        val Seq(a, b, d) = children.drop(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"ngram_repetition sizes must be integer literals, got $other")
        }
        NgramRepetitionStats(children.head, a, b, d)
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropyStats].getName, "char_entropy"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"char_entropy expects exactly 1 argument, got ${children.length}")
        CharEntropyStats(children.head)
      }))
    // the three media-container parsers, for SQL-frontend users:
    // SELECT image_meta(payload).width FROM ...
    def unary(name: String, cls: Class[_], mk: Expression => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            s"$name expects exactly 1 argument, got ${children.length}")
          mk(children.head)
        }))
    unary("image_meta", classOf[ImageMeta], ImageMeta(_))
    unary("audio_meta", classOf[AudioMeta], AudioMeta(_))
    unary("mp4_meta", classOf[Mp4Meta], Mp4Meta(_))
    // raster pixel path: SELECT raster_channel_sums(
    //   image_resize_nn(image_decode(payload), 4, 4)) FROM ...
    unary("image_decode", classOf[ImageDecode], ImageDecode(_))
    unary("raster_channel_sums", classOf[RasterChannelSums], RasterChannelSums(_))
    // sample decoders: SELECT pcm_channel_stats(pcm_decode(payload)).sums,
    //   y4m_frame_luma(payload, 2).y_sums FROM ...
    unary("pcm_decode", classOf[PcmDecode], PcmDecode(_))
    unary("pcm_channel_stats", classOf[PcmChannelStats], PcmChannelStats(_))
    ext.injectFunction((
      new FunctionIdentifier("y4m_frame_luma"),
      new ExpressionInfo(classOf[Y4mFrameLuma].getName, "y4m_frame_luma"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"y4m_frame_luma expects (payload, stride), got ${children.length} arguments")
        val stride = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"y4m_frame_luma stride must be an integer literal, got $other")
        }
        Y4mFrameLuma(children.head, stride)
      }))
    unary("ogg_meta", classOf[OggMetaExpr], OggMetaExpr(_))
    unary("mp3_meta", classOf[Mp3MetaExpr], Mp3MetaExpr(_))
    unary("exif_orientation", classOf[ExifOrientation], ExifOrientation(_))
    unary("raster_dhash", classOf[RasterDHash], RasterDHash(_))
    // round 12: SELECT exif_meta(payload).gps_lat,
    //   mp3_decode(payload).spec_sum_q20 FROM ...
    unary("exif_meta", classOf[ExifMeta], ExifMeta(_))
    unary("mp3_decode", classOf[Mp3DecodeExpr], Mp3DecodeExpr(_))
    unary("id3_meta", classOf[Id3Meta], Id3Meta(_))
    unary("warc_records", classOf[WarcRecords], WarcRecords(_))
    unary("html_text", classOf[HtmlTextExtract], HtmlTextExtract(_))
    unary("mp4_tracks", classOf[Mp4Tracks], Mp4Tracks(_))
    ext.injectFunction((
      new FunctionIdentifier("raster_orient"),
      new ExpressionInfo(classOf[RasterOrient].getName, "raster_orient"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"raster_orient expects (raster, orientation), got ${children.length} arguments")
        RasterOrient(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("gif_frames"),
      new ExpressionInfo(classOf[GifFrames].getName, "gif_frames"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"gif_frames expects (payload, stride), got ${children.length} arguments")
        val stride = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"gif_frames stride must be an integer literal, got $other")
        }
        GifFrames(children.head, stride)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pcm_energy_windows"),
      new ExpressionInfo(classOf[PcmEnergyWindows].getName, "pcm_energy_windows"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"pcm_energy_windows expects (pcm, windowFrames), got ${children.length} arguments")
        val wf = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"pcm_energy_windows windowFrames must be an integer literal, got $other")
        }
        PcmEnergyWindows(children.head, wf)
      }))
    ext.injectFunction((
      new FunctionIdentifier("avi_mjpeg_frames"),
      new ExpressionInfo(classOf[AviMjpegFrames].getName, "avi_mjpeg_frames"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"avi_mjpeg_frames expects (payload, stride), got ${children.length} arguments")
        val stride = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"avi_mjpeg_frames stride must be an integer literal, got $other")
        }
        AviMjpegFrames(children.head, stride)
      }))
    ext.injectFunction((
      new FunctionIdentifier("image_resize_nn"),
      new ExpressionInfo(classOf[ImageResizeNN].getName, "image_resize_nn"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"image_resize_nn expects (raster, targetW, targetH), got ${children.length} arguments")
        val Seq(tw, th) = children.drop(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"image_resize_nn target dims must be integer literals, got $other")
        }
        ImageResizeNN(children.head, tw, th)
      }))
  }
}
