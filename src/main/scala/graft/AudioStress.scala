package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.ScaleOps
import org.apache.spark.sql.graftnative.{FlacSynthFunctions, Mp3PcmFunctions,
  PcmFunctions, VorbisFunctions}

/** Throughput probe for the compressed-audio decode path — the FLAC lane
  * the raster codecs already have (STRESS_RASTER): synthesize-and-decode
  * `SPARK_GRAFT_AUDIO_DOCS` streams of `SPARK_GRAFT_AUDIO_FRAMES` frames
  * each for WAV-PCM (the uncompressed baseline) and FLAC (Rice-coded
  * FIXED residuals, CRC-8/16 gated), and report wall seconds, docs/s,
  * and decoded-PCM MB/s. The timed pipeline is synthesize → decode →
  * per-channel stats (one codegen'd per-row stage, zero shuffle until
  * the final scalar aggregate), so the number prices the whole
  * encode+decode round trip, exactly like RasterStress. Alternating
  * mono/stereo and 8/16-bit rows keep all four sample layouts in the
  * loop. Run with `runMain graft.Bench stress audio` (fresh JVM, quiet
  * box, as every stress lane).
  */
object AudioStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_AUDIO_DOCS", "50000").toLong
    val frames = sys.env.getOrElse("SPARK_GRAFT_AUDIO_FRAMES", "4096").toLong
    val ids = spark.range(0, nDocs).select(col("id"))
    def stats(payload: org.apache.spark.sql.Column) =
      PcmFunctions.pcm_channel_stats(PcmFunctions.pcm_decode(payload)).as("s")
    // warm-up: codegen + classloading outside the timed runs
    ids.limit(500).select(stats(FlacSynthFunctions.synth_flac(lit(1L), lit(8000L),
        lit(256L), col("id"), 8)))
      .agg(sum(element_at(col("s.sums"), 1))).head()
    // decoded-PCM volume: channels alternate 1/2, widths 8/16 → average
    // 1.5 channels × 1.5 bytes = 2.25 bytes per frame
    val pcmMb = nDocs * frames * 2.25 / 1e6
    val fields = collection.mutable.ArrayBuffer(
      s""""docs":$nDocs""", s""""frames":$frames""", s""""cpus":$cpus""",
      f""""pcm_mb":$pcmMb%.1f""")
    Seq(
      "wav" -> ((s: org.apache.spark.sql.Column) =>
        when(col("id") % 2 === 0,
          ScaleOps.synthWavPcm(lit(1L) + col("id") % 2, lit(8000L), 8,
            lit(frames), s))
          .otherwise(ScaleOps.synthWavPcm(lit(1L) + col("id") % 2,
            lit(8000L), 16, lit(frames), s))),
      "flac" -> ((s: org.apache.spark.sql.Column) =>
        when(col("id") % 2 === 0,
          FlacSynthFunctions.synth_flac(lit(1L) + col("id") % 2, lit(8000L),
            lit(frames), s, 8))
          .otherwise(FlacSynthFunctions.synth_flac(lit(1L) + col("id") % 2,
            lit(8000L), lit(frames), s, 16)))
    ).foreach { case (fmt, synth) =>
      val (sec, r) = Bench.best(spark, 1)(ids.select(stats(synth(col("id"))))
        .agg(sum(element_at(col("s.sums"), 1)).as("c0"),
          // count the NON-NULL stats: a decode regression ('unknown' →
          // null stats) must not silently inflate docs/s
          count(col("s")).as("n"))
        .head())
      require(r.getLong(1) == nDocs && !r.isNullAt(0),
        s"$fmt: decoded ${r.getLong(1)} of $nDocs (every row must decode)")
      fields += f""""${fmt}_sec":$sec%.2f"""
      fields += f""""${fmt}_docs_per_s":${nDocs / sec}%.0f"""
      fields += f""""${fmt}_pcm_mb_per_s":${pcmMb / sec}%.1f"""
    }
    // ---- MP3 lane (round 12): full Layer III decode — header walk,
    // side info, Huffman, requantization, IMDCT + polyphase synthesis
    // on every row; seeds cycle the fixture's silent and nonzero
    // classes, all three sample rates, mono and MS/independent stereo.
    // Decoded-PCM volume: frames(doc)=2+doc%3 → mean 3 frames × 1152 ×
    // mean 1.5 ch × 2 B = 10368 B/doc.
    locally {
      val mp3Docs = math.max(1000L, nDocs / 10) // ~40x the PCM per doc
      val mp3Ids = spark.range(0, mp3Docs).select(col("id"))
      val mp3Mb = mp3Docs * 3.0 * 1152 * 1.5 * 2 / 1e6
      val (sec, r) = Bench.best(spark, 1)(mp3Ids.select(stats(Mp3PcmFunctions.synth_mp3_pcm(col("id"))))
        .agg(sum(element_at(col("s.sums"), 1)).as("c0"),
          count(col("s")).as("n"))
        .head())
      require(r.getLong(1) == mp3Docs,
        s"mp3: decoded ${r.getLong(1)} of $mp3Docs (every row must decode)")
      fields += s""""mp3_docs":$mp3Docs"""
      fields += f""""mp3_sec":$sec%.2f"""
      fields += f""""mp3_docs_per_s":${mp3Docs / sec}%.0f"""
      fields += f""""mp3_pcm_mb_per_s":${mp3Mb / sec}%.1f"""
    }
    // ---- Vorbis lane (round 13): full Ogg Vorbis decode — page walk
    // with CRC, packet assembly, codebook/floor/residue decode,
    // coupling, direct IMDCT + windowed overlap-add on every row.
    // PCM volume: (frames−1)×128 samples × mean 1.5 ch × 2 B with
    // mean frames 3 → 768 B/doc.
    locally {
      val vDocs = math.max(1000L, nDocs / 10)
      val vIds = spark.range(0, vDocs).select(col("id"))
      val vMb = vDocs * 2.0 * 128 * 1.5 * 2 / 1e6
      val (sec, r) = Bench.best(spark, 1)(vIds.select(stats(VorbisFunctions.synth_ogg_vorbis(col("id"))))
        .agg(sum(element_at(col("s.sums"), 1)).as("c0"),
          count(col("s")).as("n"))
        .head())
      require(r.getLong(1) == vDocs,
        s"vorbis: decoded ${r.getLong(1)} of $vDocs (every row must decode)")
      fields += s""""vorbis_docs":$vDocs"""
      fields += f""""vorbis_sec":$sec%.2f"""
      fields += f""""vorbis_docs_per_s":${vDocs / sec}%.0f"""
      fields += f""""vorbis_pcm_mb_per_s":${vMb / sec}%.1f"""
    }
    fields.mkString("""{"metric":"audio_stress",""", ",", "}")
  }
}
