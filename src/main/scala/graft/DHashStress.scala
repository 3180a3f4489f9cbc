package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.ScaleOps
import org.apache.spark.sql.graftnative.{RasterFunctions, RasterSynthFunctions}

/** Scale probe for the IMAGE near-dup family: `SPARK_GRAFT_DHASH_DOCS`
  * images (high-entropy hash-content PPMs, so fingerprints are
  * essentially unique per seed) with every consecutive pair (2k, 2k+1)
  * encoding the SAME image — decode → 64-bit dHash → pigeonhole
  * banding (3 bands of 21/21/22 bits: any Hamming ≤ 2 pair keeps one
  * band intact) → exact Hamming verify, end to end. The probe MEASURES
  * planted-pair recall under the pair-expansion cap — this probe is
  * what caught the 16-bit parameterization collapsing to 0.44 recall
  * at 1M images (band buckets outgrow the cap as the corpus outgrows
  * the 65536-bucket space; 21-bit bands keep occupancy low) — and
  * asserts it stays ≥ 0.99,
  * reporting wall seconds and images/s for the whole
  * synthesize→decode→hash→dedup pipeline. Run it with
  * `runMain graft.Bench stress dhash`, alone in a fresh JVM on a quiet box,
  * as every stress lane.
  */
object DHashStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_DHASH_DOCS", "1000000").toLong
    val dim = sys.env.getOrElse("SPARK_GRAFT_DHASH_DIM", "32").toLong
    require(nDocs % 2 == 0, "docs must be even: content pairs are planted")
    spark.conf.set("spark.sql.shuffle.partitions", cpus * 2)

    def pipeline(n: Long) = {
      val t = spark.range(0, n).select(col("id").as("doc_id"),
          RasterFunctions.raster_dhash(RasterFunctions.image_decode(
            RasterSynthFunctions.synth_ppm_hash(lit(dim), lit(dim),
              shiftright(col("id"), 1)))).as("dh"))
        .select(col("doc_id"),
          col("dh").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"),
          shiftrightunsigned(col("dh"), 32).as("hi"))
      val buckets = t.select(col("doc_id"), col("lo"), col("hi"),
          posexplode(array(
            col("lo").bitwiseAND(lit(0x1FFFFFL)),
            shiftright(col("lo"), 21).bitwiseOR(
              col("hi").bitwiseAND(lit(1023L)) * lit(2048L)),
            shiftright(col("hi"), 10))).as(Seq("band_idx", "bk")))
        .groupBy("band_idx", "bk")
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("lo"), col("hi")))).as("ms"))
      ScaleOps.cappedBuckets(buckets, "ms")
        .select(explode(expr(
          """flatten(transform(ms, (x, i) ->
            |  transform(slice(ms, i + 2, size(ms)),
            |    y -> struct(x.doc_id AS id1, y.doc_id AS id2,
            |                x.lo AS lo1, x.hi AS hi1,
            |                y.lo AS lo2, y.hi AS hi2))))""".stripMargin)).as("p"))
        .select(col("p.id1"), col("p.id2"),
          (bit_count(col("p.lo1").bitwiseXOR(col("p.lo2"))) +
            bit_count(col("p.hi1").bitwiseXOR(col("p.hi2")))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 2)
    }

    // warm-up outside the timed run
    pipeline(2000).count()

    val (sec, (total, planted)) = Bench.best(spark, 1) {
      val pairs = pipeline(nDocs).cache()
      (pairs.count(), pairs
        .filter(col("id2") === col("id1") + 1 && col("id1") % 2 === 0)
        .count())
    }
    val recall = planted.toDouble / (nDocs / 2)
    require(recall >= 0.99,
      s"planted-pair recall $recall below 0.99 ($planted of ${nDocs / 2})")
    s"""{"metric":"dhash_stress","docs":$nDocs,"dim":$dim,""" +
      s""""cpus":$cpus,"sec":${f"$sec%.1f"},"pairs":$total,""" +
      s""""planted_pairs":$planted,"recall":${f"$recall%.4f"},""" +
      s""""img_per_s":${f"${nDocs / sec}%.0f"}}"""
  }
}
