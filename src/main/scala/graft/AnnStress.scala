package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ScaleOps

/** ANN ladder scale probe: does IVF-PQ recall hold when the corpus
  * outgrows the fixture by ~500×? The recall floors in ARCHITECTURE's
  * ⊘-registry are measured at the gate SFs (≤2k vectors); the 100 TB
  * claim rides on the structure still working at millions, where the
  * right knobs are bigger (K, nProbe, refine), not a bigger scan
  * fraction. This probe synthesizes a clustered corpus (mixture of 10
  * deterministic centers + per-vector noise, all xxhash64 arithmetic —
  * no RNG state, rerunnable anywhere), trains the coarse + residual-PQ
  * codebooks on a bounded sample exactly as the production path
  * prescribes, and serves the 10-query batch through
  * [[QueriesScale.ivfPqServeFrom]] — the SAME ivfAssign / residual
  * encode / ADC / exact-rerank code the gated keys run, so the number
  * measures the shipped plan. Reports recall@10 vs exact brute force,
  * the measured per-query scan fraction (probed-cell mass / corpus),
  * and the filtered-ANN variant (label-gated ADC against label-filtered
  * truth). Run with `runMain graft.Bench stress ann` (fresh JVM, quiet
  * box, as every stress lane).
  *
  * Knobs: `SPARK_GRAFT_ANN_VECS` (default 1M), `SPARK_GRAFT_ANN_K`
  * (coarse cells, default 64), `SPARK_GRAFT_ANN_PROBES` (default 8),
  * `SPARK_GRAFT_ANN_REFINE` (ADC candidate depth, default 2048),
  * `SPARK_GRAFT_ANN_TRAIN` (training-sample rows, default 100k),
  * `SPARK_GRAFT_ANN_PQK` / `SPARK_GRAFT_ANN_PQM` (the two BITS levers:
  * centroids per subspace and subspace count — bits/vector =
  * m·log2(k); both flow through the shipped encode/ADC path, whose
  * reference-array codebooks compile at any size since round 11).
  */
object AnnStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val n = sys.env.getOrElse("SPARK_GRAFT_ANN_VECS", "1000000").toLong
    val coarseK = sys.env.getOrElse("SPARK_GRAFT_ANN_K", "64").toInt
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_ANN_PROBES", "8").toInt
    val refine = sys.env.getOrElse("SPARK_GRAFT_ANN_REFINE", "2048").toInt
    val pqk = sys.env.getOrElse("SPARK_GRAFT_ANN_PQK", "32").toInt
    val pqm = sys.env.getOrElse("SPARK_GRAFT_ANN_PQM", "8").toInt
    val trainN = sys.env.getOrElse("SPARK_GRAFT_ANN_TRAIN", "100000").toLong
    val dim = 64
    import spark.implicits._

    // clustered corpus: center(label, d) in [-1, 1] plus per-vector
    // noise — both from xxhash64 arithmetic, so any process regenerates
    // the identical corpus. 10 labels ≈ the fixture corpus' structure.
    // TWO noise models, because they price quantization oppositely:
    //  - "iid": noise i.i.d. uniform per dimension — the PATHOLOGICAL
    //    case for PQ (no correlation structure to exploit; top-10
    //    margins among 100k within-cluster candidates are order-
    //    statistic-thin, so exact rank needs either many bits or a
    //    large rerank fraction);
    //  - "lowdim": the same noise energy confined to a 16-dim subspace
    //    through a fixed mixing matrix B (64×16, xxhash-derived) — the
    //    shape real embedding corpora have (low intrinsic dimension),
    //    where subspace codebooks capture structure.
    val corpusMode = sys.env.getOrElse("SPARK_GRAFT_ANN_CORPUS", "iid")
    def unitHash(cols: org.apache.spark.sql.Column*) =
      (pmod(xxhash64(cols: _*), lit(200001L)) - 100000L) / 100000.0
    val noiseCol: org.apache.spark.sql.Column =
      if (corpusMode == "iid")
        transform(sequence(lit(0), lit(dim - 1)), d =>
          unitHash(lit("n"), col("vec_id"), d) * 0.6)
      else {
        val zDim = 16
        // fixed mixing matrix, driver-side (the same for every vector);
        // rows scaled 1/sqrt(zDim) so per-dim noise energy matches iid
        val bm = Array.tabulate(dim, zDim) { (d, j) =>
          val hsh = java.lang.Math.floorMod(
            (d * 1315423911L + j * 2654435761L + 7L) ^ 0x9E3779B97F4A7C15L,
            200001L)
          ((hsh - 100000L).toDouble / 100000.0) / math.sqrt(zDim.toDouble)
        }
        val z = transform(sequence(lit(0), lit(zDim - 1)), j =>
          unitHash(lit("z"), col("vec_id"), j))
        transform(sequence(lit(0), lit(dim - 1)), d =>
          aggregate(
            zip_with(z, element_at(typedlit(bm.map(_.toSeq).toSeq), d + 1),
              (zj, bj) => zj * bj),
            lit(0.0), (acc, x) => acc + x) * lit(0.6 * 1.732))
      }
    val corpusRaw = spark.range(0, n)
      .select(col("id").as("vec_id"),
        pmod(col("id"), lit(10L)).cast(IntegerType).as("label"))
      .withColumn("_noise", noiseCol)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (unitHash(lit("c"), col("label"), d) +
            element_at(col("_noise"), d + 1)).cast(FloatType)))
      .drop("_noise")

    // ---- optional OPQ-P rotation probe (Ge et al. 2013, parametric
    // variant): rotate the WHOLE space by PCA eigenvectors with the
    // eigen-dimensions allocated to PQ subspaces so each subspace's
    // log-eigenvalue mass is balanced. A global orthogonal rotation
    // preserves every distance and cosine exactly, so truth, coarse
    // quantizer, and serve plan are untouched — only PQ's subspace
    // DECOMPOSITION sees different coordinates, which is precisely the
    // knob OPQ optimizes. `SPARK_GRAFT_ANN_ROT=pca` turns it on; the
    // iid corpus is the information-floor hypothesis (spherical
    // covariance → rotation should buy ~nothing), lowdim the
    // structured case it should help.
    val rotMode = sys.env.getOrElse("SPARK_GRAFT_ANN_ROT", "none")
    val corpus = (if (rotMode != "pca") corpusRaw else {
      val sampleRows = corpusRaw.filter(
        pmod(col("vec_id"), lit(math.max(1L, n / 20000L))) === 0)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val mSamp = sampleRows.length
      val mean = new Array[Double](dim)
      sampleRows.foreach(v => { var d = 0; while (d < dim) { mean(d) += v(d); d += 1 } })
      var d0 = 0
      while (d0 < dim) { mean(d0) /= mSamp; d0 += 1 }
      val cov = Array.ofDim[Double](dim, dim)
      sampleRows.foreach { v =>
        var a = 0
        while (a < dim) {
          val va = v(a) - mean(a)
          var b2 = a
          while (b2 < dim) {
            cov(a)(b2) += va * (v(b2) - mean(b2))
            b2 += 1
          }
          a += 1
        }
      }
      var a = 0
      while (a < dim) {
        var b2 = a
        while (b2 < dim) {
          cov(a)(b2) /= mSamp
          cov(b2)(a) = cov(a)(b2)
          b2 += 1
        }
        a += 1
      }
      // cyclic Jacobi eigensolver on the 64x64 covariance
      val A = cov.map(_.clone())
      val V = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      var sweep = 0
      var off = 1.0
      while (sweep < 50 && off > 1e-12) {
        off = 0.0
        var p = 0
        while (p < dim - 1) {
          var q = p + 1
          while (q < dim) {
            val apq = A(p)(q)
            off += apq * apq
            if (math.abs(apq) > 1e-14) {
              val theta = 0.5 * math.atan2(2 * apq, A(q)(q) - A(p)(p))
              val c = math.cos(theta)
              val s = math.sin(theta)
              var k = 0
              while (k < dim) {
                val akp = A(k)(p); val akq = A(k)(q)
                A(k)(p) = c * akp - s * akq
                A(k)(q) = s * akp + c * akq
                k += 1
              }
              k = 0
              while (k < dim) {
                val apk = A(p)(k); val aqk = A(q)(k)
                A(p)(k) = c * apk - s * aqk
                A(q)(k) = s * apk + c * aqk
                val vkp = V(k)(p); val vkq = V(k)(q)
                V(k)(p) = c * vkp - s * vkq
                V(k)(q) = s * vkp + c * vkq
                k += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
      val eig = Array.tabulate(dim)(i => (A(i)(i), i)).sortBy(-_._1)
      // balanced allocation: dims per subspace fixed at dim/m; assign
      // each eigen-dim (descending eigenvalue) to the non-full subspace
      // with the smallest log-eigenvalue mass
      val perSub = dim / pqm
      val subMass = new Array[Double](pqm)
      val subFill = new Array[Int](pqm)
      val order = new Array[Int](dim) // output coordinate -> eigen index
      eig.foreach { case (ev, srcIdx) =>
        var best = -1
        var bm = Double.MaxValue
        var s2 = 0
        while (s2 < pqm) {
          if (subFill(s2) < perSub && subMass(s2) < bm) { bm = subMass(s2); best = s2 }
          s2 += 1
        }
        order(best * perSub + subFill(best)) = srcIdx
        subMass(best) += math.log(math.max(ev, 1e-12))
        subFill(best) += 1
      }
      // rotation matrix: output dim r = eigenvector column order(r)
      val rot = Array.tabulate(dim, dim)((r, c) => V(c)(order(r)))
      val rotLit = typedlit(rot.map(_.toSeq).toSeq)
      corpusRaw.withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), r =>
          aggregate(
            zip_with(col("embedding"), element_at(rotLit, r + 1),
              (x, w) => x * w),
            lit(0.0), (acc, x) => acc + x).cast(FloatType)))
    }).localCheckpoint(true)

    // exact brute-force truth for the 10-query batch (and its
    // label-filtered form) — the denominator of every recall number
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    val qBatch = queries.map { case (q, v, _) => (q, v) }
    val qLabels = queries.map { case (q, _, l) => q -> l }.toMap
    val embN = corpus.withColumn("nv", ScaleOps.l2norm(col("embedding")))
    def bruteTopK(filtered: Boolean): Map[Long, Set[Long]] = {
      val qDf = broadcast(queries.map { case (q, v, l) => (q, v.toSeq, l) }
        .toSeq.toDF("q_id", "q_emb", "q_label")
        .select(col("q_id"),
          col("q_emb").cast(ArrayType(FloatType)).as("q_emb"), col("q_label"))
        .withColumn("nq", ScaleOps.l2norm(col("q_emb"))))
      val joined = embN.join(qDf,
        if (filtered) col("label") === col("q_label") else lit(true))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      joined
        .withColumn("cos", ScaleOps.cosine(col("q_emb"), col("embedding"),
          col("nq"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, ps) => q -> ps.map(_._2).toSet }
    }
    val (bruteSec, brutePlain) = Bench.best(spark, 1)(bruteTopK(filtered = false))
    val bruteFiltered = bruteTopK(filtered = true)

    // offline index build on a bounded sample (the production stance:
    // centroid quality converges far below corpus size)
    val sample = corpus.filter(
      pmod(col("vec_id"), lit(math.max(1L, n / trainN))) === 0)
    // random init for big books: the probe's m·k can reach 8192
    // centroids across m sequential fits — k-means|| init alone would
    // dominate the offline build (measured: >90 min at m=32, k=256)
    val initMode = sys.env.getOrElse("SPARK_GRAFT_ANN_INIT",
      if (pqm.toLong * pqk > 2048) "random" else "k-means||")
    val (trainSec, (centsDf, cb)) = Bench.best(spark, 1) {
      val cents = ml.IvfCodebook.train(sample, "embedding", coarseK)
      val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("c_id", "c_emb")
        .select(col("c_id"), col("c_emb").cast(ArrayType(FloatType)).as("c_emb"))
      (centsDf, ml.IvfCodebook.trainPqResidual(sample, "embedding", centsDf,
        dim, m = pqm, k = pqk, seed = 1042L, maxIter = 20,
        initMode = initMode))
    }

    def recallOf(result: DataFrame, truth: Map[Long, Set[Long]]): Double = {
      val got = result.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, ps) => q -> ps.map(_._2).toSet }
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size }
      per.sum / per.size
    }

    // plain IVF-PQ through the shipped plan
    val (serveSec, (plainRecall, probeCells, coded)) = Bench.best(spark, 1) {
      val (plain, probeCells, coded) = QueriesScale.ivfPqServeFrom(
        spark, corpus, centsDf, cb, qBatch, nProbe, refine,
        materializeIndex = true)
      (recallOf(plain, brutePlain), probeCells, coded)
    }
    // measured scan fraction: probed-cell mass per query / corpus size
    val cellSizes = coded.groupBy("c_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fracs = probeCells.map { case (_, cells) =>
      cells.map(c => cellSizes.getOrElse(c, 0L)).sum.toDouble / n }
    val scanFrac = fracs.sum / fracs.size

    // filtered form: label joined onto the coded index, label-gated ADC
    val (filtered, _, _) = QueriesScale.ivfPqServeFrom(
      spark, corpus, centsDf, cb, qBatch, nProbe, refine,
      codedExtra = c => c.join(corpus.select("vec_id", "label"), "vec_id"),
      gateExtra = qid => col("label") === lit(qLabels(qid)),
      materializeIndex = true)
    val filteredRecall = recallOf(filtered, bruteFiltered)

    Seq(
      s""""vectors":$n""", s""""dim":$dim""", s""""cpus":$cpus""",
      s""""corpus":"$corpusMode"""", s""""rot":"$rotMode"""",
      s""""coarse_k":$coarseK""", s""""n_probe":$nProbe""",
      s""""pq_k":$pqk""", s""""pq_m":$pqm""", s""""init":"$initMode"""",
      s""""refine":$refine""", s""""train_rows":${sample.count()}""",
      f""""brute_sec":$bruteSec%.2f""", f""""train_sec":$trainSec%.2f""",
      f""""serve_sec":$serveSec%.2f""",
      f""""ivfpq_recall_at10":$plainRecall%.4f""",
      f""""filtered_recall_at10":$filteredRecall%.4f""",
      f""""scan_fraction":$scanFrac%.4f""")
      .mkString("""{"metric":"ann_stress",""", ",", "}")
  }
}
