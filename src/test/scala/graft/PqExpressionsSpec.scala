package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{PqExpressions, VectorExpressions}
import org.apache.spark.sql.types._

/** Contracts for the reference-object PQ kernels (round 11): the fused
  * [[org.apache.spark.sql.graftnative.PqSubspaceCode]] /
  * [[org.apache.spark.sql.graftnative.PqAdcLutScore]] expressions must be
  * BIT-EQUAL to the literal formulation they replaced (k dot-product
  * columns + array_position(array_max) for the encode; an element_at
  * chain for the ADC sum), and must compile at production codebook sizes
  * — the round-10 1M-vector probe proved the literal form hits the Janino
  * `InternalCompilerException` wall at pq_k = 128 (~74k inlined doubles,
  * STRESS_ANN_r10); this suite pins that pq_k = 128 and 256 books now
  * codegen and run.
  */
class PqExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val sub = dim / m

  /** Deterministic pseudo-random doubles in [-1, 1] — plain arithmetic,
    * no RNG state, so the codebooks are stable across JVMs.
    */
  private def h(seed: Int, i: Int): Double =
    (((seed * 2654435761L + i * 40503L) & 0xffffL).toDouble / 0x8000L) - 1.0

  private def mkCodebook(k: Int): Array[Array[Array[Float]]] =
    Array.tabulate(m, k) { (mi, ki) =>
      Array.tabulate(sub)(i => h(mi * 31 + ki, i).toFloat)
    }

  private def mkOffTable(k: Int, cells: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k) { (mi, ki) =>
      Array.tabulate(cells)(ci => h(1000 + mi * 7 + ki, ci) * 0.1)
    }

  private def corpus(n: Int, cells: Int) =
    spark.range(n).select(col("id").as("vec_id"),
        pmod(col("id"), lit(cells.toLong)).cast(IntegerType).as("c_id"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), d =>
          ((pmod(xxhash64(col("vec_id"), d), lit(2001L)) - 1000L) / 1000.0)
            .cast(FloatType)))
      .withColumn("_nv", graft.operators.ScaleOps.l2norm(col("embedding")))

  /** The pre-round-11 literal encode, reconstructed verbatim (modulo the
    * raw/residual branch) — the bit-equality reference.
    */
  private def literalCodeCols(cb: Array[Array[Array[Float]]],
      offTable: Option[Array[Array[Array[Double]]]]): Seq[Column] =
    (0 until m).map { mi =>
      val scores = array((0 until cb(mi).length).map { ki =>
        val c = cb(mi)(ki)
        val halfNorm = c.map(x => x.toDouble * x.toDouble).sum / 2.0
        val base = VectorExpressions.dot_f(
          slice(col("embedding"), mi * sub + 1, sub), typedlit(c)) / col("_nv")
        offTable match {
          case Some(off) =>
            base - element_at(typedlit(off(mi)(ki)), col("c_id") + 1) - lit(halfNorm)
          case None => base - lit(halfNorm)
        }
      }: _*)
      (array_position(scores, array_max(scores)) - 1)
        .cast(IntegerType).as(s"code_$mi")
    }

  private def fusedCodeCols(cb: Array[Array[Array[Float]]],
      offTable: Option[Array[Array[Array[Double]]]]): Seq[Column] =
    (0 until m).map { mi =>
      val k = cb(mi).length
      val cbFlat = new Array[Float](k * sub)
      for (ki <- 0 until k; i <- 0 until sub) cbFlat(ki * sub + i) = cb(mi)(ki)(i)
      val halfNorms = cb(mi).map(c => c.map(x => x.toDouble * x.toDouble).sum / 2.0)
      offTable match {
        case Some(off) =>
          val cells = off(mi)(0).length
          val offFlat = new Array[Double](k * cells)
          for (ki <- 0 until k; ci <- 0 until cells)
            offFlat(ci * k + ki) = off(mi)(ki)(ci)
          PqExpressions.subspaceCode(col("embedding"), col("_nv"),
            Some(col("c_id")), cbFlat, offFlat, halfNorms,
            mi * sub, sub, k, cells).as(s"code_$mi")
        case None =>
          PqExpressions.subspaceCode(col("embedding"), col("_nv"),
            None, cbFlat, Array.emptyDoubleArray, halfNorms,
            mi * sub, sub, k, cells = 0).as(s"code_$mi")
      }
    }

  private def literalAdc(cb: Array[Array[Array[Float]]], qv: Array[Float],
      qCellDots: Option[Array[Double]]): Column = {
    val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
    val lutSum = (0 until m).map { mi =>
      val lut = Array.tabulate(cb(mi).length) { ki =>
        val c = cb(mi)(ki)
        var acc = 0.0
        var i = 0
        while (i < sub) { acc += (qv(mi * sub + i) / qn) * c(i).toDouble; i += 1 }
        acc
      }
      element_at(typedlit(lut), col(s"code_$mi") + 1): Column
    }.reduce(_ + _)
    qCellDots match {
      case Some(qcd) => lutSum + element_at(typedlit(qcd), col("c_id") + 1)
      case None => lutSum
    }
  }

  private def fusedAdc(cb: Array[Array[Array[Float]]], qv: Array[Float],
      qCellDots: Option[Array[Double]]): Column = {
    val k = cb(0).length
    val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
    val lutFlat = new Array[Double](m * k)
    for (mi <- 0 until m; ki <- 0 until k) {
      val c = cb(mi)(ki)
      var acc = 0.0
      var i = 0
      while (i < sub) { acc += (qv(mi * sub + i) / qn) * c(i).toDouble; i += 1 }
      lutFlat(mi * k + ki) = acc
    }
    PqExpressions.adcScore((0 until m).map(mi => col(s"code_$mi")),
      qCellDots.map(_ => col("c_id")), lutFlat,
      qCellDots.getOrElse(Array.emptyDoubleArray))
  }

  private val qv = Array.tabulate(dim)(i => h(777, i).toFloat)

  test("fused residual encode + ADC are bit-equal to the literal formulation") {
    val k = 8
    val cells = 4
    val cb = mkCodebook(k)
    val off = mkOffTable(k, cells)
    val qcd = Array.tabulate(cells)(ci => h(9090, ci))
    val df = corpus(512, cells)
    val fus = df.select(col("vec_id") +: col("c_id") +: fusedCodeCols(cb, Some(off)): _*)
      .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")) :+
        fusedAdc(cb, qv, Some(qcd)).as("score"): _*)
    val litM = df.select(col("vec_id") +: col("c_id") +: literalCodeCols(cb, Some(off)): _*)
      .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")) :+
        literalAdc(cb, qv, Some(qcd)).as("score"): _*)
    val a = litM.orderBy("vec_id").collect()
    val b = fus.orderBy("vec_id").collect()
    assert(a.length == 512 && a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      (1 to m).foreach(i => assert(x.getInt(i) == y.getInt(i),
        s"code mismatch at vec ${x.getLong(0)} subspace ${i - 1}"))
      // BIT equality, not epsilon: the kernels claim the identical fold
      assert(java.lang.Double.doubleToRawLongBits(x.getDouble(m + 1)) ==
        java.lang.Double.doubleToRawLongBits(y.getDouble(m + 1)),
        s"score bits differ at vec ${x.getLong(0)}")
    }
  }

  test("fused raw (non-residual) encode + ADC are bit-equal to the literal form") {
    val k = 8
    val cb = mkCodebook(k)
    val df = corpus(512, 4)
    val lit0 = df.select(col("vec_id") +: literalCodeCols(cb, None): _*)
      .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")) :+
        literalAdc(cb, qv, None).as("score"): _*)
    val fus = df.select(col("vec_id") +: fusedCodeCols(cb, None): _*)
      .select(col("vec_id") +: (0 until m).map(mi => col(s"code_$mi")) :+
        fusedAdc(cb, qv, None).as("score"): _*)
    val a = lit0.orderBy("vec_id").collect()
    val b = fus.orderBy("vec_id").collect()
    a.zip(b).foreach { case (x, y) =>
      (1 to m).foreach(i => assert(x.getInt(i) == y.getInt(i)))
      assert(java.lang.Double.doubleToRawLongBits(x.getDouble(m + 1)) ==
        java.lang.Double.doubleToRawLongBits(y.getDouble(m + 1)))
    }
  }

  test("pq_k = 128 and 256 books compile and run (the retired Janino wall)") {
    // the literal form threw Janino InternalCompilerException here
    // (~74k inlined doubles at pq_k=128, 64 cells); the reference-array
    // form's generated code is constant-size in k
    for (k <- Seq(128, 256)) {
      val cells = 64
      val cb = mkCodebook(k)
      val off = mkOffTable(k, cells)
      val qcd = Array.tabulate(cells)(ci => h(4242, ci))
      val df = corpus(256, cells)
      val coded = df.select(col("vec_id") +: col("c_id") +: fusedCodeCols(cb, Some(off)): _*)
      val scored = coded.select(col("vec_id"),
        fusedAdc(cb, qv, Some(qcd)).as("score"))
      val rows = scored.collect()
      assert(rows.length == 256)
      assert(rows.forall(r => !r.isNullAt(1)))
      // codes actually spread over the big book (not degenerate)
      val distinct0 = coded.select(countDistinct(col("code_0"))).head.getLong(0)
      assert(distinct0 > 8, s"k=$k book collapsed to $distinct0 codes")
    }
  }

  test("null semantics: null/short embedding, null nv, null c_id -> null code and score") {
    val cb = mkCodebook(4)
    val off = mkOffTable(4, 2)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("c_id", IntegerType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("_nv", DoubleType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 0, null, 1.0),
      org.apache.spark.sql.Row(2L, 0, Seq.fill(3)(0.5f), 1.0), // too short
      org.apache.spark.sql.Row(3L, null, Seq.fill(dim)(0.5f), 1.0),
      org.apache.spark.sql.Row(4L, 0, Seq.fill(dim)(0.5f), null),
      org.apache.spark.sql.Row(5L, 0, Seq.fill(dim)(0.5f), 1.0)) // valid
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val coded = df.select(col("vec_id") +: col("c_id") +: fusedCodeCols(cb, Some(off)): _*)
    val got = coded.orderBy("vec_id").collect()
    assert(got.take(4).forall(_.isNullAt(2)), "invalid rows must yield null codes")
    assert(!got(4).isNullAt(2), "valid row must code")
    val qcd = Array.tabulate(2)(_.toDouble)
    val scored = coded.select(col("vec_id"),
      fusedAdc(cb, qv, Some(qcd)).as("score")).orderBy("vec_id").collect()
    assert(scored.take(4).forall(_.isNullAt(1)))
    assert(!scored(4).isNullAt(1))
  }
}
