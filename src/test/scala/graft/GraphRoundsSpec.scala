package graft

import graft.operators.{Checkpoints, ScaleOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** How the iterative graph operators keep their rounds
  * ([[Checkpoints.Rounds]]): in local mode the result holds only the
  * checkpoints its plan reads, in durable mode the run directory keeps
  * only the live round and the inputs every round joins, and one run
  * owns its directory. `bfsLevels`, `triangleCount` and a durable
  * artifact built from a graph operator hold no checkpoint outside their
  * result either.
  */
class GraphRoundsSpec extends SparkSpec {
  import spark.implicits._

  private def ccEdges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
    (20L, 21L), (21L, 22L)).toDF("src", "dst")
  private def prNodes = (1L to 6L).toDF("node")
  private def prEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
    (1L, 6L)).toDF("src", "dst")
  private def lpaEdges = {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    (clique(Seq(0L, 1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L, 14L)) ++
      Seq((4L, 10L))).toDF("src", "dst")
  }
  private def ssspEdges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
    (3L, 4L, 1L), (4L, 5L, 1L), (0L, 5L, 10L), (5L, 6L, 1L))
    .toDF("src", "dst", "weight")
  private def seeds = Seq(0L).toDF("node")

  /** Each operator on its small graph, with an optional run directory.
    * The fixed-round forms run past `UnrollBatch` (8) rounds so that a
    * superseded cut round exists. */
  private val operators: Seq[(String, Option[String] => DataFrame)] = Seq(
    "connectedComponents" -> (d => ScaleOps.connectedComponents(ccEdges, runDir = d)),
    "pageRankFixedPoint" -> (d => ScaleOps.pageRankFixedPoint(prNodes, prEdges,
      iterations = 20, runDir = d)),
    "pageRankConverge" -> (d => ScaleOps.pageRankConverge(prNodes, prEdges,
      tol = 1000000L, runDir = d)._1),
    "labelPropagationConverged" -> (d =>
      ScaleOps.labelPropagationConverged(lpaEdges, runDir = d)._1),
    "ssspConverged" -> (d => ScaleOps.ssspConverged(ssspEdges, seeds, runDir = d)._1))

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def rows(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  private def withDir[T](f: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rounds_").toFile
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  operators.foreach { case (name, run) =>
    test(s"$name: local mode holds only the checkpoints under its result, and release frees them") {
      val sc = spark.sparkContext
      val baseline = sc.getPersistentRDDs.keySet
      def added = sc.getPersistentRDDs.keySet -- baseline
      val out = run(None)
      assert(rows(out).nonEmpty)
      assert(added.nonEmpty, "the result reads no checkpoint")
      assert(added.subsetOf(rddIds(out)),
        s"RDDs ${(added -- rddIds(out)).mkString(", ")} held outside the result's plan")
      Checkpoints.release(out)
      assert(added.isEmpty, s"RDDs ${added.mkString(", ")} still held after release")
    }
  }

  test("labelPropagation: a superseded cut round is released, the result holds only its plan") {
    val converged = ScaleOps.labelPropagationConverged(lpaEdges)._1
    val want = rows(converged)
    Checkpoints.release(converged)
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- baseline
    val out = ScaleOps.labelPropagation(lpaEdges, iterations = 20)
    assert(rows(out) == want)
    assert(added.nonEmpty, "the result reads no checkpoint")
    assert(added.subsetOf(rddIds(out)),
      s"RDDs ${(added -- rddIds(out)).mkString(", ")} held outside the result's plan")
    Checkpoints.release(out)
    assert(added.isEmpty, s"RDDs ${added.mkString(", ")} still held after release")
  }

  test("bfsLevels: the result holds only its level checkpoints, and release frees them") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- baseline
    val out = ScaleOps.bfsLevels(ccEdges, Seq(2L).toDF("node"), maxLevel = 3)
    assert(rows(out) == Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    assert(added.nonEmpty, "the result reads no checkpoint")
    assert(added.subsetOf(rddIds(out)),
      s"RDDs ${(added -- rddIds(out)).mkString(", ")} held outside the result's plan")
    Checkpoints.release(out)
    assert(added.isEmpty, s"RDDs ${added.mkString(", ")} still held after release")
  }

  test("triangleCount: the result holds only its two checkpoints, and release frees them") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- baseline
    val out = ScaleOps.triangleCount(lpaEdges)
    val row = out.head()
    // two 5-cliques and a bridge: 10 nodes, 21 edges, 2 × C(5,3) triangles
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (10L, 21L, 20L))
    assert(added.nonEmpty, "the result reads no checkpoint")
    assert(added.subsetOf(rddIds(out)),
      s"RDDs ${(added -- rddIds(out)).mkString(", ")} held outside the result's plan")
    Checkpoints.release(out)
    assert(added.isEmpty, s"RDDs ${added.mkString(", ")} still held after release")
  }

  test("pagerank_incremental: a cold base-rank build holds only the checkpoints under its result") {
    // a fixture copy has a new stamp, so the durable base ranks build cold
    val fixture = java.nio.file.Files.createTempDirectory("graft_pr_cold_").toFile
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "documents.parquet"),
      fixture.toPath.resolve("documents.parquet"))
    val root = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), "graft_artifacts")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def baseDirs: Set[Path] =
      if (!fs.exists(root)) Set.empty
      else fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("pr_base_ranks_")).toSet
    val before = baseDirs
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- baseline
    try {
      val out = Queries.all("pagerank_incremental").fn(spark, fixture.getPath)
      assert(out.count() > 0)
      assert((baseDirs -- before).size == 1, "the base ranks were not built cold")
      assert(added.subsetOf(rddIds(out)),
        s"RDDs ${(added -- rddIds(out)).mkString(", ")} held outside the result's plan")
      Checkpoints.release(out)
      assert(added.isEmpty, s"RDDs ${added.mkString(", ")} still held after release")
    } finally {
      (baseDirs -- before).foreach(fs.delete(_, true))
      org.apache.commons.io.FileUtils.deleteDirectory(fixture)
    }
  }

  test("parquetDurable releases the checkpoints of the graph result it writes") {
    // a strong reference, so no GC can free the checkpoints before the check
    var built: DataFrame = null
    val path = new Path(ArtifactMemo.parquetDurable(spark,
      s"graph_rounds_spec#${java.util.UUID.randomUUID()}", "graph_rounds_spec_ranks") {
      built = ScaleOps.pageRankConverge(prNodes, prEdges, tol = 1000000L)._1
      built
    })
    try {
      val ids = rddIds(built)
      assert(ids.nonEmpty, "the result reads no checkpoint")
      val held = ids & spark.sparkContext.getPersistentRDDs.keySet
      assert(held.isEmpty, s"RDDs ${held.mkString(", ")} still held after the write")
      assert(spark.read.parquet(path.toString).count() == 6)
    } finally path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  test("durable mode keeps only the live round and the inputs its rounds join, and no executor blocks") {
    val expected: Map[String, Set[String] => Boolean] = Map(
      "connectedComponents" -> (n => n.size == 1 && n.forall(_.startsWith("cc_round_"))),
      "pageRankFixedPoint" -> (_ == Set("pr_nodes", "pr_edges", "pr_round_20")),
      "pageRankConverge" -> (n => n.size == 2 && n("pr_conv_edges") &&
        n.exists(_.startsWith("pr_conv_ranks_"))),
      "labelPropagationConverged" -> (n => n.size == 2 && n("lpa_adj") &&
        n.exists(_.startsWith("lpa_labels_"))),
      "ssspConverged" -> (n => n.size == 2 && n("sssp_adj") &&
        n.exists(_.startsWith("sssp_merged_"))))
    val sc = spark.sparkContext
    operators.foreach { case (name, run) =>
      val localDf = run(None)
      val local = rows(localDf)
      Checkpoints.release(localDf)
      withDir { dir =>
        val baseline = sc.getPersistentRDDs.keySet
        val out = run(Some(dir.getPath))
        assert(rows(out) == local, s"$name: durable result differs from local")
        assert((sc.getPersistentRDDs.keySet -- baseline).isEmpty,
          s"$name: durable mode held executor blocks")
        val names = dir.listFiles().map(_.getName).toSet
        assert(expected(name)(names), s"$name left ${names.toSeq.sorted}")
      }
    }
  }

  test("a second run into a used runDir fails naming the directory, and the first result still reads back") {
    // a different graph for the second run, so an overwrite would show
    val second: Map[String, Option[String] => DataFrame] = Map(
      "connectedComponents" -> (d => ScaleOps.connectedComponents(
        Seq((7L, 8L)).toDF("src", "dst"), runDir = d)),
      "pageRankFixedPoint" -> (d => ScaleOps.pageRankFixedPoint(
        Seq(7L, 8L).toDF("node"), Seq((7L, 8L)).toDF("src", "dst"), runDir = d)),
      "pageRankConverge" -> (d => ScaleOps.pageRankConverge(
        Seq(7L, 8L).toDF("node"), Seq((7L, 8L)).toDF("src", "dst"),
        tol = 1000000L, runDir = d)._1),
      "labelPropagationConverged" -> (d => ScaleOps.labelPropagationConverged(
        Seq((7L, 8L)).toDF("src", "dst"), runDir = d)._1),
      "ssspConverged" -> (d => ScaleOps.ssspConverged(
        Seq((7L, 8L, 3L)).toDF("src", "dst", "weight"), Seq(7L).toDF("node"),
        runDir = d)._1))
    operators.foreach { case (name, run) =>
      withDir { dir =>
        val first = run(Some(dir.getPath))
        val firstRows = rows(first)
        val err = intercept[IllegalArgumentException](second(name)(Some(dir.getPath)))
        assert(err.getMessage.contains(dir.getPath), s"$name: ${err.getMessage}")
        assert(rows(first) == firstRows, s"$name: the first result changed")
      }
    }
  }
}
