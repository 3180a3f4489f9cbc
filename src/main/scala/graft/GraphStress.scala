package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the iterative/analytic graph family (connected
  * components, fixed-point PageRank, triangle counting, bounded BFS) on
  * a synthetic graph far beyond the fixture's verified-pair graphs —
  * run as `runMain graft.Bench stress graph`, alone in a fresh JVM like
  * every stress lane (co-resident JVMs inflate timings, measured up to
  * 3.8×).
  *
  * Graph shape is chosen adversarially: a long chain (diameter stress —
  * CC needs O(log d) star rounds) plus hub edges every node → node%H
  * (skew stress — each hub accumulates n/H in-edges, exercising
  * PageRank's map-side partial aggregation and the degree-orientation
  * bound in triangle counting). For the triangle/BFS ops a second skip
  * rail i → i+2 is added, making the triangle count exactly n−2
  * — the probe SELF-VALIDATES the distributed count at full scale
  * (hub members are ≥H apart, so hubs close no extra triangles).
  *
  * `SPARK_GRAFT_GRAPH_OPS` picks the sections (default `cc,pr`; add
  * `tri,bfs,lpa,pri` — `pri` is the incremental-PageRank cold-vs-warm
  * probe); `SPARK_GRAFT_GRAPH_NODES` the size (default 2M → ~4M
  * directed edges for cc/pr, ~6M undirected for tri/bfs). Prints one
  * JSON line with wall seconds per requested op. `SPARK_DRIVER_MEM`
  * sizes the probe JVM's heap (build.sbt default 8g) — the local-mode
  * stand-in for executor memory, which must scale with the graph: the
  * checkpointed edge frames and shuffle state live in this one heap.
  */
object GraphStress {
  def run(spark: SparkSession): String = {
    val cpus = GraftSession.cpus
    val n = sys.env.getOrElse("SPARK_GRAFT_GRAPH_NODES", "2000000").toLong
    val ops = Bench.selectKeys(sys.env.getOrElse("SPARK_GRAFT_GRAPH_OPS", "cc,pr"),
      Seq("cc", "pr", "pri", "tri", "bfs", "lpa", "lpac", "sssp", "ssspc"),
      "SPARK_GRAFT_GRAPH_OPS op").toSet
    val hubs = 1000L
    // shuffle width is a 100 TB tuning knob, not a constant: the triangle
    // closure join shuffles O(wedges) rows, so partitions must scale with
    // data (the 4M-node run crosses the in-memory partition threshold at
    // 16 and goes superlinear; 64 restores edge-linear scaling)
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS",
      cpus.toString).toInt
    // recorded probe knob: AQE can flip a mid-size degree frame into a
    // multi-million-row broadcast build — "-1" disables to test that
    val autoBc = sys.env.getOrElse("SPARK_GRAFT_AUTOBC", "10485760")
    spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBc)

    // chain i -> i+1 (long diameter) + hub i -> i % hubs (heavy skew);
    // self-loops from the hub rule are dropped by the operators
    val ids = spark.range(0, n).select(col("id"))
    val chain = ids.filter(col("id") < n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val hub = ids.select(col("id").as("src"), (col("id") % hubs).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = chain.unionAll(hub).localCheckpoint(true)
    val nEdges = edges.count()

    // record EVERY knob that can change a result — an artifact line must
    // be reproducible from its own fields alone
    val fields = collection.mutable.ArrayBuffer(
      s""""nodes":$n""", s""""edges":$nEdges""", s""""cpus":$cpus""",
      s""""shuffle_partitions":$shuffleParts""",
      s""""heap_mb":${Runtime.getRuntime.maxMemory() >> 20}""",
      s""""auto_bc":"$autoBc"""")

    if (ops("cc")) {
      val (ccSec, nComponents) = Bench.best(spark, 1) {
        val reps = operators.ScaleOps.connectedComponents(edges, "src", "dst")
        ids.join(reps.withColumnRenamed("node", "id"), Seq("id"), "left")
          .select(coalesce(col("rep"), col("id")).as("rep"))
          .distinct().count()
      }
      fields += f""""cc_sec":$ccSec%.2f"""
      fields += s""""cc_components":$nComponents"""
    }

    if (ops("pr")) {
      val both = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val (prSec, r) = Bench.best(spark, 1)(operators.ScaleOps.pageRankFixedPoint(
        ids.withColumnRenamed("id", "node"), both, iterations = 5)
        .agg(count(lit(1)), max(col("rank"))).head())
      fields += f""""pagerank_sec":$prSec%.2f"""
      fields += s""""pagerank_iters":5,"ranked":${r.getLong(0)},"max_rank":${r.getLong(1)}"""
    }

    if (ops("pri")) {
      // incremental PageRank: cold-converge the base graph, persist the
      // ranks, perturb the graph with a sparse delta rail, then compare
      // a cold re-run against a warm start from the base ranks — the
      // daily-delta economics pageRankConverge exists for. 5%-of-uniform
      // tolerance keeps the cold ladder bounded at probe scale.
      val both = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val nodesDf = ids.withColumnRenamed("id", "node")
      val tol = 1000000000000L / n / 20
      val (baseSec, (rBase, kBase)) = Bench.best(spark, 1)(
        operators.ScaleOps.pageRankConverge(nodesDf, both, tol = tol))
      val delta = ids.filter(col("id") % 97 === 0)
        .select(col("id").as("src"), ((col("id") * 31) % n).as("dst"))
        .filter(col("src") =!= col("dst"))
      val full = both
        .unionAll(delta)
        .unionAll(delta.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val (coldSec, (rCold, kCold)) = Bench.best(spark, 1)(
        operators.ScaleOps.pageRankConverge(nodesDf, full, tol = tol))
      val (warmSec, (rWarm, kWarm)) = Bench.best(spark, 1)(
        operators.ScaleOps.pageRankConverge(nodesDf, full, tol = tol, init = Some(rBase)))
      val maxDiff = rWarm.withColumnRenamed("rank", "w")
        .join(rCold.withColumnRenamed("rank", "c"), "node")
        .agg(max(abs(col("w") - col("c")))).head().getLong(0)
      fields += f""""pri_base_rounds":$kBase,"pri_base_sec":$baseSec%.2f"""
      fields += f""""pri_cold_rounds":$kCold,"pri_cold_sec":$coldSec%.2f"""
      fields += f""""pri_warm_rounds":$kWarm,"pri_warm_sec":$warmSec%.2f"""
      fields += s""""pri_maxdiff":$maxDiff,"pri_tol":$tol"""
    }

    // skip rail for the analytic ops: triangles become exactly n-2
    lazy val withSkip = {
      val skip = ids.filter(col("id") < n - 2)
        .select(col("id").as("src"), (col("id") + 2).as("dst"))
      edges.unionAll(skip).localCheckpoint(true)
    }

    if (ops("tri")) {
      val (triSec, (tri, row)) = Bench.best(spark, 1) {
        val t = operators.ScaleOps.triangleCount(withSkip)
        (t, t.head())
      }
      operators.Checkpoints.release(tri)
      val expected = n - 2
      require(row.getLong(2) == expected,
        s"triangle self-check failed: got ${row.getLong(2)}, want $expected")
      fields += f""""triangle_sec":$triSec%.2f"""
      fields += s""""triangles":${row.getLong(2)},"tri_edges":${row.getLong(1)},"tri_selfcheck":"ok""""
    }

    if (ops("lpa")) {
      // deterministic LPA on the chain+hub+skip graph; communities are
      // data-dependent, so the self-check is structural: every node
      // labeled, labels drawn from the node id space
      val (lpaSec, stats) = Bench.best(spark, 1)(operators.ScaleOps
        .labelPropagation(withSkip, iterations = 4)
        .agg(count(lit(1)), countDistinct(col("label")),
          min(col("label")), max(col("label"))).head())
      require(stats.getLong(0) == n,
        s"lpa labeled ${stats.getLong(0)} of $n nodes")
      require(stats.getLong(2) >= 0 && stats.getLong(3) < n,
        "lpa labels outside the node id space")
      fields += f""""lpa_sec":$lpaSec%.2f"""
      fields += s""""lpa_iters":4,"lpa_communities":${stats.getLong(1)}"""
    }

    if (ops("lpac")) {
      // convergence-mode LPA needs a graph that CONVERGES under the
      // synchronous min-tie-break rule — the chain/star shapes 2-cycle
      // (the documented oscillation), so this section uses a community
      // graph: cliques of 10 bridged in a chain (the shape LPA exists
      // for). 2M nodes → ~9M clique edges + 200k bridges.
      val k = 10L
      val blocks = spark.range(0, n / k).select(col("id").as("b"))
      val pairs = (for (p1 <- 0L until k; p2 <- (p1 + 1) until k)
        yield (p1, p2)).toSeq
      import spark.implicits._
      val pairDf = pairs.toDF("p1", "p2")
      val cliqueEdges = blocks.crossJoin(broadcast(pairDf))
        .select((col("b") * k + col("p1")).as("src"),
          (col("b") * k + col("p2")).as("dst"))
      val bridges = blocks.filter(col("b") < n / k - 1)
        .select((col("b") * k + (k - 1)).as("src"),
          ((col("b") + 1) * k).as("dst"))
      val commEdges = cliqueEdges.unionAll(bridges).localCheckpoint(true)
      val nCommEdges = commEdges.count()
      val (lpacSec, (rounds, stats)) = Bench.best(spark, 1) {
        val (labels, rounds) = operators.ScaleOps
          .labelPropagationConverged(commEdges, maxIterations = 12)
        (rounds, labels.agg(count(lit(1)), countDistinct(col("label"))).head())
      }
      require(rounds < 12, s"lpac failed to converge within 12 rounds")
      require(stats.getLong(0) == n,
        s"lpac labeled ${stats.getLong(0)} of $n nodes")
      fields += f""""lpac_sec":$lpacSec%.2f"""
      fields += s""""lpac_rounds":$rounds,"lpac_edges":$nCommEdges"""
      fields += s""""lpac_communities":${stats.getLong(1)}"""
    }

    if (ops("sssp")) {
      // weighted shortest paths from node 0 over the chain+hub+skip
      // graph with weights 1 + (src+dst) mod 7; the skip rail's
      // distinct parity paths make the min nontrivial. Self-check:
      // seeds at 0, all distances within rounds × max-weight.
      val rounds = 8
      val (ssspSec, r) = Bench.best(spark, 1) {
        val weighted = withSkip
          .withColumn("weight", lit(1L) + (col("src") + col("dst")) % 7)
        val seeds = spark.range(0, 1).select(col("id").as("node"))
        operators.ScaleOps.ssspWeighted(weighted, seeds, rounds)
          .agg(count(lit(1)), max(col("dist")), min(col("dist"))).head()
      }
      require(r.getLong(2) == 0L, "sssp seed must sit at distance 0")
      require(r.getLong(1) <= rounds.toLong * 7,
        s"sssp max dist ${r.getLong(1)} exceeds the ${rounds}×7 bound")
      fields += f""""sssp_sec":$ssspSec%.2f"""
      fields += s""""sssp_rounds":$rounds,"sssp_reached":${r.getLong(0)},"sssp_max_dist":${r.getLong(1)}"""
    }

    if (ops("ssspc")) {
      // run-to-fixpoint SSSP needs a LOG-diameter graph (the chain's
      // linear diameter would run n rounds): a binary-tree rail
      // i → i>>1 bounds every shortest path at ~2·log2(n) hops, and the
      // chain provides cheap local alternatives that keep the
      // frontier-pruning honest. Self-check: every node reached,
      // convergence within the 64-round guard.
      val tree = ids.filter(col("id") >= 1)
        .select(col("id").as("src"), expr("id div 2").as("dst"))
      val treeChain = tree.unionAll(chain)
        .withColumn("weight", lit(1L) + (col("src") + col("dst")) % 7)
        .localCheckpoint(true)
      val seeds = spark.range(0, 1).select(col("id").as("node"))
      val (ssspcSec, (rounds, r)) = Bench.best(spark, 1) {
        val (dist, rounds) = operators.ScaleOps.ssspConverged(treeChain, seeds)
        (rounds, dist.agg(count(lit(1)), max(col("dist")), min(col("dist"))).head())
      }
      require(rounds < 64, s"ssspc failed to converge within 64 rounds")
      require(r.getLong(0) == n, s"ssspc reached ${r.getLong(0)} of $n nodes")
      require(r.getLong(2) == 0L, "ssspc seed must sit at distance 0")
      fields += f""""ssspc_sec":$ssspcSec%.2f"""
      fields += s""""ssspc_rounds":$rounds,"ssspc_reached":${r.getLong(0)},"ssspc_max_dist":${r.getLong(1)}"""
    }

    if (ops("bfs")) {
      val (bfsSec, r) = Bench.best(spark, 1) {
        val seeds = spark.range(0, 1).select(col("id").as("node"))
        operators.ScaleOps.bfsLevels(withSkip, seeds, maxLevel = 3)
          .agg(count(lit(1)), max(col("level"))).head()
      }
      fields += f""""bfs_sec":$bfsSec%.2f"""
      fields += s""""bfs_reached":${r.getLong(0)},"bfs_max_level":${r.getInt(1)}"""
    }

    fields.mkString("""{"metric":"graph_stress",""", ",", "}")
  }
}
