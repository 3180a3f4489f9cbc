package graft

/** Offline ANN recall probe: runs the approximate ladder (LSH, IVF-flat,
  * IVF-trained, PQ, IVF-PQ, and the persisted IVF-PQ serving read)
  * against the exact brute-force `similarity_topk` truth at a given SF
  * dir, returning one JSON line of recall@10 per rung. The ScalaTest
  * recall floors are pinned at sf0.001/0.01; fixed-parameter LSH/IVF
  * recall typically degrades as the corpus grows around the same
  * bucket/cell structure, so this is the tool that answers "do the knobs
  * still hold at 10×?" before anything ships — measured numbers live in
  * ARCHITECTURE.md's ⊘-key registry.
  *
  * Usage: `runMain graft.Bench recall /root/testdata/sf0.1`
  */
object RecallProbe {
  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    def pairs(key: String): Set[(Long, Long)] =
      Queries.all(key).fn(spark, sfDir)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("similarity_topk")
    // a broken/empty truth set must fail loudly, not print NaN recalls
    // that look superficially valid
    require(brute.nonEmpty,
      s"brute-force similarity_topk returned no rows for $sfDir — " +
        "the recall denominators would all be NaN")
    val rungs = Seq("ann_lsh_topk", "ann_ivf_topk", "ann_ivf_trained_topk",
      "ann_ivf_append", "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_served")
    val entries = rungs.map { key =>
      val recall = brute.count(pairs(key).contains).toDouble / brute.size
      f""""$key": $recall%.4f"""
    }
    // filtered-ANN per-label recall: the aggregate number can hide a
    // collapsed rare label (pruning interacts with label selectivity —
    // fewer same-label rows per probed cell), so measure recall of the
    // served (label, cell) index PER QUERY against the exact filtered
    // truth and call out the RAREST label's query explicitly.
    def byQuery(key: String): Map[Long, Set[Long]] =
      Queries.all(key).fn(spark, sfDir)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, ps) => q -> ps.map(_._2).toSet }
    val ft = byQuery("ann_filtered_topk")
    val fs = byQuery("ann_filtered_served")
    require(ft.nonEmpty, "ann_filtered_topk returned no rows")
    val emb = org.apache.spark.sql.functions.col _
    val labelCounts = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qLabels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(emb("vec_id") < 10).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val perQ = ft.keys.toSeq.sorted.map { q =>
      val truth = ft(q)
      q -> fs.getOrElse(q, Set.empty).count(truth.contains).toDouble / truth.size
    }
    val (rarestQ, _) = qLabels.toSeq
      .sortBy { case (q, l) => (labelCounts(l), q) }.head
    val filteredEntries =
      perQ.map { case (q, r) =>
        f""""q$q(l${qLabels(q)}%d,n${labelCounts(qLabels(q))}%d)": $r%.4f""" } :+
      f""""rarest_label_q$rarestQ": ${perQ.toMap.apply(rarestQ)}%.4f"""
    (entries ++ filteredEntries)
      .mkString(s"""{"sf_dir": "$sfDir", """, ", ", "}")
  }
}
