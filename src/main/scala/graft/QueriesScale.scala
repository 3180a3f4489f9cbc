package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Queries.Q
import graft.operators.ScaleOps
import org.apache.spark.sql.graftnative.{AviFunctions, Bzip2Functions,
  DocxFunctions, EmlFunctions, EpubFunctions, ExifFunctions, FeedFunctions,
  FlacSynthFunctions, HtmlFunctions, Id3Functions, JpegSynthFunctions,
  JsonlFunctions, MarkdownFunctions, MediaExpressions, Mp3Functions,
  Mp3PcmFunctions, Mp4FragFunctions, Mp4TrackFunctions, OdtFunctions,
  OggFunctions, OpusFunctions, PcmEnergyFunctions, PcmFunctions, PdfFunctions,
  PptxFunctions, PqExpressions, RasterFunctions, RasterSynthFunctions,
  RobotsFunctions, RtfFunctions, SitemapFunctions, SubtitleFunctions,
  TarFunctions, TextExpressions, TiffFunctions, UrlFunctions,
  VectorExpressions, VideoDhashFunctions, VorbisFunctions, Vp8SynthFunctions,
  WarcFunctions, WebpAnimFunctions, WebpSynthFunctions, WikiFunctions,
  XlsxFunctions, ZipFunctions}

/** LLM-data-pipeline query keys over `documents` / `embeddings`
  * (SURVEY §7.1 step 8). Oracle SQL mirrors every Spark expression; md5 and
  * base64 are identical across engines, list folds are fixed left-to-right
  * (see [[Queries]] determinism recipe).
  */
object QueriesScale {

  /** documents ∪ shifted copy — a corpus with known exact duplicates so
    * dedup operators have something to remove. Copy ids = id + 100000.
    */
  private def dupedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars")))
  }

  /** [[dupedDocs]] with the scan fanned out across cores
    * (Tables.fanOut) — used ONLY as the SIGNATURE-builder input of the
    * dedup/graph family: the md5-shingle map stage is that family's CPU
    * hot spot and otherwise runs as one task over the single-row-group
    * fixture. The plain [[dupedDocs]] stays everywhere else (sets,
    * join-backs): those subtrees are scanned several times per plan and
    * each would pay the fan-out exchange for map work that feeds a
    * shuffle within milliseconds — measured +4 s on dedup_cc when the
    * fan-out was blanket. Row set identical, so every oracle is
    * unaffected.
    */
  private def dupedDocsFanned(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(s, Tables.documents(s, dir),
      s"$dir/documents.parquet")
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars")))
  }

  private val dupedSql =
    """SELECT * FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars FROM documents""".stripMargin

  // ------------- shared DuckDB fragments for the LSH-plane oracle mirrors
  // One definition keeps the embedding_neardup and ann_lsh_topk mirrors in
  // lockstep — a formatting/semantics change applied to one copy but not
  // the other would silently break oracle parity for the sibling query.

  /** Hyperplane dot product with the plane inlined as double literals.
    * Each literal goes through a STRING→DOUBLE cast, which DuckDB rounds
    * correctly: a bare decimal literal is parsed as DECIMAL first and the
    * DECIMAL→DOUBLE hop double-rounds ~10% of float32 shortest-repr
    * values by one ulp (measured), which is invisible to the sign-only
    * consumers (bucket mirrors) but breaks bit-exact mirrors of raw
    * projections (embedding_project).
    */
  private def planeDotSql(plane: Array[Float]): String = {
    val lits = plane.map(f => s"CAST('${f.toDouble.toString}' AS DOUBLE)").mkString(",")
    s"list_reduce(list_transform(list_zip(embedding, [$lits]), " +
      "s -> CAST(s[1] AS DOUBLE) * s[2]), (a,b) -> a + b)"
  }

  /** UNION ALL of one SELECT per LSH table assigning (tbl, bucket) —
    * mirrors ScaleOps.lshBuckets over dim-64 embeddings. `extraCols` rides
    * additional columns through (e.g. ", label").
    */
  private def lshBucketedSql(tables: Int, bits: Int, extraCols: String = ""): String = {
    val planes = ScaleOps.lshPlanes(dim = 64, tables = tables, bits = bits)
    (0 until tables).map { t =>
      val bucketExpr = (0 until bits).map(p =>
        s"(CASE WHEN ${planeDotSql(planes(t)(p))} > 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")
      s"SELECT vec_id$extraCols, $t AS tbl, $bucketExpr AS bucket FROM embeddings"
    }.mkString("\n UNION ALL ")
  }

  /** L2-norm CTE body — mirrors ScaleOps.l2norm's fold association. */
  private val embNormSql =
    """SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_transform(list_zip(embedding, embedding),
      |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)) AS nv
      | FROM embeddings""".stripMargin

  // ------------------------------------------------ exact dedup (hash keep-min)
  private val dedupExactQ = Q(
    (s, dir) => {
      // partition the keep-min window by the 128-bit content hash, not the
      // raw text: the exchange then shuffles 32-byte keys instead of full
      // documents — the difference between shuffling ~32 GB and ~100 TB of
      // text at corpus scale
      val w = Window.partitionBy("content_hash").orderBy("doc_id")
      dupedDocs(s, dir)
        .withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("content_hash"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH corpus AS ($dupedSql)
         | SELECT doc_id, md5(text) AS content_hash, lang, n_chars FROM corpus
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
         | ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------- text stats
  private val textStatsQ = Q(
    (s, dir) => ScaleOps.withTextStats(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_regex_tokens"),
        col("n_distinct_tokens"), col("n_stopwords"), col("distinct_ratio"),
        col("stopword_ratio"), col("mean_token_len"), col("quality_score"))
      .orderBy(col("doc_id")),
    Some(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | c AS (SELECT doc_id, text,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS BIGINT) AS n_regex_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS n_stopwords
        | FROM t),
        | r AS (SELECT doc_id, n_tokens, n_regex_tokens, n_distinct_tokens, n_stopwords,
        |  CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
        |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len
        | FROM c)
        | SELECT *,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  (1.0 - stopword_ratio) * 0.3 + distinct_ratio * 0.3 AS quality_score
        | FROM r ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- repetition signals (Gopher)
  // Within-document n-gram repetition coverages/fractions — see
  // ScaleOps.withRepetitionStats. The oracle rebuilds the same statistics
  // the explicit way (unnest n-grams, group, max/sum of count·charlen);
  // coverages are exact integers and each fraction is one double division
  // of two exact ints, so the compare is bitwise.
  private val repetitionQ = Q(
    (s, dir) => ScaleOps.withRepetitionStats(Tables.documents(s, dir))
      .select(col("doc_id"), col("top2_cover"), col("top3_cover"),
        col("dup5_cover"), col("top2_frac"), col("top3_frac"),
        col("dup5_frac"))
      .orderBy(col("doc_id")),
    Some(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | g2 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
        |   for i in generate_series(1, len(toks)-1)]) AS g FROM t),
        | g3 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |   for i in generate_series(1, len(toks)-2)]) AS g FROM t),
        | g5 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+4], ' ')
        |   for i in generate_series(1, len(toks)-4)]) AS g FROM t),
        | c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
        | c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
        | c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g),
        | t2 AS (SELECT doc_id, max(c * len(g)) AS cover FROM c2 GROUP BY doc_id),
        | t3 AS (SELECT doc_id, max(c * len(g)) AS cover FROM c3 GROUP BY doc_id),
        | d5 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END) AS cover
        |        FROM c5 GROUP BY doc_id)
        | SELECT d.doc_id,
        |  CAST(coalesce(t2.cover, 0) AS BIGINT) AS top2_cover,
        |  CAST(coalesce(t3.cover, 0) AS BIGINT) AS top3_cover,
        |  CAST(coalesce(d5.cover, 0) AS BIGINT) AS dup5_cover,
        |  CASE WHEN len(d.text) = 0 THEN 0.0 ELSE least(1.0,
        |   CAST(coalesce(t2.cover, 0) AS DOUBLE) / CAST(len(d.text) AS DOUBLE)) END AS top2_frac,
        |  CASE WHEN len(d.text) = 0 THEN 0.0 ELSE least(1.0,
        |   CAST(coalesce(t3.cover, 0) AS DOUBLE) / CAST(len(d.text) AS DOUBLE)) END AS top3_frac,
        |  CASE WHEN len(d.text) = 0 THEN 0.0 ELSE least(1.0,
        |   CAST(coalesce(d5.cover, 0) AS DOUBLE) / CAST(len(d.text) AS DOUBLE)) END AS dup5_frac
        | FROM documents d
        | LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        | LEFT JOIN d5 USING (doc_id)
        | ORDER BY d.doc_id""".stripMargin))

  // ------------------------------------------------------- language ID
  private val langIdQ = Q(
    (s, dir) => {
      val toks = ScaleOps.tokens(col("text"))
      val scored = Tables.documents(s, dir)
        .withColumn("score_en", ScaleOps.markerScore(toks, "en"))
        .withColumn("score_es", ScaleOps.markerScore(toks, "es"))
        .withColumn("score_de", ScaleOps.markerScore(toks, "de"))
        .withColumn("score_fr", ScaleOps.markerScore(toks, "fr"))
        .withColumn("predicted_lang",
          when(greatest(col("score_en"), col("score_es"), col("score_de"), col("score_fr")) === 0, lit("unknown"))
            .when(col("score_en") >= greatest(col("score_es"), col("score_de"), col("score_fr")), lit("en"))
            .when(col("score_es") >= greatest(col("score_de"), col("score_fr")), lit("es"))
            .when(col("score_de") >= col("score_fr"), lit("de"))
            .otherwise(lit("fr")))
      scored.select(col("doc_id"), col("lang"), col("predicted_lang"),
        (col("predicted_lang") === col("lang")).as("is_match"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        | sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS score_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS score_es,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS score_de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','des','est'))) AS score_fr
        | FROM t),
        | p AS (SELECT doc_id, lang,
        |  CASE WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'unknown'
        |       WHEN score_en >= greatest(score_es, score_de, score_fr) THEN 'en'
        |       WHEN score_es >= greatest(score_de, score_fr) THEN 'es'
        |       WHEN score_de >= score_fr THEN 'de'
        |       ELSE 'fr' END AS predicted_lang
        | FROM sc)
        | SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS is_match
        | FROM p ORDER BY doc_id""".stripMargin))

  // -------------------------------------------------- document fingerprint
  private val fingerprintQ = Q(
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("md5_full", md5(col("text")))
        .withColumn("_sh", TextExpressions.word_shingles(col("text")))
        .withColumn("min_shingle_hash", ScaleOps.minhashComponent(col("_sh"), 1))
        .withColumn("rolling_hash", TextExpressions.rolling_hash(col("text")))
        .select(col("doc_id"), col("md5_full"), col("min_shingle_hash"), col("rolling_hash"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | sh AS (SELECT doc_id, text,
        |  [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS shingles
        | FROM t)
        | SELECT doc_id, md5(text) AS md5_full,
        |  list_min(list_transform(shingles, x -> md5('1|' || x))) AS min_shingle_hash,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 2147483647) AS rolling_hash
        | FROM sh ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- MinHash + LSH near-dup join
  // K=8 signature via one explode+HashAggregate → 4 band keys of 2
  // components → bucket-grouped pair expansion → pairs with band-agreement
  // count. The only shuffles carry compact (band_idx, key) pairs.
  /** Uncapped band buckets from a K=8 signature table — shared by the md5
    * (oracle) and xxhash64 (production) minhash variants, and exposed so
    * [[minhashBucketStats]] can observe cap behavior on the SAME frame the
    * query pairs from.
    */
  private def minhashBandBuckets(sig: DataFrame): DataFrame = {
    val keyed = sig.select(Seq(col("doc_id")) ++ ScaleOps.bandKeys(8, 2): _*)
    keyed.select(col("doc_id"),
      posexplode(array((1 to 4).map(b => col(s"band_$b")): _*)).as(Seq("band_idx", "bk")))
      .groupBy("band_idx", "bk")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
  }

  /** Capped-bucket pair expansion with band-agreement counts — the tail of
    * both minhash variants. Bucket-grouped (no self-join: the signature
    * pipeline runs ONCE); buckets above lshBucketCap are SKIPPED — they
    * expand quadratically and carry no near-dup signal.
    */
  private def minhashPairsFromBuckets(buckets: DataFrame): DataFrame =
    ScaleOps.cappedBuckets(buckets, "ids")
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id1, y AS id2))))""".stripMargin))
        .as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("id1"), col("id2"))

  /** Cap observability (the no-silent-caps rule): bucket counts, skipped
    * buckets, and worst bucket size for the minhash banding — computed on
    * the exact bucket frame the queries pair from. `prod = true` reads
    * the xxhash64 (production) banding, whose buckets differ from the md5
    * family's — a degenerate corpus can saturate one family's cap and not
    * the other's, so BOTH pipelines are observable. Logged by Smoke;
    * asserted by ScaleOpsSpec.
    */
  def minhashBucketStats(s: SparkSession, dir: String, prod: Boolean = false): DataFrame = {
    val sig =
      if (prod) ScaleOps.minhashSignatureTableXx(dupedDocs(s, dir), "doc_id", "text", k = 8)
      else ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8)
    ScaleOps.bucketSkewStats(minhashBandBuckets(sig), "ids")
  }

  /** The minhash/LSH oracle machinery (md5 family, 8 hashes, 4 bands,
    * capped buckets) over an arbitrary `corpus(doc_id, text)` CTE: a
    * DuckDB CTE chain mirroring the md5 minhash banding that defines
    * `corpus`, `sh` (shingle arrays), and `pairs` (one row per shared
    * band, id1 < id2). Shared by the plain dedup gates (minhash_dedup and
    * dedup_pipeline) and the crawl-composition gate, so their oracles
    * cannot drift.
    */
  private def minhashOracleCtesFor(corpusSql: String) =
    s"""corpus AS ($corpusSql),
       | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       | sh AS (SELECT doc_id,
       |  [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS shingles FROM t),
       | sig AS (SELECT doc_id,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 1, 15)) AS BIGINT))) AS s1,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 17, 15)) AS BIGINT))) AS s2,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 1, 15)) AS BIGINT))) AS s3,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 17, 15)) AS BIGINT))) AS s4,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 1, 15)) AS BIGINT))) AS s5,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 17, 15)) AS BIGINT))) AS s6,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 1, 15)) AS BIGINT))) AS s7,
       |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 17, 15)) AS BIGINT))) AS s8
       | FROM sh),
       | b AS (SELECT doc_id, s1 || '#' || s2 AS band_1, s3 || '#' || s4 AS band_2,
       |              s5 || '#' || s6 AS band_3, s7 || '#' || s8 AS band_4 FROM sig),
       | banded AS (
       |  SELECT doc_id, 1 AS band_idx, band_1 AS bk FROM b
       |  UNION ALL SELECT doc_id, 2, band_2 FROM b
       |  UNION ALL SELECT doc_id, 3, band_3 FROM b
       |  UNION ALL SELECT doc_id, 4, band_4 FROM b),
       | ok AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bk) AS c
       |   FROM banded) WHERE c BETWEEN 2 AND ${graft.operators.ScaleOps.lshBucketCap}),
       | pairs AS (SELECT a.doc_id AS id1, b2.doc_id AS id2
       |  FROM ok a JOIN ok b2 ON a.band_idx = b2.band_idx AND a.bk = b2.bk
       |  WHERE a.doc_id < b2.doc_id)""".stripMargin

  private val minhashOracleCtes = minhashOracleCtesFor(dupedSql)

  private val minhashLshQ = Q(
    (s, dir) => minhashPairsFromBuckets(minhashBandBuckets(
      ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8))),
    Some(
      s"""WITH $minhashOracleCtes
         | SELECT id1, id2, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
         | FROM pairs GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin))

  // --------------------------------- end-to-end corpus dedup pipeline
  // The full LLM-corpus dedup story in ONE plan: minhash/LSH candidate
  // generation (linear, capped) → exact shingle-set jaccard verification
  // on candidate pairs only (never all pairs) → survivor selection (a doc
  // is removed iff a verified near-dup with a SMALLER id exists — the
  // deterministic keep-min rule; the duped corpus halves back to ~the
  // original). NOTE the removal rule is PER-PAIR, not cluster-
  // representative: in a similarity chain A~B~C with A!~C, both B and C
  // are removed (each has SOME smaller verified near-dup), where a
  // union-find representative dedup would keep C once B is gone. That is
  // deliberate — the rule is a pure per-pair predicate, needs no
  // iterative connected-components pass at 100 TB, errs toward removing
  // more (safe for training-data hygiene), and the DuckDB oracle mirrors
  // it exactly. Plan shape at 100 TB: the only joins against the full
  // corpus are hash-joins on doc_id (candidates ≪ corpus), verification
  // cost is |candidates| · |shingle sets|, and the final anti-join keys
  // on doc_id alone.
  private val dedupJaccardThreshold = 0.7

  /** Candidates → exact-jaccard verify: the (id1, id2) pairs whose true
    * shingle-set jaccard clears the threshold. Shared by the keep-min
    * pipelines ([[dedupPipelineFrom]]) and the connected-components
    * clustering below.
    *
    * The verify joins are PINNED to shuffled-hash with the candidate side
    * as build. Left to itself, AQE's runtime stats see a low ROW count on
    * the corpus-shingle projection and sporadically convert these joins
    * to broadcast — but each row carries the document's full distinct-
    * shingle array, so the "small" side is corpus-sized in bytes: locally
    * that flip measured 15-30× slower (86-169 s vs 3-6 s at sf0.1,
    * driver-side relation build + GC), and at 100 TB it would broadcast
    * the corpus. The hint keeps the only join against full documents a
    * partitioned hash join on doc_id, which is the 100 TB-correct plan
    * regardless of what the local stats say.
    */
  private def verifiedPairs(corpus: DataFrame, sig: DataFrame): DataFrame = {
    val cands = minhashPairsFromBuckets(minhashBandBuckets(sig))
      .select("id1", "id2")
    val sets = corpus.select(col("doc_id"),
      array_distinct(TextExpressions.word_shingles(col("text"))).as("sh"))
    cands
      .hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("n_inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("n_inter").cast(DoubleType) /
        (size(col("sh1")) + size(col("sh2")) - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= dedupJaccardThreshold)
      .select("id1", "id2")
  }

  /** Candidates → exact-jaccard verify → keep-min anti-join: the shared
    * tail of both dedup_pipeline variants, parameterized only by the
    * signature table (md5 = oracle family, xxhash64 = production family)
    * so the two plans cannot drift.
    */
  private def dedupPipelineFrom(corpus: DataFrame, sig: DataFrame): DataFrame = {
    val verified = verifiedPairs(corpus, sig)
    val removed = verified.select(col("id2").as("doc_id")).distinct()
    // Survivor selection is a LEFT OUTER join + null filter rather than
    // the equivalent left_anti, deliberately: Catalyst's semi/anti-
    // through-Union pushdown rewrites `union.join(removed, "left_anti")`
    // into a UNION OF TWO ANTI JOINS, duplicating the entire
    // candidates→verify pipeline (`removed`) as two sibling subtrees.
    // Runtime stage reuse between the twins is nondeterministic — when
    // it misses, the signature chain executes twice CONCURRENTLY
    // (measured 15-60× slowdowns at sf0.1: 3-6 s reps flipping to
    // 86-275 s). The outer-join form is outside that rule's pattern, so
    // the pipeline stays single-subtree; `removed` is distinct on the
    // join key, so no row duplication — semantics are identical.
    corpus.join(
        removed.withColumn("_dup", lit(1)).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .filter(col("_dup").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val dedupPipelineQ = Q(
    (s, dir) => {
      val corpus = dupedDocs(s, dir)
      dedupPipelineFrom(corpus,
        ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8))
    },
    Some(
      s"""WITH $minhashOracleCtes,
         | cand AS (SELECT DISTINCT id1, id2 FROM pairs),
         | sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         | verified AS (SELECT id1, id2 FROM (
         |   SELECT cand.id1, cand.id2,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |   FROM cand JOIN sets a ON cand.id1 = a.doc_id JOIN sets b ON cand.id2 = b.doc_id)
         |  WHERE jaccard >= $dedupJaccardThreshold),
         | removed AS (SELECT DISTINCT id2 AS doc_id FROM verified)
         | SELECT doc_id, lang, n_chars FROM corpus
         | WHERE doc_id NOT IN (SELECT doc_id FROM removed)
         | ORDER BY doc_id""".stripMargin))

  // --------------------------------- production minhash (xxhash64, ⊘)
  // Same banding/cap/pair pipeline as minhash_dedup but signatures come
  // from seeded xxhash64 (ScaleOps.minhashSignatureTableXx) — several
  // times cheaper than md5 per shingle. No oracle: DuckDB has no
  // bit-compatible xxhash64, which is exactly why the md5 twin exists
  // (it carries the hash-green correctness gate; this key carries the
  // throughput). Candidate-set equivalence vs the md5 form is pinned by
  // ScaleOpsSpec: every exact duplicate shares all 4 bands in both, and
  // the near-dup candidate sets overlap heavily.
  private val minhashProdQ = Q(
    (s, dir) => minhashPairsFromBuckets(minhashBandBuckets(
      ScaleOps.minhashSignatureTableXx(dupedDocs(s, dir), "doc_id", "text", k = 8))),
    None)

  // ------------------------- production dedup pipeline (xxhash64, ⊘)
  // The end-to-end candidates→verify→anti-join dedup on the xxhash64
  // signature family: identical plan to dedup_pipeline (shared tail
  // above) minus the md5 oracle tax. No oracle for the same reason as
  // minhash_dedup_prod; survivor-set equivalence vs the md5 form is
  // pinned by ScaleOpsSpec (exact duplicates share all bands in EITHER
  // hash family and verification is hash-free exact jaccard, so the two
  // survivor sets agree wherever candidate recall does — asserted
  // exactly on the fixture corpus).
  private val dedupPipelineProdQ = Q(
    (s, dir) => {
      val corpus = dupedDocs(s, dir)
      dedupPipelineFrom(corpus,
        ScaleOps.minhashSignatureTableXx(dupedDocs(s, dir), "doc_id", "text", k = 8))
    },
    None)

  // --------------------- incremental dedup (new batch vs history index)
  // The daily-ingest pattern every production corpus runs: a NEW batch of
  // documents is deduplicated against the already-ingested history
  // WITHOUT re-pairing the history against itself. The history's LSH band
  // table and distinct-shingle sets are the persisted index (built once,
  // appended after each batch — inlined here because query keys are pure,
  // the same precedent as ann_ivf_trained's parquet-persisted codebook);
  // per-batch cost is O(|batch| + |candidates|): batch docs are shingled
  // and banded, candidates come from an equi-join against the index bands
  // (capped on the INDEX side — a degenerate history bucket would
  // otherwise fan every matching batch row out quadratically), and exact-
  // jaccard verification touches only candidate (new, old) pairs via
  // shuffle-hash joins on doc ids. Nothing ever joins batch×history on
  // text, and the history is never self-paired.
  //
  // Fixture split: history = the original documents; the batch is half
  // exact copies (even ids, +100000 — every one should flag) and half
  // token-REVERSED docs (odd ids, +200000 — order-sensitive shingles all
  // change, so none should flag). Output per batch doc: dup count, the
  // smallest matching history id, and the keep/drop flag.
  private def incrementalSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir)
    val incoming = d.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"),
        col("lang"), col("n_chars"))
      .unionAll(d.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text"),
          col("lang"), col("n_chars")))
    (d.select(col("doc_id"), col("text"), col("lang"), col("n_chars")), incoming)
  }

  private def bandsLong(sig: DataFrame): DataFrame =
    sig.select(Seq(col("doc_id")) ++ ScaleOps.bandKeys(8, 2): _*)
      .select(col("doc_id"),
        posexplode(array((1 to 4).map(b => col(s"band_$b")): _*))
          .as(Seq("band_idx", "bk")))

  /** Index probe → verify → per-doc flag: the shared tail of both
    * dedup_incremental variants (md5 oracle family / xxhash64 production
    * family), parameterized by the two signature tables so the plans
    * cannot drift.
    */
  private def dedupIncrementalFrom(history: DataFrame, incoming: DataFrame,
      sigOld: DataFrame, sigNew: DataFrame): DataFrame = {
      // the persisted index: capped band buckets + distinct-shingle sets
      val oldIndex = minhashBandBuckets(sigOld)
        .filter(size(col("ids")) <= ScaleOps.lshBucketCap)
        .select(col("band_idx"), col("bk"), explode(col("ids")).as("old_id"))
      val newBands = bandsLong(sigNew)
        .select(col("doc_id").as("new_id"), col("band_idx"), col("bk"))
      val cands = newBands.join(oldIndex, Seq("band_idx", "bk"))
        .select(col("new_id"), col("old_id")).distinct()
      val setsOld = history.select(col("doc_id").as("old_id"),
        array_distinct(TextExpressions.word_shingles(col("text"))).as("sh_o"))
      val setsNew = incoming.select(col("doc_id").as("new_id"),
        array_distinct(TextExpressions.word_shingles(col("text"))).as("sh_n"))
      val verified = cands
        .hint("shuffle_hash").join(setsNew, "new_id")
        .hint("shuffle_hash").join(setsOld, "old_id")
        .withColumn("n_inter", size(array_intersect(col("sh_n"), col("sh_o"))))
        .withColumn("jaccard", col("n_inter").cast(DoubleType) /
          (size(col("sh_n")) + size(col("sh_o")) - col("n_inter")).cast(DoubleType))
        .filter(col("jaccard") >= dedupJaccardThreshold)
      val perDoc = verified.groupBy("new_id").agg(
        count(lit(1)).as("n_dups"), min(col("old_id")).as("dup_of"))
      incoming.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(perDoc.withColumnRenamed("new_id", "doc_id").hint("shuffle_hash"),
          Seq("doc_id"), "left")
        .withColumn("is_dup", col("n_dups").isNotNull)
        .withColumn("n_dups", coalesce(col("n_dups"), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_dups"), col("dup_of"), col("is_dup"))
        .orderBy(col("doc_id"))
  }

  private val dedupIncrementalQ = Q(
    (s, dir) => {
      val (history, incoming) = incrementalSplit(s, dir)
      dedupIncrementalFrom(history, incoming,
        ScaleOps.minhashSignatureTable(history, "doc_id", "text", k = 8),
        ScaleOps.minhashSignatureTable(incoming, "doc_id", "text", k = 8))
    },
    Some(
      s"""WITH hist AS (SELECT doc_id, text, lang, n_chars FROM documents),
         | inc AS (
         |  SELECT doc_id + 100000 AS doc_id, text, lang, n_chars
         |   FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |   array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text,
         |   lang, n_chars
         |  FROM documents WHERE doc_id % 2 = 1),
         | th AS (SELECT doc_id, string_split(text, ' ') AS toks FROM hist),
         | shh AS (SELECT doc_id,
         |  [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS shingles FROM th),
         | ti AS (SELECT doc_id, string_split(text, ' ') AS toks FROM inc),
         | shi AS (SELECT doc_id,
         |  [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS shingles FROM ti),
         | sigh AS (SELECT doc_id,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 1, 15)) AS BIGINT))) AS s1,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 17, 15)) AS BIGINT))) AS s2,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 1, 15)) AS BIGINT))) AS s3,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 17, 15)) AS BIGINT))) AS s4,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 1, 15)) AS BIGINT))) AS s5,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 17, 15)) AS BIGINT))) AS s6,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 1, 15)) AS BIGINT))) AS s7,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 17, 15)) AS BIGINT))) AS s8
         | FROM shh),
         | sigi AS (SELECT doc_id,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 1, 15)) AS BIGINT))) AS s1,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('1|' || x), 17, 15)) AS BIGINT))) AS s2,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 1, 15)) AS BIGINT))) AS s3,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('2|' || x), 17, 15)) AS BIGINT))) AS s4,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 1, 15)) AS BIGINT))) AS s5,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('3|' || x), 17, 15)) AS BIGINT))) AS s6,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 1, 15)) AS BIGINT))) AS s7,
         |  list_min(list_transform(shingles, x -> CAST(('0x' || substr(md5('4|' || x), 17, 15)) AS BIGINT))) AS s8
         | FROM shi),
         | bandedh AS (
         |  SELECT doc_id, 1 AS band_idx, s1 || '#' || s2 AS bk FROM sigh
         |  UNION ALL SELECT doc_id, 2, s3 || '#' || s4 FROM sigh
         |  UNION ALL SELECT doc_id, 3, s5 || '#' || s6 FROM sigh
         |  UNION ALL SELECT doc_id, 4, s7 || '#' || s8 FROM sigh),
         | okh AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bk) AS c
         |   FROM bandedh) WHERE c <= ${graft.operators.ScaleOps.lshBucketCap}),
         | bandedi AS (
         |  SELECT doc_id, 1 AS band_idx, s1 || '#' || s2 AS bk FROM sigi
         |  UNION ALL SELECT doc_id, 2, s3 || '#' || s4 FROM sigi
         |  UNION ALL SELECT doc_id, 3, s5 || '#' || s6 FROM sigi
         |  UNION ALL SELECT doc_id, 4, s7 || '#' || s8 FROM sigi),
         | cand AS (SELECT DISTINCT i.doc_id AS new_id, h.doc_id AS old_id
         |  FROM bandedi i JOIN okh h ON i.band_idx = h.band_idx AND i.bk = h.bk),
         | setsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM shh),
         | setsi AS (SELECT doc_id, list_distinct(shingles) AS s FROM shi),
         | verified AS (SELECT new_id, old_id FROM (
         |   SELECT cand.new_id, cand.old_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |   FROM cand JOIN setsi a ON cand.new_id = a.doc_id
         |             JOIN setsh b ON cand.old_id = b.doc_id)
         |  WHERE jaccard >= $dedupJaccardThreshold),
         | agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
         |   MIN(old_id) AS dup_of FROM verified GROUP BY new_id)
         | SELECT i.doc_id, i.lang, i.n_chars,
         |  coalesce(a.n_dups, 0) AS n_dups, a.dup_of,
         |  a.n_dups IS NOT NULL AS is_dup
         | FROM inc i LEFT JOIN agg a ON a.new_id = i.doc_id
         | ORDER BY i.doc_id""".stripMargin))

  // ---------------- production incremental dedup (xxhash64, ⊘)
  // The same index-probe pipeline on seeded-xxhash64 signatures — the
  // per-batch form a production ingest actually runs (md5 exists for the
  // oracle only). No oracle for the same reason as minhash_dedup_prod;
  // ScaleOpsSpec pins flag-set equivalence vs the md5 form: exact copies
  // share all bands in EITHER hash family and verification is hash-free
  // exact jaccard, so the two flag sets agree wherever candidate recall
  // does.
  private val dedupIncrementalProdQ = Q(
    (s, dir) => {
      val (history, incoming) = incrementalSplit(s, dir)
      dedupIncrementalFrom(history, incoming,
        ScaleOps.minhashSignatureTableXx(history, "doc_id", "text", k = 8),
        ScaleOps.minhashSignatureTableXx(incoming, "doc_id", "text", k = 8))
    },
    None)

  // ------------------- cluster-representative dedup (connected components)
  // The third dedup semantics (alongside per-pair keep-min and exact):
  // verified near-dup pairs are clustered into connected components via
  // alternating large-star/small-star contraction
  // (ScaleOps.connectedComponents), and each doc maps to its component's
  // minimum id. Differs from keep-min exactly where a non-minimum doc has
  // only LARGER verified neighbors — e.g. edges (1,3),(2,3): keep-min
  // keeps {1,2}, CC keeps {1} — so CC survivors ⊆ keep-min survivors
  // (every keep-min-removed doc has a smaller neighbor, hence is not its
  // component min; pinned on the fixture corpus in ScaleOpsSpec). Output
  // is the full (doc_id, rep_id, kept) clustering, not just survivors:
  // rep_id is what a training pipeline shards by to co-locate near-dups.
  //
  // 100 TB shape: candidate generation and verification are the shared
  // linear/capped pipeline above; clustering then runs on the verified
  // PAIRS only (≪ corpus), each round two groupBy-min + join passes on
  // (long, long) edges, O(log d) rounds. The oracle mirrors the
  // clustering with a DuckDB recursive transitive-closure CTE — feasible
  // because sf-test components are small; the Spark side never
  // materializes a closure.
  /** Verified pairs → star-forest clustering → (doc_id, rep_id, kept):
    * the shared tail of both dedup_cc variants (md5 oracle family /
    * xxhash64 production family).
    */
  private def dedupCcFrom(corpus: DataFrame, sig: DataFrame): DataFrame = {
    val verified = verifiedPairs(corpus, sig)
    val reps = ScaleOps.connectedComponents(verified, "id1", "id2")
    corpus
      .join(reps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("rep_id"),
        (coalesce(col("rep"), col("doc_id")) === col("doc_id"))
          .cast(IntegerType).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val dedupCcQ = Q(
    (s, dir) => {
      val corpus = dupedDocs(s, dir)
      dedupCcFrom(corpus,
        ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8))
    },
    Some(
      s"""WITH RECURSIVE $minhashOracleCtes,
         | cand AS (SELECT DISTINCT id1, id2 FROM pairs),
         | sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         | verified AS (SELECT id1, id2 FROM (
         |   SELECT cand.id1, cand.id2,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |   FROM cand JOIN sets a ON cand.id1 = a.doc_id JOIN sets b ON cand.id2 = b.doc_id)
         |  WHERE jaccard >= $dedupJaccardThreshold),
         | edges AS (SELECT id1 AS a, id2 AS b FROM verified
         |           UNION SELECT id2, id1 FROM verified),
         | reach(a, b) AS (SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         | rep AS (SELECT a AS doc_id, least(a, min(b)) AS rep_id
         |         FROM reach GROUP BY a)
         | SELECT c.doc_id,
         |  coalesce(r.rep_id, c.doc_id) AS rep_id,
         |  CAST(coalesce(r.rep_id, c.doc_id) = c.doc_id AS INT) AS kept
         | FROM corpus c LEFT JOIN rep r USING (doc_id)
         | ORDER BY c.doc_id""".stripMargin))

  // ---------------- production CC dedup (xxhash64, ⊘) — same tail as
  // dedup_cc minus the md5 oracle tax; clustering equivalence vs the md5
  // form is pinned in ScaleOpsSpec (verification is hash-free exact
  // jaccard, and the fixture corpus's exact copies share all bands in
  // either hash family, so the verified edge sets — hence components —
  // agree wherever candidate recall does).
  private val dedupCcProdQ = Q(
    (s, dir) => {
      val corpus = dupedDocs(s, dir)
      dedupCcFrom(corpus,
        ScaleOps.minhashSignatureTableXx(dupedDocs(s, dir), "doc_id", "text", k = 8))
    },
    None)

  /** Candidate→exact-jaccard-verified pair CTEs (`cand`, `sets`,
    * `verified`) over the minhash chain — the oracle mirror of
    * [[verifiedPairs]], shared by the graph-analytics keys. (The two
    * dedup oracles predate this factoring and keep their inline copies;
    * the text is character-identical.)
    */
  private val verifiedOracleCtes =
    s"""cand AS (SELECT DISTINCT id1, id2 FROM pairs),
       | sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
       | verified AS (SELECT id1, id2 FROM (
       |   SELECT cand.id1, cand.id2,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
       |   FROM cand JOIN sets a ON cand.id1 = a.doc_id JOIN sets b ON cand.id2 = b.doc_id)
       |  WHERE jaccard >= $dedupJaccardThreshold)""".stripMargin

  // -------------------------------------------- dedup-graph PageRank
  // Graph centrality over the verified near-dup graph — the second graph
  // algorithm on the shared candidates→verify pair pipeline (alongside
  // connected components). On a duplicate graph, rank concentrates on
  // documents sitting at the center of large template/boilerplate
  // families, which is exactly the ordering a training pipeline uses to
  // pick cluster exemplars or rank crawl hubs.
  //
  // The arithmetic is FIXED-POINT INTEGER (ScaleOps.pageRankFixedPoint,
  // ranks scaled by 10^12) precisely so the key can be hash-green:
  // floating PageRank sums in shuffle order and cannot be mirrored
  // bitwise; integer division + exact BIGINT sums replay identically in
  // DuckDB, where the oracle unrolls the same 5 synchronous rounds as
  // chained CTEs. 100 TB shape: degree-annotated edges materialize once,
  // every round is join + partial/final agg + left join back to nodes,
  // per-round lineage cut — see the operator scaladoc.
  private val pagerankIterations = 5
  private val pagerankScale = 1000000000000L

  /** Shared pipeline for the pagerank twins — one body, the signature
    * table is the only fork (same factoring as shardShuffleFrom), so the
    * ScaleOpsSpec bit-equality pin between them can never be broken by
    * an edit reaching only one twin.
    */
  private def pageRankFrom(s: SparkSession, dir: String,
      sig: DataFrame): DataFrame = {
    val corpus = dupedDocs(s, dir)
    val verified = verifiedPairs(corpus, sig)
    val edges = verified.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(verified.select(col("id2").as("src"), col("id1").as("dst")))
    ScaleOps.pageRankFixedPoint(corpus.select("doc_id"), edges,
        nodeCol = "doc_id", iterations = pagerankIterations,
        scale = pagerankScale)
      .select(col("node").as("doc_id"), col("rank").as("pr_scaled"))
      .orderBy("doc_id")
  }

  private val pagerankQ = Q(
    (s, dir) => pageRankFrom(s, dir,
      ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8)),
    Some {
      val iters = (1 to pagerankIterations).map { i =>
        s"""pr$i AS (SELECT c.doc_id,
           |   ${pagerankScale * 15L / 100L} // nn.n
           |     + (coalesce(s.m, 0) * 85) // 100 AS rank
           |  FROM corpus c CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS doc_id, SUM(p.rank // d.deg) AS m
           |    FROM edges e JOIN pr${i - 1} p ON e.src = p.doc_id
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s USING (doc_id))""".stripMargin
      }.mkString(",\n ")
      s"""WITH $minhashOracleCtes,
         | $verifiedOracleCtes,
         | edges AS (SELECT id1 AS src, id2 AS dst FROM verified
         |           UNION SELECT id2, id1 FROM verified),
         | deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |         FROM edges GROUP BY src),
         | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM corpus),
         | pr0 AS (SELECT doc_id, $pagerankScale // nn.n AS rank
         |         FROM corpus CROSS JOIN nn),
         | $iters
         |SELECT doc_id, CAST(rank AS BIGINT) AS pr_scaled
         |FROM pr$pagerankIterations ORDER BY doc_id""".stripMargin
    })

  // production twin (⊘): the same fixed-point iterations over the
  // xxhash64 candidate family (no md5 oracle tax on the signature
  // stage). The integer arithmetic is hash-free, so ranks equal the md5
  // family's EXACTLY wherever the verified edge sets agree — on the
  // fixture corpus they do (the dedup_cc_prod argument), pinned in
  // ScaleOpsSpec as bit-equality of the full rank vector.
  private val pagerankProdQ = Q(
    (s, dir) => pageRankFrom(s, dir,
      ScaleOps.minhashSignatureTableXx(dupedDocs(s, dir), "doc_id", "text", k = 8)),
    None)

  // ------------------------------------------- incremental PageRank (⊘)
  // The graph family's incremental twin (the engine's standard move:
  // dedup_incremental, ann_ivf_append): "yesterday's" corpus (doc_id %
  // 10 ≠ 0, ~90%) converges once and persists its ranks durably; the
  // daily delta then WARM-STARTS pageRankConverge from that frame on the
  // full graph, paying a handful of O(|edges|) rounds instead of the
  // full cold ladder. ⊘ because the round count is a convergence
  // stopping rule, not an unrollable fixed plan — ScaleOpsSpec pins
  // warm-rounds < cold-rounds and ∞-norm agreement with the cold fixed
  // point; GraphStress carries the scale row. Deterministic end to end
  // (integer fixed-point + md5 candidate family), so the rows-only
  // driver check is stable.
  private val pagerankIncrementalQ = Q(
    (s, dir) => {
      val corpus = dupedDocs(s, dir)
      val verified = verifiedPairs(corpus,
        ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8))
      val edges = verified.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(verified.select(col("id2").as("src"), col("id1").as("dst")))
      val nDocs = corpus.count()
      val tol = math.max(1L, pagerankScale / nDocs / 100L) // 1% of uniform
      val baseNodes = corpus.select("doc_id").filter(col("doc_id") % 10 =!= 0)
      val baseEdges = edges
        .join(baseNodes.withColumnRenamed("doc_id", "src"), "src")
        .join(baseNodes.withColumnRenamed("doc_id", "dst"), "dst")
      val basePath = ArtifactMemo.parquetDurable(s,
        s"prbase#${ArtifactMemo.stamp(dir, "documents.parquet")}",
        "pr_base_ranks") {
        ScaleOps.pageRankConverge(baseNodes, baseEdges, tol = tol,
          nodeCol = "doc_id", scale = pagerankScale)._1
      }
      val (ranks, rounds) = ScaleOps.pageRankConverge(
        corpus.select("doc_id"), edges, tol = tol, nodeCol = "doc_id",
        scale = pagerankScale, init = Some(s.read.parquet(basePath)))
      ranks.select(col("node").as("doc_id"), col("rank").as("pr_scaled"))
        .withColumn("warm_rounds", lit(rounds))
        .orderBy("doc_id")
    },
    None)

  // ------------------------------------------------- n-gram set jaccard
  // Exact token-set jaccard for all pairs within a source group —
  // explode distinct tokens, join on (source, token), count intersection;
  // |A∪B| = |A|+|B|−|A∩B|. Shuffles on tokens, never crosses raw texts.
  //
  // Tokens with document frequency > maxTokenDf are dropped from BOTH the
  // intersection and the set sizes (see ScaleOps.maxTokenDf): a stopword
  // shared by all N docs of a source would otherwise yield one N-member
  // bucket and N²/2 pairs — the quadratic stage that kills exact jaccard
  // at corpus scale. The measure becomes jaccard over informative tokens.
  private val jaccardQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tok = docs.select(col("doc_id"), col("source"),
        explode(array_distinct(ScaleOps.tokens(col("text")))).as("token"))
      // df computation and filter BEFORE any bucket array exists: a plain
      // count aggregation (map-side combinable — shuffle volume is distinct
      // keys per mapper, not the token table), then a sort-free
      // shuffle-hash join keeps only low-df tokens. A WindowExec count
      // would sort the whole exploded table; building collect_list buckets
      // first and size-filtering after would materialize the stopword
      // bucket's unbounded array — the very OOM this filter exists to stop.
      val lowDf = tok.groupBy("source", "token").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ScaleOps.maxTokenDf)
        .select("source", "token")
      val kept = tok.join(lowDf.hint("shuffle_hash"), Seq("source", "token"))
      // bucket per (source, token): arrays bounded by maxTokenDf, and the
      // agg reuses the join's partitioning
      val buckets = kept.groupBy("source", "token")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

      // per-doc kept-token counts come from the buckets (each kept row
      // appears in exactly one bucket) — re-deriving them from `kept`
      // would recompute the tokenize+join pipeline a second time, a full
      // extra pass over the corpus; the buckets are cap-bounded and tiny
      val sizes = buckets.select(explode(col("ids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      // bucket-grouped pair counting (tokenize once, no self-join): each
      // bucket expands to its ordered doc pairs
      val common = buckets
        .filter(size(col("ids")) > 1)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id1, y AS id2))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n_tok", "n1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n_tok", "n2"), "id2")
        .withColumn("jaccard",
          col("n_common").cast(DoubleType) /
            (col("n1") + col("n2") - col("n_common")).cast(DoubleType))
        .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(
      s"""WITH tok AS (SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS token FROM documents),
        | kept AS (SELECT doc_id, source, token FROM (SELECT *, COUNT(*) OVER (PARTITION BY source, token) AS df
        |   FROM tok) WHERE df <= ${graft.operators.ScaleOps.maxTokenDf}),
        | sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM kept GROUP BY doc_id),
        | common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM kept a JOIN kept b ON a.source = b.source AND a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        | SELECT id1, id2, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE) AS jaccard
        | FROM common
        | JOIN (SELECT doc_id AS id1, n_tok AS n1 FROM sizes) USING (id1)
        | JOIN (SELECT doc_id AS id2, n_tok AS n2 FROM sizes) USING (id2)
        | ORDER BY id1, id2""".stripMargin))

  // ------------------------------------------- brute-force cosine top-k
  // Baseline ANN: 10 query vectors × corpus, exact fold dot product,
  // row_number top-10 per query. The LSH-bucketed scale path shares the
  // same dot/norm builders (ScaleOps.cosine).
  private val similarityTopkQ = Q(
    (s, dir) => {
      // fanned scan: the exact dot-product pass over the corpus is the
      // cost and ran single-task over the one-row-group fixture (the
      // query side's filter pushes below the fan-out, so its branch
      // exchanges only the 10 query rows)
      val emb = Tables.fanOut(s, Tables.embeddings(s, dir),
          s"$dir/embeddings.parquet")
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nv").as("nq"))
      val scored = emb.crossJoin(broadcast(q))
        .withColumn("cos", ScaleOps.cosine(col("q_emb"), col("embedding"), col("nq"), col("nv")))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_reduce(list_transform(list_zip(embedding, embedding),
        |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)) AS nv
        | FROM embeddings),
        | q AS (SELECT vec_id AS q_id, embedding AS q_emb, nv AS nq FROM e WHERE vec_id < 10),
        | scored AS (SELECT q.q_id, e.vec_id,
        |  list_reduce(list_transform(list_zip(q.q_emb, e.embedding),
        |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b) / (q.nq * e.nv) AS cos
        | FROM e CROSS JOIN q)
        | SELECT q_id, vec_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rank
        | FROM scored
        | QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin))

  // --------------------------------------- metadata-filtered cosine top-k
  // Filtered vector search — "nearest neighbors WHERE label = X" — the
  // serving-side question every retrieval stack with metadata asks. The
  // filter is applied BEFORE scoring, not after: the query set carries
  // its label and the scoring join is a label EQUI-join, so only
  // same-label pairs are ever scored — against similarity_topk's
  // broadcast cross join this is corpus/|labels| of the work, and the
  // plan shape generalizes to the persisted stores (partition the
  // inverted lists by (label, cell) and the scan prunes on both).
  // Post-filtering top-k instead (score all, then filter) would return
  // FEWER than k for selective labels — the classic filtered-ANN bug;
  // pre-filtering keeps k exact, which the oracle checks by
  // construction. Same dot/norm builders as similarity_topk, so cosine
  // is bit-identical across engines.
  private val annFilteredTopkQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"), col("nv").as("nq"))
      val scored = emb.join(broadcast(q), col("label") === col("q_label"))
        .withColumn("cos", ScaleOps.cosine(col("q_emb"), col("embedding"), col("nq"), col("nv")))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"), col("label"), col("cos"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(
      """WITH e AS (SELECT vec_id, label, embedding,
        |  sqrt(list_reduce(list_transform(list_zip(embedding, embedding),
        |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)) AS nv
        | FROM embeddings),
        | q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nv AS nq FROM e WHERE vec_id < 10),
        | scored AS (SELECT q.q_id, e.vec_id, e.label,
        |  list_reduce(list_transform(list_zip(q.q_emb, e.embedding),
        |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b) / (q.nq * e.nv) AS cos
        | FROM e JOIN q ON e.label = q.q_label)
        | SELECT q_id, vec_id, label, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rank
        | FROM scored
        | QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin))

  // -------------------------------------------- embedding near-dup pairs
  // Scale path (round-2 rewrite): candidates come from the shared LSH
  // bucket machinery (ScaleOps.lshBuckets, 16 tables × 4 sign-bits) with
  // the degenerate-bucket cap, NOT from an all-pairs self-join within
  // label — one hot label would make that O(n²). Exact cosine verifies
  // candidates; label equality is a pair filter. Pair expansion is
  // bounded by cap²/2 per bucket, so the plan stays linear-bounded at any
  // corpus size (recall vs the exact answer is asserted >= 0.85 by
  // ScalaTest; at a production near-dup threshold the sign bits agree
  // almost everywhere and recall approaches 1).
  //
  // Oracle: the identical hyperplanes are inlined as literals (floats
  // convert to double exactly), so DuckDB reproduces bucket assignment,
  // cap, and cosine bit-for-bit — hash-green by construction.
  // 16 tables × 4 bits is the recall-bearing setting (≥ 0.85 vs brute
  // force pinned by ScaleOpsSpec; 8 tables measured only 0.67). The
  // per-row constant is recovered on the Spark side instead: all 64 plane
  // dots evaluate in ONE fused native expression (ScaleOps.lshBucketsFused
  // → LshBucketsFloat) that reads the embedding array once.
  private val embNdTables = 16
  private val embNdBits = 4
  private val embNeardupQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // one fused expression for all 64 plane dots; posexplode of its
      // array<int> result yields the same (tbl, bucket) pairs the
      // composed per-table columns did
      val stacked = emb.select(col("vec_id"), col("label"),
        posexplode(ScaleOps.lshBucketsFused(col("embedding"), dim = 64,
          tables = embNdTables, bits = embNdBits)).as(Seq("tbl", "bucket")))
      val buckets = ScaleOps.cappedBuckets(
        stacked.groupBy("tbl", "bucket")
          .agg(sort_array(collect_list(struct(col("vec_id"), col("label")))).as("ms")), "ms")
      val cands = buckets.select(explode(expr(
          """flatten(transform(ms, (x, i) ->
            |  transform(slice(ms, i + 2, size(ms)),
            |    y -> struct(x.vec_id AS id1, y.vec_id AS id2,
            |                x.label AS label1, y.label AS label2))))""".stripMargin))
          .as("p"))
        .filter(col("p.label1") === col("p.label2"))
        .select(col("p.id1").as("id1"), col("p.id2").as("id2"), col("p.label1").as("label"))
        .distinct()
      val e = emb.withColumn("nv", ScaleOps.l2norm(col("embedding")))
      cands
        .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nv").as("n1")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nv").as("n2")), "id2")
        .withColumn("cos", ScaleOps.cosine(col("e1"), col("e2"), col("n1"), col("n2")))
        .filter(col("cos") > 0.25)
        .select(col("label"), col("id1"), col("id2"), col("cos"))
        .orderBy(col("label"), col("id1"), col("id2"))
    },
    Some(
      s"""WITH bucketed AS (${lshBucketedSql(embNdTables, embNdBits, ", label")}),
         | ok AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS c
         |   FROM bucketed) WHERE c BETWEEN 2 AND ${ScaleOps.lshBucketCap}),
         | cand AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2, a.label
         |  FROM ok a JOIN ok b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
         |  WHERE a.vec_id < b2.vec_id AND a.label = b2.label),
         | e AS ($embNormSql),
         | p AS (SELECT cand.label, cand.id1, cand.id2,
         |  list_reduce(list_transform(list_zip(e1.embedding, e2.embedding),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (e1.nv * e2.nv) AS cos
         | FROM cand JOIN e e1 ON cand.id1 = e1.vec_id JOIN e e2 ON cand.id2 = e2.vec_id)
         | SELECT label, id1, id2, cos FROM p WHERE cos > 0.25
         | ORDER BY label, id1, id2""".stripMargin))

  // -------------------------------------------------- k-NN graph build
  // The batch k-nearest-neighbor GRAPH over the embedding corpus — the
  // construction stage under graph-based dedup clustering, HNSW-style
  // index seeding, and label propagation. Candidates come from the SAME
  // capped LSH bucket machinery as embedding_neardup (never an all-pairs
  // self-join: candidate volume is bounded by cap²/2 per bucket at any
  // corpus size), each candidate pair is scored once by exact cosine and
  // contributes an edge in BOTH directions, and each node keeps its top-k
  // by (cos desc, id) — a window over the candidate set only, partitioned
  // by source node, so the per-node sort is bounded by that node's
  // candidate count, not the corpus. Nodes whose buckets are all
  // singletons have no candidates and are absent — the standard
  // approximate-kNN-graph contract (recall of the LSH candidate stage is
  // the embedding_neardup pin). Oracle: identical inlined hyperplanes,
  // cap, cosine, and QUALIFY top-k — hash-green by construction.
  private val knnGraphK = 3
  private val knnGraphQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val stacked = emb.select(col("vec_id"),
        posexplode(ScaleOps.lshBucketsFused(col("embedding"), dim = 64,
          tables = embNdTables, bits = embNdBits)).as(Seq("tbl", "bucket")))
      val buckets = ScaleOps.cappedBuckets(
        stacked.groupBy("tbl", "bucket")
          .agg(sort_array(collect_list(col("vec_id"))).as("ids")), "ids")
      val cands = buckets.select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids)),
            |    y -> struct(x AS id1, y AS id2))))""".stripMargin)).as("p"))
        .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .distinct()
      val both = cands.unionAll(
        cands.select(col("id2").as("id1"), col("id1").as("id2")))
      val e = emb.withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val scored = both
        .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1"),
          col("nv").as("n1")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2"),
          col("nv").as("n2")), "id2")
        .withColumn("cos", ScaleOps.cosine(col("e1"), col("e2"), col("n1"), col("n2")))
      val w = Window.partitionBy("id1").orderBy(col("cos").desc, col("id2"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= knnGraphK)
        .select(col("id1").as("src_id"), col("rank"),
          col("id2").as("dst_id"), col("cos"))
        .orderBy("src_id", "rank")
    },
    Some(
      s"""WITH bucketed AS (${lshBucketedSql(embNdTables, embNdBits)}),
         | ok AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS c
         |   FROM bucketed) WHERE c BETWEEN 2 AND ${ScaleOps.lshBucketCap}),
         | cand AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
         |  FROM ok a JOIN ok b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
         |  WHERE a.vec_id < b2.vec_id),
         | bothdir AS (SELECT id1, id2 FROM cand UNION ALL SELECT id2, id1 FROM cand),
         | e AS ($embNormSql),
         | p AS (SELECT bothdir.id1, bothdir.id2,
         |  list_reduce(list_transform(list_zip(e1.embedding, e2.embedding),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (e1.nv * e2.nv) AS cos
         | FROM bothdir JOIN e e1 ON bothdir.id1 = e1.vec_id JOIN e e2 ON bothdir.id2 = e2.vec_id)
         | SELECT id1 AS src_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS INT) AS rank,
         |  id2 AS dst_id, cos
         | FROM p QUALIFY rank <= $knnGraphK ORDER BY src_id, rank""".stripMargin))

  // ------------------------------------------------ multimodal metadata
  private val multimodalQ = Q(
    (s, dir) => ScaleOps.withMultimodalPayload(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_bytes"),
        // Spark's base64 emits MIME \r\n line breaks every 76 chars;
        // strip for RFC 4648 parity with DuckDB's to_base64.
        regexp_replace(base64(col("payload")), "\r\n", "").as("payload_b64"),
        col("media_meta.mime").as("mime"))
      .orderBy(col("doc_id")),
    Some(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | to_base64(encode(text)) AS payload_b64,
        | 'application/octet-stream' AS mime
        | FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------ image header decode
  // The REAL metadata decode of the multimodal stage: deterministic
  // (width, height) pairs derived from doc_id are encoded into VALID
  // PNG / JPEG(JFIF, with an APP0 segment the marker walk must skip) /
  // GIF89a container headers (ScaleOps.synth*Header — pure byte
  // arithmetic, headers conform to the published specs), and the native
  // ImageMeta expression parses format/width/height back out of the raw
  // bytes. The oracle recomputes the expected dimensions arithmetically,
  // so a hash match proves the parser inverts three real container
  // encodings end-to-end — no codec library involved, which is exactly
  // why this runs at 100 TB: one codegen'd bounded byte walk per row,
  // zero shuffle. Golden pins against fixed real-file bytes (a canonical
  // 1×1 PNG etc.) plus corrupt-header fallbacks live in ScaleOpsSpec.
  private val imageMetaQ = Q(
    (s, dir) => {
      val w = (lit(16L) + (col("doc_id") * 37) % 2048).cast(LongType)
      val h = (lit(16L) + (col("doc_id") * 53) % 1536).cast(LongType)
      val payload = when(col("doc_id") % 4 === 0, ScaleOps.synthPngHeader(w, h))
        .when(col("doc_id") % 4 === 1, ScaleOps.synthJpegHeader(w, h))
        .when(col("doc_id") % 4 === 2, ScaleOps.synthGifHeader(w, h))
        .otherwise(ScaleOps.synthWebpHeader(w, h))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), MediaExpressions.image_meta(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        | CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' ELSE 'webp' END AS format,
        | CAST(16 + (doc_id * 37) % 2048 AS BIGINT) AS width,
        | CAST(16 + (doc_id * 53) % 1536 AS BIGINT) AS height
        | FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- real pixel decode
  // The pixel half of the multimodal stage, REAL end-to-end: complete
  // valid PPM-P6 / 24-bpp-BMP files (every header field AND every pixel
  // byte) are built arithmetically from doc_id, the native ImageDecode
  // expression parses them back to a normalized top-down RGB raster —
  // for BMP that means undoing bottom-up row order, BGR sample order,
  // and 4-byte row padding — then ImageResizeNN applies the integer NN
  // kernel (sx = ⌊x·w/4⌋, sy = ⌊y·h/4⌋) and RasterChannelSums folds the
  // resized samples into integer-exact per-channel sums. The oracle
  // recomputes the sums from the same generative formula plus the same
  // index map, so a hash match proves decode→resize→stats inverts both
  // encodings pixel-for-pixel. One codegen'd byte walk per row, zero
  // shuffle — the 100 TB shape. Golden fixed-byte decodes, corrupt-header
  // fallbacks, and a hand-computed resize live in ScaleOpsSpec.
  private val imagePixelsQ = Q(
    (s, dir) => {
      val w = lit(4L) + col("doc_id") % 8
      val h = lit(3L) + col("doc_id") % 6
      val payload = when(col("doc_id") % 2 === 0,
          ScaleOps.synthPpm(w, h, col("doc_id")))
        .otherwise(ScaleOps.synthBmp(w, h, col("doc_id")))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 4 + doc_id % 8 AS w, 3 + doc_id % 6 AS h FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h,
        |         ((y * h // 4) * w + (x * w // 4)) * 3 AS base FROM g),
        | s AS (SELECT doc_id, w, h,
        |        SUM((doc_id * 31 + (base + 0) * 7) % 256) AS r_sum,
        |        SUM((doc_id * 31 + (base + 1) * 7) % 256) AS g_sum,
        |        SUM((doc_id * 31 + (base + 2) * 7) % 256) AS b_sum
        |       FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------ compressed raster decode
  // PNG and GIF — the #1 and #3 web-crawl raster formats — decoded for
  // REAL with zero external libraries: the fixtures are complete valid
  // files whose pixel payloads are genuinely COMPRESSED (PNG scanlines
  // forward-filtered through all five spec filter types, then deflated
  // through the JDK Deflater; GIF indices LZW-packed with real
  // variable-width codes), and the native ImageDecode branches must run
  // real INFLATE + per-scanline unfiltering / real LZW + palette mapping
  // to recover them. The oracles replay only the generative pixel
  // formula — they know nothing about zlib or LZW — so a hash match
  // proves the decompressors invert real compression pixel-for-pixel on
  // every row. Same decode→resize→channel-sums shape as `image_pixels`;
  // per-row, zero shuffle. Golden handmade streams (stored-block zlib,
  // hand-packed LZW, interlace, CRC corruption) live in ScaleOpsSpec.
  private val pngPixelsQ = Q(
    (s, dir) => {
      // h ≥ 5 rows: every image exercises ALL FIVE filter types, since
      // the fixture assigns row y the filter (seed + y) mod 5
      val w = lit(4L) + col("doc_id") % 9
      val h = lit(5L) + col("doc_id") % 7
      val payload = when(col("doc_id") % 3 === 0,
          RasterSynthFunctions.synth_png(w, h, col("doc_id"), channels = 1))
        .otherwise(RasterSynthFunctions.synth_png(w, h, col("doc_id"), channels = 3))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          // grayscale rasters have one channel: guard the RGB items
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 5 + doc_id % 7 AS h,
        |   CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, d.ch, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, ch,
        |         ((y * h // 4) * w + (x * w // 4)) * ch AS base FROM g),
        | s AS (SELECT doc_id, w, h, ch,
        |        SUM((doc_id * 31 + (base + 0) * 7) % 256) AS s0,
        |        SUM(CASE WHEN ch = 3 THEN (doc_id * 31 + (base + 1) * 7) % 256 END) AS s1,
        |        SUM(CASE WHEN ch = 3 THEN (doc_id * 31 + (base + 2) * 7) % 256 END) AS s2
        |       FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'png' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(ch AS BIGINT) AS channels, CAST(s0 AS BIGINT) AS y_sum,
        | CAST(s1 AS BIGINT) AS g_sum, CAST(s2 AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  private val gifPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 10
      val h = lit(3L) + col("doc_id") % 8
      val raster = RasterFunctions.image_decode(
        RasterSynthFunctions.synth_gif(w, h, col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      // the palette's three channel ramps (i, 2i mod 256, 3i mod 256)
      // make the oracle's sums distinct per channel — a mapping mistake
      // cannot hash-cancel
      """WITH d AS (SELECT doc_id, 3 + doc_id % 10 AS w, 3 + doc_id % 8 AS h
        |           FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h,
        |         (doc_id * 31 + ((y * h // 4) * w + (x * w // 4)) * 7) % 256 AS v
        |        FROM g),
        | s AS (SELECT doc_id, w, h, SUM(v) AS r_sum,
        |        SUM((2 * v) % 256) AS g_sum, SUM((3 * v) % 256) AS b_sum
        |       FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, 'gif' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------ baseline JPEG decode
  // The #2 web raster format, decoded for REAL with zero external
  // libraries: complete valid baseline JFIF files are built
  // arithmetically from doc_id and really entropy-coded (T.81 Annex K
  // Huffman tables written as DHT segments, DC difference coding, AC
  // run-length coding with ZRL/EOB, 0xFF byte stuffing), and the native
  // JpegCodec must parse DQT/SOF0/DHT/SOS, Huffman-decode the scan,
  // dequantize, run the full 8×8 IDCT, upsample 4:2:0 chroma, and apply
  // the JFIF YCbCr→RGB conversion to recover the pixels. JPEG is lossy
  // in general, so the fixture content lives where the transform is
  // EXACT (per-block DC + three rational-basis AC terms; constant
  // chroma whose RGB conversion rounds to fixed integer shifts — see
  // SynthJpeg's scaladoc for the arithmetic), which is what lets the
  // oracle replay the decoded pixels knowing nothing about Huffman
  // coding or the DCT: a hash match proves the decoder inverts real
  // entropy coding + dequant + IDCT + color conversion on every row.
  // Same decode→resize→channel-sums shape as `png_pixels`; per-row,
  // zero shuffle. Golden hand-packed streams (custom DHT, DC-only
  // blocks, non-multiple-of-8 crop) and the reject matrix (progressive
  // SOF2, torn scan, DRI, 12-bit) live in ScaleOpsSpec.
  private val jpegPixelsQ = Q(
    (s, dir) => {
      // dims are MCU multiples (the fixture exactness contract); the
      // three modes cycle gray / 4:2:0 / 4:4:4, chroma variant doc_id%4
      val w = lit(16L) * (lit(1L) + col("doc_id") % 3)
      val h = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val payload = when(col("doc_id") % 3 === 0,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 0))
        .when(col("doc_id") % 3 === 1,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 1))
        .otherwise(JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 2))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      // the oracle replays only the fixture formula: per-block
      // (m, a, b, d), the u=4 basis sign pattern, and the four chroma
      // shift triples — no Huffman, no DCT
      """WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 3) AS w,
        |   16 * (1 + doc_id % 2) AS h,
        |   CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch,
        |   CAST(doc_id % 4 AS INT) AS v FROM documents),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7)),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | src AS (SELECT doc_id, w, h, ch, v,
        |          (x * w // 4) AS sx, (y * h // 4) AS sy FROM g),
        | blk AS (SELECT doc_id, w, h, ch, v, sx, sy,
        |          (sy // 8) * (w // 8) + (sx // 8) AS bi FROM src),
        | yv AS (SELECT doc_id, w, h, ch, v,
        |         64 + (doc_id * 31 + bi * 17) % 128
        |         + ((doc_id * 5 + bi * 11) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 3 + bi * 19) % 8)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 7 + bi * 13) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         AS yval FROM blk),
        | s AS (SELECT doc_id, w, h, ch,
        |        SUM(CASE WHEN ch = 1 THEN yval ELSE yval + sr END) AS s0,
        |        SUM(CASE WHEN ch = 3 THEN yval + sg END) AS s1,
        |        SUM(CASE WHEN ch = 3 THEN yval + sb END) AS s2
        |       FROM yv JOIN shifts USING (v) GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'jpeg' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(ch AS BIGINT) AS channels, CAST(s0 AS BIGINT) AS y_sum,
        | CAST(s1 AS BIGINT) AS g_sum, CAST(s2 AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // 4:2:2 / 4:4:0 CHROMA SAMPLING (round 11): the two remaining grids
  // real encoders emit (photography pipelines favor 4:2:2), in baseline
  // AND progressive forms — the decoder's replication upsampler is
  // general in the sampling ratios and the grid gate now admits any
  // luma {1,2}×{1,2} with 1×1 chroma. Same generative content and
  // exactness contract as jpeg_pixels (constant chroma planes make
  // replication trivially exact at every grid); the oracle replays the
  // block formula with ch = 3 throughout.
  private val jpegSamplingPixelsQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 3)
      val h = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val payload = when(col("doc_id") % 4 === 0,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 6))
        .when(col("doc_id") % 4 === 1,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 7))
        .when(col("doc_id") % 4 === 2,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 8))
        .otherwise(JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 9))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 3) AS w,
        |   16 * (1 + doc_id % 2) AS h,
        |   CAST(doc_id % 4 AS INT) AS v FROM documents),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7)),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | src AS (SELECT doc_id, w, h, v,
        |          (x * w // 4) AS sx, (y * h // 4) AS sy FROM g),
        | blk AS (SELECT doc_id, w, h, v, sx, sy,
        |          (sy // 8) * (w // 8) + (sx // 8) AS bi FROM src),
        | yv AS (SELECT doc_id, w, h, v,
        |         64 + (doc_id * 31 + bi * 17) % 128
        |         + ((doc_id * 5 + bi * 11) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 3 + bi * 19) % 8)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 7 + bi * 13) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         AS yval FROM blk),
        | s AS (SELECT doc_id, w, h,
        |        SUM(yval + sr) AS r_sum,
        |        SUM(yval + sg) AS g_sum,
        |        SUM(yval + sb) AS b_sum
        |       FROM yv JOIN shifts USING (v) GROUP BY 1, 2, 3)
        |SELECT doc_id, 'jpeg' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // PROGRESSIVE (SOF2) JPEG: the same generative content as jpeg_pixels
  // re-coded through T.81 G.1.2 — an interleaved DC-first scan at Al=1,
  // per-component spectral-band AC-first scans with real EOB-run coding
  // (the constant-chroma planes are pure EOB-run streams), a raw-bit DC
  // refinement scan, and AC refinement scans running the correction-bit
  // algorithm. Progressive re-coding is lossless over the quantized
  // coefficients, so the jpeg_pixels oracle replays this key verbatim —
  // a hash match proves the multi-scan coefficient accumulation,
  // successive-approximation shifts, and EOB-run bookkeeping all
  // reconstruct the exact spectrum. Majority-of-web-JPEGs coverage
  // (crawled JPEGs are predominantly progressive); golden truncated-scan
  // rejects live in ScaleOpsSpec.
  private val jpegProgressivePixelsQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 3)
      val h = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val payload = when(col("doc_id") % 3 === 0,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 3))
        .when(col("doc_id") % 3 === 1,
          JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 4))
        .otherwise(JpegSynthFunctions.synth_jpeg(w, h, col("doc_id"), mode = 5))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    // the identical oracle as jpeg_pixels: progressive re-coding is
    // lossless over the same quantized coefficients
    jpegPixelsQ.sql)

  // --------------------------------------------- lossless WebP decode
  // The fourth real raster codec (PNG/GIF/JPEG/WebP — the web formats'
  // full set): complete valid RIFF/WEBP/VP8L files whose pixel streams
  // are genuinely entropy-coded (real Huffman codes BUILT from the
  // channel histograms after a forward subtract-green transform, code
  // lengths emitted through VP8L's code-length coding, LSB-first
  // bitstream), and the native WebpCodec must parse the RIFF walk, the
  // code-length machinery, canonical Huffman decode per channel, and
  // the subtract-green inverse to recover the pixels. The oracle
  // replays only the generative formula — it knows nothing about
  // Huffman coding — so a hash match proves real entropy decoding on
  // every row. Decoder scope (predictor/color/indexing transforms and
  // meta-Huffman reject honestly) is documented in WebpCodec's
  // scaladoc; LZ77 backrefs and the color cache are pinned by
  // hand-built goldens in ScaleOpsSpec. Same decode→resize→sums shape
  // as the other raster keys; per-row, zero shuffle.
  // predictor-transform + meta-Huffman VP8L: the SAME generative pixels
  // as webp_pixels, but the stream routes through the decoder's
  // transform machinery — 4×4-block predictor with modes cycling
  // (seed + blockIdx) mod 14 (all 14 spec modes across the corpus,
  // including the rightmost-column top-right wrap), residuals really
  // Huffman-coded, and for any image spanning ≥2 blocks a meta-Huffman
  // entropy image routing alternate blocks to two distinct code groups.
  // A hash match proves the inverse predictor and the per-block group
  // selection are exact — the oracle replays only the generative
  // formula and would catch any reconstruction drift. Per-mode spec
  // semantics are additionally pinned by hand goldens in ScaleOpsSpec.
  private val webpPredPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 11
      val h = lit(3L) + col("doc_id") % 9
      val raster = RasterFunctions.image_decode(
        WebpSynthFunctions.synth_webpl_pred(w, h, col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 11 AS w, 3 + doc_id % 9 AS h
        |           FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h,
        |         ((y * h // 4) * w + (x * w // 4)) * 3 AS base FROM g),
        | s AS (SELECT doc_id, w, h,
        |        SUM((doc_id * 31 + (base + 0) * 7) % 256) AS r_sum,
        |        SUM((doc_id * 31 + (base + 1) * 7) % 256) AS g_sum,
        |        SUM((doc_id * 31 + (base + 2) * 7) % 256) AS b_sum
        |       FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, 'webp' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // EXTENDED PNG shapes (round 11): RGBA, palette (PLTE), gray+alpha,
  // Adam7-interlaced, and 16-BIT variants — the full color-type/depth
  // set a web crawl yields (alpha decoded then dropped, the WebP
  // stance; 16-bit samples emit their big-endian high byte, the
  // standard rendering downconversion — the fixture's low bytes vary
  // independently so a byte-order mixup changes every value). Adam7
  // streams carry SEVEN independently filtered sub-images scattered
  // back to full resolution, so a hash match proves the per-pass
  // unfiltering and the scatter geometry, not just inflate. Variants
  // cycle by doc_id; the oracle replays the per-variant sample
  // formulas.
  private val pngExtPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 13
      val h = lit(3L) + col("doc_id") % 7
      val payload = when(col("doc_id") % 7 === 0,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 0))
        .when(col("doc_id") % 7 === 1,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 1))
        .when(col("doc_id") % 7 === 2,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 2))
        .when(col("doc_id") % 7 === 3,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 3))
        .when(col("doc_id") % 7 === 4,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 4))
        .when(col("doc_id") % 7 === 5,
          RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 5))
        .otherwise(RasterSynthFunctions.synth_png_ext(w, h, col("doc_id"), 6))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("c0_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("c1_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("c2_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
        |           CAST(doc_id % 7 AS INT) AS v FROM documents),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, v,
        |         (y * h // 4) * w + (x * w // 4) AS p FROM g),
        | ch AS (SELECT doc_id, w, h, v, p, c.range AS c FROM px
        |        CROSS JOIN range(0, 3) c
        |        WHERE c.range = 0 OR v NOT IN (2, 6)),
        | val AS (SELECT doc_id, w, h, v, c,
        |          CASE
        |           WHEN v = 1 THEN (doc_id * 13 +
        |             ((doc_id * 31 + p * 7) % 64) * 11 + c * 5) % 256
        |           WHEN v = 2 THEN (doc_id * 31 + (2 * p) * 7) % 256
        |           WHEN v = 3 THEN (doc_id * 31 + (3 * p + c) * 7) % 256
        |           WHEN v = 5 THEN (doc_id * 31 + (2 * (3 * p + c)) * 7) % 256
        |           WHEN v = 6 THEN (doc_id * 31 + (2 * p) * 7) % 256
        |           ELSE (doc_id * 31 + (4 * p + c) * 7) % 256
        |          END AS s FROM ch),
        | agg AS (SELECT doc_id, w, h, v,
        |          SUM(CASE WHEN c = 0 THEN s END) AS c0_sum,
        |          SUM(CASE WHEN c = 1 THEN s END) AS c1_sum,
        |          SUM(CASE WHEN c = 2 THEN s END) AS c2_sum
        |         FROM val GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'png' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(CASE WHEN v IN (2, 6) THEN 1 ELSE 3 END AS BIGINT) AS channels,
        | CAST(c0_sum AS BIGINT) AS c0_sum, CAST(c1_sum AS BIGINT) AS c1_sum,
        | CAST(c2_sum AS BIGINT) AS c2_sum
        |FROM agg ORDER BY doc_id""".stripMargin))

  // COLOR-INDEXING (palette) VP8L — the fourth and final transform,
  // closing the format: a 2–32-color palette (all four pixel-bundling
  // widths, including the unpacked >16 form) is DELTA-decoded from a
  // real entropy-coded palette sub-image, and the main image's packed
  // indices are unbundled from the REDUCED coded width back to full
  // resolution. The oracle replays the palette and index formulas only —
  // a hash match proves delta accumulation, LSB-first unbundling, and
  // the width arithmetic are exact. Out-of-range-index and
  // combined-transform rejects are pinned by hand goldens in
  // ScaleOpsSpec.
  private val webpPalettePixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 11
      val h = lit(3L) + col("doc_id") % 9
      val raster = RasterFunctions.image_decode(
        WebpSynthFunctions.synth_webpl_palette(w, h, col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 11 AS w, 3 + doc_id % 9 AS h,
        |           2 + doc_id % 31 AS sz FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, d.sz, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, sz,
        |         (y * h // 4) * w + (x * w // 4) AS p FROM g),
        | ix AS (SELECT doc_id, w, h,
        |         (doc_id * 31 + p * 7) % sz AS idx FROM px),
        | s AS (SELECT doc_id, w, h,
        |        SUM((doc_id * 13 + idx * 11) % 256) AS r_sum,
        |        SUM((doc_id * 17 + idx * 7) % 256) AS g_sum,
        |        SUM((doc_id * 19 + idx * 3) % 256) AS b_sum
        |       FROM ix GROUP BY 1, 2, 3)
        |SELECT doc_id, 'webp' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  private val webpPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 11
      val h = lit(3L) + col("doc_id") % 9
      val raster = RasterFunctions.image_decode(
        WebpSynthFunctions.synth_webpl(w, h, col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 11 AS w, 3 + doc_id % 9 AS h
        |           FROM documents),
        | g AS (SELECT d.doc_id, d.w, d.h, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h,
        |         ((y * h // 4) * w + (x * w // 4)) * 3 AS base FROM g),
        | s AS (SELECT doc_id, w, h,
        |        SUM((doc_id * 31 + (base + 0) * 7) % 256) AS r_sum,
        |        SUM((doc_id * 31 + (base + 1) * 7) % 256) AS g_sum,
        |        SUM((doc_id * 31 + (base + 2) * 7) % 256) AS b_sum
        |       FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, 'webp' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------ LOSSY WebP decode
  // The missing half of the web's WebP traffic (VP8L above covers
  // lossless): one VP8 KEY FRAME per RFC 6386, really decoded — the
  // boolean arithmetic decoder, key-frame mode trees, coefficient
  // token decoding with band/context probabilities, dequant, the exact
  // integer IDCT/WHT, and all intra predictors. The fixture encoder
  // arithmetic-codes for real against the same spec-default probability
  // tables; VP8 is lossy in general so the content lives where the
  // transform is EXACT (every 4×4 block reconstructs to a constant
  // through DC-only residuals — see Vp8Synth's scaladoc for the
  // level arithmetic), which is what lets the oracle replay the decoded
  // pixels knowing nothing about arithmetic coding, prediction, or the
  // DCT. Even doc_ids build all-B_PRED frames (per-4×4 targets,
  // B_DC/B_TM alternating); odd doc_ids build 16×16-mode frames
  // (DC/V/H/TM rotating per MB) routing per-MB targets through the
  // real Y2/WHT path; chroma planes are the constant JPEG chroma
  // variants whose JFIF RGB conversion rounds to integer shift triples.
  // Same decode→resize→channel-sums shape as the other raster keys;
  // per-row, zero shuffle. Golden edge/reject coverage lives in
  // Vp8Spec.
  private val webpLossyPixelsQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 3)
      val h = lit(16L) * (lit(1L) + shiftright(col("doc_id"), 1) % 2)
      val payload = when(col("doc_id") % 2 === 0,
          Vp8SynthFunctions.synth_vp8(w, h, col("doc_id"), mode = 0))
        .otherwise(Vp8SynthFunctions.synth_vp8(w, h, col("doc_id"), mode = 1))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      // replays only the fixture formula: the per-unit luma constant
      // (4×4 blocks for B_PRED docs, MBs for 16×16 docs) plus the
      // chroma shift triple — no arithmetic coding, no prediction
      """WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 3) AS w,
        |   16 * (1 + (doc_id // 2) % 2) AS h,
        |   CAST(doc_id % 4 AS INT) AS v, doc_id % 2 AS m FROM documents),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7)),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | src AS (SELECT doc_id, w, h, v, m,
        |          (x * w // 4) AS sx, (y * h // 4) AS sy FROM g),
        | yv AS (SELECT doc_id, w, h, v,
        |         48 + (doc_id * 31 +
        |           (CASE WHEN m = 0 THEN (sy // 4) * (w // 4) + (sx // 4)
        |                 ELSE (sy // 16) * (w // 16) + (sx // 16) END) * 17) % 160
        |         AS yval FROM src),
        | s AS (SELECT doc_id, w, h,
        |        SUM(yval + sr) AS r_sum,
        |        SUM(yval + sg) AS g_sum,
        |        SUM(yval + sb) AS b_sum
        |       FROM yv JOIN shifts USING (v) GROUP BY 1, 2, 3)
        |SELECT doc_id, 'webp' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------- EXIF orientation normalization
  // The decode-side normalize step every geometry-sensitive image op
  // needs (crops, aspect filters, perceptual hashes all change under
  // rotation): the fixture JPEG carries a REAL APP1 Exif segment
  // (marker-stream walk + mini-TIFF IFD read for tag 0x0112), the
  // decoded raster is remapped through the 1-8 orientation (flips,
  // 180°, and the four dim-swapping transposes), and only then resized
  // and summed. The oracle replays the INVERSE coordinate map per
  // orientation over the generative JPEG block formula — a wrong remap
  // in any of the 8 cases lands on different source pixels and flips
  // the hash. Per-row, zero shuffle.
  private val exifOrientPixelsQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val h = lit(16L)
      val payload = ExifFunctions.synth_jpeg_exif(w, h, col("doc_id"), mode = 2)
      val oriented = ExifFunctions.raster_orient(
        RasterFunctions.image_decode(payload), ExifFunctions.exif_orientation(payload))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"),
          ExifFunctions.exif_orientation(payload).cast(LongType).as("orientation"),
          oriented.as("r"))
        .select(col("doc_id"), col("orientation"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("orientation"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |   1 + doc_id % 8 AS o, CAST(doc_id % 4 AS INT) AS v FROM documents),
        | dims AS (SELECT d.*, CASE WHEN o >= 5 THEN h ELSE w END AS ow,
        |          CASE WHEN o >= 5 THEN w ELSE h END AS oh FROM d),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7)),
        | g AS (SELECT dims.*, gx.range AS x, gy.range AS y
        |        FROM dims CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | op AS (SELECT doc_id, w, h, o, v, ow, oh,
        |          (x * ow // 4) AS ox, (y * oh // 4) AS oy FROM g),
        | src AS (SELECT doc_id, w, h, o, v, ow, oh,
        |          CASE WHEN o = 1 OR o = 4 THEN ox
        |               WHEN o = 2 OR o = 3 THEN w - 1 - ox
        |               WHEN o = 5 OR o = 6 THEN oy
        |               ELSE w - 1 - oy END AS sx,
        |          CASE WHEN o = 1 OR o = 2 THEN oy
        |               WHEN o = 3 OR o = 4 THEN h - 1 - oy
        |               WHEN o = 5 OR o = 8 THEN ox
        |               ELSE h - 1 - ox END AS sy FROM op),
        | blk AS (SELECT doc_id, o, v, ow, oh, sx, sy,
        |          (sy // 8) * (w // 8) + (sx // 8) AS bi FROM src),
        | yv AS (SELECT doc_id, o, v, ow, oh,
        |         64 + (doc_id * 31 + bi * 17) % 128
        |         + ((doc_id * 5 + bi * 11) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 3 + bi * 19) % 8)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         + ((doc_id * 7 + bi * 13) % 8)
        |           * (CASE WHEN (sx % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |           * (CASE WHEN (sy % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |         AS yval FROM blk),
        | s AS (SELECT doc_id, o, ow, oh,
        |        SUM(yval + sr) AS r_sum, SUM(yval + sg) AS g_sum,
        |        SUM(yval + sb) AS b_sum
        |       FROM yv JOIN shifts USING (v) GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, CAST(o AS BIGINT) AS orientation,
        | CAST(ow AS BIGINT) AS width, CAST(oh AS BIGINT) AS height,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // --------------------------------------------- EXIF metadata extraction
  // The APP1 fields a multimodal corpus JOIN actually uses beyond
  // orientation: camera make/model (IFD0 ASCII tags, inline-vs-offset
  // slot rule), DateTimeOriginal (the Exif sub-IFD behind the 0x8769
  // pointer), and GPS lat/lon (the GPS IFD behind 0x8825 — RATIONAL[3]
  // deg/min/sec with N/S/E/W refs folded to signed decimal degrees in
  // the pinned order `deg + min/60 + sec/3600`, so DuckDB reproduces
  // the double bit-for-bit). The fixture writes the same logical
  // content as `II` for even doc_ids and `MM` for odd ones — an
  // endianness bug anywhere in the IFD chain flips the hash. Per-row,
  // zero shuffle.
  private val exifMetaQ = Q(
    (s, dir) => {
      val payload = ExifFunctions.synth_jpeg_exif_meta(lit(16L), lit(16L), col("doc_id"), mode = 2)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), ExifFunctions.exif_meta(payload).as("m"))
        .select(col("doc_id"),
          col("m.make").as("make"),
          col("m.model").as("model"),
          col("m.datetime_original").as("datetime_original"),
          col("m.orientation").cast(LongType).as("orientation"),
          col("m.gps_lat").as("gps_lat"),
          col("m.gps_lon").as("gps_lon"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        | 'CAM' || (doc_id % 5) AS make,
        | 'MODEL' || (doc_id % 7) AS model,
        | printf('%04d:%02d:%02d %02d:%02d:%02d',
        |   2000 + doc_id % 26, 1 + doc_id % 12, 1 + doc_id % 28,
        |   doc_id % 24, (doc_id * 7) % 60, (doc_id * 13) % 60)
        |   AS datetime_original,
        | CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        | (CASE WHEN doc_id % 2 = 1 THEN -1.0 ELSE 1.0 END) *
        |   ((doc_id % 90) + ((doc_id * 3) % 60) / 60.0
        |    + (((doc_id * 37) % 6000) / 100.0) / 3600.0) AS gps_lat,
        | (CASE WHEN doc_id % 3 = 0 THEN -1.0 ELSE 1.0 END) *
        |   ((doc_id % 180) + ((doc_id * 5) % 60) / 60.0
        |    + (((doc_id * 41) % 6000) / 100.0) / 3600.0) AS gps_lon
        |FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------------- baseline TIFF decode
  // The archival/scan raster format every document corpus yields,
  // decoded for real: the IFD entry walk (inline vs offset values),
  // BOTH byte orders — the same pixels travel as `II` and `MM` files,
  // so an endianness bug flips the hash — multi-strip assembly
  // (RowsPerStrip 4), and both baseline compressions (none and
  // PackBits, with the fixture's gray mode alternating constant rows
  // (run packets) and varying rows (literal packets) so both packet
  // kinds are on the decode path). The oracle replays the generative
  // pixel formulas; same decode→resize→sums shape as the other raster
  // keys; per-row, zero shuffle.
  private val tiffPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 13
      val h = lit(3L) + col("doc_id") % 7
      val payload = when(col("doc_id") % 4 === 0,
          TiffFunctions.synth_tiff(w, h, col("doc_id"), 0))
        .when(col("doc_id") % 4 === 1,
          TiffFunctions.synth_tiff(w, h, col("doc_id"), 1))
        .when(col("doc_id") % 4 === 2,
          TiffFunctions.synth_tiff(w, h, col("doc_id"), 2))
        .otherwise(TiffFunctions.synth_tiff(w, h, col("doc_id"), 3))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
        |   CAST(doc_id % 4 AS INT) AS m FROM documents),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, m, (x * w // 4) AS sx, (y * h // 4) AS sy,
        |         ((y * h // 4) * w + (x * w // 4)) AS p FROM g),
        | v AS (SELECT doc_id, w, h, m,
        |        CASE WHEN m = 2 THEN
        |          CASE WHEN sy % 2 = 0 THEN (doc_id * 31 + sy * 13) % 256
        |               ELSE (doc_id * 31 + p * 7) % 256 END
        |        ELSE (doc_id * 31 + (3 * p + 0) * 7) % 256 END AS c0,
        |        CASE WHEN m = 2 THEN NULL
        |             ELSE (doc_id * 31 + (3 * p + 1) * 7) % 256 END AS c1,
        |        CASE WHEN m = 2 THEN NULL
        |             ELSE (doc_id * 31 + (3 * p + 2) * 7) % 256 END AS c2
        |       FROM px),
        | s AS (SELECT doc_id, w, h, m, SUM(c0) AS s0, SUM(c1) AS s1,
        |        SUM(c2) AS s2 FROM v GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'tiff' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(CASE WHEN m = 2 THEN 1 ELSE 3 END AS BIGINT) AS channels,
        | CAST(s0 AS BIGINT) AS y_sum, CAST(s1 AS BIGINT) AS g_sum,
        | CAST(s2 AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // --------------------------------------------- extended TIFF decode
  // The scanned-document slice of a web crawl is LZW-dominated; this
  // key drives the round-12 decoder extensions end to end: REAL TIFF
  // LZW (MSB-first, the spec's early-change width ladder, Clear
  // handling) in gray (mode 4), LZW + horizontal-predictor RGB — the
  // classic scanner output — (mode 5), 8-bit palette through the
  // 16-bit ColorMap (mode 6), and 16-bit grayscale in BOTH byte orders
  // (mode 7 = MM plain, mode 8 = II LZW'd, decoded to the high byte
  // like the 16-bit PNG path). The oracle replays the generative
  // formulas only — LZW, predictor undifferencing, and ColorMap
  // resolution all sit on the decode-side critical path. Per-row, zero
  // shuffle.
  private val tiffExtPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 13
      val h = lit(3L) + col("doc_id") % 7
      val m = col("doc_id") % 5
      val payload = when(m === 0, TiffFunctions.synth_tiff(w, h, col("doc_id"), 4))
        .when(m === 1, TiffFunctions.synth_tiff(w, h, col("doc_id"), 5))
        .when(m === 2, TiffFunctions.synth_tiff(w, h, col("doc_id"), 6))
        .when(m === 3, TiffFunctions.synth_tiff(w, h, col("doc_id"), 7))
        .otherwise(TiffFunctions.synth_tiff(w, h, col("doc_id"), 8))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
        |   CAST(doc_id % 5 AS INT) AS m FROM documents),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, m, (x * w // 4) AS sx, (y * h // 4) AS sy,
        |         ((y * h // 4) * w + (x * w // 4)) AS p FROM g),
        | v AS (SELECT doc_id, w, h, m,
        |        CASE
        |         WHEN m = 0 THEN -- LZW gray: the shared gray formula
        |          CASE WHEN sy % 2 = 0 THEN (doc_id * 31 + sy * 13) % 256
        |               ELSE (doc_id * 31 + p * 7) % 256 END
        |         WHEN m = 1 THEN (doc_id * 31 + (3 * p + 0) * 7) % 256
        |         WHEN m = 2 THEN -- palette: ColorMap red high byte
        |          (((doc_id * 31 + p * 7) % 256) * 997 + doc_id * 13) % 65536 // 256
        |         ELSE ((doc_id * 131 + p * 251) % 65536) // 256 END AS c0,
        |        CASE
        |         WHEN m = 1 THEN (doc_id * 31 + (3 * p + 1) * 7) % 256
        |         WHEN m = 2 THEN
        |          (((doc_id * 31 + p * 7) % 256) * 2039 + doc_id * 17) % 65536 // 256
        |         ELSE NULL END AS c1,
        |        CASE
        |         WHEN m = 1 THEN (doc_id * 31 + (3 * p + 2) * 7) % 256
        |         WHEN m = 2 THEN
        |          (((doc_id * 31 + p * 7) % 256) * 3571 + doc_id * 19) % 65536 // 256
        |         ELSE NULL END AS c2
        |       FROM px),
        | s AS (SELECT doc_id, w, h, m, SUM(c0) AS s0, SUM(c1) AS s1,
        |        SUM(c2) AS s2 FROM v GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'tiff' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(CASE WHEN m IN (1, 2) THEN 3 ELSE 1 END AS BIGINT) AS channels,
        | CAST(s0 AS BIGINT) AS y_sum, CAST(s1 AS BIGINT) AS g_sum,
        | CAST(s2 AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- tiled TIFF decode
  // The organization large scans actually use (tiles are TIFF's answer
  // to random access into big rasters): fixed 16×16 tiles addressed by
  // TileOffsets/TileByteCounts, EDGE TILES PADDED TO FULL SIZE in the
  // data, and the horizontal predictor undifferencing PER TILE ROW
  // (each tile is independent — a decoder carrying prediction across a
  // tile boundary corrupts every tile after the first and flips the
  // hash). Even docs: II tiled LZW RGB with the predictor (the
  // archetypal scanner output); odd docs: MM tiled uncompressed 16-bit
  // grayscale (byte order on the 16-bit path again). Dims run past one
  // tile in both axes so multi-tile assembly and padding are on the
  // oracle path. Per-row, zero shuffle.
  private val tiffTiledPixelsQ = Q(
    (s, dir) => {
      val w = lit(3L) + col("doc_id") % 29
      val h = lit(3L) + col("doc_id") % 23
      val payload = when(col("doc_id") % 2 === 0,
          TiffFunctions.synth_tiff(w, h, col("doc_id"), 9))
        .otherwise(TiffFunctions.synth_tiff(w, h, col("doc_id"), 10))
      val raster = RasterFunctions.image_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), raster.as("r"))
        .select(col("doc_id"),
          col("r.format").as("format"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          col("r.channels").cast(LongType).as("channels"),
          RasterFunctions.raster_channel_sums(
            RasterFunctions.image_resize_nn(col("r"), 4, 4)).as("s"))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"),
          col("s").getItem(0).as("y_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(1)).as("g_sum"),
          when(col("channels") === 1, lit(null).cast(LongType))
            .otherwise(col("s").getItem(2)).as("b_sum"))
        .orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, 3 + doc_id % 29 AS w, 3 + doc_id % 23 AS h,
        |   CAST(doc_id % 2 AS INT) AS m FROM documents),
        | g AS (SELECT d.*, gx.range AS x, gy.range AS y
        |        FROM d CROSS JOIN range(0, 4) gx CROSS JOIN range(0, 4) gy),
        | px AS (SELECT doc_id, w, h, m,
        |         ((y * h // 4) * w + (x * w // 4)) AS p FROM g),
        | v AS (SELECT doc_id, w, h, m,
        |        CASE WHEN m = 0 THEN (doc_id * 31 + (3 * p + 0) * 7) % 256
        |             ELSE ((doc_id * 131 + p * 251) % 65536) // 256 END AS c0,
        |        CASE WHEN m = 0 THEN (doc_id * 31 + (3 * p + 1) * 7) % 256
        |             ELSE NULL END AS c1,
        |        CASE WHEN m = 0 THEN (doc_id * 31 + (3 * p + 2) * 7) % 256
        |             ELSE NULL END AS c2
        |       FROM px),
        | s AS (SELECT doc_id, w, h, m, SUM(c0) AS s0, SUM(c1) AS s1,
        |        SUM(c2) AS s2 FROM v GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, 'tiff' AS format,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(CASE WHEN m = 0 THEN 3 ELSE 1 END AS BIGINT) AS channels,
        | CAST(s0 AS BIGINT) AS y_sum, CAST(s1 AS BIGINT) AS g_sum,
        | CAST(s2 AS BIGINT) AS b_sum
        |FROM s ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- MP3 Layer III PCM decode
  // The lossy format that dominates crawled web audio, decoded for real
  // (see Mp3L3Codec's scaladoc for the precise scope): the oracle rides
  // the exactness contract — `global_gain = 210 + 4k`,
  // `scalefac_scale = 1`, and coded values restricted to PERFECT CUBES
  // (0/1/8/27 → v^{4/3} = 0/1/16/81) make every requantized line a
  // dyadic `±v^{4/3}·2^(k − sf)`, so `spec_sum_q20 = Σ xr·2^20` is an
  // exact BIGINT the oracle reproduces with pure integer arithmetic.
  // On its critical path: headers, side info, scalefactors, THREE
  // Huffman regions rotating the small tables 2-12, the 16×16 tables
  // 13/15/16, and the linbits/ESC families (19/21/24/26 — value 27 =
  // escape symbol 15 + a 12-valued linbits extension), count1 tables A
  // and B, requantization at all three MPEG-1 sample rates, and
  // INTENSITY STEREO on doc%3==1 stereo docs (right channel carries
  // region0 only; is_pos limited to the exactly-dyadic {0,3,6} + the
  // 7 pass-through, so Σ(L′+R′) = Σ L and the oracle needs no
  // intensity term — the WHERE clauses just drop the right channel's
  // untransmitted lines). Silent files (every 5th doc; the stereo ones
  // mid/side-coded) must propagate EXACT zeros through the complete
  // IMDCT + polyphase filterbank to the PCM — `silent` is
  // decoded-PCM-derived, not metadata. Per-row, zero shuffle.
  private val mp3PcmQ = Q(
    (s, dir) => {
      val d = Mp3PcmFunctions.mp3_decode(Mp3PcmFunctions.synth_mp3_pcm(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.format").as("format"),
          col("d.channels").cast(LongType).as("channels"),
          col("d.sample_rate").cast(LongType).as("sample_rate"),
          col("d.bitrate_kbps").cast(LongType).as("bitrate_kbps"),
          col("d.n_frames").cast(LongType).as("n_frames"),
          col("d.n_samples").cast(LongType).as("n_samples"),
          col("d.spec_sum_q20").as("spec_sum_q20"),
          (col("d.pcm_abs_max") === 0).as("silent"),
          col("d.bit_exact").as("bit_exact"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (
        | SELECT doc_id, 1 + doc_id % 2 AS ch, CAST(doc_id % 3 AS INT) AS sr,
        |        2 + doc_id % 3 AS fr, (doc_id % 5 = 0) AS silent,
        |        (doc_id % 2 = 1 AND doc_id % 5 <> 0 AND doc_id % 3 = 1)
        |          AS intens
        | FROM documents),
        |gc AS (SELECT p.*, g.range AS g, c.range AS c
        |       FROM p CROSS JOIN range(0, 2) g CROSS JOIN range(0, 2) c
        |       WHERE c.range < p.ch),
        |bv AS (SELECT gc.*, j.range AS j FROM gc CROSS JOIN range(0, 16) j),
        |lines AS (
        | SELECT doc_id, sr, g, c, 2 * j AS line,
        |        CASE WHEN j < 6 THEN (doc_id + 3 * j + g + c) % 2
        |         ELSE (CASE (doc_id + 3 * j + g + c) % 3 WHEN 0 THEN 0
        |               WHEN 1 THEN 1
        |               ELSE (CASE WHEN j < 12 THEN 8 ELSE 27 END) END)
        |        END AS v,
        |        (doc_id + j + g) % 2 AS s
        | FROM bv WHERE NOT (intens AND c = 1 AND j >= 6)
        | UNION ALL
        | SELECT doc_id, sr, g, c, 2 * j + 1 AS line,
        |        CASE WHEN j < 6 THEN (doc_id + 5 * j + 1 + 2 * g + c) % 2
        |         ELSE (CASE (doc_id + 5 * j + 1 + 2 * g + c) % 3 WHEN 0 THEN 0
        |               WHEN 1 THEN 1
        |               ELSE (CASE WHEN j < 12 THEN 8 ELSE 27 END) END)
        |        END AS v,
        |        (doc_id + 7 * j + 3 + c) % 2 AS s
        | FROM bv WHERE NOT (intens AND c = 1 AND j >= 6)
        | UNION ALL
        | SELECT doc_id, sr, g, c, 32 + 4 * q.range + t.range AS line,
        |        (doc_id + q.range + t.range + g + 2 * c) % 2 AS v,
        |        (doc_id + 3 * q.range + t.range + g) % 2 AS s
        | FROM gc CROSS JOIN range(0, 4) q CROSS JOIN range(0, 4) t
        | WHERE NOT (intens AND c = 1)),
        |contrib AS (
        | SELECT doc_id,
        |  CASE WHEN v = 0 THEN 0
        |   ELSE (CASE WHEN s = 1 THEN -1 ELSE 1 END) *
        |    (CASE v WHEN 1 THEN 1 WHEN 8 THEN 16 ELSE 81 END) *
        |    CAST(power(2, 20 + (doc_id + 2 * g + 3 * c) % 4
        |     - (doc_id + (CASE WHEN line < 4 THEN 0 WHEN line < 8 THEN 1
        |         WHEN line < 12 THEN 2 WHEN line < 16 THEN 3
        |         WHEN line < 20 THEN 4 WHEN line < 24 THEN 5
        |         WHEN line < 30 THEN 6 WHEN line < 36 THEN 7
        |         WHEN line < (CASE WHEN sr = 1 THEN 42 ELSE 44 END) THEN 8
        |         ELSE 9 END) + g + 2 * c) % 4) AS BIGINT) END AS contr
        | FROM lines),
        |tot AS (SELECT doc_id, SUM(contr) AS t FROM contrib GROUP BY 1)
        |SELECT p.doc_id, 'mp3' AS format,
        | CAST(ch AS BIGINT) AS channels,
        | CAST(CASE sr WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |   AS BIGINT) AS sample_rate,
        | CAST(128 AS BIGINT) AS bitrate_kbps,
        | CAST(fr AS BIGINT) AS n_frames,
        | CAST(fr * 1152 AS BIGINT) AS n_samples,
        | CAST(CASE WHEN silent THEN 0 ELSE fr * tot.t END AS BIGINT)
        |   AS spec_sum_q20,
        | silent,
        | silent AS bit_exact
        |FROM p JOIN tot ON p.doc_id = tot.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // -------------------------------------------- MP4 per-track sample stats
  // One level deeper than container_meta's mvhd fields — the inventory
  // pass a video pipeline runs before fetching any mdat bytes: per
  // track, the handler and codec fourccs (hdlr/stsd), the mdhd
  // timescale/duration, and the sample count and media BYTE volume
  // from the real sample tables (stts sums; stsz in BOTH its modes —
  // per-sample u32 entries on the video track, fixed-size on the
  // audio track — with the stts-vs-stsz count consistency gate on the
  // decode path). Odd docs carry two tracks. Per-row, zero shuffle
  // until the explode.
  private val mp4TracksQ = Q(
    (s, dir) => {
      val m = Mp4TrackFunctions.mp4_tracks(Mp4TrackFunctions.synth_mp4_tracks(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"), col("m.brand").as("brand"),
          posexplode(col("m.tracks")).as(Seq("trk", "t")))
        .select(col("doc_id"), col("brand"),
          col("trk").cast(LongType).as("trk"),
          col("t.handler").as("handler"),
          col("t.codec").as("codec"),
          col("t.timescale").as("timescale"),
          col("t.duration").as("duration"),
          col("t.n_samples").as("n_samples"),
          col("t.total_bytes").as("total_bytes"))
        .orderBy("doc_id", "trk")
    },
    Some(
      """WITH p AS (SELECT doc_id, 10 + doc_id % 20 AS nv, 20 + doc_id % 30 AS na,
        |   (doc_id % 2 = 1) AS has_audio FROM documents),
        | vbytes AS (SELECT doc_id, SUM(100 + (doc_id * 7 + i.range * 13) % 900)
        |     AS vb FROM p CROSS JOIN range(0, 30) i WHERE i.range < nv
        |   GROUP BY doc_id),
        | rows_ AS (
        |  SELECT p.doc_id, 0 AS trk, 'vide' AS handler, 'avc1' AS codec,
        |   CAST(30000 AS BIGINT) AS timescale,
        |   CAST(nv * 1001 AS BIGINT) AS duration,
        |   CAST(nv AS BIGINT) AS n_samples, CAST(vb AS BIGINT) AS total_bytes
        |  FROM p JOIN vbytes ON p.doc_id = vbytes.doc_id
        |  UNION ALL
        |  SELECT doc_id, 1, 'soun', 'mp4a', 48000, na * 1024, na,
        |   na * (64 + doc_id % 64)
        |  FROM p WHERE has_audio)
        |SELECT doc_id, 'isom' AS brand, CAST(trk AS BIGINT) AS trk, handler,
        | codec, CAST(timescale AS BIGINT) AS timescale,
        | CAST(duration AS BIGINT) AS duration,
        | CAST(n_samples AS BIGINT) AS n_samples,
        | CAST(total_bytes AS BIGINT) AS total_bytes
        |FROM rows_ ORDER BY doc_id, trk""".stripMargin))

  // --------------------------------------------- Ogg Vorbis PCM decode
  // Web audio's second pillar next to MP3, decoded for real (see
  // VorbisCodec's scaladoc for the precise scope): Ogg pages with CRC
  // + lacing packet assembly, full codebook parsing (the spec's
  // lowest-unused-codeword assignment, VQ lookup types with
  // float32_unpack), floor-1 decode, residue types 1 and 2,
  // square-polar coupling, IMDCT + windowed overlap-add. The oracle
  // rides an exactness contract: the fixture's floors are flat at the
  // dB table's top (index 255 = exactly 1.0) and its VQ values dyadic
  // (−2 + 0.5·((e+d) mod 8)), so `spec_sum_q20 = Σ spectral·2^20` is
  // an exact BIGINT — headers, both codebooks, floor decode, residue
  // classwords/cascade, and stereo coupling all sit on the hash. In
  // val2 = 2·value units: mono sums class-0 partitions directly;
  // stereo's coupled pairs are ADJACENT VQ dims (the interleaved
  // type-2 vector pairs (2j, 2j+1) inside one codeword), giving the
  // closed form Σ CASE (m>0)=(a>0) THEN 2m−a ELSE 2m+a END. Silent
  // docs (every 5th) zero every floor flag and must reach the PCM as
  // exact zeros through the full IMDCT/overlap path. Per-row, zero
  // shuffle.
  private val vorbisPcmQ = Q(
    (s, dir) => {
      val d = VorbisFunctions.vorbis_decode(VorbisFunctions.synth_ogg_vorbis(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.format").as("format"),
          col("d.channels").cast(LongType).as("channels"),
          col("d.sample_rate").cast(LongType).as("sample_rate"),
          col("d.n_packets").cast(LongType).as("n_packets"),
          col("d.n_samples").cast(LongType).as("n_samples"),
          col("d.spec_sum_q20").as("spec_sum_q20"),
          (col("d.pcm_abs_max") === 0).as("silent"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (
        | SELECT doc_id, 1 + doc_id % 2 AS ch, CAST(doc_id % 3 AS INT) AS sr,
        |        2 + doc_id % 3 AS fr, (doc_id % 5 = 0) AS silent
        | FROM documents),
        |cells AS (
        | SELECT p.doc_id, ch, fr, silent, f.range AS f, pp.range AS pp,
        |        i.range AS i, d.range AS d,
        |        -4 + ((doc_id + 2 * f.range + 3 * pp.range + i.range) % 8
        |              + d.range) % 8 AS val2
        | FROM p CROSS JOIN range(0, 4) f CROSS JOIN range(0, 32) pp
        |      CROSS JOIN range(0, 2) i CROSS JOIN range(0, 4) d
        | WHERE NOT silent AND f.range < fr
        |   AND pp.range < (CASE WHEN ch = 2 THEN 32 ELSE 16 END)
        |   AND (doc_id + pp.range) % 2 = 0),
        |monoq AS (
        | SELECT doc_id, SUM(val2) * 524288 AS q20
        | FROM cells WHERE ch = 1 GROUP BY doc_id),
        |pairs AS (
        | SELECT m.doc_id, m.val2 AS m2, a.val2 AS a2
        | FROM (SELECT * FROM cells WHERE ch = 2 AND d % 2 = 0) m
        | JOIN (SELECT * FROM cells WHERE ch = 2 AND d % 2 = 1) a
        |   ON m.doc_id = a.doc_id AND m.f = a.f AND m.pp = a.pp
        |  AND m.i = a.i AND m.d + 1 = a.d),
        |stereoq AS (
        | SELECT doc_id,
        |  SUM(CASE WHEN (m2 > 0) = (a2 > 0) THEN 2 * m2 - a2
        |      ELSE 2 * m2 + a2 END) * 524288 AS q20
        | FROM pairs GROUP BY doc_id)
        |SELECT p.doc_id, 'vorbis' AS format,
        | CAST(ch AS BIGINT) AS channels,
        | CAST(CASE sr WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |   AS BIGINT) AS sample_rate,
        | CAST(fr AS BIGINT) AS n_packets,
        | CAST((fr - 1) * 128 AS BIGINT) AS n_samples,
        | CAST(COALESCE(monoq.q20, stereoq.q20, 0) AS BIGINT) AS spec_sum_q20,
        | silent
        |FROM p
        |LEFT JOIN monoq ON p.doc_id = monoq.doc_id
        |LEFT JOIN stereoq ON p.doc_id = stereoq.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // --------------------------------------- TAR / WebDataset extraction
  // The shard format large multimodal training corpora actually ship
  // in: a tar of {key}.{ext} files consumed sequentially because tar
  // needs no central index. tar_members surfaces the fetch layer's
  // per-member byte ranges from CHECKSUM-VERIFIED ustar headers, with
  // GNU type-L long names, PAX path overrides, and GNU base-256 sizes
  // all on the oracle hash (the fixture rotates each onto member 0);
  // webdataset_pairs is the downstream sample-assembly groupBy (key =
  // basename up to the first dot). Per-row walk, zero shuffle until
  // the explode; the pairing groupBy keys on compact strings.
  private val tarMembersQ = Q(
    (s, dir) => {
      val t = TarFunctions.tar_members(TarFunctions.synth_tar(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), posexplode(col("t.members")).as(Seq("m_idx", "m")))
        .select(col("doc_id"), col("m_idx").cast(LongType).as("member_idx"),
          col("m.name").as("name"), col("m.typeflag").as("typeflag"),
          col("m.offset").as("offset"), col("m.size").as("size"))
        .orderBy("doc_id", "member_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS n,
        |   CASE WHEN doc_id % 4 IN (1, 2) THEN 1024 ELSE 0 END AS extra
        | FROM documents),
        | m AS (SELECT doc_id, n, extra, i.range AS i,
        |        100 + (doc_id * 7 + i.range * 13) % 900 AS jsz,
        |        40 + (doc_id + i.range) % 50 AS nsz
        |       FROM p CROSS JOIN range(0, 5) i WHERE i.range < n),
        | ps AS (SELECT doc_id, extra, i, jsz, nsz,
        |        ((jsz + 511) // 512) * 512 AS jpad,
        |        COALESCE(SUM(1536 + ((jsz + 511) // 512) * 512) OVER
        |          (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS before
        |       FROM m),
        | rows_ AS (
        |  SELECT doc_id, 2 * i AS midx,
        |   CASE WHEN i = 0 AND doc_id % 4 = 1 THEN
        |     'shard/' || repeat('x', 90) || '/d' || doc_id ||
        |       '/s' || doc_id || '_0.jpg'
        |    WHEN i = 0 AND doc_id % 4 = 2 THEN
        |     'pax/dir/s' || doc_id || '_0.jpg'
        |    ELSE 's' || doc_id || '_' || i || '.jpg' END AS name,
        |   extra + before + 512 AS off, jsz AS size FROM ps
        |  UNION ALL
        |  SELECT doc_id, 2 * i + 1,
        |   's' || doc_id || '_' || i || '.json',
        |   extra + before + 512 + jpad + 512, nsz FROM ps)
        |SELECT doc_id, CAST(midx AS BIGINT) AS member_idx, name,
        | '0' AS typeflag, CAST(off AS BIGINT) AS offset,
        | CAST(size AS BIGINT) AS size
        |FROM rows_ ORDER BY doc_id, member_idx""".stripMargin))

  // --------------------------- WebDataset container→codec composition
  // The multimodal shard consumed END TO END in one plan: real JPEGs
  // live inside tar members, the checksummed ustar walk resolves their
  // byte ranges, substring slices the payloads, and the SAME JpegCodec
  // the image keys use decodes them to channel statistics — proving
  // the container and codec layers compose without a staging table.
  // The fixture packs JpegSynth mode-1 frames at the MJPEG seed
  // convention (sample i at doc + 131·i), so the oracle replays the
  // per-block closed form (±-basis terms cancel over blocks) with no
  // tar arithmetic at all — sizes of real JPEGs are not closed-form,
  // and the key deliberately emits only decode statistics. Per-row,
  // zero shuffle until the explode.
  private val webdatasetImageStatsQ = Q(
    (s, dir) => {
      val shard = TarFunctions.synth_tar_wds(col("doc_id"))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), shard.as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(TarFunctions.tar_members(col("t")).getField("members"))
            .as(Seq("m_idx", "m")))
        .filter(col("m.name").endsWith(".jpg"))
        .select(col("doc_id"), (col("m_idx") / 2).cast(LongType).as("sample_idx"),
          RasterFunctions.image_decode(expr(
            "substring(t, CAST(m.offset + 1 AS INT), CAST(m.size AS INT))"))
            .as("r"))
        .select(col("doc_id"), col("sample_idx"),
          col("r.width").cast(LongType).as("width"),
          col("r.height").cast(LongType).as("height"),
          RasterFunctions.raster_channel_sums(col("r")).as("s"))
        .select(col("doc_id"), col("sample_idx"), col("width"), col("height"),
          col("s").getItem(0).as("r_sum"),
          col("s").getItem(1).as("g_sum"),
          col("s").getItem(2).as("b_sum"))
        .orderBy("doc_id", "sample_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    2 + doc_id % 3 AS n FROM documents),
        | f AS (SELECT p.*, i.range AS i, doc_id + 131 * i.range AS sd
        |       FROM p CROSS JOIN range(0, 5) i WHERE i.range < n),
        | blk AS (SELECT doc_id, w, h, i, sd, b.range AS bi
        |         FROM f CROSS JOIN range(0, 8) b
        |         WHERE b.range < (w // 8) * (h // 8)),
        | a AS (SELECT doc_id, w, h, i, sd,
        |        SUM(64 * (64 + (sd * 31 + bi * 17) % 128)) AS y_sum
        |       FROM blk GROUP BY 1, 2, 3, 4, 5),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7))
        |SELECT doc_id, CAST(i AS BIGINT) AS sample_idx,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(y_sum + w * h * sr AS BIGINT) AS r_sum,
        | CAST(y_sum + w * h * sg AS BIGINT) AS g_sum,
        | CAST(y_sum + w * h * sb AS BIGINT) AS b_sum
        |FROM a JOIN shifts ON shifts.v = CAST(sd % 4 AS INT)
        |ORDER BY doc_id, sample_idx""".stripMargin))

  // ------------------------------------------- ZIP entry extraction
  // tar's indexed sibling in dataset distribution: the central
  // directory drives the walk, local headers re-verify with their own
  // name/extra lengths, and EVERY member decodes for real (stored +
  // DEFLATE) with its CRC-32 verified — one corrupt member rejects
  // the archive. The hash carries a decode PROOF: payload_md5 is md5
  // over the decompressed bytes' lowercase hex, which the oracle
  // recomputes from the payload formulas entirely in SQL (hex keeps
  // the digest inside DuckDB's VARCHAR-only md5). Offsets/csize of
  // deflated members are not closed-form (compressor output) and are
  // pinned by ZipSpec instead. Per-row, zero shuffle until the
  // explode.
  private val zipEntriesQ = Q(
    (s, dir) => {
      val z = ZipFunctions.zip_entries(ZipFunctions.synth_zip(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), z.as("z"))
        .select(col("doc_id"), posexplode(col("z.entries")).as(Seq("e_idx", "e")))
        .select(col("doc_id"), col("e_idx").cast(LongType).as("entry_idx"),
          col("e.name").as("name"), col("e.method").as("method"),
          col("e.usize").as("usize"), col("e.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        | m AS (SELECT doc_id, i.range AS i,
        |        100 + (doc_id * 7 + i.range * 13) % 900 AS bsz,
        |        40 + (doc_id + i.range) % 50 AS jsz
        |       FROM p CROSS JOIN range(0, 5) i WHERE i.range < n),
        | ent AS (
        |  SELECT doc_id, 2 * i AS eidx,
        |   's' || doc_id || '_' || i || '.bin' AS name,
        |   'stored' AS method, bsz AS usize, 2 * i AS tag FROM m
        |  UNION ALL
        |  SELECT doc_id, 2 * i + 1, 's' || doc_id || '_' || i || '.json',
        |   'deflate', jsz, 2 * i + 1 FROM m),
        | pm AS (SELECT doc_id, eidx, name, method, usize,
        |   md5(string_agg(format('{:02x}',
        |     (doc_id * 31 + tag * 17 + k.range) % 256), ''
        |     ORDER BY k.range)) AS payload_md5
        |  FROM ent CROSS JOIN range(0, 1000) k WHERE k.range < usize
        |  GROUP BY doc_id, eidx, name, method, usize)
        |SELECT doc_id, CAST(eidx AS BIGINT) AS entry_idx, name, method,
        | CAST(usize AS BIGINT) AS usize, payload_md5
        |FROM pm ORDER BY doc_id, entry_idx""".stripMargin))

  // -------------------------------------- robots.txt crawl governance
  // The decision respectful corpus crawlers gate every fetch on,
  // evaluated per-row (RFC 9309): group selection by longest agent
  // prefix with exactly ONE group applying, longest-path rule match
  // with Allow winning ties. The fixture's two groups put group
  // EXCLUSIVITY on the hash (the graftbot group must shadow the `*`
  // group's /private rules entirely), plus the no-trailing-slash
  // prefix trap, comments, and Crawl-delay/Sitemap lines the parser
  // must skip; wildcard `*`/`$` paths are pinned by RobotsSpec. The
  // oracle replays the decisions in closed form. Zero shuffle until
  // the explode.
  private val robotsAllowedQ = Q(
    (s, dir) => {
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"),
          RobotsFunctions.synth_robots(col("doc_id")).as("robots"),
          (col("doc_id") % 5).as("k"), (col("doc_id") % 3).as("j"))
        .select(col("doc_id"), col("robots"), col("k"), col("j"),
          explode(sequence(lit(0L), lit(7L))).as("u"))
        .withColumn("path",
          when(col("u") === 0, concat(lit("/ok/"), col("doc_id") % 7))
            .when(col("u") === 1, concat(lit("/private"), col("k"), lit("/a")))
            .when(col("u") === 2,
              concat(lit("/private"), col("k"), lit("/public/x")))
            .when(col("u") === 3,
              concat(lit("/private"), col("k") + 1, lit("/b")))
            .when(col("u") === 4, concat(lit("/tmp"), col("j"), lit("/y")))
            .when(col("u") === 5, concat(lit("/tmp"), col("j") + 1, lit("/z")))
            .when(col("u") === 6,
              concat(lit("/private"), col("k"), lit("/public")))
            .otherwise(lit("/")))
        .select(col("doc_id"), col("u").cast(LongType).as("url_idx"),
          col("path"),
          RobotsFunctions.robots_allowed(col("robots"), lit("graftbot"), col("path"))
            .as("d"))
        .select(col("doc_id"), col("url_idx"), col("path"),
          col("d.allowed").as("allowed"), col("d.rule_path").as("rule_path"))
        .orderBy("doc_id", "url_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, doc_id % 5 AS k, doc_id % 3 AS j,
        |   (doc_id % 4 <> 0) AS bot FROM documents),
        | u AS (SELECT p.*, uu.range AS u FROM p CROSS JOIN range(0, 8) uu),
        | urls AS (SELECT doc_id, k, j, bot, u,
        |   CASE u WHEN 0 THEN '/ok/' || (doc_id % 7)
        |    WHEN 1 THEN '/private' || k || '/a'
        |    WHEN 2 THEN '/private' || k || '/public/x'
        |    WHEN 3 THEN '/private' || (k + 1) || '/b'
        |    WHEN 4 THEN '/tmp' || j || '/y'
        |    WHEN 5 THEN '/tmp' || (j + 1) || '/z'
        |    WHEN 6 THEN '/private' || k || '/public'
        |    ELSE '/' END AS path FROM u)
        |SELECT doc_id, CAST(u AS BIGINT) AS url_idx, path,
        | CASE WHEN bot THEN NOT starts_with(path, '/tmp' || j || '/')
        |  ELSE NOT (starts_with(path, '/private' || k || '/')
        |            AND NOT starts_with(path, '/private' || k || '/public/'))
        | END AS allowed,
        | CASE WHEN bot THEN
        |   CASE WHEN starts_with(path, '/tmp' || j || '/')
        |     THEN '/tmp' || j || '/' ELSE '/' END
        |  ELSE
        |   CASE WHEN starts_with(path, '/private' || k || '/public/')
        |     THEN '/private' || k || '/public/'
        |    WHEN starts_with(path, '/private' || k || '/')
        |     THEN '/private' || k || '/'
        |    ELSE NULL END
        | END AS rule_path
        |FROM urls ORDER BY doc_id, url_idx""".stripMargin))

  // ------------------------------------------ jsonl.gz corpus shards
  // The format public text corpora actually ship in (C4, The Pile:
  // *.jsonl.gz): concatenated gzip members (gzip's legal append shape,
  // FNAME/FHCRC rotated onto the hash) inflate through the WARC
  // family's RFC 1952 machinery into lines, and Spark's own
  // split/explode/from_json does the rest — the composition is the
  // point. Per-row decode, zero shuffle until the explode.
  private val jsonlCorpusQ = Q(
    (s, dir) => {
      val txt = JsonlFunctions.gzip_text(JsonlFunctions.synth_jsonl_gz(col("doc_id")))
      val lineSchema = org.apache.spark.sql.types.StructType
        .fromDDL("id BIGINT, lang STRING, text STRING")
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), txt.as("t"))
        .select(col("doc_id"), posexplode(
          filter(split(col("t"), "\n"), x => x =!= lit("")))
          .as(Seq("line_idx", "line")))
        .select(col("doc_id"), col("line_idx").cast(LongType).as("line_idx"),
          from_json(col("line"), lineSchema).as("j"))
        .select(col("doc_id"), col("line_idx"),
          col("j.id").as("id"), col("j.lang").as("lang"),
          col("j.text").as("text"))
        .orderBy("doc_id", "line_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nm FROM documents),
        | mem AS (SELECT doc_id, m.range AS m,
        |         1 + (doc_id + m.range) % 3 AS nl
        |        FROM p CROSS JOIN range(0, 5) m WHERE m.range < nm),
        | mo AS (SELECT doc_id, m, nl,
        |        COALESCE(SUM(nl) OVER (PARTITION BY doc_id ORDER BY m
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS before
        |       FROM mem),
        | ln AS (SELECT doc_id, m, before + l.range AS line_idx, l.range AS l
        |        FROM mo CROSS JOIN range(0, 3) l WHERE l.range < nl)
        |SELECT doc_id, CAST(line_idx AS BIGINT) AS line_idx,
        | CAST(doc_id * 100 + m * 10 + l AS BIGINT) AS id,
        | CASE (doc_id + 2 * m + l) % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |   WHEN 2 THEN 'fr' ELSE 'ja' END AS lang,
        | 'line ' || doc_id || ' ' || m || ' ' || l || ' ' ||
        |   repeat('w', 3 + (doc_id + m + l) % 6) AS text
        |FROM ln ORDER BY doc_id, line_idx""".stripMargin))

  // ----------------------------------- EPUB book-text composition
  // Book corpora ship as EPUB — a zip of XHTML chapters per OCF — and
  // this key consumes one end to end: the verified central-directory
  // walk (every member inflated + CRC-gated) surfaces the `.xhtml`
  // members as text, and the SAME HtmlTextExtract the crawl pipeline
  // uses strips each chapter to visible text. The fixture is a real
  // OCF layout (STORED mimetype first, container.xml, deflated
  // chapters with entity/inline-span obstacles); the oracle replays
  // chapter text in closed form. Per-row, zero shuffle until the
  // explode.
  private val epubTextQ = Q(
    (s, dir) => {
      val z = EpubFunctions.zip_texts(EpubFunctions.synth_epub(col("doc_id")), ".xhtml")
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), z.as("z"))
        .select(col("doc_id"),
          posexplode(col("z.texts")).as(Seq("chapter_idx", "t")))
        .select(col("doc_id"),
          col("chapter_idx").cast(LongType).as("chapter_idx"),
          HtmlFunctions.html_text(col("t.text")).as("h"))
        .select(col("doc_id"), col("chapter_idx"),
          col("h.title").as("title"), col("h.text").as("text"))
        .orderBy("doc_id", "chapter_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS n FROM documents),
        | c AS (SELECT doc_id, i.range AS c
        |       FROM p CROSS JOIN range(0, 3) i WHERE i.range < n)
        |SELECT doc_id, CAST(c AS BIGINT) AS chapter_idx,
        | 'Book ' || doc_id AS title,
        | 'Chapter ' || c || ' of book ' || doc_id || chr(10) ||
        |   'body ' || doc_id || ' ' || c || ' ' ||
        |   repeat('tok ', 2 + (doc_id + c) % 4) || '& end' AS text
        |FROM c ORDER BY doc_id, chapter_idx""".stripMargin))

  // -------------------------------------- WebDataset sample assembly
  private val webdatasetPairsQ = Q(
    (s, dir) => {
      val t = TarFunctions.tar_members(TarFunctions.synth_tar(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), explode(col("t.members")).as("m"))
        .select(col("doc_id"),
          substring_index(substring_index(col("m.name"), "/", -1), ".", 1)
            .as("sample_key"),
          expr("substring(substring_index(m.name, '/', -1), " +
            "length(substring_index(substring_index(m.name, '/', -1), '.', 1)) + 2)")
            .as("ext"),
          col("m.size").as("size"))
        .groupBy("doc_id", "sample_key")
        .agg(count(lit(1)).as("n_parts"),
          array_join(sort_array(collect_list(col("ext"))), ",").as("exts"),
          sum(col("size")).as("total_bytes"))
        .orderBy("doc_id", "sample_key")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        | m AS (SELECT doc_id, i.range AS i,
        |        100 + (doc_id * 7 + i.range * 13) % 900 AS jsz,
        |        40 + (doc_id + i.range) % 50 AS nsz
        |       FROM p CROSS JOIN range(0, 5) i WHERE i.range < n)
        |SELECT doc_id, 's' || doc_id || '_' || i AS sample_key,
        | CAST(2 AS BIGINT) AS n_parts, 'jpg,json' AS exts,
        | CAST(jsz + nsz AS BIGINT) AS total_bytes
        |FROM m ORDER BY doc_id, sample_key""".stripMargin))

  // ---------------------------------------------- PDF text extraction
  // The largest untouched training-data text modality, extracted for
  // real: classic xref chains (incremental updates resolve to the
  // NEWEST object version), the full COS object parser, FlateDecode
  // content streams with direct and indirect /Length, the recursive
  // page tree, and BT/ET text assembly (Tj / TJ-with-kern-rule / the
  // quote operators). The fixture rotation puts every structural
  // variant on the hash: two-level page trees (doc%3=0), deflated
  // streams (odd docs), indirect lengths (doc%4=2), and appended
  // incremental updates that re-define page 0 (doc%5=0 or doc%11=9 —
  // the latter as a HYBRID classic+/XRefStm section whose new content
  // stream is reachable only through the stream side channel), and
  // Type0/CID pages decoded through /ToUnicode CMaps (doc%11=7, all
  // three mapping forms with a mid-stream Tf switch) — the oracle
  // replays the page text in closed form, so a stale-object read, a
  // mis-assembled line, or a byte-level read of CID codes flips the
  // hash. Encrypted / un-mapped-CID files reject honestly (PdfSpec).
  // Per-row, zero shuffle until the explode.
  private val pdfTextQ = Q(
    (s, dir) => {
      val d = PdfFunctions.pdf_text(PdfFunctions.synth_pdf(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.version").as("version"),
          col("d.n_pages").cast(LongType).as("n_pages"),
          explode(col("d.pages")).as("p"))
        .select(col("doc_id"), col("version"), col("n_pages"),
          col("p.page_idx").cast(LongType).as("page_idx"),
          col("p.text").as("text"))
        .orderBy("doc_id", "page_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS np,
        |   (doc_id % 5 = 0 OR doc_id % 11 = 9) AS upd FROM documents),
        | pg AS (SELECT doc_id, np, i.range AS pi,
        |        CASE WHEN i.range = 0 AND upd
        |         THEN 'Doc ' || doc_id || ' page 0 (updated)'
        |         ELSE 'Doc ' || doc_id || ' page ' || i.range || ' (alpha)'
        |        END
        |        || chr(10) || 'seg ' || doc_id || ' one two'
        |        || chr(10) || 'quote ' || chr(39) || 'p' || i.range || chr(39)
        |        || chr(10) || 'hex ' || format('{:x}', doc_id % 256) AS text
        |       FROM p CROSS JOIN range(0, 3) i WHERE i.range < np)
        |SELECT doc_id,
        | CASE WHEN doc_id % 7 IN (3, 5) THEN '1.5' ELSE '1.4' END AS version,
        | CAST(np AS BIGINT) AS n_pages,
        | CAST(pi AS BIGINT) AS page_idx, text
        |FROM pg ORDER BY doc_id, page_idx""".stripMargin))

  // ------------------------------------------- URL canonicalization
  // What every URL-keyed dedup/frontier needs before equality means
  // anything (RFC 3986 §6): lowercase scheme/host, default ports
  // stripped, unreserved octets decoded + remaining triplets
  // uppercased, dot-segments resolved, fragments dropped, query
  // params sorted (the crawl convention, disclosed). Two messy
  // spellings per resource collapse under the canonical group-by, so
  // the hash carries both the normalization STRING and the dedup
  // SEMANTICS. The group-by shuffles on the canonical key — compact
  // strings, map-side combined.
  private val urlCanonicalQ = Q(
    (s, dir) => {
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), explode(array(
          UrlFunctions.synth_url(col("doc_id"), 0),
          UrlFunctions.synth_url(col("doc_id"), 1))).as("url"))
        .select(col("doc_id"), UrlFunctions.url_canonical(col("url")).as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_spellings"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canonical")
    },
    Some(
      """WITH c AS (SELECT doc_id,
        |   'https://ex' || (doc_id % 5) || '.org/p' || (doc_id % 7) ||
        |   '/tok/q' || (doc_id % 9) || '?a=' || (doc_id % 3) ||
        |   '&b=x%2Fy' AS canonical
        |  FROM documents)
        |SELECT canonical, CAST(2 * COUNT(*) AS BIGINT) AS n_spellings,
        | CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin))

  // -------------------------------------- HTML main-content extraction
  // The boilerplate strip between raw visible text and dedup/quality:
  // nav/sidebar/footer chrome flowing into shingles creates cross-site
  // false dup pairs (HtmlSpec pins that composition). Fixed block
  // rules — chrome containers, link density >= 1/3, < 5 words — over
  // the same tag grammar as html_text; the fixture's page skeleton
  // exercises every drop rule plus a KEPT paragraph with an inline
  // low-density link, and the oracle replays the surviving paragraphs
  // in closed form. Per-row, zero shuffle.
  private val mainContentQ = Q(
    (s, dir) => {
      val m = HtmlFunctions.main_content(HtmlFunctions.synth_main_html(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"), col("m.text").as("text"),
          col("m.n_kept").cast(LongType).as("n_kept"),
          col("m.n_dropped").cast(LongType).as("n_dropped"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS np FROM documents),
        | paras AS (SELECT doc_id,
        |    string_agg('story ' || doc_id || ' part ' || i.range ||
        |      ' alpha beta gamma ' ||
        |      repeat('tok ', CAST(3 + (doc_id + i.range) % 4 AS INT)) ||
        |      'end ' || i.range, chr(10) ORDER BY i.range) AS ptxt
        |   FROM p CROSS JOIN range(0, 3) i WHERE i.range < np
        |   GROUP BY doc_id)
        |SELECT p.doc_id,
        | paras.ptxt || chr(10) || 'update ' || p.doc_id ||
        |   ' with one small link inside a much longer sentence ref ' ||
        |   (p.doc_id % 9) AS text,
        | CAST(np + 1 AS BIGINT) AS n_kept,
        | CAST(5 AS BIGINT) AS n_dropped
        |FROM p JOIN paras ON p.doc_id = paras.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------------------------- DOCX text extraction
  // The top OFFICE-document modality: WordprocessingML inside an OPC
  // zip, consumed end to end — the verified central-directory walk
  // (CRC-gated, ZIP64 lanes included via the shared doc%5 rotation)
  // surfaces word/document.xml, and the WML walk puts every assembly
  // rule on the hash: split runs, xml:space preserve, w:tab/w:br,
  // XML entities (named + numeric em-dash), table cells as ordinary
  // lines in document order, an empty-paragraph spacer line, and
  // rPr/pPr properties that must NOT leak. The oracle replays the
  // paragraph lines in closed form. Per-row, zero shuffle.
  private val docxTextQ = Q(
    (s, dir) => {
      val d = DocxFunctions.docx_text(DocxFunctions.synth_docx(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.n_paragraphs").cast(LongType).as("n_paragraphs"),
          col("d.text").as("text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS nb FROM documents),
        | body AS (SELECT doc_id,
        |    string_agg('para ' || i.range || ' of ' || doc_id || ' ' ||
        |      repeat('w', CAST(2 + (doc_id + i.range) % 4 AS INT)),
        |      chr(10) ORDER BY i.range) AS btxt
        |   FROM p CROSS JOIN range(0, 3) i WHERE i.range < nb
        |   GROUP BY doc_id)
        |SELECT p.doc_id, CAST(10 + nb AS BIGINT) AS n_paragraphs,
        | 'Title ' || p.doc_id || chr(10) ||
        | 'split run ' || p.doc_id || chr(10) ||
        | 'tab' || chr(9) || 'after ' || (p.doc_id % 7) || chr(10) ||
        | 'amp & lt < dash ' || chr(8212) || ' ' || p.doc_id || chr(10) ||
        | 'line one' || chr(10) || 'line two ' || p.doc_id || chr(10) ||
        | body.btxt || chr(10) ||
        | 'cell 0 0 ' || p.doc_id || chr(10) ||
        | 'cell 0 1 ' || p.doc_id || chr(10) ||
        | 'cell 1 0 ' || p.doc_id || chr(10) ||
        | 'cell 1 1 ' || p.doc_id || chr(10) AS text
        |FROM p JOIN body ON p.doc_id = body.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------------------------- email / MIME parsing
  // Mail archives are a canonical large text corpus with nothing else
  // in the pipeline able to read them. The fixture's four shapes put
  // the whole MIME surface on the hash: plain 7bit, quoted-printable
  // with soft breaks and =C3=A9, multipart/alternative with a
  // preamble/epilogue to drop, and NESTED multipart/mixed carrying a
  // base64 UTF-8 part plus a non-text attachment leaf (inventoried
  // with empty text); Subjects rotate RFC 2047 B/Q encoded words
  // including the adjacent-join rule, and one shape folds its Subject
  // header across lines. Per-row, zero shuffle until the explode.
  private val emlMessageQ = Q(
    (s, dir) => {
      val d = EmlFunctions.eml_message(EmlFunctions.synth_eml(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.from").as("from_addr"), col("d.to").as("to_addr"),
          col("d.subject").as("subject"), col("d.date").as("sent_date"),
          col("d.n_parts").cast(LongType).as("n_parts"),
          posexplode(col("d.parts")).as(Seq("part_idx", "pt")))
        .select(col("doc_id"), col("from_addr"), col("to_addr"),
          col("subject"), col("sent_date"), col("n_parts"),
          col("part_idx").cast(LongType).as("part_idx"),
          col("pt.content_type").as("content_type"),
          col("pt.text").as("text"))
        .orderBy("doc_id", "part_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS sh FROM documents),
        | base AS (SELECT doc_id, sh,
        |   'Sender ' || (doc_id % 9) || ' <s' || (doc_id % 9) ||
        |     '@ex.org>' AS from_addr,
        |   'r' || doc_id || '@ex.org' AS to_addr,
        |   CASE sh WHEN 1 THEN 'caf' || chr(233) || ' update ' || (doc_id % 50)
        |     WHEN 2 THEN 'status report ' || (doc_id % 50)
        |     WHEN 3 THEN 'na' || chr(239) || 've summary ' || (doc_id % 50)
        |     ELSE 'plain subject ' || (doc_id % 50) END AS subject,
        |   'Mon, ' || (1 + doc_id % 28) || ' Apr 2025 0' || (doc_id % 10) ||
        |     ':30:00 +0000' AS sent_date,
        |   'Hello ' || (doc_id % 9) || ',' || chr(10) ||
        |     'the measured value is ' || ((doc_id * 7) % 900) || '.' ||
        |     CASE WHEN sh = 1 THEN ' r' || chr(233) || 'sum' || chr(233) ||
        |       ' attached.' ELSE '' END AS body,
        |   CASE sh WHEN 2 THEN 2 WHEN 3 THEN 3 ELSE 1 END AS np FROM p),
        | parts AS (
        |  SELECT doc_id, 0 AS part_idx, 'text/plain' AS content_type,
        |    body AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'text/html',
        |    '<p>alt ' || (doc_id % 9) || '</p>' FROM base WHERE sh = 2
        |  UNION ALL SELECT doc_id, 1, 'text/plain',
        |    'm' || chr(233) || 'trics ' || chr(163) || (doc_id % 100) ||
        |    chr(10) || 'end ' || doc_id FROM base WHERE sh = 3
        |  UNION ALL SELECT doc_id, 2, 'application/pdf', '' FROM base
        |    WHERE sh = 3)
        |SELECT b.doc_id, b.from_addr, b.to_addr, b.subject, b.sent_date,
        | CAST(b.np AS BIGINT) AS n_parts,
        | CAST(pt.part_idx AS BIGINT) AS part_idx,
        | pt.content_type, pt.text
        |FROM base b JOIN parts pt ON b.doc_id = pt.doc_id
        |ORDER BY b.doc_id, part_idx""".stripMargin))

  // --------------------------------- MediaWiki dump → stripped text
  // Wikipedia dumps are THE canonical public text corpus; this key
  // consumes one end to end: dump XML parsed per page (title/id/ns/
  // redirect/timestamp, double-escaped text entity-decoded), then
  // WIKITEXT STRIPPED through the documented subset — templates and
  // tables dropped with nesting, piped/plain internal links to their
  // labels, File/Category links dropped with captions, refs dropped
  // WITH content, nowiki verbatim, quotes/headings/lists resolved.
  // Redirect pages surface their target with empty text (the
  // extractor convention). The oracle replays titles and the full
  // stripped prose in closed form. Per-row, zero shuffle until the
  // explode.
  /** Shared by wiki_articles and its bz2-compressed twin. */
  private val wikiArticlesOracle: String =
    """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS np FROM documents),
      | pg AS (SELECT doc_id, i.range AS p,
      |        (i.range = 1 AND doc_id % 4 = 1) AS redir
      |       FROM p CROSS JOIN range(0, 3) i WHERE i.range < np)
      |SELECT doc_id, CAST(p AS BIGINT) AS page_idx,
      | 'Article ' || doc_id || '/' || p || ' <x>' AS title,
      | CAST(doc_id * 100 + p AS BIGINT) AS page_id,
      | CASE WHEN redir THEN 'Article ' || doc_id || '/0 <x>'
      |  ELSE NULL END AS redirect_to,
      | '2025-' || lpad(CAST(1 + (doc_id + p) % 12 AS VARCHAR), 2, '0') ||
      |   '-01T12:00:0' || (p % 10) || 'Z' AS timestamp,
      | CASE WHEN redir THEN ''
      |  ELSE
      |   'History ' || ((doc_id + p) % 9) || chr(10) ||
      |   'The city of Ex' || doc_id || ' lies on the ' || (doc_id % 5) ||
      |     'th meridian.' || chr(10) ||
      |   'It was founded in ' || (1200 + (doc_id * 3 + p) % 800) ||
      |     ' and renamed twice.' || chr(10) || chr(10) ||
      |   'Economy trade fishing note ' || (doc_id % 7) || chr(10) ||
      |   'raw '''' markup ' || doc_id || ' kept' || chr(10) ||
      |   'External portal ' || ((doc_id + p) % 6)
      | END AS text
      |FROM pg ORDER BY doc_id, page_idx""".stripMargin

  /** Dump XML (already decoded) -> per-page stripped articles. */
  private def wikiPagesToArticles(xml: org.apache.spark.sql.Column,
      s: SparkSession, dir: String) = {
    val d = WikiFunctions.mediawiki_pages(xml)
    Tables.documentSeeds(s, dir)
      .select(col("doc_id"), d.as("d"))
      .select(col("doc_id"),
        posexplode(col("d.pages")).as(Seq("page_idx", "p")))
      .select(col("doc_id"), col("page_idx").cast(LongType).as("page_idx"),
        col("p.title").as("title"), col("p.page_id").as("page_id"),
        col("p.redirect_to").as("redirect_to"),
        col("p.timestamp").as("timestamp"),
        when(col("p.redirect_to").isNotNull, lit(""))
          .otherwise(WikiFunctions.wikitext_strip(col("p.text"))).as("text"))
      .orderBy("doc_id", "page_idx")
  }

  // --------------------------------------- bzip2 decompression
  // Wikipedia dumps and many legacy corpus snapshots ship .bz2, and
  // the JDK has no codec — this one is built from the bytes up
  // (Huffman groups, selectors, MTF/RLE2, inverse BWT, RLE1, the
  // CRC-32/BZIP2 gate anchored to the public check value in
  // Bzip2Spec). The fixture rotates RLE1-triggering runs and the
  // concatenated-stream append shape onto the hash. Per-row, zero
  // shuffle.
  private val bzip2TextQ = Q(
    (s, dir) => {
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"),
          Bzip2Functions.bzip2_text(Bzip2Functions.synth_bzip2(col("doc_id"))).as("text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nl,
        |   (doc_id % 4 = 1) AS two FROM documents),
        | l AS (SELECT doc_id,
        |    string_agg('line ' || i.range || ' of shard ' || doc_id || ' ' ||
        |      repeat('a', CAST(3 + (doc_id + i.range) % 6 AS INT)) ||
        |      ' value=' || ((doc_id * 7 + i.range) % 900),
        |      chr(10) ORDER BY i.range) AS body
        |   FROM p CROSS JOIN range(0, 5) i WHERE i.range < nl
        |   GROUP BY doc_id)
        |SELECT p.doc_id, l.body || chr(10) ||
        | CASE WHEN two THEN 'appended tail ' || (p.doc_id % 9) || chr(10)
        |  ELSE '' END AS text
        |FROM p JOIN l ON p.doc_id = l.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------- bz2 wiki dump, consumed end to end
  // The literal enwiki shard shape: the bzip2 decoder feeds the dump
  // parser feeds the wikitext stripper in ONE per-row plan — three
  // decode layers composing without a staging table, verified against
  // the SAME closed-form oracle as the uncompressed twin (so a bug in
  // ANY layer flips the hash).
  private val wikiDumpBz2Q = Q(
    (s, dir) => wikiPagesToArticles(
      Bzip2Functions.bzip2_text(Bzip2Functions.synth_wiki_dump_bz2(col("doc_id"))), s, dir),
    Some(wikiArticlesOracle))

  private val wikiArticlesQ = Q(
    (s, dir) => wikiPagesToArticles(
      WikiFunctions.synth_wiki_dump(col("doc_id")), s, dir),
    Some(wikiArticlesOracle))

  // ------------------------------------------- mbox → eml composition
  // Mail archives ship as mbox shards; this key consumes one end to
  // end: the mboxrd split (envelope lines delimit, >From un-stuffing
  // applied — the un-stuffed line is each first message's body TAIL,
  // so the rule sits on the hash) feeds every message straight into
  // eml_message, subjects/part counts verified per member. Layers
  // compose without a staging table. Per-row, zero shuffle until the
  // explode.
  private val mboxMessagesQ = Q(
    (s, dir) => {
      val m = EmlFunctions.mbox_split(EmlFunctions.synth_mbox(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          col("m.n_messages").cast(LongType).as("n_messages"),
          posexplode(col("m.messages")).as(Seq("msg_idx", "msg")))
        .select(col("doc_id"), col("n_messages"),
          col("msg_idx").cast(LongType).as("msg_idx"),
          EmlFunctions.eml_message(col("msg")).as("e"))
        .select(col("doc_id"), col("n_messages"), col("msg_idx"),
          col("e.subject").as("subject"),
          col("e.n_parts").cast(LongType).as("n_parts"),
          element_at(split(col("e.parts").getItem(0).getField("text"), "\n"), -1)
            .as("body_tail"))
        .orderBy("doc_id", "msg_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS nm FROM documents),
        | m AS (SELECT doc_id, nm, k.range AS k, 7 * doc_id + k.range AS seed
        |   FROM p CROSS JOIN range(0, 3) k WHERE k.range < nm),
        | s AS (SELECT doc_id, nm, k, seed, CAST(seed % 4 AS INT) AS sh FROM m)
        |SELECT doc_id, CAST(nm AS BIGINT) AS n_messages,
        | CAST(k AS BIGINT) AS msg_idx,
        | CASE sh WHEN 1 THEN 'caf' || chr(233) || ' update ' || (seed % 50)
        |   WHEN 2 THEN 'status report ' || (seed % 50)
        |   WHEN 3 THEN 'na' || chr(239) || 've summary ' || (seed % 50)
        |   ELSE 'plain subject ' || (seed % 50) END AS subject,
        | CAST(CASE sh WHEN 2 THEN 2 WHEN 3 THEN 3 ELSE 1 END AS BIGINT)
        |   AS n_parts,
        | CASE WHEN k = 0 AND sh IN (0, 1)
        |  THEN 'From the archives: note ' || (doc_id % 9)
        |  ELSE 'the measured value is ' || ((seed * 7) % 900) || '.' ||
        |    CASE WHEN sh = 1 THEN ' r' || chr(233) || 'sum' || chr(233) ||
        |      ' attached.' ELSE '' END
        | END AS body_tail
        |FROM s ORDER BY doc_id, msg_idx""".stripMargin))

  // ---------------------------------- robots Sitemap directives
  // The governance→discovery link: crawlers learn sitemap locations
  // from robots.txt Sitemap lines (group-independent, collected in
  // document order). The fixture's extra-directive rotation sits on
  // the hash next to the constant first line. Per-row, zero shuffle
  // until the explode.
  private val robotsSitemapsQ = Q(
    (s, dir) => {
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), posexplode(
          RobotsFunctions.robots_sitemaps(RobotsFunctions.synth_robots(col("doc_id"))))
          .as(Seq("sm_idx", "sitemap_url")))
        .select(col("doc_id"), col("sm_idx").cast(LongType).as("sm_idx"),
          col("sitemap_url"))
        .orderBy("doc_id", "sm_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ns FROM documents),
        | e AS (SELECT doc_id, i.range AS i
        |       FROM p CROSS JOIN range(0, 2) i WHERE i.range < ns)
        |SELECT doc_id, CAST(i AS BIGINT) AS sm_idx,
        | CASE WHEN i = 0 THEN 'https://example.com/sitemap.xml'
        |  ELSE 'https://ex' || (doc_id % 7) || '.org/maps/s' || (i - 1) ||
        |    '.xml' END AS sitemap_url
        |FROM e ORDER BY doc_id, sm_idx""".stripMargin))

  // ------------------------------------------- Markdown stripping
  // README/docs corpora are among the largest public text sources and
  // their markup inflates shingles like HTML chrome. The documented
  // CommonMark subset all on the hash: ATX + setext headings,
  // emphasis/strong/code spans, inline + REFERENCE links, an image's
  // alt text, a fenced code block kept verbatim (fences dropped),
  // nested blockquotes, both list forms, a thematic break, an
  // autolink, and a reference definition that must vanish. Per-row,
  // zero shuffle.
  private val markdownTextQ = Q(
    (s, dir) => {
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"),
          MarkdownFunctions.markdown_text(MarkdownFunctions.synth_markdown(col("doc_id")))
            .as("text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS ni FROM documents),
        | it AS (SELECT doc_id,
        |    string_agg('item ' || i.range || ' of ' || doc_id,
        |      chr(10) ORDER BY i.range) AS itxt
        |   FROM p CROSS JOIN range(0, 5) i WHERE i.range < ni
        |   GROUP BY doc_id)
        |SELECT p.doc_id,
        | 'Project ' || (p.doc_id % 100) || chr(10) || chr(10) ||
        | 'Intro with bold ' || (p.doc_id % 9) ||
        |   ' and italic words plus inline code v' || p.doc_id || '.' ||
        |   chr(10) || chr(10) ||
        | 'Setext Title' || chr(10) || chr(10) ||
        | 'see the docs ' || (p.doc_id % 5) || ' and ref guide here' ||
        |   chr(10) || chr(10) ||
        | 'val x' || p.doc_id || ' = ' || (p.doc_id % 7) || chr(10) ||
        | 'println(x' || p.doc_id || ')' || chr(10) || chr(10) ||
        | it.itxt || chr(10) || chr(10) ||
        | 'quoted wisdom ' || p.doc_id || chr(10) || chr(10) ||
        | 'logo-' || (p.doc_id % 4) || chr(10) ||
        | 'https://ex' || (p.doc_id % 7) || '.org/d' || p.doc_id AS text
        |FROM p JOIN it ON p.doc_id = it.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------------------------- RTF text extraction
  // The legacy office format email attachments still arrive in: a
  // real control-word parser with group-scoped \uc state. On the
  // hash: font/color/stylesheet/info tables and {\*\generator}
  // vanishing, cp1252 \'hh escapes INCLUDING the 0x80 block where
  // Latin-1 would be wrong, \uN with fallback skip, special-char
  // control words, and a \field whose instruction drops while its
  // result text stays. Per-row, zero shuffle.
  private val rtfTextQ = Q(
    (s, dir) => {
      val d = RtfFunctions.rtf_text(RtfFunctions.synth_rtf(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d.text").as("text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS np FROM documents),
        | pa AS (SELECT doc_id,
        |    string_agg('Para ' || i.range || ' of ' || doc_id || chr(8212) ||
        |      'x' || ((doc_id + i.range) % 9), chr(10) ORDER BY i.range)
        |      AS ptxt
        |   FROM p CROSS JOIN range(0, 3) i WHERE i.range < np
        |   GROUP BY doc_id)
        |SELECT p.doc_id,
        | 'Title ' || chr(8220) || 'doc ' || p.doc_id || chr(8221) || chr(10) ||
        | 'caf' || chr(233) || ' ' || chr(8364) || (p.doc_id % 50) || ' ' ||
        |   chr(215) || (p.doc_id % 5) || chr(10) ||
        | pa.ptxt || chr(10) ||
        | 'link text ' || (p.doc_id % 7) || chr(10) ||
        | 'tab' || chr(9) || 'here ' || p.doc_id || chr(10) AS text
        |FROM p JOIN pa ON p.doc_id = pa.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------------------------- ODT text extraction
  // The OpenDocument half of the office family, sharing the verified
  // container walk (ODF magic-number rule: STORED mimetype first, and
  // a mimetype naming a non-ODT type rejects). The walk's rules all
  // sit on the hash: text:h/text:p lines, split spans, the text:s
  // space-run element with its text:c count, text:tab/line-break,
  // entities, table cells as ordinary lines, style scaffolding never
  // leaking. Closed-form oracle; per-row, zero shuffle.
  private val odtTextQ = Q(
    (s, dir) => {
      val d = OdtFunctions.odt_text(OdtFunctions.synth_odt(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.n_paragraphs").cast(LongType).as("n_paragraphs"),
          col("d.text").as("text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS nb FROM documents),
        | body AS (SELECT doc_id,
        |    string_agg('odt para ' || i.range || ' of ' || doc_id || ' ' ||
        |      repeat('v', CAST(2 + (doc_id + i.range) % 4 AS INT)),
        |      chr(10) ORDER BY i.range) AS btxt
        |   FROM p CROSS JOIN range(0, 3) i WHERE i.range < nb
        |   GROUP BY doc_id)
        |SELECT p.doc_id, CAST(8 + nb AS BIGINT) AS n_paragraphs,
        | 'Heading ' || p.doc_id || chr(10) ||
        | 'spans join ' || p.doc_id || chr(10) ||
        | 'gap' || repeat(' ', CAST(2 + p.doc_id % 3 AS INT)) || 'end ' ||
        |   (p.doc_id % 7) || chr(10) ||
        | 'tabbed' || chr(9) || 'here ' || p.doc_id || chr(10) ||
        | 'break' || chr(10) || 'line ' || p.doc_id || chr(10) ||
        | 'ent & < ' || p.doc_id || chr(10) ||
        | body.btxt || chr(10) ||
        | 'odt cell 0 ' || p.doc_id || chr(10) ||
        | 'odt cell 1 ' || p.doc_id AS text
        |FROM p JOIN body ON p.doc_id = body.doc_id
        |ORDER BY p.doc_id""".stripMargin))

  // ------------------------------------------- PPTX slide text
  // PresentationML rounds out the office family: slides are surfaced
  // in NUMERIC order (the fixture writes them to the archive in
  // reverse, so ordering sits on the hash), each assembling a:p
  // paragraphs, split a:t runs, a:br breaks, and entities, with run
  // properties and the layout tree contributing nothing. One row per
  // slide — pdf_text's paged shape. Per-row, zero shuffle until the
  // explode.
  private val pptxTextQ = Q(
    (s, dir) => {
      val d = PptxFunctions.pptx_text(PptxFunctions.synth_pptx(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"),
          col("d.n_slides").cast(LongType).as("n_slides"),
          posexplode(col("d.slides")).as(Seq("_p", "sl")))
        .select(col("doc_id"), col("n_slides"),
          col("sl.slide_idx").cast(LongType).as("slide_idx"),
          col("sl.text").as("text"))
        .orderBy("doc_id", "slide_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS ns FROM documents),
        | s AS (SELECT doc_id, ns, i.range AS s
        |       FROM p CROSS JOIN range(0, 3) i WHERE i.range < ns)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_slides,
        | CAST(s AS BIGINT) AS slide_idx,
        | 'Slide ' || (s + 1) || ' of deck ' || doc_id || chr(10) ||
        | 'bullet one ' || doc_id || ' ' || s || chr(10) ||
        | 'two-line' || chr(10) || 'bullet ' || ((doc_id + s) % 5) || chr(10) ||
        | 'amp & done ' || s AS text
        |FROM s ORDER BY doc_id, slide_idx""".stripMargin))

  // ------------------------------------------- XLSX cell extraction
  // The TABULAR office modality: sharedStrings (plain + RICH split-run
  // entries with entities) resolve t="s" cells, numeric/boolean/
  // formula-string/inlineStr cells carry their values verbatim, empty
  // cells are skipped, and sheets assemble in numeric order (written
  // reversed in the fixture). Cell refs (B3) resolve to 1-based
  // (row, col) — every piece on the hash. Per-row, zero shuffle until
  // the explode.
  private val xlsxCellsQ = Q(
    (s, dir) => {
      val d = XlsxFunctions.xlsx_cells(XlsxFunctions.synth_xlsx(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), explode(col("d.cells")).as("c"))
        .select(col("doc_id"),
          col("c.sheet").cast(LongType).as("sheet"),
          col("c.row").cast(LongType).as("row_n"),
          col("c.col").cast(LongType).as("col_n"),
          col("c.ctype").as("ctype"), col("c.value").as("value"))
        .orderBy("doc_id", "sheet", "row_n", "col_n")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nr,
        |   doc_id % 2 = 1 AS s2 FROM documents),
        | r AS (SELECT doc_id, i.range + 1 AS r
        |       FROM p CROSS JOIN range(0, 5) i WHERE i.range < nr),
        | c AS (
        |  SELECT doc_id, 1 AS sheet, r AS row_n, 1 AS col_n, 's' AS ctype,
        |    CASE (doc_id + r) % 3 WHEN 0 THEN 'name ' || doc_id
        |      WHEN 1 THEN 'alpha ' || doc_id
        |      ELSE 'x & y ' || (doc_id % 5) END AS value FROM r
        |  UNION ALL SELECT doc_id, 1, r, 2, 'n',
        |    CAST((doc_id * 7 + r * 13) % 900 AS VARCHAR) FROM r
        |  UNION ALL SELECT doc_id, 1, r, 3, 'b',
        |    CAST((doc_id + r) % 2 AS VARCHAR) FROM r
        |  UNION ALL SELECT doc_id, 1, r, 4, 'inlineStr',
        |    'in ' || doc_id || ' ' || r FROM r
        |  UNION ALL SELECT doc_id, 2, 1, 1, 'str',
        |    'sum ' || (doc_id % 11) FROM p WHERE s2)
        |SELECT doc_id, CAST(sheet AS BIGINT) AS sheet,
        | CAST(row_n AS BIGINT) AS row_n, CAST(col_n AS BIGINT) AS col_n,
        | ctype, value
        |FROM c ORDER BY doc_id, sheet, row_n, col_n""".stripMargin))

  // ------------------------------------------- sitemap parsing
  // robots_allowed's discovery sibling: the frontier seeds from
  // sitemaps and re-crawl scheduling reads lastmod. Both document
  // kinds on the hash — urlset entries (escaped-ampersand locs,
  // rotating lastmod/priority, a changefreq to skip) and the
  // sitemapindex shard-of-shards form. Per-row, zero shuffle until
  // the explode.
  private val sitemapUrlsQ = Q(
    (s, dir) => {
      val d = SitemapFunctions.sitemap_urls(SitemapFunctions.synth_sitemap(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d.kind").as("kind"),
          posexplode(col("d.entries")).as(Seq("entry_idx", "e")))
        .select(col("doc_id"), col("kind"),
          col("entry_idx").cast(LongType).as("entry_idx"),
          col("e.loc").as("loc"), col("e.lastmod").as("lastmod"),
          col("e.priority").as("priority"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, (doc_id % 5 = 0) AS idx,
        |   2 + doc_id % 4 AS ne FROM documents),
        | e AS (SELECT doc_id, idx, i.range AS i
        |       FROM p CROSS JOIN range(0, 6) i WHERE i.range < ne)
        |SELECT doc_id,
        | CASE WHEN idx THEN 'sitemapindex' ELSE 'urlset' END AS kind,
        | CAST(i AS BIGINT) AS entry_idx,
        | CASE WHEN idx
        |  THEN 'https://ex' || (doc_id % 7) || '.org/sitemap' || i || '.xml.gz'
        |  ELSE 'https://ex' || (doc_id % 7) || '.org/page?id=' || i ||
        |    '&v=' || ((doc_id + i) % 9) END AS loc,
        | CASE WHEN (doc_id + i) % 3 <> 0 THEN
        |   '2025-' || lpad(CAST(1 + (doc_id + i) % 12 AS VARCHAR), 2, '0') ||
        |   '-' || lpad(CAST(1 + (doc_id * 3 + i) % 28 AS VARCHAR), 2, '0')
        |  ELSE NULL END AS lastmod,
        | CASE WHEN NOT idx AND (doc_id + i) % 2 = 0
        |  THEN '0.' || (1 + (doc_id + i) % 9) ELSE NULL END AS priority
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin))

  // ------------------------------------------- feed parsing
  // The third discovery channel: RSS 2.0 and Atom parse to one entry
  // shape. The fixture alternates dialects by seed, with the corners
  // that break naive parsers on the hash: a CDATA title lane, missing
  // timestamps surfacing null (feeds omit freely — disclosed), and
  // Atom entries whose rel="alternate" link must beat an EARLIER
  // enclosure link. Per-row, zero shuffle until the explode.
  private val feedEntriesQ = Q(
    (s, dir) => {
      val d = FeedFunctions.feed_entries(FeedFunctions.synth_feed(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d.format").as("format"),
          col("d.feed_title").as("feed_title"),
          posexplode(col("d.entries")).as(Seq("entry_idx", "e")))
        .select(col("doc_id"), col("format"), col("feed_title"),
          col("entry_idx").cast(LongType).as("entry_idx"),
          col("e.title").as("title"), col("e.link").as("link"),
          col("e.ts").as("ts"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, doc_id % 2 = 1 AS atom,
        |   1 + doc_id % 3 AS ne FROM documents),
        | e AS (SELECT doc_id, atom, i.range AS i
        |       FROM p CROSS JOIN range(0, 3) i WHERE i.range < ne)
        |SELECT doc_id,
        | CASE WHEN atom THEN 'atom' ELSE 'rss' END AS format,
        | 'Feed & co ' || doc_id AS feed_title,
        | CAST(i AS BIGINT) AS entry_idx,
        | 'Post ' || i || ' <ep ' || ((doc_id + i) % 8) || '>' AS title,
        | 'https://ex' || (doc_id % 7) || '.org/post/' || i AS link,
        | CASE WHEN (doc_id + i) % 4 <> 0 THEN
        |   CASE WHEN atom THEN '2025-' ||
        |     lpad(CAST(1 + (doc_id + i) % 12 AS VARCHAR), 2, '0') ||
        |     '-03T10:0' || i || ':00Z'
        |    ELSE 'Mon, ' || (1 + (doc_id + i) % 28) || ' Apr 2025 10:0' ||
        |     i || ':00 GMT' END
        |  ELSE NULL END AS ts
        |FROM e ORDER BY doc_id, entry_idx""".stripMargin))

  // ------------------------------------------- Ogg Opus packet lattice
  // The decide-and-close answer for Opus (crawled audio's third pillar
  // after MP3/Vorbis): the packet-level inventory RFC 6716's TOC byte
  // makes extractable with certainty and zero codec state — coding
  // mode, bandwidth, frame duration, stereo flag, and frame count
  // through all four frame-count codes, validated against the 120 ms
  // ceiling — over real RFC 7845 OpusHead/OpusTags headers on the
  // CRC-verified Ogg walk. Full SILK/CELT PCM decode is scoped out
  // (see OpusPackets' scaladoc); this is what duration accounting and
  // mode stratification need before any fetch-side decode. Per-row,
  // zero shuffle until the explode.
  private val opusPacketsQ = Q(
    (s, dir) => {
      val o = OpusFunctions.opus_packets(OpusFunctions.synth_ogg_opus(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), o.as("o"))
        .select(col("doc_id"),
          col("o.channels").cast(LongType).as("channels"),
          col("o.pre_skip").cast(LongType).as("pre_skip"),
          posexplode(col("o.packets")).as(Seq("packet_idx", "p")))
        .select(col("doc_id"), col("channels"), col("pre_skip"),
          col("packet_idx").cast(LongType).as("packet_idx"),
          col("p.config").cast(LongType).as("config"),
          col("p.mode").as("mode"),
          col("p.bandwidth").as("bandwidth"),
          col("p.stereo").as("stereo"),
          col("p.n_frames").cast(LongType).as("n_frames"),
          col("p.frame_ms_x10").cast(LongType).as("frame_ms_x10"),
          col("p.n_samples48").cast(LongType).as("n_samples48"))
        .orderBy("doc_id", "packet_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 4 AS n,
        |   doc_id % 2 = 1 AS st FROM documents),
        | k AS (SELECT doc_id, st, i.range AS pi,
        |        (doc_id + 5 * i.range) % 32 AS cfg,
        |        CAST(i.range % 4 AS INT) AS code
        |       FROM p CROSS JOIN range(0, 6) i WHERE i.range < n),
        | e AS (SELECT doc_id, st, pi, cfg, code,
        |        CASE WHEN cfg < 12 THEN (CASE cfg % 4 WHEN 0 THEN 100
        |          WHEN 1 THEN 200 WHEN 2 THEN 400 ELSE 600 END)
        |         WHEN cfg < 16 THEN (CASE cfg % 2 WHEN 0 THEN 100
        |          ELSE 200 END)
        |         ELSE (CASE cfg % 4 WHEN 0 THEN 25 WHEN 1 THEN 50
        |          WHEN 2 THEN 100 ELSE 200 END) END AS msx10,
        |        CASE WHEN cfg < 12 THEN 'silk' WHEN cfg < 16 THEN 'hybrid'
        |         ELSE 'celt' END AS mode,
        |        CASE WHEN cfg < 12 THEN (CASE cfg // 4 WHEN 0 THEN 'nb'
        |          WHEN 1 THEN 'mb' ELSE 'wb' END)
        |         WHEN cfg < 16 THEN (CASE (cfg - 12) // 2 WHEN 0 THEN 'swb'
        |          ELSE 'fb' END)
        |         ELSE (CASE (cfg - 16) // 4 WHEN 0 THEN 'nb'
        |          WHEN 1 THEN 'wb' WHEN 2 THEN 'swb' ELSE 'fb' END) END AS bw,
        |        CASE code WHEN 0 THEN 1 WHEN 3 THEN 1 + pi % 2
        |         ELSE 2 END AS nf
        |       FROM k)
        |SELECT doc_id, CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        | CAST(312 AS BIGINT) AS pre_skip,
        | CAST(pi AS BIGINT) AS packet_idx, CAST(cfg AS BIGINT) AS config,
        | mode, bw AS bandwidth, st AS stereo,
        | CAST(nf AS BIGINT) AS n_frames, CAST(msx10 AS BIGINT) AS frame_ms_x10,
        | CAST(nf * msx10 * 48 // 10 AS BIGINT) AS n_samples48
        |FROM e ORDER BY doc_id, packet_idx""".stripMargin))

  // ---------------------------------------- MP4 per-sample byte ranges
  // The step past mp4_tracks' inventory: stsc sample-to-chunk runs and
  // stco/co64 chunk offsets resolved against stsz into one
  // (offset, size) per sample — what a fetch layer needs to pull media
  // bytes without a codec. The fixture's layout contract is pure
  // arithmetic (free-box pad to 4096, mdat payload at 4104, video in
  // 4-sample chunks with 16-byte inter-chunk gaps, audio as one
  // fixed-size chunk after the video bytes), so the oracle replays
  // every offset with a window prefix-sum. Even docs carry stco (u32),
  // odd docs co64 (u64) — both offset-box forms on the hash. Per-row,
  // zero shuffle until the explode.
  private val mp4SamplesQ = Q(
    (s, dir) => {
      val m = Mp4TrackFunctions.mp4_samples(Mp4TrackFunctions.synth_mp4_samples(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"), posexplode(col("m.tracks")).as(Seq("trk", "t")))
        .select(col("doc_id"), col("trk").cast(LongType).as("trk"),
          col("t.handler").as("handler"), col("t.codec").as("codec"),
          posexplode(arrays_zip(col("t.offsets").as("o"),
            col("t.sizes").as("z"))).as(Seq("sample_idx", "y")))
        .select(col("doc_id"), col("trk"), col("handler"), col("codec"),
          col("sample_idx").cast(LongType).as("sample_idx"),
          col("y.o").as("offset"), col("y.z").as("size"))
        .orderBy("doc_id", "trk", "sample_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 10 + doc_id % 20 AS nv, 20 + doc_id % 30 AS na,
        |   64 + doc_id % 64 AS asz, (doc_id % 2 = 1) AS has_audio
        | FROM documents),
        | v AS (SELECT doc_id, nv, i.range AS j,
        |        100 + (doc_id * 7 + i.range * 13) % 900 AS sz
        |       FROM p CROSS JOIN range(0, 30) i WHERE i.range < nv),
        | vo AS (SELECT doc_id, j, sz,
        |        4104 + 16 * (j // 4) +
        |        COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY j
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |       FROM v),
        | vt AS (SELECT doc_id, SUM(sz) AS total_v FROM v GROUP BY doc_id),
        | a AS (SELECT p.doc_id, j.range AS j, asz AS sz,
        |        4104 + 16 * ((nv + 3) // 4) + vt.total_v + j.range * asz AS off
        |       FROM p JOIN vt ON p.doc_id = vt.doc_id
        |       CROSS JOIN range(0, 50) j
        |       WHERE has_audio AND j.range < na),
        | rows_ AS (
        |  SELECT doc_id, 0 AS trk, 'vide' AS handler, 'avc1' AS codec,
        |   j, off, sz FROM vo
        |  UNION ALL
        |  SELECT doc_id, 1, 'soun', 'mp4a', j, off, sz FROM a)
        |SELECT doc_id, CAST(trk AS BIGINT) AS trk, handler, codec,
        | CAST(j AS BIGINT) AS sample_idx, CAST(off AS BIGINT) AS offset,
        | CAST(sz AS BIGINT) AS size
        |FROM rows_ ORDER BY doc_id, trk, sample_idx""".stripMargin))

  // ----------------------------------- fragmented-MP4 per-sample ranges
  // The moof/traf/trun shape crawled DASH/CMAF video actually arrives
  // in — moov carries EMPTY sample tables, so mp4_samples' stbl
  // resolution cannot address a single byte; the ranges live in the
  // movie fragments. The fixture carries the SAME logical samples as
  // mp4_samples (identical per-sample size formulas) re-laid as real
  // fragments, and rotates the tfhd/trun flag matrix so every
  // inheritance path sits on the hash: even video fragments inherit
  // their base from default-base-is-moof, odd ones carry an explicit
  // u64 base_data_offset (plus first-sample-flags); audio sizes come
  // from the tfhd default on all but the LAST fragment, which inherits
  // from mvex/trex — the deepest link of the fragmented defaults
  // chain. The oracle replays the layout arithmetic in closed form
  // (see Mp4FragSynth's scaladoc). Per-row, zero shuffle until the
  // explode.
  private val mp4FragSamplesQ = Q(
    (s, dir) => {
      val m = Mp4FragFunctions.mp4_frag_samples(Mp4FragFunctions.synth_mp4_frag(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"), posexplode(col("m.tracks")).as(Seq("trk", "t")))
        .select(col("doc_id"), col("trk").cast(LongType).as("trk"),
          col("t.handler").as("handler"), col("t.codec").as("codec"),
          posexplode(arrays_zip(col("t.offsets").as("o"),
            col("t.sizes").as("z"))).as(Seq("sample_idx", "y")))
        .select(col("doc_id"), col("trk"), col("handler"), col("codec"),
          col("sample_idx").cast(LongType).as("sample_idx"),
          col("y.o").as("offset"), col("y.z").as("size"))
        .orderBy("doc_id", "trk", "sample_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 10 + doc_id % 20 AS nv, 20 + doc_id % 30 AS na,
        |   64 + doc_id % 64 AS asz, (doc_id % 2 = 1) AS has_audio,
        |   (10 + doc_id % 20 + 3) // 4 AS nf
        | FROM documents),
        | v AS (SELECT doc_id, nv, i.range AS j,
        |        100 + (doc_id * 7 + i.range * 13) % 900 AS sz,
        |        i.range // 4 AS f
        |       FROM p CROSS JOIN range(0, 30) i WHERE i.range < nv),
        | vps AS (SELECT doc_id, j, sz, f,
        |        COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY j
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_j
        |       FROM v),
        | vfs AS (SELECT doc_id, f, MIN(s_j) AS s_4f, COUNT(*) AS spc
        |       FROM vps GROUP BY doc_id, f),
        | vo AS (SELECT vps.doc_id, vps.j, vps.sz,
        |        4096 + 68 * ((vps.f + 1) // 2) + 80 * (vps.f // 2)
        |         + 24 * vps.f + vfs.s_4f
        |         + (CASE WHEN vps.f % 2 = 1 THEN 80 ELSE 68 END)
        |         + 4 * vfs.spc + 8 + (vps.s_j - vfs.s_4f) AS off
        |       FROM vps JOIN vfs ON vps.doc_id = vfs.doc_id AND vps.f = vfs.f),
        | vt AS (SELECT doc_id, SUM(sz) AS total_v FROM v GROUP BY doc_id),
        | a0 AS (SELECT p.doc_id, na, asz,
        |        4096 + 68 * ((nf + 1) // 2) + 80 * (nf // 2)
        |         + 4 * nv + 8 * nf + vt.total_v AS base
        |       FROM p JOIN vt ON p.doc_id = vt.doc_id WHERE has_audio),
        | a AS (SELECT a0.doc_id, j.range AS j, asz AS sz,
        |        base + (j.range // 8) * (80 + 8 * asz)
        |         + (CASE WHEN j.range // 8 = (na + 7) // 8 - 1
        |            THEN 68 ELSE 72 END) + 8 + (j.range % 8) * asz AS off
        |       FROM a0 CROSS JOIN range(0, 50) j WHERE j.range < na),
        | rows_ AS (
        |  SELECT doc_id, 0 AS trk, 'vide' AS handler, 'avc1' AS codec,
        |   j, off, sz FROM vo
        |  UNION ALL
        |  SELECT doc_id, 1, 'soun', 'mp4a', j, off, sz FROM a)
        |SELECT doc_id, CAST(trk AS BIGINT) AS trk, handler, codec,
        | CAST(j AS BIGINT) AS sample_idx, CAST(off AS BIGINT) AS offset,
        | CAST(sz AS BIGINT) AS size
        |FROM rows_ ORDER BY doc_id, trk, sample_idx""".stripMargin))

  // ----------------------------------------- subtitle cue extraction
  // Video-text pairs are a first-class training product, and subtitle
  // cues are the only time-aligned text crawled video ships with. Even
  // docs travel as SRT (comma millis, numeric indices, an &amp; entity
  // + <i> span on the text), odd docs as WebVTT (NOTE block, cue
  // identifier lines, settings after the arrow, <b>/<c.*> spans, an
  // inline timestamp tag, a numeric entity) — both decode to the SAME
  // closed-form text the oracle rebuilds. Per-row parse, zero shuffle
  // until the explode.
  private val subtitleTextQ = Q(
    (s, dir) => {
      val c = SubtitleFunctions.subtitle_cues(SubtitleFunctions.synth_subtitle(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), c.as("c"))
        .select(col("doc_id"), col("c.format").as("format"),
          explode(col("c.cues")).as("q"))
        .select(col("doc_id"), col("format"),
          col("q.idx").cast(LongType).as("cue_idx"),
          col("q.start_ms").as("start_ms"),
          col("q.end_ms").as("end_ms"),
          col("q.text").as("text"))
        .orderBy("doc_id", "cue_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 3 + doc_id % 4 AS n,
        |  CASE WHEN doc_id % 2 = 1 THEN 'webvtt' ELSE 'srt' END AS format,
        |  doc_id % 13 AS off FROM documents),
        | c AS (SELECT doc_id, format, i.range + 1 AS idx,
        |        97 * i.range + off AS start_ms
        |       FROM p CROSS JOIN range(0, 7) i WHERE i.range < n)
        |SELECT doc_id, format, CAST(idx AS BIGINT) AS cue_idx,
        | CAST(start_ms AS BIGINT) AS start_ms,
        | CAST(start_ms + 211 AS BIGINT) AS end_ms,
        | 'cue ' || doc_id || ' ' || idx || ' & one' || chr(10) ||
        |   'line ' || idx || ' two' AS text
        |FROM c ORDER BY doc_id, cue_idx""".stripMargin))

  // ------------------------------------ subtitle-to-frame pairing join
  // The join that makes cues useful: align each cue's [start, end)
  // window against the video track's sample clock (the MP4 fixtures'
  // 30000/1001 timescale — sample j lands at (j·1001000) div 30000 ms)
  // and count the frames a cue captions. Computed per-row with
  // sequence/filter higher-order functions over the track's sample
  // count — at 100 TB this is the zero-shuffle form of the range join
  // (per document, cue windows and the sample clock are both bounded);
  // the oracle replays it with a generate_series list comprehension.
  private val subtitleFramePairingQ = Q(
    (s, dir) => {
      val c = SubtitleFunctions.subtitle_cues(SubtitleFunctions.synth_subtitle(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), c.as("c"),
          (lit(10L) + col("doc_id") % 20).as("nv"))
        .select(col("doc_id"), col("nv"), explode(col("c.cues")).as("q"))
        .select(col("doc_id"),
          col("q.idx").cast(LongType).as("cue_idx"),
          col("q.start_ms").as("start_ms"),
          col("q.end_ms").as("end_ms"),
          expr("""size(filter(transform(sequence(0L, nv - 1L),
            j -> (j * 1001000) div 30000),
            t -> t >= q.start_ms AND t < q.end_ms))""")
            .cast(LongType).as("n_frames"))
        .orderBy("doc_id", "cue_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 3 + doc_id % 4 AS n, doc_id % 13 AS off,
        |  10 + doc_id % 20 AS nv FROM documents),
        | c AS (SELECT doc_id, nv, i.range + 1 AS idx,
        |        97 * i.range + off AS start_ms,
        |        97 * i.range + off + 211 AS end_ms
        |       FROM p CROSS JOIN range(0, 7) i WHERE i.range < n)
        |SELECT doc_id, CAST(idx AS BIGINT) AS cue_idx,
        | CAST(start_ms AS BIGINT) AS start_ms,
        | CAST(end_ms AS BIGINT) AS end_ms,
        | CAST(len([j FOR j IN generate_series(0, nv - 1)
        |   IF (j * 1001000) // 30000 >= start_ms
        |      AND (j * 1001000) // 30000 < end_ms]) AS BIGINT) AS n_frames
        |FROM c ORDER BY doc_id, cue_idx""".stripMargin))

  // ------------------------------------------ MJPEG-in-MP4 frame stats
  // The MP4 twin of video_mjpeg_frames: the video track's samples are
  // complete baseline JPEGs addressed THROUGH the real stsc/stco/stsz
  // resolution and decoded by the same JpegCodec with the same stride
  // contract. The fixture packs the SAME JpegSynth frames as the AVI
  // twin, so the oracle is LITERALLY the AVI key's SQL — the two
  // containers must be byte-identical at the statistics level
  // (additionally spec-pinned array-for-array). Per-row, zero shuffle.
  private val mp4MjpegFramesQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val h = lit(16L)
      val frames = lit(3L) + col("doc_id") % 4
      val v = Mp4TrackFunctions.mp4_mjpeg_frames(
        Mp4TrackFunctions.synth_mp4_mjpeg(w, h, frames, col("doc_id")), 2)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          col("v.width").cast(LongType).as("width"),
          col("v.height").cast(LongType).as("height"),
          col("v.codec").as("codec"),
          col("v.n_frames").cast(LongType).as("n_frames"),
          posexplode(arrays_zip(col("v.frame_idx").as("fi"),
            col("v.r_sums").as("rs"), col("v.g_sums").as("gs"),
            col("v.b_sums").as("bs"))).as(Seq("_p", "z")))
        .select(col("doc_id"), col("width"), col("height"), col("codec"),
          col("n_frames"),
          col("z.fi").cast(LongType).as("frame_idx"),
          col("z.rs").as("r_sum"),
          col("z.gs").as("g_sum"),
          col("z.bs").as("b_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    3 + doc_id % 4 AS frames FROM documents),
        | f AS (SELECT p.*, fr.range AS f, doc_id + 131 * fr.range AS sd
        |       FROM p CROSS JOIN range(0, 6) fr
        |       WHERE fr.range < frames AND fr.range % 2 = 0),
        | blk AS (SELECT doc_id, w, h, frames, f, sd, b.range AS bi
        |         FROM f CROSS JOIN range(0, 8) b
        |         WHERE b.range < (w // 8) * (h // 8)),
        | a AS (SELECT doc_id, w, h, frames, f, sd,
        |        SUM(64 * (64 + (sd * 31 + bi * 17) % 128)) AS y_sum
        |       FROM blk GROUP BY 1, 2, 3, 4, 5, 6),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | 'mjpg' AS codec, CAST(frames AS BIGINT) AS n_frames,
        | CAST(f AS BIGINT) AS frame_idx,
        | CAST(y_sum + w * h * sr AS BIGINT) AS r_sum,
        | CAST(y_sum + w * h * sg AS BIGINT) AS g_sum,
        | CAST(y_sum + w * h * sb AS BIGINT) AS b_sum
        |FROM a JOIN shifts ON shifts.v = CAST(sd % 4 AS INT)
        |ORDER BY doc_id, frame_idx""".stripMargin))

  // ------------------------------------------------ HTML text extraction
  // The step between warc_records and every text operator: crawls hand
  // you MARKUP, and dedup/quality/LM scoring consume text. The
  // extraction rules are fixed and engine-agnostic (scripts/styles/
  // comments dropped with contents, block tags break lines, entities
  // decoded, whitespace collapsed — see HtmlTextExtract's scaladoc),
  // and the fixture front-loads the classic traps: a quoted '>' inside
  // an attribute value, '>' inside a comment, entity references, tab/
  // newline/double-space runs that must collapse, an inline <b> span
  // flowing into its line. The oracle replays the expected VISIBLE
  // text from the formulas and both engines md5 it. Per-row, zero
  // shuffle.
  private val htmlTextQ = Q(
    (s, dir) => {
      val h = HtmlFunctions.html_text(HtmlFunctions.synth_html(col("doc_id")))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), h.as("h"))
        .select(col("doc_id"),
          col("h.title").as("title"),
          col("h.n_links").cast(LongType).as("n_links"),
          length(col("h.text")).cast(LongType).as("text_len"),
          md5(col("h.text").cast(BinaryType)).as("text_md5"))
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS np, doc_id % 3 AS nl
        |           FROM documents),
        | pl AS (SELECT doc_id, 0 AS grp, i.range AS idx,
        |         'para&' || doc_id || ' ' || i.range || ' ' ||
        |           repeat('wx', 3 + (doc_id + i.range) % 5) AS line
        |        FROM p CROSS JOIN range(0, 5) i WHERE i.range < np
        |        UNION ALL
        |        SELECT doc_id, 1, k.range,
        |         'link ' || doc_id || ' ' || k.range
        |        FROM p CROSS JOIN range(0, 3) k WHERE k.range < nl),
        | t AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY grp, idx)
        |         AS text FROM pl GROUP BY doc_id)
        |SELECT p.doc_id, 'Title ' || (p.doc_id % 9) AS title,
        | CAST(p.nl AS BIGINT) AS n_links,
        | CAST(length(t.text) AS BIGINT) AS text_len,
        | md5(t.text) AS text_md5
        |FROM p JOIN t ON p.doc_id = t.doc_id ORDER BY p.doc_id""".stripMargin))

  // ------------------------- end-to-end CRAWL dedup pipeline (WARC in)
  // The literal Common Crawl shape, composed in ONE plan: concatenated
  // gzip members (FHCRC + multi-record members on the path) → WARC
  // response records → HTTP header strip → HTML visible-text
  // extraction (entities, inline spans, script/style skip) → minhash
  // signatures → banded LSH candidates → exact-jaccard verify →
  // per-pair keep-min survivors. Every stage before the signature
  // groupBy is PER-ROW (decode expressions compose inside one
  // projection — no shuffle until banding, pinned by PlanSpec), so the
  // 100 TB plan reads each WARC once and shuffles only compact
  // signatures and candidate ids. The fixture's dup-groups of 3 (base /
  // near-dup / unrelated) make the removal set exactly the variant-1
  // docs; the oracle replays extraction output in closed form and the
  // full md5-minhash machinery in SQL.
  private def crawlCorpus(s: SparkSession, dir: String): DataFrame = {
    val w = WarcFunctions.warc_records(WarcFunctions.synth_warc_html_gz(col("doc_id")))
    Tables.documentSeeds(s, dir)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), explode(col("w.records")).as("r"))
      .filter(col("r.rec_type") === "response")
      .select(col("doc_id"), col("r.body").as("body"))
      .select(col("doc_id"), col("body")
        .substr(locate("\r\n\r\n", col("body")) + 4, length(col("body")))
        .as("html"))
      .select(col("doc_id"), HtmlFunctions.html_text(col("html")).as("h"))
      .select(col("doc_id"), col("h.text").as("text"))
  }

  private val crawlCorpusSql =
    """SELECT doc_id,
      | CASE WHEN doc_id % 3 = 2 THEN
      |  'alt ' || (doc_id // 3) || ' ' ||
      |  array_to_string([ 'u' || (((doc_id // 3) * 11 + i * 17 + 3) % 99991)
      |    for i in generate_series(0, 9)], ' ')
      | ELSE
      |  'page ' || (doc_id // 3) || ' ' ||
      |  array_to_string([ 't' || (((doc_id // 3) * 7 + i * 13) % 99991)
      |    for i in generate_series(0, 9)], ' ') ||
      |  CASE WHEN doc_id % 3 = 1 THEN ' extra' || ((doc_id // 3) % 9)
      |   ELSE '' END
      | END AS text
      |FROM documents""".stripMargin

  private val crawlDedupPipelineQ = Q(
    (s, dir) => {
      val corpus = crawlCorpus(s, dir)
      val sig = ScaleOps.minhashSignatureTable(corpus, "doc_id", "text", k = 8)
      val removed = verifiedPairs(corpus, sig)
        .select(col("id2").as("doc_id")).distinct()
      corpus
        .join(removed.withColumn("_dup", lit(1)).hint("shuffle_hash"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("_dup").isNull.as("kept"),
          length(col("text")).cast(LongType).as("text_len"),
          md5(col("text").cast(BinaryType)).as("text_md5"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH ${minhashOracleCtesFor(crawlCorpusSql)},
         | cand AS (SELECT DISTINCT id1, id2 FROM pairs),
         | sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         | verified AS (SELECT id1, id2 FROM (
         |   SELECT cand.id1, cand.id2,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |   FROM cand JOIN sets a ON cand.id1 = a.doc_id
         |   JOIN sets b ON cand.id2 = b.doc_id)
         |  WHERE jaccard >= $dedupJaccardThreshold),
         | removed AS (SELECT DISTINCT id2 AS doc_id FROM verified)
         |SELECT c.doc_id, (r.doc_id IS NULL) AS kept,
         | CAST(length(c.text) AS BIGINT) AS text_len,
         | md5(c.text) AS text_md5
         |FROM corpus c LEFT JOIN removed r ON c.doc_id = r.doc_id
         |ORDER BY c.doc_id""".stripMargin))

  // ------------------------------------------- WARC/gzip record extract
  // The storage shape web crawls ARRIVE in: Common Crawl WARC/WET files
  // are concatenated gzip members, one WARC record per member. The
  // decode is real end to end — per-member gzip header walk (odd
  // members carry FNAME fields), JDK inflate, and CRC-32 + ISIZE
  // trailers VERIFIED against the decompressed bytes — then the
  // WARC/1.0 header parse (version line, header block, Content-Length
  // body, the record-separating CRLF pair). The oracle replays the
  // record formulas: URIs and bodies are seed arithmetic, and md5(body)
  // is computed by BOTH engines over the decompressed text, so a single
  // corrupted byte anywhere in inflate/CRC/parse flips the hash. The
  // warcinfo member is position 0 (rec_idx of the conversion records
  // starts at 1), proving multi-member offsets advance exactly.
  // Per-row, zero shuffle until the explode.
  private val warcRecordsQ = Q(
    (s, dir) => {
      val w = WarcFunctions.warc_records(WarcFunctions.synth_warc_gz(col("doc_id")))
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"),
          col("w.n_members").cast(LongType).as("n_members"),
          posexplode(col("w.records")).as(Seq("rec_idx", "r")))
        .filter(col("r.rec_type") === "conversion")
        .select(col("doc_id"), col("n_members"),
          col("rec_idx").cast(LongType).as("rec_idx"),
          col("r.uri").as("uri"),
          length(col("r.body")).cast(LongType).as("body_len"),
          md5(col("r.body").cast(BinaryType)).as("body_md5"))
        .orderBy("doc_id", "rec_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS recs,
        |   CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS paired
        | FROM documents),
        | r AS (SELECT doc_id, recs, paired, rr.range AS rec
        |       FROM p CROSS JOIN range(0, 5) rr WHERE rr.range < recs),
        | b AS (SELECT doc_id, recs, paired, rec,
        |        'text ' || doc_id || ' ' || rec || ' ' ||
        |          repeat('ab', 5 + (doc_id + rec) % 9) AS body FROM r)
        |SELECT doc_id,
        | CAST(recs + 1 - paired AS BIGINT) AS n_members,
        | CAST(rec + 1 AS BIGINT) AS rec_idx,
        | 'https://example.com/' || doc_id || '/' || rec AS uri,
        | CAST(length(body) AS BIGINT) AS body_len,
        | md5(body) AS body_md5
        |FROM b ORDER BY doc_id, rec_idx""".stripMargin))

  // ------------------------------------------------ ID3v2 tag metadata
  // The audio-side exif_meta: title/artist/album/year from real ID3v2
  // tags prepended to real Layer III streams. Even docs travel as
  // v2.3 (PLAIN u32 frame sizes, ISO-8859-1 title/album, a
  // UTF-16-with-BOM artist alternating both endiannesses, TYER); odd
  // docs as v2.4 (SYNCSAFE frame sizes — mixing the two conventions
  // walks off-frame and rejects — UTF-8 text, TDRC timestamp whose
  // year is its first four chars). The decoder also verifies the tag
  // does not break the FRAME WALK: mp3_meta must still count the
  // frames behind the tag (n_samples column). Per-row, zero shuffle.
  private val id3MetaQ = Q(
    (s, dir) => {
      val payload = Id3Functions.synth_mp3_id3(col("doc_id"))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), Id3Functions.id3_meta(payload).as("m"),
          Mp3Functions.mp3_meta(payload).as("w"))
        .select(col("doc_id"),
          col("m.version").cast(LongType).as("version"),
          col("m.title").as("title"),
          col("m.artist").as("artist"),
          col("m.album").as("album"),
          col("m.year").as("year"),
          col("w.n_frames").cast(LongType).as("n_samples"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS BIGINT) AS version,
        | 'TITLE' || (doc_id % 9) AS title,
        | 'ARTIST' || (doc_id % 7) AS artist,
        | 'ALBUM' || (doc_id % 5) AS album,
        | CAST(1990 + doc_id % 30 AS VARCHAR) AS year,
        | CAST((2 + doc_id % 3) * 1152 AS BIGINT) AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin))

  // -------------------------------------------------- real audio decode
  // The waveform half of the multimodal stage, REAL end-to-end: complete
  // valid PCM WAV files (canonical header AND every sample byte, 8-bit
  // unsigned and 16-bit little-endian two's complement, mono and stereo)
  // are built arithmetically from doc_id, the native PcmDecode
  // expression walks the RIFF chunks back to normalized signed samples,
  // and PcmChannelStats folds them into per-channel sums / peak
  // amplitudes / zero-crossing counts — all integer-exact. The oracle
  // recomputes the statistics from the same generative formula
  // (including the interleave k = frame·ch + channel and the sign
  // conventions of both sample widths), so a hash match proves the
  // decoder inverts the real PCM encoding sample-for-sample. One
  // codegen'd byte walk per row, zero shuffle — the 100 TB shape.
  // Golden fixed-byte decodes and corrupt-header fallbacks live in
  // ScaleOpsSpec.
  private val audioPcmQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 2
      val rate = lit(8000L) + (col("doc_id") * 441) % 8000
      val frames = lit(50L) + col("doc_id") % 150
      val payload = when(col("doc_id") % 3 === 0,
          ScaleOps.synthWavPcm(ch, rate, 8, frames, col("doc_id")))
        .otherwise(ScaleOps.synthWavPcm(ch, rate, 16, frames, col("doc_id")))
      val d = PcmFunctions.pcm_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d"),
          PcmFunctions.pcm_channel_stats(col("d")).as("st"))
        .select(col("doc_id"), col("d"), col("st"),
          posexplode(col("st.sums")).as(Seq("channel", "amp_sum")))
        .select(col("doc_id"),
          col("d.format").as("format"),
          col("d.channels").cast(LongType).as("channels"),
          col("d.sample_rate").cast(LongType).as("sample_rate"),
          col("d.bits").cast(LongType).as("bits"),
          col("d.n_frames").cast(LongType).as("n_frames"),
          col("channel").cast(LongType).as("channel"),
          col("amp_sum"),
          element_at(col("st.peaks"), col("channel") + 1).as("peak"),
          element_at(col("st.zero_crossings"), col("channel") + 1).as("zero_cross"))
        .orderBy("doc_id", "channel")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    8000 + (doc_id * 441) % 8000 AS rate,
        |    50 + doc_id % 150 AS frames
        |   FROM documents),
        | k AS (SELECT p.*, f.range AS f, c.range AS c, f.range * ch + c.range AS k
        |       FROM p CROSS JOIN range(0, 200) f CROSS JOIN range(0, 2) c
        |       WHERE f.range < frames AND c.range < ch),
        | s AS (SELECT *, CASE WHEN bits = 8
        |          THEN (doc_id * 13 + k * 7) % 256 - 128
        |          ELSE CASE WHEN (doc_id * 13 + k * 7) % 65536 >= 32768
        |               THEN (doc_id * 13 + k * 7) % 65536 - 65536
        |               ELSE (doc_id * 13 + k * 7) % 65536 END END AS v
        |       FROM k),
        | z AS (SELECT *, CASE WHEN lag(v) OVER w IS NULL THEN 0
        |          WHEN (v < 0) <> (lag(v) OVER w < 0) THEN 1 ELSE 0 END AS zc
        |       FROM s WINDOW w AS (PARTITION BY doc_id, c ORDER BY f)),
        | a AS (SELECT doc_id, ch, bits, rate, frames, c,
        |        SUM(v) AS amp_sum, MAX(ABS(v)) AS peak, SUM(zc) AS zero_cross
        |       FROM z GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT doc_id, 'wav' AS format,
        | CAST(ch AS BIGINT) AS channels, CAST(rate AS BIGINT) AS sample_rate,
        | CAST(bits AS BIGINT) AS bits, CAST(frames AS BIGINT) AS n_frames,
        | CAST(c AS BIGINT) AS channel, CAST(amp_sum AS BIGINT) AS amp_sum,
        | CAST(peak AS BIGINT) AS peak, CAST(zero_cross AS BIGINT) AS zero_cross
        |FROM a ORDER BY doc_id, channel""".stripMargin))

  // ------------------------------------------------- real FLAC decode
  // Audio parity with the raster trio: the SAME per-channel statistics
  // contract as `audio_pcm`, but the container is FLAC — complete valid
  // streams whose sample payloads are genuinely COMPRESSED (FIXED
  // predictor residuals of per-subframe-varying order, real Rice coding
  // with data-chosen parameters and alternating partition orders, CRC-8
  // frame headers, CRC-16 frame footers, multi-frame 64-sample blocks),
  // and the native FlacCodec must run real predictor reconstruction +
  // Rice decompression to recover them. FLAC is lossless and the
  // fixture samples are the WAV generative formula, so the oracle is
  // the `audio_pcm` oracle with 'flac' as the format string — it knows
  // nothing about Rice coding or predictors; a hash match proves the
  // decompressor inverts real compression sample-for-sample. Golden
  // hand-built streams (CONSTANT/VERBATIM/LPC subframes, escape
  // partitions, CRC corruption) live in ScaleOpsSpec.
  private val flacPcmQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 2
      val rate = lit(8000L) + (col("doc_id") * 441) % 8000
      val frames = lit(50L) + col("doc_id") % 150
      val payload = when(col("doc_id") % 3 === 0,
          FlacSynthFunctions.synth_flac(ch, rate, frames, col("doc_id"), bits = 8))
        .otherwise(FlacSynthFunctions.synth_flac(ch, rate, frames, col("doc_id"), bits = 16))
      val d = PcmFunctions.pcm_decode(payload)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d"),
          PcmFunctions.pcm_channel_stats(col("d")).as("st"))
        .select(col("doc_id"), col("d"), col("st"),
          posexplode(col("st.sums")).as(Seq("channel", "amp_sum")))
        .select(col("doc_id"),
          col("d.format").as("format"),
          col("d.channels").cast(LongType).as("channels"),
          col("d.sample_rate").cast(LongType).as("sample_rate"),
          col("d.bits").cast(LongType).as("bits"),
          col("d.n_frames").cast(LongType).as("n_frames"),
          col("channel").cast(LongType).as("channel"),
          col("amp_sum"),
          element_at(col("st.peaks"), col("channel") + 1).as("peak"),
          element_at(col("st.zero_crossings"), col("channel") + 1).as("zero_cross"))
        .orderBy("doc_id", "channel")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    8000 + (doc_id * 441) % 8000 AS rate,
        |    50 + doc_id % 150 AS frames
        |   FROM documents),
        | k AS (SELECT p.*, f.range AS f, c.range AS c, f.range * ch + c.range AS k
        |       FROM p CROSS JOIN range(0, 200) f CROSS JOIN range(0, 2) c
        |       WHERE f.range < frames AND c.range < ch),
        | s AS (SELECT *, CASE WHEN bits = 8
        |          THEN (doc_id * 13 + k * 7) % 256 - 128
        |          ELSE CASE WHEN (doc_id * 13 + k * 7) % 65536 >= 32768
        |               THEN (doc_id * 13 + k * 7) % 65536 - 65536
        |               ELSE (doc_id * 13 + k * 7) % 65536 END END AS v
        |       FROM k),
        | z AS (SELECT *, CASE WHEN lag(v) OVER w IS NULL THEN 0
        |          WHEN (v < 0) <> (lag(v) OVER w < 0) THEN 1 ELSE 0 END AS zc
        |       FROM s WINDOW w AS (PARTITION BY doc_id, c ORDER BY f)),
        | a AS (SELECT doc_id, ch, bits, rate, frames, c,
        |        SUM(v) AS amp_sum, MAX(ABS(v)) AS peak, SUM(zc) AS zero_cross
        |       FROM z GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT doc_id, 'flac' AS format,
        | CAST(ch AS BIGINT) AS channels, CAST(rate AS BIGINT) AS sample_rate,
        | CAST(bits AS BIGINT) AS bits, CAST(frames AS BIGINT) AS n_frames,
        | CAST(c AS BIGINT) AS channel, CAST(amp_sum AS BIGINT) AS amp_sum,
        | CAST(peak AS BIGINT) AS peak, CAST(zero_cross AS BIGINT) AS zero_cross
        |FROM a ORDER BY doc_id, channel""".stripMargin))

  // -------------------------------------------------- video frame sample
  // The video half, REAL end-to-end on the codec-free container:
  // complete valid Y4M streams (ASCII stream header, per-frame FRAME
  // markers, raw planar payloads — mono AND 4:2:0 chroma-subsampled) are
  // built arithmetically from doc_id, and the native Y4mFrameLuma walk
  // samples every 2nd frame's integer luma sum — the frame-sampling
  // pattern batch video classification uses (score 1-in-k frames). The
  // parser must size each frame from the colorspace to even FIND the
  // next marker, so the mixed-colorspace corpus proves the chroma-plane
  // skip is real, and the oracle recomputes the sums from the generative
  // formula over the luma plane only. One bounded byte walk per row,
  // zero shuffle. Golden hand-built streams and truncation fallbacks
  // live in ScaleOpsSpec.
  private val videoFramesQ = Q(
    (s, dir) => {
      val w = lit(4L) + (col("doc_id") % 4) * 2
      val h = lit(4L) + (col("doc_id") % 3) * 2
      val frames = lit(4L) + col("doc_id") % 8
      val payload = when(col("doc_id") % 2 === 0,
          ScaleOps.synthY4m(w, h, frames, col("doc_id"), "mono"))
        .otherwise(ScaleOps.synthY4m(w, h, frames, col("doc_id"), "420jpeg"))
      val v = PcmFunctions.y4m_frame_luma(payload, 2)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          col("v.width").cast(LongType).as("width"),
          col("v.height").cast(LongType).as("height"),
          col("v.colorspace").as("colorspace"),
          col("v.n_frames").cast(LongType).as("n_frames"),
          posexplode(arrays_zip(col("v.frame_idx").as("fi"),
            col("v.y_sums").as("ys"))).as(Seq("_p", "z")))
        .select(col("doc_id"), col("width"), col("height"),
          col("colorspace"), col("n_frames"),
          col("z.fi").cast(LongType).as("frame_idx"),
          col("z.ys").as("y_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |    4 + (doc_id % 4) * 2 AS w,
        |    4 + (doc_id % 3) * 2 AS h,
        |    4 + doc_id % 8 AS frames,
        |    CASE WHEN doc_id % 2 = 0 THEN 'mono' ELSE '420jpeg' END AS cs
        |   FROM documents),
        | f AS (SELECT p.*, fr.range AS f FROM p CROSS JOIN range(0, 12) fr
        |       WHERE fr.range < frames AND fr.range % 2 = 0),
        | px AS (SELECT doc_id, w, h, frames, cs, f, o.range AS o
        |        FROM f CROSS JOIN range(0, 80) o WHERE o.range < w * h),
        | a AS (SELECT doc_id, w, h, frames, cs, f,
        |        SUM((doc_id * 31 + f * 11 + o * 7) % 256) AS y_sum
        |       FROM px GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | cs AS colorspace, CAST(frames AS BIGINT) AS n_frames,
        | CAST(f AS BIGINT) AS frame_idx, CAST(y_sum AS BIGINT) AS y_sum
        |FROM a ORDER BY doc_id, frame_idx""".stripMargin))

  // ------------------------------------------ windowed audio features
  // The featurization step between PCM decode and any audio-quality /
  // voice-activity gate: fixed 16-frame windows, each reduced across
  // all channels to its exact integer ENERGY (Σ sample²) and peak
  // magnitude. Three decode lanes share the key (round 12): 8-bit WAV,
  // 16-bit WAV (oracle replays the generative sample formula through
  // the window arithmetic bit-for-bit), and MP3 — silent Layer III
  // streams (seed 5·doc pins the fixture's silent class) whose windows
  // must come out EXACTLY zero through the full lossy decode, with the
  // window COUNT derived from the real frame walk (a miscounted
  // granule flips n_windows). Per-row, zero shuffle until the explode.
  private val audioEnergyWindowsQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 2
      val rate = lit(8000L) + (col("doc_id") * 441) % 8000
      val frames = lit(50L) + col("doc_id") % 150
      val payload = when(col("doc_id") % 3 === 0,
          ScaleOps.synthWavPcm(ch, rate, 8, frames, col("doc_id")))
        .when(col("doc_id") % 3 === 1,
          ScaleOps.synthWavPcm(ch, rate, 16, frames, col("doc_id")))
        .when(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 0,
          Mp3PcmFunctions.synth_mp3_pcm(col("doc_id") * 5))
        .otherwise(VorbisFunctions.synth_ogg_vorbis(col("doc_id") * 5))
      val d = PcmFunctions.pcm_decode(payload)
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), d.as("d"))
        .select(col("doc_id"), col("d"),
          PcmEnergyFunctions.pcm_energy_windows(col("d"), 16).as("e"))
        .select(col("doc_id"),
          col("d.channels").cast(LongType).as("channels"),
          col("d.n_frames").cast(LongType).as("n_frames"),
          col("e.n_windows").cast(LongType).as("n_windows"),
          posexplode(arrays_zip(col("e.win_idx").as("w"),
            col("e.energy").as("en"), col("e.peak").as("pk")))
            .as(Seq("_p", "z")))
        .select(col("doc_id"), col("channels"), col("n_frames"),
          col("n_windows"),
          col("z.w").cast(LongType).as("win_idx"),
          col("z.en").as("energy"),
          col("z.pk").as("peak"))
        .orderBy("doc_id", "win_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    50 + doc_id % 150 AS frames
        |   FROM documents WHERE doc_id % 3 < 2),
        | k AS (SELECT p.*, f.range AS f, c.range AS c,
        |        f.range * ch + c.range AS k
        |       FROM p CROSS JOIN range(0, 200) f CROSS JOIN range(0, 2) c
        |       WHERE f.range < frames AND c.range < ch),
        | s AS (SELECT *, CASE WHEN bits = 8
        |          THEN (doc_id * 13 + k * 7) % 256 - 128
        |          ELSE CASE WHEN (doc_id * 13 + k * 7) % 65536 >= 32768
        |               THEN (doc_id * 13 + k * 7) % 65536 - 65536
        |               ELSE (doc_id * 13 + k * 7) % 65536 END END AS v,
        |        f // 16 AS w FROM k),
        | a AS (SELECT doc_id, ch, frames, w,
        |        SUM(v * v) AS energy, MAX(ABS(v)) AS peak
        |       FROM s GROUP BY 1, 2, 3, 4),
        | wav AS (SELECT doc_id, CAST(ch AS BIGINT) AS channels,
        |   CAST(frames AS BIGINT) AS n_frames,
        |   CAST((frames + 15) // 16 AS BIGINT) AS n_windows,
        |   CAST(w AS BIGINT) AS win_idx, CAST(energy AS BIGINT) AS energy,
        |   CAST(peak AS BIGINT) AS peak FROM a),
        | mp AS (SELECT doc_id,
        |    1 + (doc_id * 5) % 2 AS ch,
        |    CASE WHEN doc_id % 2 = 0 THEN (2 + (doc_id * 5) % 3) * 1152
        |         ELSE (1 + (doc_id * 5) % 3) * 128 END AS frames
        |   FROM documents WHERE doc_id % 3 = 2),
        | mpw AS (SELECT doc_id, CAST(ch AS BIGINT) AS channels,
        |   CAST(frames AS BIGINT) AS n_frames,
        |   CAST(frames // 16 AS BIGINT) AS n_windows,
        |   CAST(w.range AS BIGINT) AS win_idx,
        |   CAST(0 AS BIGINT) AS energy, CAST(0 AS BIGINT) AS peak
        |  FROM mp CROSS JOIN range(0, 288) w WHERE w.range < frames // 16)
        |SELECT * FROM (SELECT * FROM wav UNION ALL SELECT * FROM mpw)
        |ORDER BY doc_id, win_idx""".stripMargin))

  // ------------------------------------------ MJPEG-in-AVI video decode
  // Real codec-in-container video, one step past raw Y4M: every `00dc`
  // chunk in the AVI movi LIST is a complete baseline JPEG, and the
  // operator samples every 2nd frame THROUGH the real JpegCodec
  // (entropy decode, dequant, IDCT, 4:2:0 upsample, color conversion
  // per frame) while skipping unsampled frames by length — the
  // frame-sample shape a training-data pipeline needs. The oracle
  // replays the per-frame JPEG fixture sums in closed form: the ±-basis
  // AC terms cancel over each 8×8 block, so a frame's luma sum is
  // Σ_blocks 64·(64 + (sf·31 + bi·17) mod 128) at frame seed
  // sf = doc_id + 131·f, plus the chroma-variant shift triple times the
  // pixel count. Per-row, zero shuffle until the explode.
  private val videoMjpegFramesQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val h = lit(16L)
      val frames = lit(3L) + col("doc_id") % 4
      val v = AviFunctions.avi_mjpeg_frames(
        AviFunctions.synth_avi(w, h, frames, col("doc_id")), 2)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          col("v.width").cast(LongType).as("width"),
          col("v.height").cast(LongType).as("height"),
          col("v.codec").as("codec"),
          col("v.n_frames").cast(LongType).as("n_frames"),
          posexplode(arrays_zip(col("v.frame_idx").as("fi"),
            col("v.r_sums").as("rs"), col("v.g_sums").as("gs"),
            col("v.b_sums").as("bs"))).as(Seq("_p", "z")))
        .select(col("doc_id"), col("width"), col("height"), col("codec"),
          col("n_frames"),
          col("z.fi").cast(LongType).as("frame_idx"),
          col("z.rs").as("r_sum"),
          col("z.gs").as("g_sum"),
          col("z.bs").as("b_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    3 + doc_id % 4 AS frames FROM documents),
        | f AS (SELECT p.*, fr.range AS f, doc_id + 131 * fr.range AS sd
        |       FROM p CROSS JOIN range(0, 6) fr
        |       WHERE fr.range < frames AND fr.range % 2 = 0),
        | blk AS (SELECT doc_id, w, h, frames, f, sd, b.range AS bi
        |         FROM f CROSS JOIN range(0, 8) b
        |         WHERE b.range < (w // 8) * (h // 8)),
        | a AS (SELECT doc_id, w, h, frames, f, sd,
        |        SUM(64 * (64 + (sd * 31 + bi * 17) % 128)) AS y_sum
        |       FROM blk GROUP BY 1, 2, 3, 4, 5, 6),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | 'mjpg' AS codec, CAST(frames AS BIGINT) AS n_frames,
        | CAST(f AS BIGINT) AS frame_idx,
        | CAST(y_sum + w * h * sr AS BIGINT) AS r_sum,
        | CAST(y_sum + w * h * sg AS BIGINT) AS g_sum,
        | CAST(y_sum + w * h * sb AS BIGINT) AS b_sum
        |FROM a JOIN shifts ON shifts.v = CAST(sd % 4 AS INT)
        |ORDER BY doc_id, frame_idx""".stripMargin))

  // ------------------------------------- animated-GIF frame extraction
  // The third frame-sampling format next to Y4M and MJPEG/AVI: real
  // multi-frame GIF89a (looping application extension, per-frame
  // graphic-control extensions), every 2nd frame LZW-decoded and
  // palette-mapped while skipped frames cost only their sub-block
  // length fields. The oracle replays the per-frame index formula
  // through the palette ramps (r = idx, g = 2·idx mod 256,
  // b = 3·idx mod 256). Per-row, zero shuffle until the explode.
  private val gifFramesQ = Q(
    (s, dir) => {
      val w = lit(4L) + (col("doc_id") % 4) * 2
      val h = lit(4L) + (col("doc_id") % 3) * 2
      val frames = lit(2L) + col("doc_id") % 5
      val v = RasterFunctions.gif_frames(
        RasterSynthFunctions.synth_gif_anim(w, h, frames, col("doc_id")), 2)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          col("v.width").cast(LongType).as("width"),
          col("v.height").cast(LongType).as("height"),
          col("v.n_frames").cast(LongType).as("n_frames"),
          posexplode(arrays_zip(col("v.frame_idx").as("fi"),
            col("v.r_sums").as("rs"), col("v.g_sums").as("gs"),
            col("v.b_sums").as("bs"))).as(Seq("_p", "z")))
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("z.fi").cast(LongType).as("frame_idx"),
          col("z.rs").as("r_sum"),
          col("z.gs").as("g_sum"),
          col("z.bs").as("b_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 4 + (doc_id % 4) * 2 AS w,
        |    4 + (doc_id % 3) * 2 AS h, 2 + doc_id % 5 AS frames
        |   FROM documents),
        | f AS (SELECT p.*, fr.range AS f FROM p CROSS JOIN range(0, 6) fr
        |       WHERE fr.range < frames AND fr.range % 2 = 0),
        | px AS (SELECT doc_id, w, h, frames, f,
        |         (doc_id * 31 + f * 11 + o.range * 7) % 256 AS idx
        |        FROM f CROSS JOIN range(0, 80) o WHERE o.range < w * h),
        | a AS (SELECT doc_id, w, h, frames, f,
        |        SUM(idx) AS r_sum, SUM((2 * idx) % 256) AS g_sum,
        |        SUM((3 * idx) % 256) AS b_sum
        |       FROM px GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(frames AS BIGINT) AS n_frames, CAST(f AS BIGINT) AS frame_idx,
        | CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
        | CAST(b_sum AS BIGINT) AS b_sum
        |FROM a ORDER BY doc_id, frame_idx""".stripMargin))

  // ---------------------------------- animated-WebP frame extraction
  // The fourth frame-sampling container (Y4M, MJPEG/AVI, animated GIF,
  // animated WebP): real VP8X/ANIM/ANMF chunk walks whose sampled
  // frames are COMPLETE lossy VP8 key frames decoded through the same
  // Vp8Codec as webp_lossy_pixels (arithmetic decoder, mode trees,
  // IDCT/WHT, prediction per frame); skipped frames cost only their
  // chunk length. The oracle replays the per-frame VP8 fixture
  // formula: frame f at seed doc_id + 131·f, per-MB luma constants
  // plus the chroma-variant shift triple. Per-row, zero shuffle until
  // the explode.
  private val webpAnimFramesQ = Q(
    (s, dir) => {
      val w = lit(16L) * (lit(1L) + col("doc_id") % 2)
      val h = lit(16L)
      val frames = lit(2L) + col("doc_id") % 4
      val v = WebpAnimFunctions.webp_anim_frames(
        WebpAnimFunctions.synth_webp_anim(w, h, frames, col("doc_id")), 2)
      Tables.documentSeeds(s, dir)
        .select(col("doc_id"), v.as("v"))
        .select(col("doc_id"),
          col("v.width").cast(LongType).as("width"),
          col("v.height").cast(LongType).as("height"),
          col("v.n_frames").cast(LongType).as("n_frames"),
          posexplode(arrays_zip(col("v.frame_idx").as("fi"),
            col("v.r_sums").as("rs"), col("v.g_sums").as("gs"),
            col("v.b_sums").as("bs"))).as(Seq("_p", "z")))
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("z.fi").cast(LongType).as("frame_idx"),
          col("z.rs").as("r_sum"),
          col("z.gs").as("g_sum"),
          col("z.bs").as("b_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH p AS (SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    2 + doc_id % 4 AS frames FROM documents),
        | f AS (SELECT p.*, fr.range AS f, doc_id + 131 * fr.range AS sf
        |       FROM p CROSS JOIN range(0, 6) fr
        |       WHERE fr.range < frames AND fr.range % 2 = 0),
        | shifts(v, sr, sg, sb) AS (VALUES (0, 0, 0, 0), (1, 7, -4, 0),
        |   (2, 0, -2, 9), (3, -10, 4, 7)),
        | mb AS (SELECT doc_id, w, h, frames, f, sf, m.range AS nm
        |        FROM f CROSS JOIN range(0, 2) m WHERE m.range < w // 16),
        | a AS (SELECT doc_id, w, h, frames, f, sf,
        |        SUM(256 * (48 + (sf * 31 + nm * 17) % 160)) AS y_sum
        |       FROM mb GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(frames AS BIGINT) AS n_frames, CAST(f AS BIGINT) AS frame_idx,
        | CAST(y_sum + w * h * sr AS BIGINT) AS r_sum,
        | CAST(y_sum + w * h * sg AS BIGINT) AS g_sum,
        | CAST(y_sum + w * h * sb AS BIGINT) AS b_sum
        |FROM a JOIN shifts ON shifts.v = CAST(sf % 4 AS INT)
        |ORDER BY doc_id, frame_idx""".stripMargin))

  // ------------------------------------ content-defined chunking (CDC)
  // The rsync/LBFS chunking rule as a corpus operator: a boundary falls
  // wherever the rolling hash of the trailing 16 code points lands in
  // the mask class (native CdcCuts — one codegen'd pass per row), so an
  // INSERTION moves only the boundaries inside its own window while
  // fixed-window chunking (chunk_documents above) shifts every
  // subsequent chunk. That stability is why storage dedup and
  // incremental transfer chunk this way: per-chunk md5s of a lightly
  // edited document re-match all but O(1) chunks against the standing
  // chunk store (the insert-robustness property is pinned in
  // ScaleOpsSpec). Cut positions are context-free by design — no
  // min/max clamp, because a clamp makes each boundary depend on the
  // previous one (sequential state), which would both break the
  // per-position SQL mirror and serialize what is here an
  // embarrassingly parallel per-row walk. Expected chunk = mask+1 = 64
  // chars. The oracle recomputes every position's hash as an explicit
  // 16-term polynomial from the SAME coefficient table
  // (CdcCuts.coefficients — single source of truth) and applies the
  // identical mod rule, so a hash match pins the cut rule, the chunk
  // reassembly, and the per-chunk content hashes bitwise.
  private val cdcWindow = 16
  private val cdcMask = 63

  private val cdcChunkQ = Q(
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .withColumn("cuts", TextExpressions.cdc_cuts(col("text"), cdcWindow, cdcMask))
        .withColumn("starts",
          concat(array(lit(1)), transform(col("cuts"), c => c + 1)))
        .withColumn("ends", concat(col("cuts"), array(length(col("text")))))
        .select(col("doc_id"), col("text"),
          posexplode(arrays_zip(col("starts").as("st"), col("ends").as("en")))
            .as(Seq("chunk_idx", "se")))
        .select(col("doc_id"),
          col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("se.st").cast(LongType).as("off"),
          (col("se.en") - col("se.st") + 1).cast(LongType).as("chunk_len"),
          md5(expr("substring(text, se.st, se.en - se.st + 1)")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some {
      val coefs = org.apache.spark.sql.graftnative.CdcCuts
        .coefficients(cdcWindow).mkString("[", ", ", "]")
      s"""WITH cdoc AS (SELECT doc_id, text, length(text) AS L
         |   FROM documents WHERE length(text) > 0),
         | cut AS (SELECT doc_id, text, L,
         |   [CAST(p AS BIGINT) for p in generate_series($cdcWindow, L - 1)
         |     if list_sum(list_transform(range(0, $cdcWindow),
         |        t -> CAST(unicode(substr(text, CAST(p - t AS INT), 1)) AS BIGINT) * ($coefs)[t + 1]))
         |       % ${cdcMask + 1} = 0]
         |   AS cuts FROM cdoc),
         | seg AS (SELECT doc_id, text,
         |    list_prepend(CAST(1 AS BIGINT), list_transform(cuts, c -> c + 1)) AS starts,
         |    list_append(cuts, CAST(L AS BIGINT)) AS ends FROM cut),
         | ex AS (SELECT doc_id, text, generate_subscripts(starts, 1) AS i,
         |        unnest(starts) AS st, unnest(ends) AS en FROM seg)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx, CAST(st AS BIGINT) AS off,
         | CAST(en - st + 1 AS BIGINT) AS chunk_len,
         | md5(substr(text, CAST(st AS INT), CAST(en - st + 1 AS INT))) AS chunk_md5
         |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin
    })

  // --------------------------------------------- document chunking (RAG)
  // Fixed-window chunking with overlap (window 64, stride 48 → 16-token
  // overlap): the retrieval/embedding prep stage. Single narrow pass —
  // split, start sequence, explode, slice — with no join or aggregation
  // anywhere, so it chunks a 100 TB corpus in one scan; the trailing
  // start is emitted only when it adds uncovered tokens (no chunk is a
  // suffix of its predecessor), mirrored exactly in the oracle's filter.
  private val chunkDocumentsQ = Q(
    (s, dir) => {
      ScaleOps.chunkDocuments(Tables.documents(s, dir), "doc_id",
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    },
    Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        | st AS (SELECT doc_id, toks, n, UNNEST(range(0, greatest(n, 1), 48)) AS start FROM s),
        | f AS (SELECT * FROM st WHERE start = 0 OR start + 16 < n)
        | SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[start + 1 : least(start + 64, n)], ' ') AS chunk_text,
        |  CAST(least(start + 64, n) - start AS BIGINT) AS n_tokens
        | FROM f ORDER BY doc_id, chunk_idx""".stripMargin))

  // ------------------------------------------- audio-container metadata
  // The audio half of the multimodal metadata stage, same design as
  // image_meta: per-row fixture headers are built ARITHMETICALLY from
  // doc_id (real WAV chunk layout / real FLAC STREAMINFO bit packing),
  // the native parser walks them back, and the oracle recomputes the
  // expected fields from the same doc_id formulas — a hash match proves
  // the parser inverts both container encodings end-to-end. Zero
  // shuffle, one codegen'd byte walk per row; golden real-layout pins
  // and corrupt-header fallbacks live in ScaleOpsSpec.
  private val audioMetaQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 8
      val rate = lit(8000L) + (col("doc_id") * 441) % 40000
      val bits = (lit(1L) + col("doc_id") % 4) * 8
      val frames = lit(1000L) + (col("doc_id") * 17) % 100000
      val payload = when(col("doc_id") % 2 === 0,
          ScaleOps.synthWavHeader(ch, rate, bits, frames))
        .otherwise(ScaleOps.synthFlacHeader(ch, rate, bits, frames))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), MediaExpressions.audio_meta(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.n_frames").as("n_frames"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
        | CAST(1 + doc_id % 8 AS BIGINT) AS channels,
        | CAST(8000 + (doc_id * 441) % 40000 AS BIGINT) AS sample_rate,
        | CAST((1 + doc_id % 4) * 8 AS BIGINT) AS bits_per_sample,
        | CAST(1000 + (doc_id * 17) % 100000 AS BIGINT) AS n_frames
        | FROM documents ORDER BY doc_id""".stripMargin))

  // ----------------------------------------- Ogg container metadata
  // The remaining audio container next to WAV/FLAC/MP4: real RFC 3533
  // page walks — capture pattern, segment-table lacing, and the page
  // CRC-32 actually VERIFIED (poly 0x04C11DB7, computed with the
  // checksum field zeroed; the fixture encoder writes real checksums,
  // so a CRC-shortcutting parser still passes but a CRC-miscomputing
  // one rejects everything) — then the BOS packet routed by magic:
  // Vorbis identification headers on even doc_ids, OpusHead on odd.
  // n_frames is the final page's granule position. Zero shuffle.
  private val oggMetaQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 8
      val rate = lit(8000L) + (col("doc_id") * 441) % 40000
      val frames = lit(1000L) + (col("doc_id") * 17) % 100000
      val payload = when(col("doc_id") % 2 === 0,
          OggFunctions.synth_ogg(ch, rate, frames, mode = 0))
        .otherwise(OggFunctions.synth_ogg(ch, rate, frames, mode = 1))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), OggFunctions.ogg_meta(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.n_frames").as("n_frames"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS format,
        | CAST(1 + doc_id % 8 AS BIGINT) AS channels,
        | CAST(8000 + (doc_id * 441) % 40000 AS BIGINT) AS sample_rate,
        | CAST(1000 + (doc_id * 17) % 100000 AS BIGINT) AS n_frames
        | FROM documents ORDER BY doc_id""".stripMargin))

  // -------------------------------------------- MP3 container metadata
  // The dominant crawled-audio format, walked for real: the ID3v2 head
  // is skipped through its syncsafe size, then EVERY frame header is
  // parsed — sync gate, version/layer routing, the published bitrate
  // and sample-rate index tables, the padding bit — and the per-layer
  // frame-length arithmetic must land exactly on the next sync or the
  // file rejects, so a passing row proves the whole walk. Container
  // shape rotates by doc_id: bare / ID3v2 head / ID3v1 trailer / both.
  // n_frames is total samples (frames × 1152 for MPEG-1 Layer III).
  private val mp3MetaQ = Q(
    (s, dir) => {
      val ch = lit(1L) + col("doc_id") % 2
      val srIdx = col("doc_id") % 3
      val frames = lit(5L) + col("doc_id") % 40
      val payload = when(col("doc_id") % 4 === 0,
          Mp3Functions.synth_mp3(ch, srIdx, frames, mode = 0))
        .when(col("doc_id") % 4 === 1,
          Mp3Functions.synth_mp3(ch, srIdx, frames, mode = 1))
        .when(col("doc_id") % 4 === 2,
          Mp3Functions.synth_mp3(ch, srIdx, frames, mode = 2))
        .otherwise(Mp3Functions.synth_mp3(ch, srIdx, frames, mode = 3))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), Mp3Functions.mp3_meta(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.n_frames").as("n_samples"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, 'mp3' AS format,
        | CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END AS BIGINT) AS sample_rate,
        | CAST((5 + doc_id % 40) * 1152 AS BIGINT) AS n_samples
        | FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------- ISO BMFF container metadata
  // The video/container half: MP4 box trees built arithmetically (ftyp +
  // moov/mvhd, alternating mvhd v0 u32 and v1 u64 layouts so the
  // version-dependent offsets are both exercised), parsed back by the
  // native box walk, oracle recomputed from the doc_id formulas.
  private val containerMetaQ = Q(
    (s, dir) => {
      val ts = lit(600L) + (col("doc_id") * 7) % 90000
      val dur = (col("doc_id") * 997) % 10000000L
      val payload = ScaleOps.synthMp4Header(ts, dur, (col("doc_id") % 2).cast("int"))
      Tables.documentSeedsPlain(s, dir)
        .select(col("doc_id"), MediaExpressions.mp4_meta(payload).as("m"))
        .select(col("doc_id"), col("m.brand").as("brand"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, 'isom' AS brand,
        | CAST(600 + (doc_id * 7) % 90000 AS BIGINT) AS timescale,
        | CAST((doc_id * 997) % 10000000 AS BIGINT) AS duration
        | FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------- simhash near-dup
  // Scale design: a naive hamming(h1,h2)<=3 theta-join is O(n²). Instead,
  // split the hash into 4 bands of 15 bits — by pigeonhole, any pair
  // within hamming<=3 agrees exactly on >=1 band — equi-join per band key,
  // dedup candidates, then verify the full hamming predicate. One shuffle
  // on compact (band_idx, 15-bit key) pairs; no quadratic stage. Buckets
  // above lshBucketCap are skipped (ScaleOps.lshBucketCap) — at sf0.1 the
  // worst band bucket holds 538 docs (1.1M pair expansions) without it.
  //
  // Oracle: the full 60-bit pipeline is mirrored in DuckDB — per-bit
  // majority votes via 60 conditional sums, bands via shift/mask,
  // bit_count(xor()) for hamming. Generated programmatically below.
  /** Uncapped simhash band buckets — shared by the query and
    * [[simhashBucketStats]] so cap observability reads the same frame.
    */
  private def simhashBandBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = ScaleOps.simhashTable(dupedDocsFanned(s, dir), "doc_id", "text")
    d.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF)): _*))
        .as(Seq("band_idx", "band_key")))
      .groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
  }

  /** Cap observability for the simhash banding (see [[minhashBucketStats]]). */
  def simhashBucketStats(s: SparkSession, dir: String): DataFrame =
    ScaleOps.bucketSkewStats(simhashBandBuckets(s, dir), "ms")

  private val simhashQ = Q(
    (s, dir) => {
      // same bucket-grouped pair generation as minhash: simhash table runs
      // once; each bucket expands to its ordered member pairs
      val buckets = ScaleOps.cappedBuckets(simhashBandBuckets(s, dir), "ms")
      buckets.select(explode(expr(
          """flatten(transform(ms, (x, i) ->
            |  transform(slice(ms, i + 2, size(ms)),
            |    y -> struct(x.doc_id AS id1, y.doc_id AS id2,
            |                x.simhash AS h1, y.simhash AS h2))))""".stripMargin))
          .as("p"))
        .select(col("p.id1"), col("p.id2"),
          ScaleOps.hamming(col("p.h1"), col("p.h2")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("id1"), col("id2"))
    },
    Some {
      val cap = ScaleOps.lshBucketCap
      val bsums = (0 until 60).map(j => s"SUM((h >> $j) & 1) AS b$j").mkString(", ")
      val bits = (0 until 60).map(j =>
        s"(CASE WHEN b$j*2 > n THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)").mkString(" | ")
      val bandSelects = (0 until 4).map(b =>
        s"SELECT doc_id, simhash, $b AS band_idx, (simhash >> ${b * 15}) & 32767 AS bk FROM sim")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS ($dupedSql),
         | tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         | h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
         | agg AS (SELECT doc_id, COUNT(*) AS n, $bsums FROM h GROUP BY doc_id),
         | sim AS (SELECT doc_id, $bits AS simhash FROM agg),
         | banded AS ($bandSelects),
         | ok AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, bk) AS c
         |   FROM banded) WHERE c BETWEEN 2 AND $cap),
         | pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
         |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
         |  FROM ok a JOIN ok b2 ON a.band_idx = b2.band_idx AND a.bk = b2.bk
         |  WHERE a.doc_id < b2.doc_id)
         | SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin
    })

  // ---------------------------------------- IMAGE near-dup (dHash LSH)
  // The image half of the dedup ladder: every payload is DECODED (real
  // PPM bytes through the raster path), perceptually fingerprinted with
  // the 64-bit difference hash (9×8 NN grid → gray → horizontal
  // gradient bits — pure integer arithmetic, so the oracle mirrors it
  // bit-for-bit; the fixture's per-index step depends on the seed, so
  // distinct seeds produce distinct fingerprints and the hash does the
  // separating, not the banding), then deduplicated with the
  // PIGEONHOLE banding the Hamming budget dictates: 3 bands of
  // 21/21/22 bits, so any pair within Hamming ≤ 2 keeps at least one
  // band intact — the exact LSH guarantee, and the parameterization
  // that scales (a 2²¹-bucket space keeps occupancy per band low where
  // 16-bit bands drown in collisions at millions of images — measured
  // in STRESS_DHASH_r11). Shared pair-expansion cap, ordered in-bucket
  // pair generation, exact Hamming verify (≤2) over the reconstructed
  // 64 bits. Fixture: doc pairs (2k, 2k+1) encode the
  // SAME image (seed = doc_id/2), so every pair is found at Hamming 0
  // while unrelated images separate — the banding, the hash, and the
  // verify all sit on the oracle's critical path. Same shuffle shape as
  // simhash_neardup: one decode pass, banding explode, bucket group,
  // no all-pairs anywhere.
  private def dhashBandBuckets(s: SparkSession, dir: String): DataFrame = {
    val pairSeed = shiftright(col("doc_id"), 1)
    val w = lit(18L) + (pairSeed % 3) * 9
    val t = Tables.documentSeeds(s, dir)
      .select(col("doc_id"),
        RasterFunctions.raster_dhash(RasterFunctions.image_decode(
          ScaleOps.synthPpmKeyed(w, lit(16L), pairSeed))).as("dh"))
      .select(col("doc_id"),
        col("dh").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"),
        shiftrightunsigned(col("dh"), 32).as("hi"))
    t.select(col("doc_id"), col("lo"), col("hi"),
      posexplode(array(
        col("lo").bitwiseAND(lit(0x1FFFFFL)),
        shiftright(col("lo"), 21).bitwiseOR(
          col("hi").bitwiseAND(lit(1023L)) * lit(2048L)),
        shiftright(col("hi"), 10))).as(Seq("band_idx", "bk")))
      .groupBy("band_idx", "bk")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("lo"), col("hi")))).as("ms"))
  }

  private val imageDhashNeardupQ = Q(
    (s, dir) => {
      val buckets = ScaleOps.cappedBuckets(dhashBandBuckets(s, dir), "ms")
      buckets.select(explode(expr(
          """flatten(transform(ms, (x, i) ->
            |  transform(slice(ms, i + 2, size(ms)),
            |    y -> struct(x.doc_id AS id1, y.doc_id AS id2,
            |                x.lo AS lo1, x.hi AS hi1,
            |                y.lo AS lo2, y.hi AS hi2))))""".stripMargin))
          .as("p"))
        .select(col("p.id1"), col("p.id2"),
          (bit_count(col("p.lo1").bitwiseXOR(col("p.lo2"))) +
            bit_count(col("p.hi1").bitwiseXOR(col("p.hi2")))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 2)
        .orderBy(col("id1"), col("id2"))
    },
    Some {
      val cap = ScaleOps.lshBucketCap
      """WITH d AS (SELECT doc_id, doc_id // 2 AS s,
        |    18 + ((doc_id // 2) % 3) * 9 AS w, 16 AS h FROM documents),
        | g AS (SELECT d.*, gy.range AS gy, gx.range AS gx
        |       FROM d CROSS JOIN range(0, 8) gy CROSS JOIN range(0, 9) gx),
        | smp AS (SELECT doc_id, gy, gx,
        |         ((s * 31 + (((gy * h // 8) * w + (gx * w // 9)) * 3 + 0) * (7 + s % 13)) % 256
        |          + (s * 31 + (((gy * h // 8) * w + (gx * w // 9)) * 3 + 1) * (7 + s % 13)) % 256
        |          + (s * 31 + (((gy * h // 8) * w + (gx * w // 9)) * 3 + 2) * (7 + s % 13)) % 256)
        |         // 3 AS v FROM g),
        | bits AS (SELECT a.doc_id, a.gy, a.gx,
        |          CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |          FROM smp a JOIN smp b ON a.doc_id = b.doc_id
        |           AND a.gy = b.gy AND b.gx = a.gx + 1
        |          WHERE a.gx < 8),
        | hsh AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN gy * 8 + gx < 32
        |           THEN bit * (CAST(1 AS BIGINT) << (gy * 8 + gx))
        |           ELSE 0 END) AS BIGINT) AS lo,
        |         CAST(SUM(CASE WHEN gy * 8 + gx >= 32
        |           THEN bit * (CAST(1 AS BIGINT) << (gy * 8 + gx - 32))
        |           ELSE 0 END) AS BIGINT) AS hi
        |         FROM bits GROUP BY 1),
        | banded AS (SELECT doc_id, lo, hi, b.range AS band_idx,
        |           CASE b.range WHEN 0 THEN lo % 2097152
        |                WHEN 1 THEN (lo // 2097152) + (hi % 1024) * 2048
        |                ELSE hi // 1024 END AS bk
        |           FROM hsh CROSS JOIN range(0, 3) b),
        | ok AS (SELECT * FROM (SELECT *,
        |     COUNT(*) OVER (PARTITION BY band_idx, bk) AS c FROM banded)
        |   WHERE c BETWEEN 2 AND """.stripMargin + cap + """),
        | pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
        |    CAST(bit_count(xor(a.lo, b2.lo))
        |      + bit_count(xor(a.hi, b2.hi)) AS INT) AS hamming
        |  FROM ok a JOIN ok b2 ON a.band_idx = b2.band_idx AND a.bk = b2.bk
        |  WHERE a.doc_id < b2.doc_id)
        |SELECT id1, id2, hamming FROM pairs WHERE hamming <= 2
        |ORDER BY id1, id2""".stripMargin
    })

  // ------------------------------ video frame near-dup (clustered, ⊘)
  // Frame-level dedup ACROSS videos and ACROSS containers — the
  // standard corpus op the frame machinery implies: per-frame dHash
  // from both the AVI and the MP4 MJPEG twins (which carry the SAME
  // JpegSynth frames, so every (doc, frame) has a guaranteed
  // cross-container twin), clustered Hamming-tolerantly (≤ 4) by
  // ScaleOps.dhashHammingClusters. Output: every non-representative
  // frame with its merged-cluster rep; ids pack
  // (2·doc + container)·64 + frame_idx.
  //
  // Scale stance, learned the measured way (r14): video frames form
  // HUGE genuine dup-clusters (title cards, black frames), so banding
  // RAW frames is the wrong shape — quadratic in cluster size, and an
  // LSH bucket cap silently drops exactly the dups the key exists to
  // find (measured: 1985/2250 twins lost at cap 64). The r15 upgrade
  // keeps exact-hash clustering as stage 1 (one groupBy, linear star
  // output) and bands only the cluster REPRESENTATIVES (reps ≪
  // frames, so the cap is safe) with 5 pigeonhole bands guaranteeing
  // Hamming ≤ 4, merging clusters via connected components — true
  // near-dup without re-creating the measured drop.
  //
  // ⊘ no SQL oracle, and the reason is precise: the JPEG fixture's
  // per-BLOCK sums are closed-form (the ±-basis AC terms cancel over
  // each block — the exactness video_mjpeg_frames' hash rides), but
  // per-PIXEL values are not, and dHash samples pixels. The contract
  // is pinned by ScaleOpsSpec instead: every MP4 frame resolves to a
  // representative no later than its AVI twin (twin recall 1.0),
  // 1–2-bit-perturbed twins recover at 100% with transitive chains
  // merging, and DHashSpec pins container-identical hash arrays.
  private val videoDhashNeardupQ = Q(
    (s, dir) => {
      // 32/48/64 × 32 frames: the 8×9 dHash grid must span many JPEG
      // blocks or the gradient hash collapses to a handful of values
      // (measured at 16×16: 10 distinct hashes over 2250 frames)
      val w = lit(16L) * (lit(2L) + col("doc_id") % 3)
      val h = lit(32L)
      val frames = lit(3L) + col("doc_id") % 4
      // fanned seed frame (the image_dhash stance): the two per-row
      // decode branches below are this key's CPU wall — on the unfanned
      // single-row-group scan each container's decode ran as ONE task
      val docs = Tables.documentSeeds(s, dir)
      val avi = docs.select((col("doc_id") * 2).as("vid"),
        VideoDhashFunctions.video_frame_dhashes(
          AviFunctions.synth_avi(w, h, frames, col("doc_id")), 1).as("v"))
      val mp4 = docs.select((col("doc_id") * 2 + 1).as("vid"),
        VideoDhashFunctions.video_frame_dhashes(
          Mp4TrackFunctions.synth_mp4_mjpeg(w, h, frames, col("doc_id")), 1).as("v"))
      val pids = avi.unionAll(mp4)
        .select(col("vid"), posexplode(arrays_zip(col("v.frame_idx").as("fi"),
          col("v.dhash").as("dh"))).as(Seq("_p", "z")))
        .select((col("vid") * 64 + col("z.fi")).as("pid"), col("z.dh").as("dh"))
      ScaleOps.dhashHammingClusters(pids).orderBy("pid")
    },
    None)

  // -------------------------------------------- LSH-bucketed ANN top-k
  // The scale path for similarity_topk: candidates = corpus vectors
  // sharing any LSH table-bucket with the query vector (equi-join on
  // (table, bucket)); exact cosine re-ranks candidates only. Recall vs
  // brute force is additionally pinned by ScalaTest.
  //
  // Oracle: same inlined-plane recipe as embedding_neardup — the
  // hyperplanes behind ScaleOps.lshBuckets are emitted as double
  // literals, so DuckDB reproduces bucket assignment, the candidate
  // join, and the re-rank cosine bit-for-bit.
  // 16 tables vs round-2's 4: recall 0.46 → 0.84/0.91 (sf0.001/sf0.01,
  // floor 0.8 pinned in ScaleOpsSpec; 8 tables measured only 0.64/0.67).
  // Bucket assignment is ONE fused native expression either way
  // (lshBucketsFused), so the extra tables cost almost nothing per row —
  // the price is the larger candidate pool, which is the recall knob.
  private val annLshTables = 16
  private val annLshQ = Q(
    (s, dir) => {
      val dim = 64
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val stacked = emb.select(col("vec_id"), col("embedding"), col("nv"),
        posexplode(ScaleOps.lshBucketsFused(col("embedding"), dim, tables = annLshTables))
          .as(Seq("tbl", "bucket")))
      val q = stacked.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nv").as("nq"), col("tbl"), col("bucket"))
      val cands = stacked.join(q, Seq("tbl", "bucket"))
        .select(col("q_id"), col("vec_id"), col("q_emb"), col("embedding"),
          col("nq"), col("nv")).distinct()
      val scored = cands.withColumn("cos",
        ScaleOps.cosine(col("q_emb"), col("embedding"), col("nq"), col("nv")))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(
      // mirrors ScaleOps.lshBucketsFused(tables = annLshTables, bits = 4, seed 42)
      s"""WITH bucketed AS (${lshBucketedSql(tables = annLshTables, bits = 4)}),
         | q AS (SELECT vec_id AS q_id, tbl, bucket FROM bucketed WHERE vec_id < 10),
         | cand AS (SELECT DISTINCT b.vec_id, q.q_id
         |  FROM bucketed b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket),
         | e AS ($embNormSql),
         | scored AS (SELECT cand.q_id, cand.vec_id,
         |  list_reduce(list_transform(list_zip(eq.embedding, e.embedding),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (eq.nv * e.nv) AS cos
         | FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN e eq ON cand.q_id = eq.vec_id)
         | SELECT q_id, vec_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rank
         | FROM scored
         | QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin))

  // ------------------------------------------------- IVF-flat ANN top-k
  // The OTHER standard scale path for similarity search (alongside
  // ann_lsh_topk): a coarse quantizer assigns every vector to its nearest
  // centroid (the "inverted list"); a query probes only the nProbe nearest
  // lists and re-ranks those candidates exactly. Plan shape at 100 TB:
  // the codebook broadcasts (K·dim floats), assignment is a map-side
  // argmax aggregation (one shuffled row per vector, no sort), and
  // candidate retrieval is an equi-join on the compact centroid id — the
  // corpus is never crossed with itself.
  //
  // Centroids here are the first K vectors by vec_id — deterministic and
  // SQL-mirrorable, standing in for a production codebook trained offline
  // (k-means output depends on partition order and would break the
  // bitwise oracle). The IVF structure — assignment, inverted lists,
  // probing, exact re-rank — is identical either way; recall vs brute
  // force is additionally pinned by ScalaTest.
  private val ivfK = 16
  private val ivfProbes = 2

  /** Corpus-side IVF assignment: each vector lands in its argmax-cosine
    * inverted list. An ARGMAX aggregation, not a window: a row_number
    * over the K×-expanded corpus would exchange and sort K copies of
    * every row; max(struct) partial-aggregates map-side and ships one
    * row per vector with no sort. Tiebreak c_id asc via -c_id (c_cos/
    * neg_c decide before the payload fields are ever compared).
    * Per-row given a frozen codebook — which is what makes the index
    * APPENDABLE (see ann_ivf_append): assigning a new segment never
    * touches existing assignments.
    */
  private def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.join(broadcast(cents))
      .withColumn("c_cos", ScaleOps.cosine(col("embedding"), col("c_emb"), col("nv"), col("nc")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("c_cos"), (-col("c_id")).as("neg_c"), col("c_id"),
        col("embedding"), col("nv"))).as("_m"))
      .select(col("vec_id"), col("_m.c_id").as("c_id"),
        col("_m.embedding").as("embedding"), col("_m.nv").as("nv"))

  /** IVF serving over a prebuilt inverted-list table: rank centroids per
    * query, probe the top-nProbe lists via equi-join, exact cosine
    * re-rank.
    */
  private def ivfServe(lists: DataFrame, emb: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    // probe side is 10 queries × K centroids — a window here is trivial
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id"))
    val probes = emb.filter(col("vec_id") < 10).join(broadcast(cents))
      .withColumn("c_cos", ScaleOps.cosine(col("embedding"), col("c_emb"), col("nv"), col("nc")))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nv").as("nq"), col("c_id"), col("c_cos"))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= nProbe)
      .select("q_id", "q_emb", "nq", "c_id")
    // each vector sits in exactly ONE inverted list and a query probes
    // distinct lists, so (q_id, vec_id) pairs are unique — no dedup
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(lists, "c_id")
      .withColumn("cos", ScaleOps.cosine(col("q_emb"), col("embedding"), col("nq"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The IVF serving plan, shared by the first-K (oracle) and trained
    * (production) codebooks: [[ivfAssign]] then [[ivfServe]]. `emb`
    * carries (vec_id, embedding, nv); `cents` carries (c_id, c_emb, nc).
    */
  private def ivfTopk(emb: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    ivfServe(ivfAssign(emb, cents), emb, cents, nProbe)

  private val annIvfQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val cents = emb.filter(col("vec_id") < ivfK)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nv").as("nc"))
      ivfTopk(emb, cents, ivfProbes)
    },
    Some(
      s"""WITH e AS ($embNormSql),
         | cents AS (SELECT vec_id AS c_id, embedding AS c_emb, nv AS nc FROM e WHERE vec_id < $ivfK),
         | scored AS (SELECT e.vec_id, e.embedding, e.nv, cents.c_id,
         |  list_reduce(list_transform(list_zip(e.embedding, cents.c_emb),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (e.nv * cents.nc) AS c_cos
         | FROM e CROSS JOIN cents),
         | lists AS (SELECT vec_id, embedding, nv, c_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS c_rank
         |   FROM scored) WHERE c_rank <= 1),
         | probes AS (SELECT vec_id AS q_id, embedding AS q_emb, nv AS nq, c_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS c_rank
         |   FROM scored WHERE vec_id < 10) WHERE c_rank <= $ivfProbes),
         | cand AS (SELECT q_id, vec_id, q_emb, embedding, nq, nv
         |  FROM probes JOIN lists USING (c_id)),
         | ranked AS (SELECT q_id, vec_id,
         |  list_reduce(list_transform(list_zip(q_emb, embedding),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (nq * nv) AS cos
         | FROM cand)
         | SELECT q_id, vec_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rank
         | FROM ranked
         | QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin))

  // ------------------------------------- trained-codebook IVF ANN (⊘)
  // Production IVF: the codebook is a seeded MLlib k-means model trained
  // offline and persisted to parquet (graft.ml.IvfCodebook — the index-
  // build step), loaded here as the centroid table. Serving plan is
  // byte-for-byte the same ivfTopk as ann_ivf_topk; only the centroids
  // differ. No SQL oracle — k-means float output is partition-order-
  // dependent — so this key is rows-only and its contract is RECALL:
  // ScaleOpsSpec pins recall ≥ 0.85 vs brute force. (K, nProbe) = (8, 6)
  // is tuned to THIS corpus: its synthetic embeddings cluster only
  // loosely, so neighbors of a query spread across several k-means cells
  // and the probe fraction must be high for recall (the full grid —
  // K ∈ {8,16,32} × nProbe ∈ {2,4,6} — tops out at 0.89/0.94; K=16
  // nProbe=6 reaches only 0.78). Real embedding corpora cluster tightly
  // and run nProbe ≪ K; the knobs are the explicit constants here.
  private val ivfTrainedK = 8
  private val ivfTrainedProbes = 6
  private val annIvfTrainedQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val cents = graft.ml.IvfCodebook.load(s,
          graft.ml.IvfCodebook.codebookPath(s, dir, ivfTrainedK))
        .withColumn("nc", ScaleOps.l2norm(col("c_emb")))
      ivfTopk(emb, cents, ivfTrainedProbes)
    },
    None)

  // ------------------------------------- incremental IVF index append (⊘)
  // Index maintenance — the ANN family's dedup_incremental: a daily batch
  // of new vectors joins the index WITHOUT retraining the codebook or
  // touching existing assignments. The codebook is frozen (the trained
  // artifact from ann_ivf_trained_topk), assignment is per-row argmax
  // against it, so a new segment is assigned independently and the
  // serving view is the UNION of inverted-list segments — exactly how
  // real IVF deployments append (segment files + frozen quantizer,
  // periodic retrain only when recall drifts). Equality with the
  // monolithic rebuild is pinned in ScaleOpsSpec: union-of-segments
  // serving is bit-identical to assigning the whole corpus at once (per-
  // row assignment + frozen codebook make this exact, not approximate).
  // Rows-only key (k-means floats, same as every trained-codebook key).
  // Fixture split: vec_id % 10 == 0 plays "today's append".
  // The BASE segment is itself a persisted artifact (IVF deployments
  // store inverted lists as immutable segment files): assigned once per
  // (dir, source-mtime) and memoized to parquet; each append assigns
  // only the new batch. Serving reads segment files + today's batch.
  private def ivfBaseSegmentPath(s: SparkSession, dir: String): String =
    graft.ArtifactMemo.parquetDurable(s,
      graft.ArtifactMemo.stamp(dir, "embeddings.parquet"), "ivf_base_segment") {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val cents = graft.ml.IvfCodebook.load(s,
          graft.ml.IvfCodebook.codebookPath(s, dir, ivfTrainedK))
        .withColumn("nc", ScaleOps.l2norm(col("c_emb")))
      ivfAssign(emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), cents)
    }
  private val annIvfAppendQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val cents = graft.ml.IvfCodebook.load(s,
          graft.ml.IvfCodebook.codebookPath(s, dir, ivfTrainedK))
        .withColumn("nc", ScaleOps.l2norm(col("c_emb")))
      val base = s.read.parquet(ivfBaseSegmentPath(s, dir))
        .select("vec_id", "c_id", "embedding", "nv")
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      val segments = base.unionAll(ivfAssign(batch, cents))
      ivfServe(segments, emb, cents, ivfTrainedProbes)
    },
    None)

  // --------------------------------------------- C4-style line dedup
  // Line-level exact dedup across the corpus (C4 / RefinedWeb): split
  // each document into ". "-delimited lines; every line that appears
  // anywhere else survives only at its FIRST occurrence (min (doc_id,
  // idx) — deterministic, order-free) and is dropped everywhere else;
  // documents are reassembled from their kept lines in original order.
  // The op that strips boilerplate (cookie banners, nav text, license
  // headers) exact-dedup at document level cannot see.
  //
  // Plan shape at 100 TB: first-occurrence is a two-phase
  // groupBy(line_hash).min(struct) — partial aggregation absorbs hot
  // boilerplate lines map-side, so the canonical skew case (the same
  // cookie banner in 10⁹ docs) never funnels one shuffle partition; the
  // join back is shuffle-hash on the 16-byte md5(line), not the line
  // text, and reassembly is one per-doc aggregate (array_sort of
  // (idx, line) structs — collect_list order never matters). md5 here is
  // also the oracle bridge; a production twin would swap xxhash64 keys
  // like the other _prod pairs.
  private val lineDedupQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val lines = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\\. ")).as(Seq("idx", "line")))
        .withColumn("lh", md5(col("line")))
      val firstOcc = lines.groupBy("lh")
        .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
      val kept = lines.join(firstOcc.hint("shuffle_hash"), Seq("lh"))
        .withColumn("kept",
          col("first.doc_id") === col("doc_id") && col("first.idx") === col("idx"))
      kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          coalesce(sum(when(col("kept"), lit(1L))), lit(0L)).as("n_kept"),
          collect_list(when(col("kept"), struct(col("idx"), col("line")))).as("_kl"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(array_join(transform(array_sort(col("_kl")),
            kl => kl.getField("line")), ". ")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some(
      """WITH lines AS (SELECT doc_id,
        |   unnest(string_split(text, '. ')) AS line,
        |   unnest(range(0, len(string_split(text, '. ')))) AS idx FROM documents),
        | lh AS (SELECT doc_id, line, idx, md5(line) AS lh FROM lines),
        | fo AS (SELECT lh, min(struct_pack(d := doc_id, i := idx)) AS first
        |   FROM lh GROUP BY lh),
        | k AS (SELECT l.doc_id, l.line, l.idx,
        |    (fo.first.d = l.doc_id AND fo.first.i = l.idx) AS kept
        |   FROM lh l JOIN fo USING (lh))
        | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(SUM(CASE WHEN kept THEN 1 END), 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(line, '. ' ORDER BY idx) FILTER (WHERE kept), '')) AS clean_md5
        | FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------- cross-document span dedup
  // Exact-substring duplicate detection at token-span granularity (the
  // Spark-shaped analogue of Lee et al. 2022 "Deduplicating Training Data
  // Makes Language Models Better": their suffix-array pass finds 50-token
  // spans repeated anywhere in the corpus; here every w-token window is
  // rolling-hashed and a span is DUPLICATED iff its hash occurs more than
  // once corpus-wide — within- or cross-document, matching their
  // "appears more than once" rule). Per document: span count, duplicated-
  // span count, duplicated fraction, and a flag at frac > 0.5 — the
  // downstream filter either drops flagged docs or cuts the spans.
  //
  // Plan shape at 100 TB: spans never ship as text — each window is
  // hashed per-row (one explode of the shingle array), the global
  // occurrence count is a two-phase HashAggregate on the hash (partial
  // aggregation absorbs hot boilerplate spans map-side, so the cookie-
  // banner-in-10⁹-docs skew case never funnels one partition), and the
  // count joins back via shuffle-hash on the compact key. w=5 here
  // (short synthetic docs); production uses w≈50 — same plan, longer
  // windows, FEWER spans per doc. md5 is the oracle bridge; the _prod
  // twin swaps xxhash64 like every other dedup pair. Docs shorter than
  // w tokens have no spans and are absent (both engines drop them).
  private val spanW = 5
  private def spanDedupPlan(s: SparkSession, dir: String,
      h: Column => Column): DataFrame = {
    val spans = Tables.documents(s, dir).select(col("doc_id"),
        explode(TextExpressions.word_shingles(col("text"), spanW)).as("span"))
      .select(col("doc_id"), h(col("span")).as("sh"))
    val counts = spans.groupBy("sh").agg(count(lit(1)).as("n_occ"))
    spans.join(counts.hint("shuffle_hash"), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType))
      .withColumn("flagged", col("dup_span_frac") > 0.5)
      .orderBy("doc_id")
  }
  private val spanDedupQ = Q(
    (s, dir) => spanDedupPlan(s, dir, md5),
    Some(
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | sp AS (SELECT doc_id, unnest([md5(array_to_string(toks[i:i+${spanW - 1}], ' '))
        |   for i in generate_series(1, len(toks)-${spanW - 1})]) AS sh FROM t),
        | c AS (SELECT sh, COUNT(*) AS n_occ FROM sp GROUP BY sh),
        | d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |   CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM sp JOIN c USING (sh) GROUP BY doc_id)
        | SELECT doc_id, n_spans, n_dup_spans,
        |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_span_frac,
        |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) > 0.5 AS flagged
        | FROM d ORDER BY doc_id""".stripMargin))
  // Production twin: 64-bit xxhash64 span keys instead of md5 strings —
  // half the shuffle bytes and none of the cryptographic-hash CPU.
  // Rows-only (no xxhash64 in DuckDB); flagged-set equivalence vs the
  // md5 form is pinned in ScaleOpsSpec.
  private val spanDedupProdQ = Q(
    (s, dir) => spanDedupPlan(s, dir, c => xxhash64(c)),
    None)

  // ------------------------------------------------ PQ-compressed ANN (⊘)
  // IVF-PQ-style product quantization (Jégou et al. 2011) — the last rung
  // of the ANN ladder (brute → LSH → IVF-flat → PQ): corpus vectors are
  // compressed to 8 five-bit codes (one per 8-dim subspace, 32-centroid
  // codebooks trained offline in graft.ml.IvfCodebook.pqCodebook), and
  // query scoring is asymmetric-distance (ADC): per query a 8×16 lookup
  // table of subspace dot products is built driver-side and inlined as
  // literals, so candidate scoring is Σ_m LUT[m][code_m] — per-row
  // element_at against an int column, ZERO shuffle and no vector math on
  // the corpus at query time. Top-`pqRefine` ADC candidates per query are
  // then exactly re-ranked by cosine (broadcast candidate join — the
  // corpus never shuffles).
  //
  // At 100 TB the codes are the point: 64-dim float rows become 8 small
  // codes (~5 bytes packed, a ~50× smaller scan), the codebook plus the
  // per-query LUT ride the plan as codegen reference arrays (shipped
  // once per task — literal inlining hit the Janino compile wall at
  // pq_k≥128, see graftnative.PqExpressions), and the only per-row
  // work is 8 array lookups. Rows-only key (k-means floats are
  // partition-order-dependent, same as ann_ivf_trained_topk); the
  // contract is RECALL ≥ 0.8 vs the exact similarity_topk (measured 0.90
  // at sf0.001 with 32-centroid books; 16-centroid books cap at 0.69 —
  // the ADC candidate list, not the re-rank, is the recall limiter),
  // pinned in ScaleOpsSpec together with in-JVM determinism and
  // self-retrieval.
  private val pqM = 8
  private val pqK = 32
  private val pqDim = 64
  private val pqRefine = 64

  /** ADC candidate depth, scaled to corpus size: a FIXED refine depth is
    * a shrinking fraction of a growing corpus, and 5-bit-code ADC recall
    * decays with distractor count — measured at sf0.1 (2000 vectors,
    * refine=64 = 3.2%): flat PQ 0.70 and IVF-PQ 0.68, both under their
    * pinned floors, vs 0.90/0.80 at sf0.001 where 64 covers 12.8%. This
    * keeps the candidate fraction ≥ 1/8 (sf0.001/0.01 behavior exactly
    * unchanged at N=500 → 64). At production scale the fraction knob is
    * the wrong lever — there you hold refine ~O(topK) and spend BITS
    * instead (pqK 32→256, residual codebooks); the fixture corpus is too
    * small for bigger books to train, so the fraction IS the honest knob
    * here. Memoized per corpus stamp — one count() per JVM per corpus.
    */
  private def pqRefineFor(s: SparkSession, dir: String): Int =
    ArtifactMemo.cached[java.lang.Integer](
        s"pqrefine#${ArtifactMemo.stamp(dir, "embeddings.parquet")}") {
      val n = Tables.embeddings(s, dir).count()
      Int.box(math.max(pqRefine, (n / 8L).toInt))
    }.intValue

  /** The 10 query vectors, driver-side — in a real ANN service the query
    * IS a literal in the request, not a table (bounded collect).
    */
  private def annQueryBatch(emb: DataFrame): Array[(Long, Array[Float])] =
    emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** PQ encode columns code_0..code_{M-1} over `embedding` + `_nv` rows.
    * The codebook lives on the UNIT SPHERE (trainPq normalizes), so
    * assignment must quantize x̂ = x/‖x‖, not x: code_m = argmin over
    * centroids of ‖x̂_sub − c‖² = argmax of (x_sub·c)/‖x‖ − ‖c‖²/2.
    * The division folds the normalization into the score — the native
    * dot still runs on the raw slice (no per-element HOF). First-max
    * tie-break via array_position is deterministic for a fixed codebook.
    * Shared by ann_pq_topk and ann_ivfpq_topk so the two encoders
    * cannot drift.
    */
  private def pqCodeCols(cb: Array[Array[Array[Float]]]): Seq[Column] = {
    // shape derived from the codebook itself: m = cb.length, sub = the
    // centroid dim — the BITS levers (m and k) are both probe-adjustable
    val m = cb.length
    val sub = cb(0)(0).length
    (0 until m).map { mi =>
      val k = cb(mi).length
      val cbFlat = new Array[Float](k * sub)
      for (ki <- 0 until k; i <- 0 until sub) cbFlat(ki * sub + i) = cb(mi)(ki)(i)
      val halfNorms = cb(mi).map(c => c.map(x => x.toDouble * x.toDouble).sum / 2.0)
      PqExpressions.subspaceCode(col("embedding"), col("_nv"),
        None, cbFlat, Array.emptyDoubleArray, halfNorms,
        mi * sub, sub, k, cells = 0).as(s"code_$mi")
    }
  }

  /** Per-query ADC score Σ_m LUT[m][code_m]: the m×k lookup table of
    * normalized-query subspace dot products is built driver-side and
    * shipped as ONE codegen reference array ([[graftnative.PqAdcLutScore]]
    * — round 11's replacement for per-subspace literal arrays, which hit
    * the Janino inline-literal wall at pq_k≥128) — scoring a code row is
    * m array lookups, zero shuffle, no vector math, generated-code size
    * constant in k.
    */
  private def pqAdcScore(cb: Array[Array[Array[Float]]], qv: Array[Float]): Column = {
    val m = cb.length
    val sub = cb(0)(0).length
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
    PqExpressions.adcScore(
      (0 until m).map(mi => col(s"code_$mi")), None,
      lutFlat, Array.emptyDoubleArray)
  }

  /** RESIDUAL PQ encode (FAISS IndexIVFPQ form) over rows carrying
    * `embedding`, `_nv`, and the coarse `c_id`: codes quantize
    * r = x̂ − c(cell), so code_m = argmax over centroids of
    * (x̂_sub·c − c_sub(cell)·c − ‖c‖²/2). The per-(m, k, cell) offset
    * c_sub(cell)·c is a pure function of the two codebooks — computed
    * once driver-side into `offTable` and shipped as a codegen reference
    * array indexed by (centroid, c_id), so the per-row cost stays one
    * fused dot per centroid plus one array lookup. Same deterministic
    * first-max tie-break as the raw encoder.
    */
  private def pqCodeColsRes(cb: Array[Array[Array[Float]]],
      offTable: Array[Array[Array[Double]]]): Seq[Column] = {
    val m = cb.length
    val sub = cb(0)(0).length
    (0 until m).map { mi =>
      // centroid count from the codebook itself: the fixture keys train
      // pqK=32 books, the AnnStress scale probe passes bigger ones (the
      // bits lever) through the SAME encode path — and since round 11 the
      // codebook + offset table ship as codegen REFERENCE ARRAYS
      // ([[graftnative.PqSubspaceCode]]), so pq_k ≥ 128 books compile
      // (the literal form's ~74k inlined doubles hit the Janino wall,
      // STRESS_ANN_r10) and each row costs ONE fused pass over its
      // subspace slice instead of k dot-product columns + array_max.
      val k = cb(mi).length
      val cells = offTable(mi)(0).length
      val cbFlat = new Array[Float](k * sub)
      for (ki <- 0 until k; i <- 0 until sub) cbFlat(ki * sub + i) = cb(mi)(ki)(i)
      val offFlat = new Array[Double](k * cells)
      for (ki <- 0 until k; ci <- 0 until cells)
        offFlat(ci * k + ki) = offTable(mi)(ki)(ci)
      val halfNorms = cb(mi).map(c => c.map(x => x.toDouble * x.toDouble).sum / 2.0)
      PqExpressions.subspaceCode(col("embedding"), col("_nv"),
        Some(col("c_id")), cbFlat, offFlat, halfNorms,
        mi * sub, sub, k, cells).as(s"code_$mi")
    }
  }

  /** Per-query ADC score for residual codes:
    * q̂·x̂ ≈ q̂·c(cell) + Σ_m LUT[m][code_m] with LUT[m][k] = q̂_sub·cb_mk.
    * The q̂·c(cell) term is one more literal-array lookup on c_id
    * (`qCellDots`, built driver-side per query from the K coarse
    * centroids) — the residual form costs one element_at over the raw
    * form and buys back the quantization error of whole-vector codes.
    */
  private def pqAdcScoreRes(cb: Array[Array[Array[Float]]],
      qv: Array[Float], qCellDots: Array[Double]): Column = {
    val m = cb.length
    val sub = cb(0)(0).length
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
      Some(col("c_id")), lutFlat, qCellDots)
  }

  /** Exact cosine re-rank of a small (q_id, vec_id) candidate set against
    * the raw vectors — broadcast candidate join, the corpus never
    * shuffles.
    */
  private def pqExactRerank(s: SparkSession, emb: DataFrame,
      queries: Array[(Long, Array[Float])], cand: DataFrame): DataFrame = {
    import s.implicits._
    val qDf = broadcast(
      queries.map { case (q, v) => (q, v.toSeq) }.toSeq.toDF("q_id", "q_emb")
        .select(col("q_id"), col("q_emb").cast(ArrayType(FloatType)).as("q_emb"))
        .withColumn("nq", ScaleOps.l2norm(col("q_emb"))))
    val embN = emb.withColumn("nv", ScaleOps.l2norm(col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    embN.join(broadcast(cand), "vec_id").join(qDf, "q_id")
      .withColumn("cos",
        ScaleOps.cosine(col("q_emb"), col("embedding"), col("nq"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ADC candidate generation + exact re-rank, shared by the two PQ keys:
    * `gate(qid)` restricts which rows a query scores (always-true for
    * flat PQ; cell-membership for IVF-PQ). A gated-out row contributes a
    * null ascore and is dropped before ranking.
    */
  private def pqServe(s: SparkSession, emb: DataFrame, coded: DataFrame,
      queries: Array[(Long, Array[Float])],
      scoreFor: (Long, Array[Float]) => Column,
      gate: Long => Column, refine: Int = pqRefine): DataFrame = {
    val scoreCols = queries.map { case (qid, qv) =>
      struct(lit(qid).as("q_id"),
        when(gate(qid), scoreFor(qid, qv)).as("ascore"))
    }
    val aW = Window.partitionBy("q_id")
      .orderBy(col("ascore").desc, col("vec_id"))
    val cand = coded
      .select(col("vec_id"), explode(array(scoreCols: _*)).as("qs"))
      .select(col("qs.q_id").as("q_id"), col("vec_id"), col("qs.ascore"))
      .filter(col("ascore").isNotNull)
      .withColumn("arank", row_number().over(aW))
      .filter(col("arank") <= refine)
      .select("q_id", "vec_id")
    pqExactRerank(s, emb, queries, cand)
  }

  private val annPqQ = Q(
    (s, dir) => {
      val cb = graft.ml.IvfCodebook.pqCodebook(s, dir, pqDim, pqM, pqK)
      val emb = Tables.embeddings(s, dir)
      val coded = emb.withColumn("_nv", ScaleOps.l2norm(col("embedding")))
        .select(col("vec_id") +: pqCodeCols(cb): _*)
      pqServe(s, emb, coded, annQueryBatch(emb),
        (_, qv) => pqAdcScore(cb, qv), _ => lit(true),
        refine = pqRefineFor(s, dir))
    },
    None)

  // --------------------------------------- IVF-PQ composed ANN (⊘)
  // The composition production billion-vector deployments actually serve
  // (FAISS IndexIVFPQ) and the rung that completes the ladder (brute →
  // LSH → IVF-flat → PQ → IVF+PQ): ann_pq_topk still ADC-scans EVERY
  // code row per query; here the trained coarse quantizer
  // (ann_ivf_trained_topk's k-means codebook) restricts each query to
  // its probed cells' inverted lists, so the per-query scan covers
  // ~nProbe/K of the code table and each scanned row still costs only 8
  // LUT lookups on 5-bit codes. The two reductions MULTIPLY at 100 TB —
  // production knobs (K=1024, nProbe=32) scan ~3% of a ~50×-compressed
  // table; (K, nProbe) = (8, 6) here follows ann_ivf_trained_topk's
  // corpus-tuned grid (this synthetic corpus clusters loosely), so the
  // local cell reduction is only 6/8 — the structure, not the constants,
  // is the demonstration. Codes are encoded on raw vectors against
  // SHARED subspace codebooks (the shared-codebook IVFPQ variant;
  // per-cell residual codebooks are the other published form and change
  // only the encode step). The stored index row is (vec_id, c_id,
  // code_0..7) — coarse list id plus ~5 packed bytes per 64-dim vector.
  //
  // Rows-only key (two k-means artifacts, partition-order-dependent
  // floats); contract is RECALL ≥ 0.75 vs exact brute force plus
  // self-retrieval, pinned in ScaleOpsSpec (the flat-PQ key pins 0.8 —
  // the cell gate can only lose candidates the probe misses, and the
  // measured gap quantifies exactly the IVF pruning cost).
  /** Everything the residual-coded IVF-PQ keys share: residual PQ
    * codebook, raw embeddings, the coded index frame (coarse list id +
    * residual PQ codes per vector), the query batch, the per-query probe
    * sets, and the per-query ADC scorer (residual LUTs + the q̂·c(cell)
    * term). Probe sets and the offset/LUT tables are driver-side:
    * queries are literals and the centroid table is K rows — same
    * bounded-collect stance as the query batch.
    */
  private def ivfPqParts(s: SparkSession, dir: String)
      : (DataFrame, (Long, Array[Float]) => Column, DataFrame,
         Array[(Long, Array[Float])], Map[Long, Seq[Int]]) = {
    val cb = graft.ml.IvfCodebook.pqResidualCodebook(
      s, dir, pqDim, pqM, pqK, ivfTrainedK)
    val emb = Tables.embeddings(s, dir)
    val embN = emb.withColumn("nv", ScaleOps.l2norm(col("embedding")))
    val cents = graft.ml.IvfCodebook.load(s,
        graft.ml.IvfCodebook.codebookPath(s, dir, ivfTrainedK))
      .withColumn("nc", ScaleOps.l2norm(col("c_emb")))
    val centArr = cents.select(col("c_id"), col("c_emb"), col("nc")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1) // dense 0..K-1 — array index = c_id below
    // per-(m, k, cell) encode offsets c_sub(cell)·cb_mk, driver-side
    val sub = cb(0)(0).length
    val offTable = Array.tabulate(cb.length, cb(0).length) { (mi, ki) =>
      centArr.map { case (_, cv, _) =>
        var acc = 0.0
        var i = 0
        while (i < sub) { acc += cv(mi * sub + i).toDouble * cb(mi)(ki)(i); i += 1 }
        acc
      }
    }
    // the stored index: coarse inverted-list id + residual PQ codes
    val coded = ivfAssign(embN, cents)
      .withColumn("_nv", col("nv"))
      .select(col("vec_id") +: col("c_id") +: pqCodeColsRes(cb, offTable): _*)
    val queries = annQueryBatch(emb)
    val probeCells: Map[Long, Seq[Int]] = queries.map { case (qid, qv) =>
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      val ranked = centArr.map { case (cid, cv, nc) =>
        var acc = 0.0
        var i = 0
        while (i < qv.length) { acc += qv(i).toDouble * cv(i).toDouble; i += 1 }
        (acc / (qn * nc), cid)
      }.sortBy { case (cos, cid) => (-cos, cid) } // ivfServe's tie order
      qid -> ranked.take(ivfTrainedProbes).map(_._2).toSeq
    }.toMap
    // per-query q̂·c(cell) terms, indexed by c_id
    val qCellDots: Map[Long, Array[Double]] = queries.map { case (qid, qv) =>
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      qid -> centArr.map { case (_, cv, _) =>
        var acc = 0.0
        var i = 0
        while (i < qv.length) { acc += (qv(i) / qn) * cv(i).toDouble; i += 1 }
        acc
      }
    }.toMap
    val scoreFor = (qid: Long, qv: Array[Float]) =>
      pqAdcScoreRes(cb, qv, qCellDots(qid))
    (emb, scoreFor, coded, queries, probeCells)
  }

  private val annIvfPqQ = Q(
    (s, dir) => {
      val (emb, scoreFor, coded, queries, probeCells) = ivfPqParts(s, dir)
      pqServe(s, emb, coded, queries, scoreFor,
        qid => col("c_id").isin(probeCells(qid): _*),
        refine = pqRefineFor(s, dir))
    },
    None)

  /** Probe surface for [[graft.AnnStress]]: the SAME residual IVF-PQ
    * pipeline as `ann_ivfpq_topk` — identical ivfAssign / pqCodeColsRes /
    * pqAdcScoreRes / pqServe code paths — over an ARBITRARY corpus and
    * codebooks, with (nProbe, refine) as explicit knobs. The fixture key
    * above stays byte-for-byte what the gate verifies; this entry exists
    * so the ~1M-vector scale probe measures the shipped plan, not a
    * probe-local reimplementation that could drift. `gateExtra` ANDs an
    * additional per-query predicate over the coded rows (the filtered-ANN
    * form: a label equality). Returns (top-k result, probed cells per
    * query, the coded index frame) — the last two feed the scan-fraction
    * measurement.
    */
  private[graft] def ivfPqServeFrom(s: SparkSession, emb: DataFrame,
      centsRaw: DataFrame, cb: Array[Array[Array[Float]]],
      queries: Array[(Long, Array[Float])], nProbe: Int, refine: Int,
      codedExtra: DataFrame => DataFrame = identity,
      gateExtra: Long => Column = _ => lit(true),
      materializeIndex: Boolean = false)
      : (DataFrame, Map[Long, Seq[Int]], DataFrame) = {
    val embN = emb.withColumn("nv", ScaleOps.l2norm(col("embedding")))
    val cents = centsRaw.withColumn("nc", ScaleOps.l2norm(col("c_emb")))
    val centArr = cents.select(col("c_id"), col("c_emb"), col("nc")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val sub = cb(0)(0).length
    val offTable = Array.tabulate(cb.length, cb(0).length) { (mi, ki) =>
      centArr.map { case (_, cv, _) =>
        var acc = 0.0
        var i = 0
        while (i < sub) { acc += cv(mi * sub + i).toDouble * cb(mi)(ki)(i); i += 1 }
        acc
      }
    }
    // materializeIndex: the production stance is a PERSISTED coded index
    // (ann_ivfpq_served) — a probe serving several query batches from
    // one build materializes the encode once instead of re-running it
    // per downstream action (at 1M vectors × m=32 the encode dominates)
    val coded0 = codedExtra(ivfAssign(embN, cents)
      .withColumn("_nv", col("nv"))
      .select(col("vec_id") +: col("c_id") +: pqCodeColsRes(cb, offTable): _*))
    val coded = if (materializeIndex) coded0.localCheckpoint(true) else coded0
    val probeCells: Map[Long, Seq[Int]] = queries.map { case (qid, qv) =>
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      val ranked = centArr.map { case (cid, cv, nc) =>
        var acc = 0.0
        var i = 0
        while (i < qv.length) { acc += qv(i).toDouble * cv(i).toDouble; i += 1 }
        (acc / (qn * nc), cid)
      }.sortBy { case (cos, cid) => (-cos, cid) }
      qid -> ranked.take(nProbe).map(_._2).toSeq
    }.toMap
    val qCellDots: Map[Long, Array[Double]] = queries.map { case (qid, qv) =>
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      qid -> centArr.map { case (_, cv, _) =>
        var acc = 0.0
        var i = 0
        while (i < qv.length) { acc += (qv(i) / qn) * cv(i).toDouble; i += 1 }
        acc
      }
    }.toMap
    val result = pqServe(s, emb, coded, queries,
      (qid, qv) => pqAdcScoreRes(cb, qv, qCellDots(qid)),
      qid => col("c_id").isin(probeCells(qid): _*) && gateExtra(qid),
      refine = refine)
    (result, probeCells, coded)
  }

  // ----------------------- IVF-PQ from the persisted serving index (⊘)
  // The durable half of ann_ivfpq_topk: the coded index rows are
  // PERSISTED partitioned by coarse cell id (ArtifactMemo, built once per
  // corpus stamp) — exactly FAISS's inverted-list file layout expressed
  // as a parquet partition tree — and the query batch's scan is
  // restricted to the UNION of its probed cells before per-query gating,
  // so partition pruning keeps unprobed cells' files untouched (pinned in
  // PlanSpec: PartitionFilters on the scan + selected-partition count =
  // probed-cell count < K). Bit-equal to the in-memory form (integer
  // codes round-trip parquet losslessly; pinned in ScaleOpsSpec) — at
  // scale this is the serving shape: build offline, prune at read, ADC
  // on ~nProbe/K of a ~50×-compressed table.
  private val annIvfPqServedQ = Q(
    (s, dir) => {
      val (emb, scoreFor, _, queries, probeCells) = ivfPqParts(s, dir)
      val path = ivfPqIndexPath(s, dir)
      val union = probeCells.values.flatten.toSeq.distinct.sorted
      val codedRead = s.read.parquet(path)
        .filter(col("c_id").isin(union: _*))
      pqServe(s, emb, codedRead, queries, scoreFor,
        qid => col("c_id").isin(probeCells(qid): _*),
        refine = pqRefineFor(s, dir))
    },
    None)

  /** Persisted IVF-PQ index path (built at most once per corpus stamp,
    * DURABLE — a fresh process re-opens the partition tree instead of
    * re-coding the corpus; consistent with the equally-durable coarse +
    * PQ codebooks, see [[graft.ml.IvfCodebook.pqCodebook]]), exposed for
    * the PlanSpec pruning contract.
    */
  def ivfPqIndexPath(s: SparkSession, dir: String): String = {
    // "res" in the key: the round-8 switch to residual codes changed the
    // stored row format — a stale raw-code index re-opened under the old
    // key would be scored against residual LUTs
    val stamp = ArtifactMemo.stamp(dir, "embeddings.parquet")
    ArtifactMemo.parquetDurable(s, s"ivfpq_res#$stamp", "ivfpq_res_index",
      Seq("c_id")) { ivfPqParts(s, dir)._3 }
  }

  // ------------- filtered IVF-PQ from a (label, cell) serving index (⊘)
  // ann_filtered_topk's serving twin, completing the claim its scaladoc
  // makes: partition the persisted inverted lists by (label, cell) and a
  // filtered query's read prunes on BOTH dimensions — the metadata
  // predicate and the probe set — before a single code row is scanned.
  // Label count × K cells directories; a per-query read touches
  // nProbe of them under ONE label branch. Rows-only (same two k-means
  // float artifacts as the other IVF-PQ keys); pinned in PlanSpec:
  // per-query partition count = nProbe < labels×K, filtered recall vs
  // the exact ann_filtered_topk, and same-label-only results.
  private val annFilteredServedQ = Q(
    (s, dir) => {
      val (emb, scoreFor, _, queries, probeCells) = ivfPqParts(s, dir)
      val path = ivfFilteredIndexPath(s, dir)
      val labels: Map[Long, Int] = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val unionCells = probeCells.values.flatten.toSeq.distinct.sorted
      val unionLabels = labels.values.toSeq.distinct.sorted
      val codedRead = s.read.parquet(path)
        .filter(col("label").isin(unionLabels: _*) &&
          col("c_id").isin(unionCells: _*))
      pqServe(s, emb, codedRead, queries, scoreFor,
        qid => col("label") === labels(qid) &&
          col("c_id").isin(probeCells(qid): _*),
        refine = pqRefineFor(s, dir))
    },
    None)

  /** (label, c_id)-partitioned persisted IVF-PQ index — the filtered-ANN
    * serving layout (FAISS inverted lists sharded additionally by the
    * metadata attribute queries filter on). Durable per corpus stamp,
    * like [[ivfPqIndexPath]]; exposed for the PlanSpec pruning contract.
    */
  def ivfFilteredIndexPath(s: SparkSession, dir: String): String = {
    // "res" in the key, as in ivfPqIndexPath: the stored codes are
    // residual-encoded and must never be re-opened by raw-code scoring
    val stamp = ArtifactMemo.stamp(dir, "embeddings.parquet")
    ArtifactMemo.parquetDurable(s, s"ivfpqlbl_res#$stamp",
      "ivfpq_lbl_res_index", Seq("label", "c_id")) {
      // the SAME residual coded frame as the unfiltered index (one
      // encoder, two layouts), sharded additionally by label
      val coded = ivfPqParts(s, dir)._3
      val emb = Tables.embeddings(s, dir)
      coded.join(emb.select(col("vec_id"), col("label")), "vec_id")
        .select(col("vec_id") +: col("label") +: col("c_id") +:
          coded.columns.filter(_.startsWith("code_"))
            .map(c => col(c): Column).toSeq: _*)
    }
  }

  /** Single-query serve from the filtered index — the read that makes
    * two-dimensional partition pruning observable: exactly the query's
    * label branch and its nProbe cells are selected. Returns (frame,
    * servedQueryId, probeCellCount, totalPartitions = labels×K).
    */
  def ivfFilteredServeOne(s: SparkSession, dir: String)
      : (DataFrame, Long, Int, Int) = {
    val (emb, scoreFor, _, queries, probeCells) = ivfPqParts(s, dir)
    val path = ivfFilteredIndexPath(s, dir)
    val qid = queries.map(_._1).min
    val qLabel = emb.filter(col("vec_id") === qid)
      .select(col("label")).head().getInt(0)
    val nLabels = emb.select(col("label")).distinct().count().toInt
    val cells = probeCells(qid)
    val codedRead = s.read.parquet(path)
      .filter(col("label") === qLabel && col("c_id").isin(cells: _*))
    val df = pqServe(s, emb, codedRead, queries.filter(_._1 == qid),
      scoreFor, _ => lit(true), refine = pqRefineFor(s, dir))
    (df, qid, cells.size, nLabels * ivfTrainedK)
  }

  /** Single-query serve from the persisted index — the granularity at
    * which partition pruning is OBSERVABLE. The batch key's scan filter
    * is the union of all queries' probe sets, and at this fixture's
    * (K=8, nProbe=6, 10 queries) that union deterministically covers
    * every cell — correct results, but nothing left to prune. A
    * production serving read is per-query: this path filters ONE query's
    * nProbe probe cells, so the scan selects exactly those partition
    * directories and leaves the other K−nProbe untouched. Returns
    * (frame, servedQueryId, probeCellCount, K) for the PlanSpec pruning
    * contract; results are the batch key's rows for that query (pinned
    * there too).
    */
  def ivfPqServeOneFromIndex(s: SparkSession, dir: String)
      : (DataFrame, Long, Int, Int) = {
    val (emb, scoreFor, _, queries, probeCells) = ivfPqParts(s, dir)
    val path = ivfPqIndexPath(s, dir)
    val qid = queries.map(_._1).min
    val cells = probeCells(qid)
    val codedRead = s.read.parquet(path).filter(col("c_id").isin(cells: _*))
    val df = pqServe(s, emb, codedRead, queries.filter(_._1 == qid),
      scoreFor, _ => col("c_id").isin(cells: _*), refine = pqRefineFor(s, dir))
    (df, qid, cells.size, ivfTrainedK)
  }

  // -------------------------------------- learned quality classifier (⊘)
  // Model-based quality filtering (see graft.ml.QualityClassifier): a
  // seeded hashed-unigram logistic regression scores every document with
  // a keep-probability. Rows-only key — L-BFGS float output is
  // partition-order-dependent, so the contract is pinned in
  // MlParitySpec instead: holdout agreement ≥ 0.9 with the rule filter
  // and in-JVM determinism of the scored frame.
  private val qualityClassifierQ = Q(
    (s, dir) => {
      val m = graft.ml.QualityClassifier.model(s, dir)
      graft.ml.QualityClassifier.score(m, Tables.documents(s, dir))
        .orderBy("doc_id")
    },
    None)

  // ------------------------------------------------------- PII scrub
  // Training-data hygiene op: redact emails and phone numbers, counting
  // what was removed. The synthetic corpus carries no PII, so each doc
  // first gets a DETERMINISTIC fake contact line derived from doc_id —
  // the scrub then has real work whose output both engines must agree on
  // byte-for-byte (the regex subset used — char classes, bounded repeats,
  // greedy matching — behaves identically in Java regex and RE2; counts
  // via regexp_extract_all length on both sides, NOT engine-specific
  // count functions). Output carries md5(clean_text) instead of the full
  // text: redaction exactness is hash-checked without shipping the corpus
  // through the comparator. Fully per-row — zero shuffle at any scale.
  // (?i): emails are case-insensitive in the wild (User@Mail.COM) — the
  // inline flag behaves identically in Java regex and DuckDB's RE2, so
  // the oracle mirror is preserved (the synthetic corpus is lowercase;
  // this guards real-text reuse, not the fixture)
  private[graft] val piiEmailRe = """(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private[graft] val piiPhoneRe = """\d{3}-\d{3}-\d{4}"""
  private val piiScrubQ = Q(
    (s, dir) => {
      val withPii = Tables.documents(s, dir).withColumn("text_pii",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@mail.example.com or 555-"),
          lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
      withPii
        .withColumn("n_emails",
          size(regexp_extract_all(col("text_pii"), lit(piiEmailRe), lit(0))).cast(LongType))
        .withColumn("n_phones",
          size(regexp_extract_all(col("text_pii"), lit(piiPhoneRe), lit(0))).cast(LongType))
        .withColumn("clean_md5", md5(
          regexp_replace(regexp_replace(col("text_pii"), piiEmailRe, "<EMAIL>"),
            piiPhoneRe, "<PHONE>")))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-' ||
         |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text_pii
         | FROM documents)
         | SELECT doc_id,
         |  CAST(len(regexp_extract_all(text_pii, '$piiEmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text_pii, '$piiPhoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(text_pii, '$piiEmailRe', '<EMAIL>', 'g'),
         |      '$piiPhoneRe', '<PHONE>', 'g')) AS clean_md5
         | FROM p ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------- text normalization
  // The canonical normalize-before-dedup stage: strip URLs, fold case,
  // collapse whitespace, trim. The synthetic corpus is already clean, so
  // deterministic noise is injected first (mixed case on the head, a URL,
  // stray spacing) — the normalizer then has real work whose output both
  // engines must agree on byte-for-byte (ASCII case folding and the
  // Java-regex ∩ RE2 subset behave identically; md5 of the normalized
  // text is compared, not the corpus itself). Per-row, zero shuffle.
  private val urlRe = """https?://[^ ]+"""
  private val textNormalizeQ = Q(
    (s, dir) => {
      val noisy = Tables.documents(s, dir).withColumn("text_raw",
        concat(upper(expr("substr(text, 1, 8)")), expr("substr(text, 9)"),
          lit("  see https://example.com/doc/"), col("doc_id").cast(StringType),
          lit("?ref=crawl  ")))
      noisy
        .withColumn("n_urls",
          size(regexp_extract_all(col("text_raw"), lit(urlRe), lit(0))).cast(LongType))
        .withColumn("norm", trim(regexp_replace(
          lower(regexp_replace(col("text_raw"), urlRe, " ")), "  +", " ")))
        .select(col("doc_id"), col("n_urls"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast(LongType).as("n_chars_norm"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH noisy AS (SELECT doc_id,
         |  upper(substr(text, 1, 8)) || substr(text, 9) ||
         |  '  see https://example.com/doc/' || CAST(doc_id AS VARCHAR) || '?ref=crawl  ' AS text_raw
         | FROM documents)
         | SELECT doc_id,
         |  CAST(len(regexp_extract_all(text_raw, '$urlRe')) AS BIGINT) AS n_urls,
         |  md5(trim(regexp_replace(lower(regexp_replace(text_raw, '$urlRe', ' ', 'g')), '  +', ' ', 'g'))) AS norm_md5,
         |  CAST(length(trim(regexp_replace(lower(regexp_replace(text_raw, '$urlRe', ' ', 'g')), '  +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
         | FROM noisy ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- quality filter
  // Gopher-style document quality rules (the pre-training corpus filter
  // pass): word-count bounds, mean-word-length band, minimum stopword
  // fraction (gibberish/listing detector), and a repetition rule via the
  // distinct-bigram ratio (duplicated-n-gram family — boilerplate and
  // looped text score low). Every metric is per-row array arithmetic over
  // integer counts (ratios divide exact ints — bit-identical across
  // engines); zero shuffle at any corpus size. Thresholds are the
  // explicit constants; `passes` is their conjunction so downstream
  // filtering is one boolean.
  private val qualityFilterQ = Q(
    (s, dir) =>
      ScaleOps.withQualityRules(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("stopword_frac"), col("distinct_bigram_ratio"), col("passes"))
        .orderBy(col("doc_id")),
    Some(
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | b AS (SELECT doc_id, text, toks,
        |  [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] AS bi
        | FROM t),
        | m AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_word_len,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stopword_frac,
        |  CASE WHEN len(bi) > 0
        |       THEN CAST(len(list_distinct(bi)) AS DOUBLE) / CAST(len(bi) AS DOUBLE)
        |       ELSE 1.0 END AS distinct_bigram_ratio
        | FROM b)
        | SELECT doc_id, n_words, mean_word_len, stopword_frac, distinct_bigram_ratio,
        |  (n_words BETWEEN 20 AND 100000) AND (mean_word_len BETWEEN 2.0 AND 12.0)
        |   AND stopword_frac >= 0.01 AND distinct_bigram_ratio >= 0.3 AS passes
        | FROM m ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------ corpus-level stats
  // The "what's in my training set" rollup: per language — doc count,
  // vocabulary size (exact distinct tokens), token volume, mean doc
  // length. Two-phase: explode once, aggregate twice (partial+final both
  // map-side combinable). At 100 TB the same shape holds; vocabulary
  // counts would switch to approx_count_distinct (HLL) — kept exact here
  // for oracle comparability.
  private val corpusStatsQ = Q(
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(ScaleOps.tokens(col("text"))).as("token"))
      toks.groupBy("lang")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("token")).as("vocab_size"),
          count(lit(1)).as("n_tokens"),
          (count(lit(1)).cast(DoubleType) / countDistinct(col("doc_id")).cast(DoubleType))
            .as("mean_doc_tokens"))
        .orderBy("lang")
    },
    Some(
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
        | SELECT lang,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS mean_doc_tokens
        | FROM toks GROUP BY lang ORDER BY lang""".stripMargin))

  // --------------------------------------- embedding int8 quantization
  // Training-pipeline compression op: clamp to [-1,1], scale to int8,
  // report per-vector reconstruction error. Per-row integer/double math —
  // exact across engines (round of x*127 never lands on an exact .5 for
  // these floats).
  private val embQuantizeQ = Q(
    (s, dir) => {
      val q = transform(col("embedding"), x =>
        round(greatest(least(x.cast(DoubleType), lit(1.0)), lit(-1.0)) * 127).cast(IntegerType))
      Tables.embeddings(s, dir)
        .withColumn("q", q)
        .withColumn("recon_err_sq",
          aggregate(
            zip_with(col("embedding"), col("q"),
              (x, qq) => {
                val d = x.cast(DoubleType) - qq.cast(DoubleType) / lit(127.0)
                d * d
              }),
            lit(0.0), (acc, v) => acc + v))
        // serialized, not array-typed: array columns break row-sorting in
        // the oracle comparator
        .select(col("vec_id"),
          concat_ws(",", col("q")).as("embedding_q"), col("recon_err_sq"))
        .orderBy(col("vec_id"))
    },
    Some(
      """SELECT vec_id,
        | array_to_string(list_transform(embedding, x -> CAST(round(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127) AS INT)), ',') AS embedding_q,
        | list_reduce(list_transform(list_zip(embedding,
        |   list_transform(embedding, x -> CAST(round(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127) AS INT))),
        |   s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) / 127.0) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) / 127.0)),
        |   (a, b) -> a + b) AS recon_err_sq
        | FROM embeddings ORDER BY vec_id""".stripMargin))

  // ------------------------------------------- n-gram frequency table
  // Corpus bigram counts per language, top-5 by frequency — the n-gram LM
  // statistics pass of a text pipeline. Explode word bigrams (per-row
  // shingling, no shuffle) → count per (lang, bigram) → deterministic
  // top-k via (count desc, bigram asc).
  //
  // The top-k is two-phase salted: a window partitioned by lang ALONE has
  // as many partitions as languages (5 here), so one task would sort an
  // entire language's vocabulary — billions of bigrams at corpus scale.
  // Instead rank within (lang, hash(bigram) % 32) — bounded partitions —
  // keep each salt's top-5, then rank the ≤32·5 survivors per lang. Exact:
  // every global top-5 member is top-5 within its own salt bucket.
  private val ngramCountsQ = Q(
    (s, dir) => {
      val bi = Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextExpressions.word_shingles(col("text"), k = 2)).as("bigram"))
      val counted = bi.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
        .withColumn("salt", pmod(xxhash64(col("bigram")), lit(32L)))
      val saltW = Window.partitionBy("lang", "salt").orderBy(col("n").desc, col("bigram"))
      val survivors = counted
        .withColumn("salt_rank", row_number().over(saltW))
        .filter(col("salt_rank") <= 5)
        .drop("salt", "salt_rank")
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))
      survivors.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("lang"), col("rank"))
    },
    Some(
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        | b AS (SELECT lang, unnest([array_to_string(toks[i:i+1], ' ')
        |   for i in generate_series(1, len(toks)-1)]) AS bigram FROM t),
        | c AS (SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
        | r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INT) AS rank FROM c)
        | SELECT lang, bigram, n, rank FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin))

  // ------------------- sketch-based n-gram top-k (Misra-Gries, ⊘)
  // The 100 TB form of ngram_counts' candidate generation: the exact key
  // must count EVERY distinct n-gram (O(vocabulary) aggregation state —
  // the salted window absorbs the skew but the full-vocab shuffle
  // remains); here a bounded-memory Misra-Gries sketch
  // (functions.MisraGriesAgg) runs as ONE partial-aggregating pass whose
  // merged summary provably contains every gram with frequency >
  // N/(capacity+1), then an exact counting pass runs over ONLY the
  // surviving candidates per language: the broadcast
  // semi-join filters the gram stream before any aggregation state
  // builds, so the re-count's state is O(candidates), and the final top-5
  // carries exact counts (sketch values are bounds — never reported).
  // The unsalted rank window is safe here precisely because its input is
  // ≤capacity rows per language. Capacity sizing is the operational knob:
  // survival needs capacity > N/f(top-k), so for Zipf-headed real corpora
  // (f(5th) ≈ N/50) a few hundred counters suffice, while this NEAR-
  // UNIFORM synthetic corpus (rank-5 bigram ≈ N/300, the sketch's worst
  // case) needs 2048 — which exceeds its ~900-bigram vocabulary, so here
  // the sketch tracks everything exactly; the containment test below is
  // the check a production deployment would run on a sample before
  // trusting a capacity. No SQL oracle — sketch internals are engine-
  // specific; ScaleOpsSpec pins the top-5 equal to the exact ngram_counts
  // key.
  private val ngramCountsApproxQ = Q(
    (s, dir) => {
      val bi = Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextExpressions.word_shingles(col("text"), k = 2)).as("bigram"))
      val mg = udaf(new graft.functions.MisraGriesAgg(2048),
        org.apache.spark.sql.Encoders.STRING)
      val candidates = bi.groupBy("lang").agg(mg(col("bigram")).as("sketch"))
        .select(col("lang"), explode(map_keys(col("sketch"))).as("bigram"))
      val exact = bi.join(broadcast(candidates), Seq("lang", "bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("lang"), col("rank"))
    },
    None)

  // ------------------------------- sketch-based corpus stats (⊘ oracle)
  // The 100 TB form of corpus_stats: HLL++ distinct counts and
  // Greenwald-Khanna quantile summaries replace exact DISTINCT (whose
  // hash table is O(vocabulary) per group). Percentiles aggregate the
  // per-DOCUMENT frame — computing them post-explode would weight each
  // doc by its token count. No oracle — sketch implementations differ
  // across engines; accuracy vs exact is pinned by ScalaTest instead.
  private val corpusStatsApproxQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val docLevel = docs.groupBy("lang")
        .agg(
          approx_count_distinct(col("doc_id"), 0.02).as("n_docs_approx"),
          percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("p50_chars"),
          percentile_approx(col("n_chars"), lit(0.95), lit(1000)).as("p95_chars"))
      val tokLevel = docs
        .select(col("lang"), explode(ScaleOps.tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(approx_count_distinct(col("token"), 0.02).as("vocab_approx"),
          count(lit(1)).as("n_tokens"))
      docLevel.join(tokLevel, "lang").orderBy("lang")
    },
    None)

  // --------------------- KMV distinct sketch (the oracle-ABLE sketch)
  // corpus_stats_approx demonstrates Spark's built-in sketches, but their
  // internals (HLL++ xxhash64 seeding, bias-correction tables, GK
  // compression order) are engine-private — no SQL oracle can mirror the
  // ESTIMATE, so that key stays rows-only with test-pinned accuracy. This
  // key is the verifiable counterpart: a bottom-k (KMV) distinct-count
  // estimator over md5 token hashes (functions.BottomKDistinctAgg). The
  // bottom-k set is a pure order-independent function of the hashes, so
  // DuckDB derives the identical estimate from the identical definition:
  // est = (k-1)/U_(k), U_(k) = k-th smallest hash / 2^60 — one int→double
  // cast and two correctly-rounded divisions on both engines (÷2^60 is
  // exact scaling), hence bit-equal and hash-green.
  //
  // 100 TB shape: the aggregator's state is ≤k longs, so each map task
  // emits ≤k values per language and the shuffle carries O(langs·k) rows
  // where exact DISTINCT exchanges the whole vocabulary. Accuracy is the
  // standard KMV bound (rel err ≈ 1/√(k-2) ≈ 13% at k=64), pinned against
  // the exact vocab_size in ScaleOpsSpec.
  private val corpusStatsKmvQ: Q = {
    val k = 64
    Q(
      (s, dir) => {
        val h = conv(substring(md5(concat(lit("t|"), col("token"))), 1, 15), 16, 10)
          .cast(LongType)
        val bk = udaf(new graft.functions.BottomKDistinctAgg(k),
          org.apache.spark.sql.Encoders.scalaLong)
        Tables.documents(s, dir)
          .select(col("lang"), explode(ScaleOps.tokens(col("text"))).as("token"))
          .select(col("lang"), h.as("h"))
          .groupBy("lang")
          .agg(bk(col("h")).as("mins"), count(lit(1)).as("n_tokens"))
          .select(col("lang"), col("n_tokens"),
            when(size(col("mins")) < k, size(col("mins")).cast(DoubleType))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("mins"), k).cast(DoubleType) /
                  lit(1152921504606846976.0)))
              .as("vocab_kmv"))
          .orderBy("lang")
      },
      Some(
        s"""WITH kmvtok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
           | kmvh AS (SELECT DISTINCT lang,
           |   CAST(('0x' || substr(md5('t|' || token), 1, 15)) AS BIGINT) AS h FROM kmvtok),
           | kmvr AS (SELECT lang, h,
           |   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn,
           |   COUNT(*) OVER (PARTITION BY lang) AS nd FROM kmvh),
           | kmvn AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM kmvtok GROUP BY lang)
           | SELECT kmvr.lang, kmvn.n_tokens,
           |  CASE WHEN kmvr.nd < $k THEN CAST(kmvr.nd AS DOUBLE)
           |       ELSE CAST(${k - 1} AS DOUBLE)
           |         / (CAST(kmvr.h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) END
           |    AS vocab_kmv
           | FROM kmvr JOIN kmvn ON kmvr.lang = kmvn.lang
           | WHERE kmvr.rn = CASE WHEN kmvr.nd < $k THEN kmvr.nd ELSE $k END
           | ORDER BY kmvr.lang""".stripMargin))
  }

  // --------------------------------- deterministic train/val/test split
  // Reproducible dataset splits by content-stable hash (not random()):
  // the same doc lands in the same split on every run, engine, and
  // cluster size — the property training pipelines need for eval
  // hygiene. Bucket = md5(doc_id) mod 10 → 8/1/1 split.
  private val datasetSplitQ = Q(
    (s, dir) => {
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10).cast(LongType),
        lit(10L))
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 8, lit("train"))
            .when(col("bucket") === 8, lit("validation"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(
      """SELECT doc_id,
        | CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket,
        | CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
        |      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 8 THEN 'validation'
        |      ELSE 'test' END AS split
        | FROM documents ORDER BY doc_id""".stripMargin))

  // -------------------------------- deterministic global shard shuffle
  // Training-order shuffle WITHOUT a global sort: every doc hashes to a
  // shard (content-stable, like dataset_split) and its position within
  // the shard is its rank in hash order — the two-level "hash-partition
  // then sort locally" decomposition that shuffles a 100 TB corpus with
  // one bounded-size local sort per shard and zero cross-shard
  // coordination (the terasort shape; at production scale nShards is in
  // the thousands so each local sort fits an executor). Spark's window
  // PARTITION BY shard ORDER BY (h, doc_id) plans exactly that:
  // hash-exchange on shard + per-partition sort, no range exchange, no
  // global ordering anywhere. Reproducibility is the point of hashing
  // rather than random(): the same corpus yields the same epoch
  // permutation on any cluster size, so a resumed training run reads
  // the identical batch sequence.
  private val shuffleShardCount = 16

  /** Shared shard/position assignment: `hashCol` must be a nonneg
    * 63-bit content hash; position is rank within shard in (hash, id)
    * order — total because doc_id breaks ties.
    */
  private def shardShuffleFrom(docs: DataFrame, hashCol: Column): DataFrame =
    docs
      .withColumn("h", hashCol)
      .withColumn("shard", col("h") % shuffleShardCount)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("h", "doc_id")).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  private val shuffleShardQ = Q(
    (s, dir) => shardShuffleFrom(
      Tables.documents(s, dir),
      conv(substring(md5(concat(lit("shard|"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)),
    Some(
      s"""WITH sh2 AS (SELECT doc_id,
         |   CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents),
         | sp AS (SELECT doc_id, h, h % $shuffleShardCount AS shard FROM sh2),
         | pp AS (SELECT doc_id, shard,
         |   ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos FROM sp)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(pos AS BIGINT) AS pos
         |FROM pp ORDER BY doc_id""".stripMargin))

  // production twin (⊘): seeded xxhash64 in place of the md5 bridge —
  // one codegen'd hash per row instead of a hex round-trip. Permutation
  // validity (every shard's positions are exactly 1..|shard|, doc set
  // preserved, balance bounded) is pinned in ScaleOpsSpec.
  private val shuffleShardProdQ = Q(
    (s, dir) => shardShuffleFrom(
      Tables.documents(s, dir),
      pmod(xxhash64(lit("shard"), col("doc_id")), lit(Long.MaxValue))),
    None)

  // ------------------------------------------- corpus snapshot diff
  // Crawl-to-crawl delta: classify every doc_id across two corpus
  // snapshots as added / removed / changed / unchanged by CONTENT HASH,
  // so incremental pipelines reprocess only the delta (the CC-dump
  // pattern: each monthly snapshot overlaps the previous one heavily;
  // reprocessing 100 TB for a 2% delta is the naive cost this avoids —
  // combine with dedup_incremental to dedup just the added/changed
  // slice against the standing index). The "new" snapshot is derived
  // deterministically from the fixture: every 17th doc dropped, every
  // 13th edited, every 11th re-added under a new id.
  //
  // Plan shape at 100 TB: one hash join on doc_id over (doc_id,
  // md5(text)) projections — the full text never shuffles, only 16-byte
  // content hashes; classification is per-row on the joined frame.
  private val corpusDiffQ = Q(
    (s, dir) => {
      val old = Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("old_md5"))
      val docs = Tables.documents(s, dir)
      val newSnap = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 200000))
        .select(col("doc_id"), md5(col("text")).as("new_md5"))
      old.join(newSnap, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("old_md5").isNull, lit("added"))
            .when(col("new_md5").isNull, lit("removed"))
            .when(col("old_md5") === col("new_md5"), lit("unchanged"))
            .otherwise(lit("changed")))
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH old AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
        | nw AS (SELECT doc_id,
        |   md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS new_md5
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 200000, md5(text) FROM documents WHERE doc_id % 11 = 0)
        | SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id,
        |  CASE WHEN old_md5 IS NULL THEN 'added'
        |       WHEN new_md5 IS NULL THEN 'removed'
        |       WHEN old_md5 = new_md5 THEN 'unchanged'
        |       ELSE 'changed' END AS status
        | FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
        | ORDER BY doc_id""".stripMargin))

  // --------------------------------- leakage-safe train/val/test split
  // dataset_split keyed per-DOCUMENT leaks: a near-duplicate pair split
  // across train and validation inflates eval scores (the
  // contamination Lee et al. 2022 measure between C4's own splits). The
  // guard: assign splits by the near-dup CLUSTER representative — every
  // member of a connected component follows its rep's hash bucket, so no
  // cluster ever straddles a split boundary (pinned in ScaleOpsSpec).
  // The cluster map is a PERSISTED BYPRODUCT of the dedup run (exactly
  // what dedup_cc computes) — in production it's a (doc_id, rep_id)
  // table written once per corpus snapshot, and the split is one
  // per-row hash on top of it, zero shuffle beyond the output sort.
  // Mirrored here: the map is built once per (dir, source-mtime) and
  // memoized to parquet like the IVF codebook (ccClusterMapPath);
  // dedup_cc keeps measuring the build itself.
  private def ccClusterMapPath(s: SparkSession, dir: String): String =
    graft.ArtifactMemo.parquetDurable(s,
      graft.ArtifactMemo.stamp(dir, "documents.parquet"), "ccmap") {
      val corpus = dupedDocs(s, dir)
      dedupCcFrom(corpus,
        ScaleOps.minhashSignatureTable(dupedDocsFanned(s, dir), "doc_id", "text", k = 8))
        .select("doc_id", "rep_id")
    }
  private val leakageSplitQ = Q(
    (s, dir) => {
      val cc = s.read.parquet(ccClusterMapPath(s, dir))
      val bucket = pmod(
        conv(substring(md5(col("rep_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType),
        lit(10L))
      cc.select(col("doc_id"), col("rep_id"))
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 8, lit("train"))
            .when(col("bucket") === 8, lit("validation"))
            .otherwise(lit("test")))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH RECURSIVE $minhashOracleCtes,
         | cand AS (SELECT DISTINCT id1, id2 FROM pairs),
         | sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         | verified AS (SELECT id1, id2 FROM (
         |   SELECT cand.id1, cand.id2,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |   FROM cand JOIN sets a ON cand.id1 = a.doc_id JOIN sets b ON cand.id2 = b.doc_id)
         |  WHERE jaccard >= $dedupJaccardThreshold),
         | edges AS (SELECT id1 AS a, id2 AS b FROM verified
         |           UNION SELECT id2, id1 FROM verified),
         | reach(a, b) AS (SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         | rep AS (SELECT a AS doc_id, least(a, min(b)) AS rep_id
         |         FROM reach GROUP BY a),
         | assigned AS (SELECT c.doc_id,
         |   coalesce(r.rep_id, c.doc_id) AS rep_id
         |  FROM corpus c LEFT JOIN rep r USING (doc_id)),
         | bucketed AS (SELECT doc_id, rep_id,
         |   CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket
         |  FROM assigned)
         | SELECT doc_id, rep_id, bucket,
         |  CASE WHEN bucket < 8 THEN 'train'
         |       WHEN bucket = 8 THEN 'validation'
         |       ELSE 'test' END AS split
         | FROM bucketed ORDER BY doc_id""".stripMargin))

  // --------------------------------------- stratified sampling (⊘ oracle)
  // Per-language stratified sample (sampleBy): engine-internal Bernoulli
  // draws aren't mirrorable in SQL — rows-only; proportions pinned by test.
  private val stratifiedSampleQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val fractions = Map("en" -> 0.5, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
      docs.stat.sampleBy("lang", fractions, seed = 42L)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    None)

  // ------------------------------- deterministic stratified sampling
  // The oracle-able (and production-preferred) sampler: per-stratum
  // content-stable hash threshold, same shape as dataset_split — a doc's
  // membership depends only on (lang, doc_id), so the sample is
  // reproducible across runs, engines, and cluster sizes, and resampling
  // after an append only ADDS rows (no reshuffle of prior members). The
  // lang salt decorrelates this sample from dataset_split's buckets.
  private val stratifiedHashQ = Q(
    (s, dir) => {
      val permille = when(col("lang") === "en", lit(500L))
        .when(col("lang") === "zh", lit(100L))
        .otherwise(lit(200L))
      val bucket = pmod(
        conv(substring(md5(concat(col("lang"), lit("|"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType),
        lit(1000L))
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < permille)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH h AS (SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS bucket
        | FROM documents)
        | SELECT doc_id, lang, bucket FROM h
        | WHERE bucket < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 100 ELSE 200 END
        | ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- benchmark decontamination
  // Train/eval-overlap hygiene (ScaleOps.decontaminate): the benchmark
  // set is a deterministic slice of `documents` (doc_id % 23 = 0 — ~4%,
  // the held-out eval suite), the training corpus is the rest; a training
  // doc is contaminated iff it shares ANY distinct 3-gram with any
  // benchmark doc. The oracle mirrors the explode→join→count-distinct
  // chain; the DuckDB comprehension emits [] below 3 tokens exactly like
  // ScaleOps.shingles' guard (generate_series(1, n) is empty for n < 1).
  private val decontaminateQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(23)) === 0
      ScaleOps.decontaminate(docs.filter(!isBench), docs.filter(isBench), "doc_id")
        .select(col("doc_id"), col("n_shared_ngrams"), col("contaminated"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS shingles FROM t),
        | bset AS (SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE doc_id % 23 = 0),
        | tr AS (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id % 23 <> 0),
        | hits AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        |   FROM tr JOIN bset USING (sh) GROUP BY tr.doc_id)
        | SELECT d.doc_id, COALESCE(h.n_shared_ngrams, CAST(0 AS BIGINT)) AS n_shared_ngrams,
        |  COALESCE(h.n_shared_ngrams, 0) > 0 AS contaminated
        | FROM documents d LEFT JOIN hits h USING (doc_id)
        | WHERE d.doc_id % 23 <> 0
        | ORDER BY d.doc_id""".stripMargin))

  // --------------------------------------------- semantic dedup (⊘)
  // SemDeDup over the embeddings table: trained spherical-k-means
  // codebook (K=8, the setting ann_ivf_trained_topk validated at ≥0.85
  // retrieval recall on this corpus), top-2 multi-probe assignment
  // (single-assignment capture is only 0.75-0.79 here — the fixture's
  // near-dups sit at cosine 0.25-0.5 and straddle cluster boundaries;
  // probing 2 clusters lifts it to 0.96 at 2× candidate cost),
  // within-cluster exact-cosine pairs at the corpus' near-dup threshold
  // (0.25, the embedding_neardup setting), keep-min survivors. No SQL
  // oracle — k-means centroids are float artifacts outside DuckDB's
  // reach — so the key is rows-only; ScaleOpsSpec pins precision 1.0
  // (every removal justified by an exact brute-force pair) and recall
  // ≥0.9 vs the brute-force keep-min dedup.
  private val semanticDedupQ = Q(
    (s, dir) => {
      val cents = graft.ml.IvfCodebook.load(s,
        graft.ml.IvfCodebook.codebookPath(s, dir, k = 8))
      ScaleOps.semanticDedup(Tables.embeddings(s, dir), cents, "vec_id")
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    None)

  // ------------------------------------------------- sequence packing
  // Offset-based concat-and-chop packing into 1024-token training
  // sequences (ScaleOps.packSequences), 8 deterministic shards per
  // language. All-integer arithmetic (div/pmod), so the oracle matches
  // bit-exactly; DuckDB's `//` is floor division, identical to Spark's
  // `div` for the non-negative offsets here. DuckDB's windowed
  // SUM(BIGINT) yields HUGEINT, which would propagate through `//`/`%`
  // into int128 output columns — the explicit BIGINT casts below keep
  // the oracle's types aligned with Spark's int64.
  private val packSequencesQ = Q(
    (s, dir) => {
      ScaleOps.packSequences(Tables.documents(s, dir), "doc_id", budget = 1024)
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          col("seq_id"), col("offset_in_seq"), col("spans_boundary"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        | o AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
        |   PARTITION BY lang, shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off FROM t)
        | SELECT doc_id, lang, shard, n_tokens,
        |  CAST(start_off // 1024 AS BIGINT) AS seq_id,
        |  CAST(start_off % 1024 AS BIGINT) AS offset_in_seq,
        |  (start_off + n_tokens - 1) // 1024 > start_off // 1024 AS spans_boundary
        | FROM o ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- BM25 full-text search
  // The ES-serving analogue (VERDICT r3 "What's missing" #2): relevance-
  // ranked term queries on the engine itself. Query batch is a literal —
  // terms drawn from the synthetic corpus vocabulary, plus one absent
  // term proving the no-match path (query 6 is absent from the output on
  // both sides). Constants are interpolated from the same Scala doubles
  // the operator uses (shortest-round-trip decimals re-parse identically;
  // string→double casts are correctly rounded in DuckDB). ln() is the one
  // cross-engine non-exact op — per-term contributions are dyadically
  // quantized before the sum (recipe rule 3), mirroring the operator.
  private val bm25QueryBatch: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("window", "agg"),
    2L -> Seq("slow", "scan", "filter"),
    3L -> Seq("customer", "order"),
    4L -> Seq("spark", "query", "fast"),
    5L -> Seq("data", "table", "merge"),
    6L -> Seq("zzz_absent_term"))

  private val bm25K1 = 1.2
  private val bm25Blen = 0.75

  /** One oracle for both BM25 keys: the scan path and the persisted-index
    * serving path are bit-equal by construction (shared quantized scoring
    * tail — ScaleOps.bm25ScoreTail), so they share this SQL mirror.
    */
  private val bm25OracleSql: String = {
    val k1 = bm25K1; val b = bm25Blen
    def d(v: Double) = s"CAST('${v}' AS DOUBLE)"
    val valuesSql = bm25QueryBatch.map { case (qid, ts) =>
      s"($qid, [${ts.map(t => s"'$t'").mkString(",")}])"
    }.mkString(", ")
    (
        s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, terms
           |   FROM (VALUES $valuesSql) AS v(query_id, terms)),
           | qt AS (SELECT query_id, unnest(terms) AS term FROM q),
           | dl AS (SELECT doc_id, string_split(text, ' ') AS toks,
           |   CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
           | stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
           | post AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
           | tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
           |   FROM post GROUP BY 1, 2, 3),
           | mp AS (SELECT * FROM tf WHERE term IN (SELECT DISTINCT term FROM qt)),
           | dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM mp GROUP BY 1),
           | contrib AS (SELECT qt.query_id, mp.doc_id,
           |   floor((ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           |       / (CAST(df AS DOUBLE) + 0.5))
           |     * (CAST(tf AS DOUBLE) * ${d(k1 + 1.0)})
           |     / (CAST(tf AS DOUBLE) + ${d(k1)} * (${d(1.0 - b)}
           |        + ${d(b)} * (CAST(dl AS DOUBLE) / avgdl)))) * 1048576.0)
           |    / 1048576.0 AS c
           |  FROM mp JOIN dfreq USING (term) JOIN qt USING (term) CROSS JOIN stats),
           | scored AS (SELECT query_id, doc_id, SUM(c) AS score,
           |   CAST(COUNT(*) AS BIGINT) AS n_matched FROM contrib GROUP BY 1, 2),
           | ranked AS (SELECT query_id, CAST(ROW_NUMBER() OVER (
           |     PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
           |   doc_id, score, n_matched FROM scored)
           | SELECT query_id, rank, doc_id, score, n_matched FROM ranked
           | WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
  }

  private val fulltextBm25Q: Q = Q(
    (s, dir) => {
      import s.implicits._
      val q = bm25QueryBatch.toDF("query_id", "terms")
      ScaleOps.bm25Search(Tables.documents(s, dir), q, "doc_id",
          k1 = bm25K1, b = bm25Blen, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(bm25OracleSql))

  // ------------------------------- BM25 from the persisted serving store
  // The serving-store half the fulltext_bm25 docstring promised: postings
  // are persisted ONCE as a table bucketed by term (build memoized per
  // corpus stamp — ArtifactMemo), and the query batch reads only the
  // buckets its terms hash to (bucket pruning over `term IN (...)`,
  // SelectedBucketsCount k-of-n pinned in PlanSpec) before the exact
  // shared scoring tail. Same oracle as fulltext_bm25 — the two paths are
  // bit-equal by construction, and a hash-green row here proves the
  // persisted round-trip end-to-end.
  private val fulltextBm25ServedQ: Q = Q(
    (s, dir) => {
      val stamp = ArtifactMemo.stamp(dir, "documents.parquet")
      val (postings, stats) = ArtifactMemo.cached[(String, String)](
          s"bm25idx#$stamp") {
        // Collision-free table suffix: a 32-bit hashCode of the stamp
        // could map two corpora to the same table names, silently
        // serving one corpus' postings for the other. SHA-256 prefix
        // (64 bits here) makes an accidental collision implausible.
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(stamp.getBytes("UTF-8"))
        val suffix = sha.take(8).map("%02x".format(_)).mkString
        val names = (s"bm25_postings_$suffix", s"bm25_stats_$suffix")
        ScaleOps.buildBm25Index(Tables.documents(s, dir), "doc_id",
          names._1, names._2)
        names
      }
      ScaleOps.bm25ServeFromIndex(s, postings, stats, bm25QueryBatch,
          "doc_id", k1 = bm25K1, b = bm25Blen, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(bm25OracleSql))

  // --------------------------------------- unigram LM quality scoring
  // CCNet/Gopher-style LM filter: per-doc mean log-prob under the
  // corpus' own unigram distribution. The freq table (the "model") is
  // localCheckpoint-ed — it has three consumers in the scoring plan
  // (total-mass row, broadcast head, shuffle tail) and would otherwise
  // re-scan the corpus per consumer; at 100 TB it's a persisted table.
  // Values are provably independent of the head/tail routing split
  // (same (term,count) pairs either path), so the oracle is a plain
  // token↔freq join with the identical quantized-ln expression.
  private val unigramLogProbQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val freq = ScaleOps.unigramFreq(docs).localCheckpoint()
      ScaleOps.withUnigramLogProb(docs, freq, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("sum_logprob"),
          col("avg_logprob"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        | tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM freq),
        | lp AS (SELECT doc_id,
        |   floor(ln(CAST(cnt AS DOUBLE) / tot) * 1048576.0) / 1048576.0 AS lp
        |  FROM toks JOIN freq USING (term) CROSS JOIN tot),
        | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |   SUM(lp) AS sum_logprob FROM lp GROUP BY 1)
        | SELECT doc_id, n_tokens, sum_logprob,
        |  sum_logprob / CAST(n_tokens AS DOUBLE) AS avg_logprob
        | FROM agg ORDER BY doc_id""".stripMargin))

  // ------------------------------------- bigram-LM quality scoring
  // The CCNet-style perplexity filter one order above unigram_logprob —
  // see ScaleOps.withBigramLogProb (Jelinek-Mercer ½-interpolated bigram
  // LM; context counts derived from the bigram table, all three count
  // lookups through the skew-safe Zipf split-join). Every probability is
  // a division of exact integer counts, the interpolation is IEEE-exact,
  // and ln is dyadically quantized before the order-free per-doc sum —
  // the same determinism recipe as the unigram form, so the oracle
  // mirrors bitwise. Docs with <2 tokens are absent on both sides.

  // Shared oracle CTE chain ending in `agg(doc_id, n_bigrams,
  // sum_logprob)` — reused verbatim by bigram_logprob and
  // perplexity_buckets so the LM score bits are identical everywhere.
  private val bigramLpCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      | sp AS (SELECT doc_id,
      |   unnest([array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]) AS bg
      |  FROM t),
      | spw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
      |   string_split(bg, ' ')[2] AS w2 FROM sp),
      | c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM spw GROUP BY 1),
      | c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1),
      | cu AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cu
      |  FROM (SELECT unnest(toks) AS w2 FROM t) GROUP BY 1),
      | tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS tot FROM cu),
      | lp AS (SELECT doc_id,
      |   floor(ln(0.5 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
      |          + 0.5 * (CAST(cu AS DOUBLE) / tot)) * 1048576.0) / 1048576.0 AS lp
      |  FROM spw JOIN c2 USING (bg) JOIN c1 USING (w1) JOIN cu USING (w2)
      |  CROSS JOIN tot),
      | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |   SUM(lp) AS sum_logprob FROM lp GROUP BY 1)""".stripMargin
  private val bigramLogProbQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      ScaleOps.withBigramLogProb(docs, "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("sum_logprob"),
          col("avg_logprob"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH $bigramLpCtes
        | SELECT doc_id, n_bigrams, sum_logprob,
        |  sum_logprob / CAST(n_bigrams AS DOUBLE) AS avg_logprob
        | FROM agg ORDER BY doc_id""".stripMargin))

  // Production bigram-LM twin: xxhash64 join keys (fixed-width longs)
  // instead of raw n-gram strings — see ScaleOps.withBigramLogProbXx.
  // Rows-only (no xxhash64 in DuckDB); value equality vs the string-
  // keyed form is pinned in ScaleOpsSpec.
  private val bigramLogProbProdQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      ScaleOps.withBigramLogProbXx(docs, "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("sum_logprob"),
          col("avg_logprob"))
        .orderBy(col("doc_id"))
    },
    None)

  // --------------------------------- CCNet perplexity head/middle/tail
  // The CCNet bucketing step downstream of the LM score: split the
  // corpus into head/middle/tail THIRDS by language-model likelihood,
  // with the cutoffs derived from the score distribution — not a global
  // ntile (a partition-less ranking window is a single-task wall at
  // corpus scale). Instead: quantize the score dyadically, histogram it
  // (one map-side-combinable shuffle), take the running count over the
  // DISTINCT quantized scores, and assign each score value a bucket by
  // where its cumulative count falls. The cumulative window runs over at
  // most 2^20 · score-range rows — bounded by the QUANTIZATION, not the
  // corpus, which is the whole point. Docs then pick up their bucket by
  // joining on the quantized score (identical dyadic bits both engines).
  // Ties share a value, so they share a bucket — cutoffs are
  // value-based, exactly as CCNet applies them.
  private val perplexityBucketsQ = Q(
    (s, dir) => {
      // the quantized-score frame is referenced three times (corpus
      // count, histogram, the final join back) and each reference would
      // re-execute the whole bigram-LM pipeline (the plan carried 54
      // parquet scans); one materialization of the narrow
      // (doc_id, lm_q) frame — 16 bytes per doc at any scale — cuts
      // that to a single LM pass. Values are deterministic (dyadic
      // quantization), so the hash-green oracle is unaffected.
      val scored = ScaleOps.withBigramLogProb(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"),
          (floor(col("avg_logprob") * lit(1048576.0)) / lit(1048576.0)).as("lm_q"))
        .localCheckpoint(true)
      val nn = scored.agg(count(lit(1)).as("n"))
      val hist = scored.groupBy("lm_q").agg(count(lit(1)).as("cnt"))
      // single-partition window, but over the bounded quantized domain
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("lm_q").desc)))
      val bk = cum.crossJoin(broadcast(nn))
        .withColumn("bucket",
          when(col("cum") <= floor((col("n") + lit(2)) / lit(3.0)).cast(LongType),
            lit("head"))
          .when(col("cum") <= floor((col("n") * lit(2) + lit(2)) / lit(3.0)).cast(LongType),
            lit("middle"))
          .otherwise(lit("tail")))
        .select(col("lm_q"), col("bucket"))
      scored.join(bk, "lm_q")
        .select(col("doc_id"), col("lm_q"), col("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH $bigramLpCtes,
        | scored AS (SELECT doc_id,
        |   floor((sum_logprob / CAST(n_bigrams AS DOUBLE)) * 1048576.0) / 1048576.0 AS lm_q
        |  FROM agg),
        | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
        | hist AS (SELECT lm_q, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
        | cum AS (SELECT lm_q, SUM(cnt) OVER (ORDER BY lm_q DESC) AS cum FROM hist),
        | bk AS (SELECT lm_q,
        |   CASE WHEN cum <= CAST(FLOOR((n + 2) / 3.0) AS BIGINT) THEN 'head'
        |        WHEN cum <= CAST(FLOOR((2 * n + 2) / 3.0) AS BIGINT) THEN 'middle'
        |        ELSE 'tail' END AS bucket
        |  FROM cum CROSS JOIN nn)
        | SELECT doc_id, lm_q, bucket FROM scored JOIN bk USING (lm_q)
        | ORDER BY doc_id""".stripMargin))

  // ------------------------------------------ BPE tokenizer train/apply
  // The tokenizer-training story (Sennrich et al. 2016) Spark-first —
  // see ml.BpeTokenizer for the scale design (the merge loop runs on the
  // DISTINCT-WORD frequency table, never re-touching the corpus; encode
  // is a dictionary join). Iterative argmax training has no ANSI-SQL
  // restatement, so both keys run rows-only; the semantics are pinned in
  // BpeSpec against a plain-Scala reference implementation on the
  // sf0.001 corpus (exact merge-table equality) plus hand-computed
  // crafted-corpus merges.
  private val bpeMergeCount = 32
  private val bpeTrainQ = Q(
    (s, dir) => {
      val merges = graft.ml.BpeTokenizer.mergesFor(s, dir, bpeMergeCount)
      s.createDataFrame(merges)
        .select(col("rank"), col("left").as("left_sym"),
          col("right").as("right_sym"), col("freq"))
        .orderBy(col("rank"))
    },
    None)

  // Per-doc BPE token counts: explode words once, join the segmentation
  // dictionary, aggregate — the "how many tokens is my corpus" question
  // priced as one join + one aggregate, with the tokenizer itself never
  // running over raw text.
  private val bpeTokenCountQ = Q(
    (s, dir) => {
      val merges = graft.ml.BpeTokenizer.mergesFor(s, dir, bpeMergeCount)
      val wf = graft.ml.BpeTokenizer.wordFreq(Tables.documents(s, dir))
      val dict = graft.ml.BpeTokenizer.segmentWords(s, wf, merges)
        .select(col("word"), col("n_bpe"))
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(dict, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    None)

  // --------------------------------------- DSIR importance resampling
  // Data selection for LM training (Xie et al. 2023): pick the k raw
  // docs whose hashed-n-gram profile looks most like a target corpus
  // (here: source src0 plays "the quality corpus"), sampled without
  // replacement via deterministic hash-Gumbel noise. Fit is one corpus
  // pass (both distributions from a single explode), scoring is a
  // broadcast join against the ≤4096-row bucket weight table — the
  // fixed-size feature space is what makes this a no-skew, no-shuffle
  // scoring pass at any corpus size.
  private val dsirSelectQ = Q(
    (s, dir) => {
      // fanned scan: both the fit and the scoring pass explode md5'd
      // uni+bigram features per token — the md5 map stage dominates and
      // ran single-task over the one-row-group fixture (the xx twin's
      // hashing is cheap enough that the exchange doesn't pay there)
      val docs = Tables.fanOut(s, Tables.documents(s, dir),
        s"$dir/documents.parquet")
      val isTarget = col("source") === lit("src0")
      val w = ScaleOps.dsirWeights(docs, isTarget)
      ScaleOps.dsirSelect(docs, w, isTarget, k = 100)
    },
    Some(
      """WITH t AS (SELECT doc_id, source = 'src0' AS tgt, string_split(text, ' ') AS toks FROM documents),
        | feats AS (SELECT doc_id, tgt,
        |   unnest(toks || [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]) AS f
        |  FROM t),
        | fb AS (SELECT doc_id, tgt,
        |   CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % 4096 AS bucket FROM feats),
        | bc AS (SELECT bucket, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |   SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr FROM fb GROUP BY 1),
        | tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr FROM bc),
        | w AS (SELECT bucket,
        |    floor(ln((CAST(ct AS DOUBLE) + 1.0) / (tt + 4096.0)) * 1048576.0) / 1048576.0
        |  - floor(ln((CAST(cr AS DOUBLE) + 1.0) / (tr + 4096.0)) * 1048576.0) / 1048576.0 AS lw
        |  FROM bc CROSS JOIN tot),
        | sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat, SUM(lw) AS logw
        |  FROM fb JOIN w USING (bucket) WHERE NOT tgt GROUP BY 1),
        | g AS (SELECT doc_id, n_feat, logw,
        |   floor(-ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
        |     / 1152921504606846978.0)) * 1048576.0) / 1048576.0 AS gumbel
        |  FROM sc)
        | SELECT doc_id, n_feat, logw, gumbel, logw + gumbel AS sel_score
        | FROM g ORDER BY sel_score DESC, doc_id LIMIT 100""".stripMargin))

  // Production DSIR twin: same plan shape as dsir_select, xxhash64
  // everywhere md5 appears (feature buckets + Gumbel uniform). No DuckDB
  // oracle (xxhash64 has no DuckDB twin) — rows-only, with the LLR
  // semantics pinned by the crafted-corpus test in ScaleOpsSpec.
  private val dsirSelectProdQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isTarget = col("source") === lit("src0")
      val w = ScaleOps.dsirWeightsXx(docs, isTarget)
      ScaleOps.dsirSelectXx(docs, w, isTarget, k = 100)
    },
    None)

  // ------------------------------- duplicated-n-gram fraction (exact)
  // Corpus-level exact-substring duplication signal (the dedup family's
  // n-gram member, after Lee et al.'s "Deduplicating Training Data Makes
  // Language Models Better"): for every doc, the fraction of its distinct
  // 8-gram shingles that occur in at least one OTHER position of the
  // corpus. High-fraction docs are boilerplate/templated/near-copies that
  // MinHash may miss when the share of duplicated text sits under the
  // jaccard threshold.
  //
  // Scale shape: explode distinct shingles (linear in corpus tokens), ONE
  // map-side-combinable count per shingle, and a shuffle-hash join back —
  // each occurrence receives its corpus df, so there is NO pair expansion
  // anywhere (contrast ngram_jaccard, which must cap df to bound its
  // bucket pairs). A stopword-like shingle with df=10⁹ costs exactly its
  // occurrence count, nothing quadratic. Corpus = dupedDocs so the
  // operator has known duplicates to flag.
  private val dupNgramK = 8
  private val dupNgramQ = Q(
    (s, dir) => {
      val sh = dupedDocs(s, dir).select(col("doc_id"),
        explode(array_distinct(TextExpressions.word_shingles(col("text"), dupNgramK))).as("sh"))
      // df per shingle = docs containing it (rows are distinct per doc).
      // shuffle_hash: both sides share the shingle partitioning; a sort
      // for SMJ would order the whole exploded corpus for no benefit.
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfreq.hint("shuffle_hash"), Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          col("n_dup").cast(DoubleType) / col("n_shingles").cast(DoubleType))
        .withColumn("flagged", col("dup_frac") >= 0.5)
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH duped AS ($dupedSql),
         | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM duped),
         | sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+${dupNgramK - 1}], ' ')
         |   for i in generate_series(1, len(toks)-${dupNgramK - 1})])) AS sh FROM t),
         | d AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
         | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |   CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM sh JOIN d USING (sh) GROUP BY doc_id)
         | SELECT doc_id, n_shingles, n_dup,
         |  CAST(n_dup AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS dup_frac,
         |  CAST(n_dup AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.5 AS flagged
         | FROM agg ORDER BY doc_id""".stripMargin))

  // Production twin (⊘): shingles hash to xxhash64 longs BEFORE the
  // df-count/join stage, so the corpus-wide shuffle moves 8-byte keys
  // instead of ~50-byte shingle strings. Flagged-set equivalence vs the
  // string form is pinned in ScaleOpsSpec (same pattern as the minhash
  // md5/xx pair).
  private val dupNgramProdQ = Q(
    (s, dir) => {
      val sh = dupedDocs(s, dir).select(col("doc_id"),
        explode(array_distinct(transform(
          TextExpressions.word_shingles(col("text"), dupNgramK), x => xxhash64(x)))).as("sh"))
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfreq.hint("shuffle_hash"), Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          col("n_dup").cast(DoubleType) / col("n_shingles").cast(DoubleType))
        .withColumn("flagged", col("dup_frac") >= 0.5)
        .orderBy(col("doc_id"))
    },
    None)

  // --------------------------------- cluster-balanced sampling (mixing)
  // The data-mixing step after semantic clustering: assign every vector
  // to its nearest centroid, then take a fixed-size deterministic sample
  // per cluster — cluster-balanced subsets for training-mix experiments.
  // Assignment is the IVF plan (broadcast codebook + map-side argmax
  // aggregation, no window over the K× expansion); the "random" draw is
  // the same content-stable md5 order as dataset_split, so the sample is
  // reproducible and append-stable. Centroids = first-K vectors (the
  // SQL-mirrorable codebook; ann_ivf_trained_topk shows the trained
  // variant of the same serving plan).
  //
  // The per-cluster rank is a row_number window partitioned by c_id: K
  // partitions of cluster-size rows. At 100 TB that window would become
  // the bottleneck (K tasks sort the whole corpus); the scale path keeps
  // the same samp_key and pre-thins with a uniform hash threshold
  // (P[key < t] ≈ n·samples/cluster) before the exact rank — the
  // two-phase top-k already proven on ngram_counts. Kept single-phase
  // here for the bitwise oracle.
  private val clusterSampleN = 32
  private val clusterSampleQ = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("nv", ScaleOps.l2norm(col("embedding")))
      val cents = emb.filter(col("vec_id") < ivfK)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nv").as("nc"))
      val scored = emb.join(broadcast(cents))
        .withColumn("c_cos", ScaleOps.cosine(col("embedding"), col("c_emb"), col("nv"), col("nc")))
      val assigned = scored.groupBy(col("vec_id"))
        .agg(max(struct(col("c_cos"), (-col("c_id")).as("neg_c"), col("c_id"))).as("_m"))
        .select(col("vec_id"), col("_m.c_id").as("c_id"))
      val sampKey = conv(substring(md5(col("vec_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val wRank = Window.partitionBy("c_id").orderBy(col("samp_key"), col("vec_id"))
      assigned
        .withColumn("samp_key", sampKey)
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("c_id")))
        .withColumn("samp_rank", row_number().over(wRank))
        .filter(col("samp_rank") <= clusterSampleN)
        .select(col("c_id"), col("vec_id"), col("samp_rank"), col("n_members"))
        .orderBy(col("c_id"), col("samp_rank"))
    },
    Some(
      s"""WITH e AS ($embNormSql),
         | cents AS (SELECT vec_id AS c_id, embedding AS c_emb, nv AS nc FROM e WHERE vec_id < $ivfK),
         | scored AS (SELECT e.vec_id, cents.c_id,
         |  list_reduce(list_transform(list_zip(e.embedding, cents.c_emb),
         |       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a2,b2) -> a2 + b2) / (e.nv * cents.nc) AS c_cos
         | FROM e CROSS JOIN cents),
         | assigned AS (SELECT vec_id, c_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
         |   FROM scored) WHERE rn = 1),
         | k AS (SELECT vec_id, c_id,
         |   CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS samp_key,
         |   CAST(COUNT(*) OVER (PARTITION BY c_id) AS BIGINT) AS n_members FROM assigned)
         | SELECT c_id, vec_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY samp_key, vec_id) AS INT) AS samp_rank,
         |  n_members
         | FROM k QUALIFY samp_rank <= $clusterSampleN ORDER BY c_id, samp_rank""".stripMargin))

  // ------------------------------ temperature source mixing (α = 0.5)
  // The corpus-mixing step of multilingual/multi-source training-set
  // construction (mC4 / XLM-R style α-sampling): upweight small sources,
  // damp dominant ones. Source weights w_s ∝ n_s^α; each source
  // contributes floor(N·w_s) docs, drawn deterministically in
  // content-stable md5 order (reproducible, append-stable — same recipe
  // as dataset_split/cluster_sample).
  //
  // Determinism: α = 0.5 makes n_s^α an IEEE-exact sqrt (correctly
  // rounded in every engine — pow(x, 0.3) would NOT be). The weight
  // normalization never sums doubles: sqrt values are quantized onto the
  // 2^-20 dyadic grid as 64-bit integers, the denominator is an EXACT
  // integer sum, and each quota folds through one fixed-shape double
  // expression (products ≤ 1.6e11 « 2^53 — exact). Shape at 100 TB: one
  // map-side count per source, a broadcast of the tiny quota table, one
  // per-source top-quota rank.
  private val mixN = 500
  private val mixSourcesQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("qs", floor(sqrt(col("n_docs").cast(DoubleType)) * lit(1048576.0)).cast(LongType))
      val total = quotas.agg(sum(col("qs")).as("qs_total"))
      val withQuota = quotas.join(broadcast(total))
        .withColumn("quota",
          floor(lit(mixN.toDouble) * col("qs").cast(DoubleType) / col("qs_total").cast(DoubleType))
            .cast(LongType))
        .select(col("source"), col("n_docs"), col("quota"))
      val wRank = Window.partitionBy("source")
        .orderBy(col("samp_key"), col("doc_id"))
      docs
        .withColumn("samp_key",
          conv(substring(md5(concat(lit("mix|"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
            .cast(LongType))
        .withColumn("samp_rank", row_number().over(wRank).cast(LongType))
        .join(broadcast(withQuota), Seq("source"))
        .filter(col("samp_rank") <= col("quota"))
        .select(col("source"), col("doc_id"), col("samp_rank"), col("n_docs"), col("quota"))
        .orderBy(col("source"), col("samp_rank"))
    },
    Some(
      s"""WITH q AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(FLOOR(sqrt(CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE)) * 1048576.0) AS BIGINT) AS qs
         |  FROM documents GROUP BY source),
         | tot AS (SELECT CAST(SUM(qs) AS BIGINT) AS qs_total FROM q),
         | wq AS (SELECT source, n_docs,
         |   CAST(FLOOR($mixN.0 * CAST(qs AS DOUBLE) / CAST(qs_total AS DOUBLE)) AS BIGINT) AS quota
         |  FROM q CROSS JOIN tot),
         | ranked AS (SELECT source, doc_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY source
         |     ORDER BY CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS BIGINT) AS samp_rank
         |  FROM documents)
         | SELECT r.source, r.doc_id, r.samp_rank, wq.n_docs, wq.quota
         | FROM ranked r JOIN wq USING (source)
         | WHERE r.samp_rank <= wq.quota
         | ORDER BY r.source, r.samp_rank""".stripMargin))

  // ------------------------------------------------ table profiling
  // One-pass column profiler over `documents`: row count, null count and
  // exact distinct cardinality per column, emitted tall (one row per
  // column) — the schema-drift / data-quality monitor an ingestion
  // pipeline runs on every batch. Plan shape: Spark rewrites the five
  // COUNT(DISTINCT c) into ONE Expand(×5) + two-phase aggregate — a
  // single corpus scan, not five (the oracle's UNION ALL of per-column
  // scans is the readable spec, not the plan). At 100 TB the exact form
  // is the audit twin; the everyday form swaps in approx_count_distinct
  // (HLL, no Expand) as already demonstrated by corpus_stats_approx.
  private val profileTableQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
      val wide = docs.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      wide.selectExpr("n_rows",
          s"stack(${cols.length}, $stackArgs) AS (col_name, n_notnull, n_distinct)")
        .select(col("col_name"), col("n_rows"),
          (col("n_rows") - col("n_notnull")).as("n_null"), col("n_distinct"))
        .orderBy("col_name")
    },
    Some(
      """SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_null,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct FROM documents
        | UNION ALL
        | SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(lang) AS BIGINT),
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
        | UNION ALL
        | SELECT 'n_chars', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
        |  CAST(COUNT(DISTINCT n_chars) AS BIGINT) FROM documents
        | UNION ALL
        | SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(source) AS BIGINT),
        |  CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
        | UNION ALL
        | SELECT 'text', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(text) AS BIGINT),
        |  CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
        | ORDER BY col_name""".stripMargin))

  // --------------------------------------------- TF-IDF keyword extraction
  // Top-5 TF-IDF terms per document — the classic keyword/topic signal
  // for corpus exploration and weak labeling. tf is the in-doc term
  // count; idf = ln(N/df) dyadically quantized (determinism recipe rule
  // 3), so score = tf · idf_q is an exact dyadic product — sums and
  // comparisons are order-independent in both engines.
  //
  // Plan shape at 100 TB: df is derived FROM the (doc,term) tf aggregate
  // (no second corpus pass); the scoring join on `term` is Zipf-skewed
  // by construction, so it is hinted shuffle_hash here and would use the
  // unigram_logprob broadcast-head/shuffle-tail split when the vocabulary
  // head dominates (see withUnigramLogProb's scaladoc — same story).
  private val tfidfTopkQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(ScaleOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val scored = tf.join(df_.hint("shuffle_hash"), Seq("term"))
        .join(broadcast(nDocs))
        .withColumn("idf_q",
          floor(log(col("n_docs") / col("df").cast(DoubleType)) * lit(1048576.0)) / lit(1048576.0))
        .withColumn("score", col("tf").cast(DoubleType) * col("idf_q"))
      val wDoc = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      scored
        .withColumn("rank", row_number().over(wDoc).cast(LongType))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        | df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        | nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        | scored AS (SELECT doc_id, term, tf,
        |   CAST(tf AS DOUBLE) * (floor(ln(n_docs / CAST(df AS DOUBLE)) * 1048576.0) / 1048576.0) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN nd),
        | ranked AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |     PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank,
        |   term, tf, score FROM scored)
        | SELECT doc_id, rank, term, tf, score FROM ranked
        | WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin))

  // ------------------------------------- random-projection compression
  // Johnson–Lindenstrauss dimensionality reduction: project the dim-64
  // embedding onto 16 fixed pseudo-random hyperplanes (same deterministic
  // generator as the LSH tables, its own seed), yielding a dense 16-d
  // sketch that approximately preserves pairwise distances — the cheap
  // first stage before clustering / coarse ANN when the full vector is
  // too wide to shuffle. Per-row and zero-shuffle (ORDER BY is the only
  // exchange); each projection is the same fixed left-to-right fold as
  // the ANN exact re-rank, computed by the native codegen dot expression.
  private val embProjectQ = Q(
    (s, dir) => {
      val planes = ScaleOps.lshPlanes(dim = 64, tables = 1, bits = 16, seed = 7L)(0)
      val projCols = planes.zipWithIndex.map { case (p, i) =>
        VectorExpressions.dot_f(col("embedding"), typedlit(p)).as(f"p_$i%02d")
      }
      Tables.embeddings(s, dir)
        .select(col("vec_id") +: projCols: _*)
        .orderBy("vec_id")
    },
    Some {
      val planes = ScaleOps.lshPlanes(dim = 64, tables = 1, bits = 16, seed = 7L)(0)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        s"${planeDotSql(p)} AS p_${"%02d".format(i)}"
      }.mkString(",\n ")
      s"SELECT vec_id, $cols FROM embeddings ORDER BY vec_id"
    })

  // ------------------------------------- character-entropy quality signal
  // Shannon entropy of the per-document character distribution — the
  // CCNet/RefinedWeb-style cheap detector for degenerate text (repeated
  // chars / encoded blobs score low; natural prose sits near the
  // language's ~4.1 bits). Determinism: p = c/n is one correctly-rounded
  // IEEE division (identical both engines); each −p·ln(p) term is
  // dyadically quantized BEFORE the per-doc sum, so the sum is exact
  // integer arithmetic in doubles and order-independent (recipe rule 3).
  //
  // The serving form is the native one-pass expression
  // (graftnative.CharEntropyStats — per-row, zero shuffle, inside
  // codegen); the explode(per-char) form below in [[charEntropyExplode]]
  // is the executable spec, bit-equal by construction (equivalence
  // pinned in ScaleOpsSpec). The explode form shuffles one row PER
  // CHARACTER of the corpus for a per-document statistic — wrong shape
  // at any scale, kept only as the readable mirror of the oracle SQL.
  // Both engines pin `length(text) > 0`: the native zero-struct row for
  // an empty doc has no explode/oracle counterpart.
  private val charEntropyQ = Q(
    (s, dir) => {
      val e = TextExpressions
        .char_entropy(col("text"))
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          e.getField("n_distinct_chars").as("n_distinct_chars"),
          e.getField("entropy_nats").as("entropy_nats"))
        .orderBy("doc_id")
    },
    Some(
      """WITH chars AS (SELECT doc_id, ch FROM (
        |   SELECT doc_id, unnest(string_split(text, '')) AS ch
        |   FROM documents WHERE length(text) > 0) WHERE ch <> ''),
        | freq AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM chars GROUP BY 1, 2),
        | wn AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM freq),
        | terms AS (SELECT doc_id, ch,
        |   floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576.0) / 1048576.0 AS t_q
        |  FROM wn)
        | SELECT doc_id, CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_distinct_chars,
        |  SUM(t_q) AS entropy_nats
        | FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** The explode+groupBy executable spec of [[charEntropyQ]]'s native
    * expression — one row per character, readable mirror of the oracle
    * SQL. Equivalence with the native form is pinned in ScaleOpsSpec.
    */
  private[graft] def charEntropyExplode(docs: DataFrame): DataFrame = {
    // Spark's split keeps a trailing "" element (Java split semantics,
    // limit -1); DuckDB's string_split does not — filter empties on
    // BOTH sides so the engines see the same character multiset.
    val chars = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
    val freq = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val withN = freq.withColumn("n",
      sum(col("c")).over(Window.partitionBy("doc_id")))
    withN
      .withColumn("p", col("c").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("t_q",
        floor(-col("p") * log(col("p")) * lit(1048576.0)) / lit(1048576.0))
      .groupBy("doc_id")
      .agg(countDistinct(col("ch")).as("n_distinct_chars"),
        sum(col("t_q")).as("entropy_nats"))
  }

  // --------------------------------------------- vocabulary OOV coverage
  // The tokenizer-prep question every training pipeline asks before
  // committing a vocab budget: with the K most-document-frequent tokens
  // as the vocabulary, what out-of-vocabulary rate does each document
  // see? Two phases: (1) document frequency = one shuffle on (token,
  // doc)-distinct pairs, head-K via TakeOrderedAndProject (no global
  // sort); (2) per-row OOV counting against the head as an array
  // literal — the K-row driver collect is the bounded-artifact stance
  // of the ANN centroid collects (a real vocab budget is ~50k tokens,
  // still literal-sized). K=16 of this corpus's 31-token vocabulary so
  // the head/tail split is non-vacuous at every sf.
  //
  // oov_rate is one double division of two exact longs — bitwise equal
  // across engines, no quantization needed.
  private val vocabCoverageQ = Q(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab: Array[String] = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(16)
        .collect().map(_.getString(0))
      val vocabLit = typedLit(vocab.toSeq)
      val toks = split(col("text"), " ")
      docs.select(col("doc_id"),
          size(toks).cast(LongType).as("n_tokens"),
          size(filter(toks, t => !array_contains(vocabLit, t)))
            .cast(LongType).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        | df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
        | vocab AS (SELECT token FROM df ORDER BY df DESC, token LIMIT 16),
        | vl AS (SELECT list(token) AS vs FROM vocab),
        | per AS (SELECT doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(string_split(text, ' '),
        |     t -> NOT list_contains(vs, t))) AS BIGINT) AS n_oov
        |  FROM documents, vl)
        | SELECT doc_id, n_tokens, n_oov,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
        | FROM per ORDER BY doc_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "profile_table" -> profileTableQ,
    "char_entropy" -> charEntropyQ,
    "vocab_coverage" -> vocabCoverageQ,
    "tfidf_topk" -> tfidfTopkQ,
    "embedding_project" -> embProjectQ,
    "mix_sources" -> mixSourcesQ,
    "dup_ngram_fraction" -> dupNgramQ,
    "dup_ngram_fraction_prod" -> dupNgramProdQ,
    "cluster_sample" -> clusterSampleQ,
    "dsir_select" -> dsirSelectQ,
    "dsir_select_prod" -> dsirSelectProdQ,
    "unigram_logprob" -> unigramLogProbQ,
    "bigram_logprob" -> bigramLogProbQ,
    "bigram_logprob_prod" -> bigramLogProbProdQ,
    "perplexity_buckets" -> perplexityBucketsQ,
    "bpe_train" -> bpeTrainQ,
    "bpe_token_count" -> bpeTokenCountQ,
    "fulltext_bm25" -> fulltextBm25Q,
    "fulltext_bm25_served" -> fulltextBm25ServedQ,
    "semantic_dedup" -> semanticDedupQ,
    "pack_sequences" -> packSequencesQ,
    "decontaminate" -> decontaminateQ,
    "dataset_split" -> datasetSplitQ,
    "shuffle_shard" -> shuffleShardQ,
    "shuffle_shard_prod" -> shuffleShardProdQ,
    "split_leakage_safe" -> leakageSplitQ,
    "corpus_diff" -> corpusDiffQ,
    "stratified_sample" -> stratifiedSampleQ,
    "stratified_sample_hash" -> stratifiedHashQ,
    "corpus_stats_approx" -> corpusStatsApproxQ,
    "corpus_stats_kmv" -> corpusStatsKmvQ,
    "ngram_counts" -> ngramCountsQ,
    "ngram_counts_approx" -> ngramCountsApproxQ,
    "embedding_quantize" -> embQuantizeQ,
    "corpus_stats" -> corpusStatsQ,
    "ann_lsh_topk" -> annLshQ,
    "ann_ivf_topk" -> annIvfQ,
    "ann_ivf_trained_topk" -> annIvfTrainedQ,
    "ann_ivf_append" -> annIvfAppendQ,
    "ann_pq_topk" -> annPqQ,
    "ann_ivfpq_topk" -> annIvfPqQ,
    "ann_ivfpq_served" -> annIvfPqServedQ,
    "ann_filtered_served" -> annFilteredServedQ,
    "line_dedup" -> lineDedupQ,
    "span_dedup" -> spanDedupQ,
    "span_dedup_prod" -> spanDedupProdQ,
    "dedup_exact" -> dedupExactQ,
    "text_stats" -> textStatsQ,
    "repetition_stats" -> repetitionQ,
    "lang_id" -> langIdQ,
    "doc_fingerprint" -> fingerprintQ,
    "minhash_dedup" -> minhashLshQ,
    "minhash_dedup_prod" -> minhashProdQ,
    "dedup_pipeline" -> dedupPipelineQ,
    "dedup_cc" -> dedupCcQ,
    "dedup_cc_prod" -> dedupCcProdQ,
    "pagerank" -> pagerankQ,
    "pagerank_prod" -> pagerankProdQ,
    "pagerank_incremental" -> pagerankIncrementalQ,
    "dedup_pipeline_prod" -> dedupPipelineProdQ,
    "dedup_incremental" -> dedupIncrementalQ,
    "dedup_incremental_prod" -> dedupIncrementalProdQ,
    "pii_scrub" -> piiScrubQ,
    "quality_filter" -> qualityFilterQ,
    "quality_classifier" -> qualityClassifierQ,
    "text_normalize" -> textNormalizeQ,
    "ngram_jaccard" -> jaccardQ,
    "similarity_topk" -> similarityTopkQ,
    "ann_filtered_topk" -> annFilteredTopkQ,
    "embedding_neardup" -> embNeardupQ,
    "knn_graph" -> knnGraphQ,
    "multimodal_meta" -> multimodalQ,
    "image_meta" -> imageMetaQ,
    "image_pixels" -> imagePixelsQ,
    "png_pixels" -> pngPixelsQ,
    "gif_pixels" -> gifPixelsQ,
    "jpeg_pixels" -> jpegPixelsQ,
    "jpeg_progressive_pixels" -> jpegProgressivePixelsQ,
    "jpeg_sampling_pixels" -> jpegSamplingPixelsQ,
    "webp_pixels" -> webpPixelsQ,
    "webp_pred_pixels" -> webpPredPixelsQ,
    "webp_palette_pixels" -> webpPalettePixelsQ,
    "webp_lossy_pixels" -> webpLossyPixelsQ,
    "png_ext_pixels" -> pngExtPixelsQ,
    "tiff_pixels" -> tiffPixelsQ,
    "tiff_ext_pixels" -> tiffExtPixelsQ,
    "tiff_tiled_pixels" -> tiffTiledPixelsQ,
    "mp3_pcm" -> mp3PcmQ,
    "mp4_samples" -> mp4SamplesQ,
    "mp4_frag_samples" -> mp4FragSamplesQ,
    "subtitle_text" -> subtitleTextQ,
    "subtitle_frame_pairing" -> subtitleFramePairingQ,
    "vorbis_pcm" -> vorbisPcmQ,
    "opus_packets" -> opusPacketsQ,
    "pdf_text" -> pdfTextQ,
    "docx_text" -> docxTextQ,
    "odt_text" -> odtTextQ,
    "markdown_text" -> markdownTextQ,
    "rtf_text" -> rtfTextQ,
    "eml_message" -> emlMessageQ,
    "mbox_messages" -> mboxMessagesQ,
    "wiki_articles" -> wikiArticlesQ,
    "bzip2_text" -> bzip2TextQ,
    "wiki_dump_bz2" -> wikiDumpBz2Q,
    "robots_sitemaps" -> robotsSitemapsQ,
    "pptx_text" -> pptxTextQ,
    "xlsx_cells" -> xlsxCellsQ,
    "sitemap_urls" -> sitemapUrlsQ,
    "feed_entries" -> feedEntriesQ,
    "main_content" -> mainContentQ,
    "url_canonical" -> urlCanonicalQ,
    "tar_members" -> tarMembersQ,
    "webdataset_pairs" -> webdatasetPairsQ,
    "zip_entries" -> zipEntriesQ,
    "webdataset_image_stats" -> webdatasetImageStatsQ,
    "epub_text" -> epubTextQ,
    "jsonl_corpus" -> jsonlCorpusQ,
    "robots_allowed" -> robotsAllowedQ,
    "mp4_mjpeg_frames" -> mp4MjpegFramesQ,
    "id3_meta" -> id3MetaQ,
    "warc_records" -> warcRecordsQ,
    "crawl_dedup_pipeline" -> crawlDedupPipelineQ,
    "html_text" -> htmlTextQ,
    "mp4_tracks" -> mp4TracksQ,
    "exif_orient_pixels" -> exifOrientPixelsQ,
    "exif_meta" -> exifMetaQ,
    "audio_pcm" -> audioPcmQ,
    "flac_pcm" -> flacPcmQ,
    "audio_energy_windows" -> audioEnergyWindowsQ,
    "video_frames" -> videoFramesQ,
    "video_mjpeg_frames" -> videoMjpegFramesQ,
    "gif_frames" -> gifFramesQ,
    "webp_anim_frames" -> webpAnimFramesQ,
    "audio_meta" -> audioMetaQ,
    "ogg_meta" -> oggMetaQ,
    "mp3_meta" -> mp3MetaQ,
    "container_meta" -> containerMetaQ,
    "chunk_documents" -> chunkDocumentsQ,
    "cdc_chunk" -> cdcChunkQ,
    "simhash_neardup" -> simhashQ,
    "image_dhash_neardup" -> imageDhashNeardupQ,
    "video_dhash_neardup" -> videoDhashNeardupQ
  )
}
