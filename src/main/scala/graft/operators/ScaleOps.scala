package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftnative.{ImageDecode, ImageResizeNN,
  PcmFunctions, TextExpressions, VectorExpressions}

/** LLM-training-data pipeline operators (SURVEY §7.1 step 8 / BASELINE
  * north star): dedup, fingerprinting, text analysis, similarity search,
  * multimodal plumbing. Designed scale-first:
  *
  *  - Per-document work (tokenize, shingle, minhash signature, simhash,
  *    fingerprints, text stats) is expressed with higher-order array
  *    functions — fully partition-local, zero shuffle, codegen-friendly.
  *  - Cross-document work (LSH banding, jaccard pairs, ANN) shuffles only
  *    on compact keys (band hashes, tokens), never on full texts crossed
  *    against each other. No O(n²) stage touches raw documents.
  */
object ScaleOps {

  /** Whitespace tokenization shared by every text operator. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles as strings ("w1 w2 w3"). Empty array for docs shorter
    * than k tokens (guards Spark's descending-sequence quirk).
    */
  def shingles(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** One MinHash signature component: lexicographic min of md5 over salted
    * shingles. K independent salts → K-component signature, all computed
    * per-row (no shuffle).
    */
  def minhashComponent(shingleArr: Column, salt: Int): Column =
    array_min(transform(shingleArr, x => md5(concat(lit(s"$salt|"), x))))

  /** Full K-component MinHash signature as individual columns sig_1..sig_K.
    * Per-row array form; see [[minhashSignatureTable]] for the bulk path.
    */
  def withMinhashSignature(df: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val sh = TextExpressions.word_shingles(col(textCol))
    (1 to k).foldLeft(df.withColumn("_sh", sh)) { (d, i) =>
      d.withColumn(s"sig_$i", minhashComponent(col("_sh"), i))
    }.drop("_sh")
  }

  /** Bulk MinHash: explode shingles once, then a single HashAggregate with
    * K `min(hash60(...))` columns — shingle construction + explode happen
    * once, partial aggregation shrinks the shuffle to K longs per doc.
    * Signatures are 60-bit longs (15 md5 hex chars) rather than md5
    * strings so the min() aggregate stays in HashAggregate — min over
    * varchar falls back to sort-based aggregation. Docs with no shingles
    * (< k tokens) are absent from the output.
    *
    * Hash economy: md5 dominates per-shingle cost, so each salted md5
    * yields TWO signature components — hex chars 1–15 and 17–31 are
    * disjoint bit ranges of one digest (⌈K/2⌉ md5s for K components;
    * whole-stage codegen's subexpression elimination computes each digest
    * once per row). Unlike the shared-base Carter-Wegman scheme (`h1 +
    * i·h2` from ONE md5 for all K, which correlated component minima and
    * inflated LSH candidates ~8× here), the two halves of a digest are
    * independent uniform values, and distinct salts keep pairs of
    * components independent across the signature.
    */
  def minhashSignatureTable(df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val sh = df.select(col(idCol),
      explode(TextExpressions.word_shingles(col(textCol))).as("_sh"))
    val aggs = (1 to k).map { i =>
      val digest = md5(concat(lit(s"${(i + 1) / 2}|"), col("_sh")))
      val off = if (i % 2 == 1) 1 else 17
      min(conv(substring(digest, off, 15), 16, 10).cast(LongType)).as(s"sig_$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row form of [[minhashSignatureTable]]: identical 60-bit
    * components (same salts, same digest halves) computed as array
    * minima inside the scan projection — ZERO shuffle, no row
    * amplification. Measured ~1.6× SLOWER than the explode+HashAggregate
    * form at sf0.1 (each of the K transforms re-evaluates the shingle
    * array and materializes an intermediate), so the bulk form stays the
    * default; this one is the option for pipelines where shuffle volume,
    * not CPU, is the binding constraint. Docs with no shingles (< 3
    * tokens) are dropped, matching the bulk form's absent-from-
    * aggregation semantics; component equality is pinned in ScaleOpsSpec.
    */
  def minhashSignaturePerRow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val sigs = (1 to k).map { i =>
      val off = if (i % 2 == 1) 1 else 17
      array_min(transform(col("_sh"), x =>
        conv(substring(md5(concat(lit(s"${(i + 1) / 2}|"), x)), off, 15), 16, 10)
          .cast(LongType))).as(s"sig_$i")
    }
    df.withColumn("_sh", TextExpressions.word_shingles(col(textCol)))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol) +: sigs: _*)
  }

  /** Production MinHash signature on xxhash64: identical pipeline shape to
    * [[minhashSignatureTable]] (explode once, K min-aggregates, partial
    * aggregation) but each component hashes with seeded xxhash64 instead
    * of md5 — one 8-byte mix per component versus a full 16-byte
    * cryptographic digest per PAIR of components. Several times cheaper
    * per shingle; the md5 form exists only because the DuckDB oracle can
    * mirror md5 bit-for-bit (xxhash64 has no DuckDB twin), so the md5
    * variant carries the correctness gate and this one carries production
    * throughput. Same banding/cap downstream; candidate sets agree on
    * every true duplicate and overlap heavily elsewhere (pinned in
    * ScaleOpsSpec).
    */
  def minhashSignatureTableXx(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val sh = df.select(col(idCol),
      explode(TextExpressions.word_shingles(col(textCol))).as("_sh"))
    val aggs = (1 to k).map(i => min(xxhash64(lit(i), col("_sh"))).as(s"sig_$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row form of [[minhashSignatureTableXx]]: the shingle array is
    * materialized once in the projection and each component is an
    * `array_min(transform(...xxhash64...))` over it — ZERO shuffle, no row
    * amplification. Measured ~30% SLOWER than the bulk explode form at
    * sf0.1 even with cheap hashes (higher-order-function lambdas evaluate
    * outside whole-stage codegen, so the K array passes pay interpreted
    * dispatch per element) — the bulk form stays the production default;
    * this is the option when shuffle volume, not CPU, binds.
    */
  def minhashSignaturePerRowXx(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val sigs = (1 to k).map(i =>
      array_min(transform(col("_sh"), x => xxhash64(lit(i), x))).as(s"sig_$i"))
    df.withColumn("_sh", TextExpressions.word_shingles(col(textCol)))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol) +: sigs: _*)
  }

  /** LSH band keys from a K-signature: bands of `rows` components each,
    * concatenated. Docs sharing any band key are near-dup candidates.
    */
  def bandKeys(k: Int, rows: Int): Seq[Column] =
    (1 to k by rows).map { start =>
      concat_ws("#", (start until start + rows).map(i => col(s"sig_$i")): _*)
        .as(s"band_${(start - 1) / rows + 1}")
    }

  /** Degenerate-bucket cap for LSH pair expansion: a bucket of B members
    * expands to B(B−1)/2 pairs, so one pathological bucket (near-empty docs
    * hashing identically, an all-stopword band) turns the linear banding
    * plan quadratic. Production LSH skips buckets above a size cap — a
    * bucket that ubiquitous carries no near-dup signal anyway. 64 bounds
    * any single bucket to ≤2016 pairs while sitting far above the bucket
    * sizes real near-dup clusters produce.
    */
  val lshBucketCap = 64

  /** Document-frequency cap for exact-jaccard candidate generation: a token
    * shared by N docs of a source yields an N-member bucket and N²/2
    * candidate pairs, so stopword-like tokens make the pairing quadratic.
    * Tokens above the cap are dropped from BOTH the intersection and the
    * set sizes — the measure becomes "jaccard over informative tokens",
    * the standard candidate-generation semantics.
    */
  val maxTokenDf = 64

  /** Keep only buckets whose member array is in [2, cap] — the pair-
    * expansion guard shared by the minhash/simhash near-dup queries.
    */
  def cappedBuckets(buckets: DataFrame, idsCol: String, cap: Int = lshBucketCap): DataFrame =
    buckets.filter(size(col(idsCol)).between(2, cap))

  /** Observability for the cap: how many buckets were skipped and how big
    * the worst one was. Run alongside a dedup job to monitor whether the
    * corpus is degenerating (log-style counter; queries stay pure).
    */
  def bucketSkewStats(buckets: DataFrame, idsCol: String, cap: Int = lshBucketCap): DataFrame =
    buckets.agg(
      count(lit(1)).as("n_buckets"),
      sum(when(size(col(idsCol)) > cap, 1L).otherwise(0L)).as("n_skipped"),
      max(size(col(idsCol))).as("max_bucket"))

  /** 60-bit SimHash over a token array, fully per-row: each token hashes to
    * a 60-bit value (first 15 hex chars of md5 → long); bit j of the
    * simhash is 1 iff more tokens set bit j than clear it.
    *
    * NOTE: fine for tests/small frames, but the 60 per-bit array scans get
    * re-inlined by CollapseProject and recompute md5 per bit — use
    * [[simhashTable]] for bulk data.
    */
  def simhash60(toks: Column): Column = {
    val hashes = transform(toks, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast(LongType))
    val n = size(hashes)
    val bits = (0 until 60).map { j =>
      val ones = size(filter(hashes, h => shiftright(h, j).bitwiseAND(1) === 1))
      when(ones * 2 > n, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Bulk SimHash: explode tokens, hash each ONCE, then one codegen'd
    * HashAggregate with 60 conditional sums (partial aggregation map-side,
    * so the shuffle carries 61 longs per doc). Same result as
    * [[simhash60]]; linear cost, scales to any corpus.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .withColumn("_h", conv(substring(md5(col("_t")), 1, 15), 16, 10).cast(LongType))
    val aggs = (0 until 60).map(j =>
      sum(shiftright(col("_h"), j).bitwiseAND(1)).as(s"_b$j")) :+ count(lit(1)).as("_n")
    val counted = tok.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bits = (0 until 60).map(j =>
      when(col(s"_b$j") * 2 > col("_n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
    counted.select(col(idCol), bits.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Hamming distance between two simhash values (near-dup predicate). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Hamming-tolerant dedup clustering over 64-bit perceptual hashes —
    * the two-stage shape video-frame dedup needs at 100 TB:
    *
    *  - STAGE 1 groups EXACT hashes (one groupBy on an 8-byte key,
    *    LINEAR star output): video dup clusters are huge (title cards,
    *    black frames), and banding raw frames provably drops twins
    *    under any bucket cap (measured r14: 1985/2250 lost at cap 64).
    *  - STAGE 2 bands only the cluster REPRESENTATIVE hashes — one per
    *    DISTINCT hash, reps ≪ frames, so the capped pair expansion
    *    that is wrong at frame scale is safe here — with the
    *    pigeonhole parameterization the budget dictates: 5 bands of
    *    13/13/13/13/12 bits, so any rep pair within Hamming ≤ 4
    *    shares at least one full band. Candidates verify by exact
    *    popcount; clusters merge over the rep graph via distributed
    *    connected components (chains of ≤4-bit steps merge
    *    transitively, as near-dup semantics require).
    *
    * Input: `(pid LONG, dh LONG)`; output: `(pid, rep)` for every
    * non-representative frame, `rep` = min pid of its merged cluster.
    * The result is an eager local checkpoint: its blocks are held on the
    * executors until released, and the caller owns them and should
    * [[Checkpoints.release]] it when done (`unpersist()` does not free a
    * local checkpoint).
    */
  def dhashHammingClusters(frames: DataFrame, maxHamming: Int = 4): DataFrame = {
    // byHash is the SMALL post-collapse table (one row per distinct
    // hash) and everything downstream — banding, edges, the member
    // explode — derives from it, so it is persisted and the expensive
    // per-frame decode upstream runs exactly once. It is unpersisted
    // before return, after the (small) result materializes.
    val byHash = frames.groupBy(col("dh"))
      .agg(min(col("pid")).as("rep0"),
        sort_array(collect_list(col("pid"))).as("ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = byHash.select(col("dh"), col("rep0"),
      posexplode(array(
        col("dh").bitwiseAND(lit(0x1FFFL)),
        shiftrightunsigned(col("dh"), 13).bitwiseAND(lit(0x1FFFL)),
        shiftrightunsigned(col("dh"), 26).bitwiseAND(lit(0x1FFFL)),
        shiftrightunsigned(col("dh"), 39).bitwiseAND(lit(0x1FFFL)),
        shiftrightunsigned(col("dh"), 52))).as(Seq("band_idx", "bk")))
      .groupBy("band_idx", "bk")
      .agg(sort_array(collect_list(struct(col("rep0"), col("dh")))).as("ms"))
    val edges = cappedBuckets(banded, "ms")
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)),
          |    y -> struct(x.rep0 AS src, y.rep0 AS dst,
          |                x.dh AS h1, y.dh AS h2))))""".stripMargin)).as("e"))
      .filter(hamming(col("e.h1"), col("e.h2")) <= maxHamming)
      .select(col("e.src"), col("e.dst"))
      .distinct()
    // the rep graph is SMALL by construction (reps = distinct hashes,
    // edges = verified near-dup rep pairs), so the common case merges
    // with a driver-side union-find under a hard bound — 2M edges =
    // 32 MB, the codebook-collect class — and only a genuinely huge
    // rep graph pays the multi-round distributed star algorithm.
    // ONE execution of the edge pipeline decides the branch AND feeds
    // the union-find: collect under limit(cap + 1) — cap-many rows in
    // hand means the driver path is safe, one more means fall back
    // (re-executing edges only on that rare distributed path), instead
    // of the former count() + collect() double execution.
    val spark = frames.sparkSession
    val cappedRows = edges.limit((DriverCcEdgeCap + 1).toInt).collect()
    val comp: DataFrame =
      if (cappedRows.length <= DriverCcEdgeCap) {
        val rows = cappedRows // bounded by the cap just checked
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val next = parent.get(c); parent.put(c, r); c = next
          }
          r
        }
        rows.foreach { e =>
          val a = find(e.getLong(0))
          val b = find(e.getLong(1))
          if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        parent.keySet().forEach { n =>
          val r = find(n)
          if (r != n) out += ((n, r))
        }
        import spark.implicits._
        out.toSeq.toDF("rep0", "crep")
      } else
        connectedComponents(edges, "src", "dst")
          .select(col("node").as("rep0"), col("rep").as("crep"))
    // materialize the (small) result and RELEASE byHash and the
    // components' final round: the output is one row per
    // non-representative frame — the member explode is their last
    // reader, so a long-lived session must not keep accumulating blocks
    // per invocation (guide §5: unpersist when done)
    val out = byHash.select(col("rep0"), explode(col("ps")).as("pid"))
      .join(comp, Seq("rep0"), "left")
      .select(col("pid"), coalesce(col("crep"), col("rep0")).as("rep"))
      .filter(col("pid") =!= col("rep"))
      .localCheckpoint(true)
    byHash.unpersist()
    Checkpoints.release(comp)
    out
  }

  /** Edge bound under which [[dhashHammingClusters]] merges on the
    * driver (2M × 16 B = 32 MB — the bounded-collect class); above
    * it the distributed star rounds take over.
    */
  val DriverCcEdgeCap: Long = 2L << 20

  /** Higher-order-function dot product: same sequential fold semantics as
    * `VectorExpressions.dot_f`, used to cross-check the native expression.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(VectorExpressions.dot_f(a, a))

  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    VectorExpressions.dot_f(a, b) / (na * nb)

  // ------------------------------------------------- LSH-bucketed ANN

  /** Random-hyperplane LSH tables for cosine ANN: `tables` independent
    * bucket keys of `bits` sign-bits each. Planes are generated from a
    * fixed seed (fully deterministic) and inlined as literals, so bucket
    * assignment is a per-row expression — no shuffle, no state. Neighbors
    * within angular distance θ agree on one bit with prob 1−θ/π; multiple
    * small tables trade recall vs candidate count. The scale path: the
    * candidate join is an equi-join on (table, bucket), and exact cosine
    * re-ranking runs only inside buckets.
    */
  def lshBuckets(emb: Column, dim: Int, tables: Int = 4, bits: Int = 4,
      seed: Long = 42L): Seq[Column] = {
    val planes = lshPlanes(dim, tables, bits, seed)
    (0 until tables).map { t =>
      val planeBits = (0 until bits).map { p =>
        when(VectorExpressions.dot_f(emb, typedlit(planes(t)(p))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }
      planeBits.reduce(_ + _).as(s"bucket_$t")
    }
  }

  /** Fused form of [[lshBuckets]]: ONE native expression
    * ([[org.apache.spark.sql.graftnative.LshBucketsFloat]]) computes all
    * `tables × bits` plane dots in a single pass over the embedding and
    * returns the bucket ids as `array<int>` (index = table). Bit-for-bit
    * equal to the composed form (same planes, same sequential fold per
    * plane — pinned in ScaleOpsSpec) at a fraction of the per-row cost:
    * the composed form re-traverses the array and pays expression
    * dispatch per plane. Pair with `posexplode` to get (tbl, bucket).
    */
  def lshBucketsFused(emb: Column, dim: Int, tables: Int = 4, bits: Int = 4,
      seed: Long = 42L): Column = {
    val flat = lshPlanes(dim, tables, bits, seed).flatten.flatMap(_.toSeq).toArray
    VectorExpressions.lsh_buckets(
      emb, flat, dim, tables, bits)
  }

  /** The hyperplane values behind [[lshBuckets]], exposed so an external
    * mirror (the DuckDB oracle) can inline the identical planes as
    * literals and reproduce bucket assignment bit-for-bit. Floats convert
    * to double exactly, so the shortest-round-trip decimal of the double
    * re-parses to the same value in any engine.
    */
  def lshPlanes(dim: Int, tables: Int, bits: Int, seed: Long = 42L)
      : IndexedSeq[IndexedSeq[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.tabulate(tables)(_ =>
      IndexedSeq.tabulate(bits)(_ =>
        Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
  }

  // ----------------------------------------------------------- text stats

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Language-ID marker tokens (n-gram/stopword heuristic). Real corpora
    * would carry per-language marker lists; the shape of the operator —
    * per-row array scoring, argmax across languages — is what matters.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "you3"))

  private def inList(t: Column, words: Seq[String]): Column =
    words.map(w => t === lit(w)).reduce(_ || _)

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => inList(t, stopwords)))

  def markerScore(toks: Column, lang: String): Column =
    size(filter(toks, t => inList(t, langMarkers(lang))))

  /** The Gopher rule statistics + keep decision — the ONE definition of
    * the rule-based quality filter, shared by the `quality_filter` key
    * and [[graft.ml.QualityClassifier]] (which distills `passes` into a
    * learned score): word-count band, mean-word-length band, stopword
    * fraction floor, distinct-bigram repetition floor. Keeping a single
    * implementation is what makes the classifier's "mirrors the rule
    * filter exactly" contract structural rather than copy-paste.
    */
  def withQualityRules(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .withColumn("n_words", size(toks).cast(LongType))
      .withColumn("mean_word_len",
        length(regexp_replace(col(textCol), " ", "")).cast(DoubleType) /
          col("n_words").cast(DoubleType))
      .withColumn("stopword_frac",
        stopwordCount(toks).cast(DoubleType) / col("n_words").cast(DoubleType))
      .withColumn("_bi", TextExpressions.word_shingles(col(textCol), k = 2))
      .withColumn("distinct_bigram_ratio",
        when(size(col("_bi")) > 0,
          size(array_distinct(col("_bi"))).cast(DoubleType) /
            size(col("_bi")).cast(DoubleType))
          .otherwise(lit(1.0)))
      .withColumn("passes",
        col("n_words").between(20, 100000) &&
          col("mean_word_len").between(2.0, 12.0) &&
          col("stopword_frac") >= 0.01 &&
          col("distinct_bigram_ratio") >= 0.3)
      .drop("_bi")
  }

  /** BPE-ish regex tokenization: letter runs and digit runs as separate
    * tokens (the word/number split every subword tokenizer starts from).
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+"), lit(0))

  /** Text-quality stats: token counts (whitespace + regex), distinct
    * ratio, stopword ratio, mean token length, composite quality score —
    * all per-row integer/double arithmetic.
    */
  def withTextStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    df.withColumn("n_tokens", size(tk).cast(LongType))
      .withColumn("n_regex_tokens", size(regexTokens(col(textCol))).cast(LongType))
      .withColumn("n_distinct_tokens", size(array_distinct(tk)).cast(LongType))
      .withColumn("n_stopwords", stopwordCount(tk).cast(LongType))
      .withColumn("distinct_ratio", col("n_distinct_tokens").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("stopword_ratio", col("n_stopwords").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("mean_token_len",
        length(regexp_replace(col(textCol), " ", "")).cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("quality_score",
        least(col("n_tokens").cast(DoubleType) / lit(100.0), lit(1.0)) * lit(0.4) +
          (lit(1.0) - col("stopword_ratio")) * lit(0.3) +
          col("distinct_ratio") * lit(0.3))
  }

  /** Gopher-rule repetition signals (Rae et al. 2021 §A1.1) — the
    * within-document quality axis text_stats does not cover: heavily
    * repetitive machine-generated or boilerplate text has high coverage
    * by one n-gram (`top{2,3}_frac`: fraction of characters in the
    * most-covering word n-gram) or by duplicated n-grams (`dup5_frac`:
    * fraction of characters inside word 5-grams that occur ≥ 2×).
    *
    * Per-row, zero shuffle: the counting runs inside the codegen'd
    * [[org.apache.spark.sql.graftnative.NgramRepetitionStats]] native
    * expression (one token scan + one hash count per n — a per-document
    * statistic must NOT shuffle every n-gram of the corpus, and the HOF
    * alternative is interpreted). Coverages stay exact integers; the one
    * double division per fraction is bit-identical across engines.
    * Fractions are capped at 1.0 (overlapping grams can cover more
    * characters than the text has).
    */
  def withRepetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val n = length(col(textCol))
    def frac(cover: Column): Column =
      when(n === 0, lit(0.0))
        .otherwise(least(lit(1.0), cover.cast(DoubleType) / n.cast(DoubleType)))
    df.withColumn("_rep",
        TextExpressions.ngram_repetition(col(textCol)))
      .withColumn("top2_cover", col("_rep.top_a_cover"))
      .withColumn("top3_cover", col("_rep.top_b_cover"))
      .withColumn("dup5_cover", col("_rep.dup_cover"))
      .withColumn("top2_frac", frac(col("top2_cover")))
      .withColumn("top3_frac", frac(col("top3_cover")))
      .withColumn("dup5_frac", frac(col("dup5_cover")))
      .drop("_rep")
  }

  /** Benchmark decontamination — flag training documents that share word
    * k-grams with a held-out evaluation/benchmark set, the standard
    * train/test-overlap hygiene pass of an LLM data pipeline (13-grams in
    * published pipelines; k is a parameter — the fixture corpus uses the
    * repo-wide 3-gram shingles).
    *
    * Plan shape at 100 TB: the benchmark side is BOUNDED BY CONSTRUCTION
    * (an eval suite is thousands-to-millions of documents, not the
    * corpus), so its distinct shingle set broadcasts; the corpus side is
    * one explode + one broadcast hash join on compact shingle strings +
    * a partial-agg count per doc — linear in the corpus, no shuffle of
    * raw text, no all-pairs stage anywhere. Pass
    * `broadcastBenchmark = false` only when the "benchmark" is not
    * actually small (then AQE decides the join strategy).
    *
    * Output: `corpus` columns + `n_shared_ngrams` (distinct k-grams also
    * present anywhere in the benchmark) + `contaminated`.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String = "text", k: Int = 3,
      broadcastBenchmark: Boolean = true): DataFrame = {
    def distinctShingles(c: Column) = array_distinct(TextExpressions.word_shingles(c, k))
    val benchSet0 = benchmark
      .select(explode(distinctShingles(col(textCol))).as("_bsh")).distinct()
    val benchSet = if (broadcastBenchmark) broadcast(benchSet0) else benchSet0
    val hits = corpus
      .select(col(idCol), explode(distinctShingles(col(textCol))).as("_bsh"))
      .join(benchSet, "_bsh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_ngrams")) // per-doc shingles are distinct pre-join
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("n_shared_ngrams", coalesce(col("n_shared_ngrams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_ngrams") > 0)
  }

  /** BM25 relevance search — the engine-side analogue of the full-text
    * query capability the reference gets by shipping rows to Elasticsearch
    * (`spark-job/etl_job.py:406-462` is the ES sink; the search itself
    * happens outside the reference's engine). Re-expressed as an
    * inverted-index + scoring plan so a user can run the same
    * relevance-ranked term queries without a serving store.
    *
    * `queries` carries (query_id long, terms array<string>) and is small
    * by contract (a query batch, not a table) — it broadcasts.
    *
    * Plan shape at 100 TB:
    *  - postings: one explode + partial-agg count — linear in the corpus,
    *    shuffles compact (doc, term) keys, never raw text;
    *  - document frequencies are computed AFTER the broadcast semi-join
    *    with the query terms, so the per-term agg only ever sees the
    *    handful of requested terms, not the corpus vocabulary;
    *  - corpus stats (N, avgdl) are a one-row aggregate, broadcast;
    *  - top-k ranks via a per-query window — the shuffle key is query_id,
    *    and only docs matching ≥1 query term reach it.
    * For a serving path the `postings` sub-plan is the piece to persist
    * (e.g. a table bucketed by term); the scoring tail is then a single
    * broadcast join + aggregation per query batch.
    *
    * Scoring is standard Okapi BM25:
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`, contribution
    * `idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))`. Per-term contributions
    * are dyadically quantized before the per-doc sum (determinism recipe
    * rule 3 — `ln` is the one non-IEEE-exact op in the engine, and the
    * grid also makes the sum associativity-independent).
    *
    * Output: (query_id, rank, idCol, score, n_matched) — queries with no
    * matching docs are absent.
    */
  def bm25Search(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast(LongType))
    val stats = toks.agg(count(lit(1)).as("_n_docs"),
      (sum(col("_dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("_avgdl"))
    val qterms = queries
      .select(col("query_id"), explode(col("terms")).as("term"))
    // the broadcast semi-restriction lands BEFORE the tf aggregation: the
    // explode → broadcast-hash-join filter fuses into one codegen stage,
    // so the groupBy only ever aggregates occurrences of the requested
    // terms — not the corpus vocabulary (measured 3.0 s → sub-second at
    // sf0.1). The indexing path that persists full postings keeps the
    // unfiltered groupBy instead and buckets the result by term — see
    // [[buildBm25Index]] / [[bm25ServeFromIndex]].
    val matched = toks
      .select(col(idCol), col("_dl"), explode(col("_toks")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy(col(idCol), col("_dl"), col("term"))
      .agg(count(lit(1)).as("_tf"))
    bm25ScoreTail(matched, stats, qterms, idCol, k1, b, topK)
  }

  /** The BM25 scoring tail shared by the scan path ([[bm25Search]]) and
    * the persisted-index serving path ([[bm25ServeFromIndex]]), so the
    * two can never drift: `matched` carries (idCol, _dl, term, _tf) rows
    * restricted to the query terms, `stats` the one-row
    * (_n_docs, _avgdl). Per-term contributions are dyadically quantized
    * before the per-doc sum, which ALSO makes the two paths bit-equal —
    * each quantized term has ≤20 fractional bits, so the handful-of-terms
    * sum is exact and associativity-independent regardless of which plan
    * produced the rows.
    */
  private def bm25ScoreTail(matched: DataFrame, stats: DataFrame,
      qterms: DataFrame, idCol: String, k1: Double, b: Double,
      topK: Int): DataFrame = {
    // document frequency as a count-over-window on term, NOT a groupBy +
    // self-join back: the two-phase form would execute the matched
    // subtree twice (once to build the df broadcast, once as probe) —
    // two full corpus passes at scale, and broadcast-future scheduling
    // severs Spark's exchange reuse between them. The window is one
    // narrow exchange on term over the already-matched rows only. A
    // pathologically common query term concentrates its doc list in one
    // window partition; if that bites, precompute df with the postings
    // index instead.
    val withDf = matched.withColumn("_df",
      count(lit(1)).over(Window.partitionBy("term")))
    val dfd = col("_df").cast(DoubleType)
    val nD = col("_n_docs").cast(DoubleType)
    val tfd = col("_tf").cast(DoubleType)
    val dld = col("_dl").cast(DoubleType)
    val idf = log(lit(1.0) + (nD - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val tfNorm = (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (dld / col("_avgdl"))))
    val contrib = floor(idf * tfNorm * lit(1048576.0)).cast(DoubleType) /
      lit(1048576.0)
    val scored = withDf
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_c", contrib)
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("_c")).as("score"), count(lit(1)).as("n_matched"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score"),
        col("n_matched"))
  }

  /** Persisted serving-store layout for BM25: materialize the FULL
    * postings list (term, id, _tf, _dl) as a table BUCKETED BY TERM plus
    * the one-row corpus stats table. This is the indexing half of a
    * full-text serving store: the corpus is scanned ONCE at build time
    * (one explode + two-phase count agg, shuffling compact keys), and
    * every subsequent query batch reads only the buckets its terms hash
    * to — Spark's bucket pruning turns `term IN (...)` into a
    * SelectedBucketsCount k-of-n scan (pinned in PlanSpec), so serving
    * cost scales with the query's posting lists, not the corpus. At
    * 100 TB this is the difference between a search service and a
    * per-query corpus scan; `buckets` sizes to vocabulary volume (tens
    * of thousands on a real corpus — 16 here keeps the fixture small).
    */
  def buildBm25Index(docs: DataFrame, idCol: String, postingsTable: String,
      statsTable: String, textCol: String = "text", buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    // Idempotent AND re-openable across JVMs. The table names embed the
    // corpus stamp, so a directory under the deterministic name was
    // derived from the same corpus — three cases for a cold JVM:
    //  1. table already in THIS JVM's catalog → the index is live, done;
    //  2. a previous process' directories survive on disk with their
    //     _SUCCESS markers → REGISTER them (external table with the same
    //     bucket spec read back from the files) instead of rebuilding —
    //     "serving store" means a fresh process re-opens the index, it
    //     does not re-derive it from the corpus;
    //  3. otherwise (absent, or partial from a crashed build) → drop any
    //     stale catalog entry, delete the leftover location (a surviving
    //     directory would fail saveAsTable with LOCATION_ALREADY_EXISTS),
    //     sweep orphans of OTHER corpus stamps, and build.
    if (spark.catalog.tableExists(postingsTable) &&
        spark.catalog.tableExists(statsTable)) return
    if (hasSuccessMarker(spark, postingsTable) &&
        hasSuccessMarker(spark, statsTable)) {
      registerExisting(spark, postingsTable,
        Some((Seq("term"), buckets)))
      registerExisting(spark, statsTable, None)
      return
    }
    sweepStaleWarehouseDirs(spark, Seq("bm25_postings_", "bm25_stats_"))
    dropTableAndLocation(spark, postingsTable)
    dropTableAndLocation(spark, statsTable)
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_dl", size(col("_toks")).cast(LongType))
    toks.select(col(idCol), col("_dl"), explode(col("_toks")).as("term"))
      .groupBy(col("term"), col(idCol), col("_dl"))
      .agg(count(lit(1)).as("_tf"))
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(postingsTable)
    toks.agg(count(lit(1)).as("_n_docs"),
        (sum(col("_dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("_avgdl"))
      .write.mode("overwrite").saveAsTable(statsTable)
  }

  /** Warehouse location a managed table `name` would occupy. Spark
    * lowercases managed-table directory names; the warehouse conf value
    * may carry a `file:` scheme, which Hadoop's Path handles directly.
    */
  private def warehouseLocation(spark: SparkSession, name: String)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
      name.toLowerCase(java.util.Locale.ROOT))

  /** DROP TABLE IF EXISTS plus delete of the warehouse directory the
    * managed table would occupy. The second half matters precisely when
    * the first is a no-op: a fresh JVM's in-memory catalog has never
    * heard of the table, so DROP removes nothing, but the directory a
    * previous JVM wrote is still on disk and would fail the next
    * saveAsTable's location check.
    */
  private def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = warehouseLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** True when the warehouse location for `table` holds a COMPLETE write
    * — the `_SUCCESS` marker the committer drops only after every task
    * file is in place. A directory without it is a crashed build's
    * debris and must be rebuilt, never registered.
    */
  private def hasSuccessMarker(spark: SparkSession, table: String): Boolean = {
    val loc = warehouseLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))
  }

  /** Register an existing complete warehouse directory as an EXTERNAL
    * table (schema read back from its parquet footers; optional bucket
    * spec re-declared so bucket pruning works on the re-opened index).
    * External: a later DROP of the registration must never delete the
    * files another process may still be serving from.
    */
  private def registerExisting(spark: SparkSession, table: String,
      bucketSpec: Option[(Seq[String], Int)]): Unit = {
    val loc = warehouseLocation(spark, table)
    val ddlCols = spark.read.parquet(loc.toString).schema.toDDL
    val clustered = bucketSpec.map { case (cols, n) =>
      val cl = cols.map(c => s"`$c`").mkString(", ")
      s"CLUSTERED BY ($cl) SORTED BY ($cl) INTO $n BUCKETS "
    }.getOrElse("")
    spark.sql(s"CREATE TABLE `$table` ($ddlCols) USING parquet " +
      clustered + s"LOCATION '$loc'")
  }

  /** Delete warehouse directories whose name starts with one of
    * `prefixes`, which no table in THIS JVM's catalog points at, AND
    * which have not been modified for 48 h — i.e. genuinely stale
    * orphans left by long-dead processes. Catalog-registered directories
    * are live (another suite in this JVM may be serving from them); the
    * mtime cutoff (same guard as ArtifactMemo.parquetDurable's orphan
    * sweep) protects a CONCURRENT process sharing the warehouse — the
    * cross-process reuse the durable serving stores exist for — whose
    * live index this JVM's catalog knows nothing about.
    */
  private def sweepStaleWarehouseDirs(spark: SparkSession,
      prefixes: Seq[String]): Unit = {
    val whs = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(whs)) return
    val cutoff = System.currentTimeMillis() - 48L * 3600 * 1000
    fs.listStatus(whs).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && prefixes.exists(name.startsWith) &&
          !spark.catalog.tableExists(name) &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, true)
    }
  }

  /** Serve a query batch from the persisted postings index (see
    * [[buildBm25Index]]): the scan is restricted to the query terms with
    * an IN over literals so bucket pruning applies at the source, then
    * the exact [[bm25ScoreTail]] runs over the (tiny) matched posting
    * lists. Results are bit-equal to [[bm25Search]] over the same corpus
    * (shared quantized tail; exact-integer tf/dl), pinned in PlanSpec
    * together with the pruned-scan contract.
    */
  def bm25ServeFromIndex(spark: SparkSession, postingsTable: String,
      statsTable: String, queries: Seq[(Long, Seq[String])], idCol: String,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val qterms = queries.toDF("query_id", "terms")
      .select(col("query_id"), explode(col("terms")).as("term"))
    val terms = queries.flatMap(_._2).distinct
    val matched = spark.table(postingsTable)
      .filter(col("term").isin(terms: _*))
    bm25ScoreTail(matched, spark.table(statsTable), qterms, idCol, k1, b, topK)
  }

  /** Fixed-window document chunking with overlap — the RAG /
    * long-context training prep stage: each document's token stream is
    * split into windows of `window` tokens whose starts advance by
    * `stride` (overlap = window − stride), emitting one row per chunk
    * `(doc_id, chunk_idx, chunk_text, n_tokens)`. A trailing start is
    * emitted only if its window ADDS tokens beyond the previous chunk's
    * end (`s == 0 || s + window − stride < n`) — no chunk is ever a
    * suffix of its predecessor. One narrow pass: split → sequence of
    * starts → posexplode → slice/array_join; zero joins, zero
    * aggregation, so a 100 TB corpus chunks in a single scan and the
    * output partitions like the input (the usual next stage — embed or
    * tokenize per chunk — is mapPartitions-shaped over exactly this).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, window: Int,
      stride: Int, textCol: String = "text"): DataFrame = {
    require(stride > 0 && stride <= window,
      s"stride $stride must be in 1..window=$window")
    val toks = tokens(col(textCol))
    docs
      .withColumn("_toks", toks)
      .withColumn("_n", size(col("_toks")))
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), greatest(col("_n") - 1, lit(0)),
          lit(stride))).as("_s"))
      .filter(col("_s") === 0 ||
        col("_s") + lit(window - stride) < col("_n"))
      .select(col(idCol),
        (col("_s") / stride).cast(LongType).as("chunk_idx"),
        array_join(slice(col("_toks"), col("_s") + 1, lit(window)), " ")
          .as("chunk_text"),
        (least(col("_s") + window, col("_n")) - col("_s"))
          .cast(LongType).as("n_tokens"))
  }

  /** Corpus unigram frequency table — (term, _cnt). One explode +
    * two-phase agg, linear, shuffles compact term keys. This IS the
    * "model" of the unigram LM filter: at 100 TB persist it (parquet,
    * bucketed by term) and feed the materialized table to
    * [[withUnigramLogProb]]; deriving it inline is fine for one-shot
    * scoring but a plan that consumes it more than once would otherwise
    * re-scan the corpus per consumer.
    */
  def unigramFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("_cnt"))

  /** Unigram LM quality scoring (the CCNet/Gopher LM-filter stage): each
    * document's mean log-probability under the corpus unigram
    * distribution `freq` (see [[unigramFreq]] — pass it materialized).
    * Low `avg_logprob` = rare-token-heavy text (noise, codes,
    * boilerplate IDs); high = common-word prose — the standard cheap
    * proxy for "looks like natural language" used to bucket training
    * corpora before an expensive LM pass.
    *
    * Plan shape at 100 TB — the scoring join is on `term`, whose
    * frequency distribution is Zipfian BY CONSTRUCTION (that is what
    * the operator measures), so a plain equi-join would funnel every
    * occurrence of the most common words into a few hot shuffle
    * partitions. Split join instead:
    *  - the `headSize` most frequent terms broadcast — by Zipf they
    *    carry most of the token mass, so most tokens resolve map-side
    *    with no shuffle at all;
    *  - unresolved (rare) tokens join the remaining tail shuffle-hash.
    *    Head-resolved rows ride through that exchange under a
    *    doc-derived routing key (never matches a real term — real terms
    *    are non-empty words; uniform because doc ids are) instead of
    *    being re-filtered out of a second corpus pass, and the tail
    *    keys are skew-free by construction (all rarer than the head).
    * Routing only balances partitions — both paths produce the same
    * (term, count) pairs, so values cannot depend on `headSize`.
    *
    * Per-token `ln P` is dyadically quantized before the per-doc sum
    * (determinism recipe rule 3); `avg_logprob` divides the exact
    * quantized sum by the doc's token count.
    *
    * Output: docs columns + `n_tokens`, `sum_logprob`, `avg_logprob`.
    */
  def withUnigramLogProb(docs: DataFrame, freq: DataFrame, idCol: String,
      textCol: String = "text", headSize: Int = 1024): DataFrame = {
    val tot = freq.agg(sum(col("_cnt")).cast(DoubleType).as("_tot"))
    val stream = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val resolved = skewSafeCountJoin(stream, freq, "term", col(idCol),
      "_cnt", headSize)
    val lp = floor(log(col("_cnt").cast(DoubleType) / col("_tot"))
      * lit(1048576.0)).cast(DoubleType) / lit(1048576.0)
    val perDoc = resolved.crossJoin(broadcast(tot))
      .withColumn("_lp", lp)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_lp")).as("sum_logprob"))
      .withColumn("avg_logprob",
        col("sum_logprob") / col("n_tokens").cast(DoubleType))
    docs.join(perDoc, idCol)
  }

  /** Skew-safe count lookup (the [[withUnigramLogProb]] Zipf split-join,
    * factored for reuse): join a keyed stream to a (key, _cnt) frequency
    * table with the `headSize` hottest keys BROADCAST (their rows are
    * rerouted to a per-row sentinel key so the shuffled tail join never
    * sees them — the Zipf head is exactly where the skew lives) and the
    * rare tail resolved by a hinted shuffle-hash join on the compact key.
    * Values are provably independent of the routing split: both paths
    * serve the same (key, count) pairs. The sentinel prefixes `rowKey`
    * with NUL, which no whitespace-split token or " "-joined shingle can
    * start with.
    */
  def skewSafeCountJoin(stream: DataFrame, freq: DataFrame, keyCol: String,
      rowKey: Column, cntName: String, headSize: Int = 1024): DataFrame =
    skewSafeCountJoinKeyed(stream, freq, keyCol,
      concat(lit("\u0000"), rowKey.cast(StringType)), cntName, headSize)

  /** [[skewSafeCountJoin]] with a caller-supplied reroute sentinel, for
    * non-string keys (e.g. xxhash64 longs — pass the row id itself).
    * Sentinel/real-key collisions are HARMLESS by construction: a head
    * row's spurious tail match is discarded because coalesce always
    * prefers the head count (`_ch`) that routed the row in the first
    * place — the sentinel only needs to SPREAD hot rows, not be unique.
    */
  def skewSafeCountJoinKeyed(stream: DataFrame, freq: DataFrame, keyCol: String,
      sentinel: Column, cntName: String, headSize: Int = 1024): DataFrame = {
    val head = freq.orderBy(col("_cnt").desc, col(keyCol)).limit(headSize)
    val tailF = freq.join(broadcast(head.select(keyCol).withColumn("_h", lit(1))),
        Seq(keyCol), "left")
      .filter(col("_h").isNull).drop("_h")
      .select(col(keyCol).as("_k"), col("_cnt").as("_ct"))
    val routed = stream
      .join(broadcast(head.withColumnRenamed("_cnt", "_ch")), Seq(keyCol), "left")
      .withColumn("_k", when(col("_ch").isNotNull, sentinel).otherwise(col(keyCol)))
    routed.hint("shuffle_hash").join(tailF, Seq("_k"), "left")
      .withColumn(cntName, coalesce(col("_ch"), col("_ct")))
      .drop("_k", "_ch", "_ct")
  }

  /** Bigram-LM quality scoring — the CCNet-style perplexity filter one
    * order up from [[withUnigramLogProb]] (CCNet gates Common Crawl on
    * KenLM perplexity; the engine-level analogue is a Jelinek-Mercer
    * interpolated bigram LM trained on the corpus it scores):
    * `P(w₂|w₁) = ½·c(w₁w₂)/c(w₁·) + ½·c(w₂)/N`, summed as quantized
    * `ln P` per document.
    *
    * Every probability is a double division of exact integer counts and
    * the ½-interpolation is IEEE-exact, so the only engine-dependent op
    * is `ln` — dyadically quantized before the per-doc sum exactly like
    * the unigram form (the quantized terms live on the 2⁻²⁰ grid, so the
    * sum is order-free). The CONTEXT count c(w₁·) is derived from the
    * bigram table itself (Σ over bigrams starting with w₁ = occurrences
    * of w₁ in non-final position) — no third corpus pass.
    *
    * Scale shape: one bigram explode; all three lookups (bigram,
    * context, unigram) go through [[skewSafeCountJoin]] — the bigram
    * table is where boilerplate skew concentrates (the same hot bigram
    * in 10⁹ docs) and each hot key rides a broadcast, never a shuffled
    * hot partition. Docs with fewer than 2 tokens have no bigrams and
    * are absent from the output.
    */
  def withBigramLogProb(docs: DataFrame, idCol: String,
      textCol: String = "text", headSize: Int = 1024): DataFrame = {
    val bigrams = docs
      .select(col(idCol), explode(TextExpressions.word_shingles(col(textCol), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val bgFreq = bigrams.groupBy("bg").agg(count(lit(1)).as("_cnt"))
    val ctxFreq = bgFreq
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum("_cnt").as("_cnt"))
    val uniFreq = docs.select(explode(tokens(col(textCol))).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("_cnt"))
    val tot = uniFreq.agg(sum("_cnt").cast(DoubleType).as("_tot"))
    val looked = skewSafeCountJoin(
      skewSafeCountJoin(
        skewSafeCountJoin(bigrams, bgFreq, "bg", col(idCol), "_c2", headSize),
        ctxFreq, "w1", col(idCol), "_c1", headSize),
      uniFreq, "w2", col(idCol), "_cu", headSize)
    val p = lit(0.5) * (col("_c2").cast(DoubleType) / col("_c1").cast(DoubleType)) +
      lit(0.5) * (col("_cu").cast(DoubleType) / col("_tot"))
    val lp = floor(log(p) * lit(1048576.0)).cast(DoubleType) / lit(1048576.0)
    val perDoc = looked.crossJoin(broadcast(tot))
      .withColumn("_lp", lp)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("sum_logprob"))
      .withColumn("avg_logprob",
        col("sum_logprob") / col("n_bigrams").cast(DoubleType))
    docs.join(perDoc, idCol)
  }

  /** Production twin of [[withBigramLogProb]]: every join keys on 8-byte
    * xxhash64 instead of the raw token/bigram STRING — the freq tables
    * aggregate on the hash directly and the three split-join shuffles
    * carry fixed-width longs (the usual _prod compaction; a 64-bit
    * collision would merge two n-grams' counts, vanishing at any real
    * vocabulary size — value equality vs the string-keyed form on the
    * fixture corpus is pinned in ScaleOpsSpec). The reroute sentinel is
    * the row id itself ([[skewSafeCountJoinKeyed]] — collisions with
    * real keys are harmless there by construction). The context count
    * derives from the aggregated bigram table exactly like the md5
    * form — the (hb, h1) pair grouping carries the first-token hash
    * alongside the bigram hash, so c(w₁·) is a re-aggregation of the
    * COMPACT table, never a second pass over the exploded stream.
    */
  def withBigramLogProbXx(docs: DataFrame, idCol: String,
      textCol: String = "text", headSize: Int = 1024): DataFrame = {
    val bigrams = docs
      .select(col(idCol), explode(TextExpressions.word_shingles(col(textCol), 2)).as("bg"))
      .withColumn("hb", xxhash64(col("bg")))
      .withColumn("h1", xxhash64(split(col("bg"), " ").getItem(0)))
      .withColumn("h2", xxhash64(split(col("bg"), " ").getItem(1)))
      .drop("bg")
    val bgFreqPairs = bigrams.groupBy("hb", "h1").agg(count(lit(1)).as("_cnt"))
    val bgFreq = bgFreqPairs.select(col("hb"), col("_cnt"))
    val ctxFreq = bgFreqPairs.groupBy("h1").agg(sum("_cnt").as("_cnt"))
    val uniFreq = docs
      .select(explode(tokens(col(textCol))).as("_t"))
      .select(xxhash64(col("_t")).as("h2"))
      .groupBy("h2").agg(count(lit(1)).as("_cnt"))
    val tot = uniFreq.agg(sum("_cnt").cast(DoubleType).as("_tot"))
    val looked = skewSafeCountJoinKeyed(
      skewSafeCountJoinKeyed(
        skewSafeCountJoinKeyed(bigrams, bgFreq, "hb", col(idCol), "_c2", headSize),
        ctxFreq, "h1", col(idCol), "_c1", headSize),
      uniFreq, "h2", col(idCol), "_cu", headSize)
    val p = lit(0.5) * (col("_c2").cast(DoubleType) / col("_c1").cast(DoubleType)) +
      lit(0.5) * (col("_cu").cast(DoubleType) / col("_tot"))
    val lp = floor(log(p) * lit(1048576.0)).cast(DoubleType) / lit(1048576.0)
    val perDoc = looked.crossJoin(broadcast(tot))
      .withColumn("_lp", lp)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("sum_logprob"))
      .withColumn("avg_logprob",
        col("sum_logprob") / col("n_bigrams").cast(DoubleType))
    docs.join(perDoc, idCol)
  }

  // ------------------------------------------- DSIR importance resampling

  /** Hashed n-gram features (unigrams + bigrams) of a text column — the
    * DSIR feature map (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"). Built from the native shingle
    * expression at both sizes (k=1 tokens, k=2 bigrams) so the exploded
    * feature stream — the operator's hot path — stays in whole-stage
    * codegen; the HOF `shingles(tokens(t), 2)` form evaluates interpreted
    * (CodegenFallback) and is equivalence-pinned against this in
    * ScaleOpsSpec. Short/null docs yield empty bigram arrays, never null,
    * so concat cannot annihilate the unigrams.
    */
  def hashedNgramFeats(text: Column): Column =
    concat(TextExpressions.word_shingles(text, 1), TextExpressions.word_shingles(text, 2))

  /** md5-derived feature bucket in [0, nBuckets): the fixed hash both
    * engines share (oracle-mirrorable like every md5 key in this repo);
    * [[featBucketXx]] is the production twin on xxhash64.
    */
  def featBucket(feat: Column, nBuckets: Int): Column =
    conv(substring(md5(feat), 1, 15), 16, 10).cast(LongType) % nBuckets

  /** Production feature bucket: one 8-byte xxhash64 pass instead of
    * md5 + hex decode (the usual ~2x oracle tax of the md5 keys).
    */
  def featBucketXx(feat: Column, nBuckets: Int): Column =
    pmod(xxhash64(feat), lit(nBuckets.toLong))

  /** DSIR bucket weight table: Laplace-smoothed log-likelihood ratio
    * `ln p_target(b) − ln p_raw(b)` per hashed-n-gram bucket, fit from
    * ONE corpus pass (target membership is a per-row predicate, so both
    * distributions come out of a single explode + two-phase agg).
    * Output is ≤ `nBuckets` rows — broadcastable by construction, which
    * is the whole point of hashing an unbounded vocabulary into a fixed
    * bucket space: the scoring join can never skew or shuffle the corpus.
    * Each log is dyadically quantized (determinism rule 3); their
    * difference is then exact in doubles.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      textCol: String = "text", nBuckets: Int = 4096): DataFrame =
    dsirWeightsImpl(docs, isTarget, textCol, nBuckets, featBucket(_, nBuckets))

  /** Production twin of [[dsirWeights]] on xxhash64 buckets. */
  def dsirWeightsXx(docs: DataFrame, isTarget: Column,
      textCol: String = "text", nBuckets: Int = 4096): DataFrame =
    dsirWeightsImpl(docs, isTarget, textCol, nBuckets, featBucketXx(_, nBuckets))

  private def dsirWeightsImpl(docs: DataFrame, isTarget: Column,
      textCol: String, nBuckets: Int, bucket: Column => Column): DataFrame = {
    val qlog = (x: Column) =>
      floor(log(x) * lit(1048576.0)).cast(DoubleType) / lit(1048576.0)
    val counts = docs
      .select(isTarget.as("_t"), explode(hashedNgramFeats(col(textCol))).as("_f"))
      .groupBy(bucket(col("_f")).as("bucket"))
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("_ct"),
        sum(when(col("_t"), 0L).otherwise(1L)).as("_cr"))
    val tot = counts.agg(sum(col("_ct")).cast(DoubleType).as("_tt"),
      sum(col("_cr")).cast(DoubleType).as("_tr"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (qlog((col("_ct").cast(DoubleType) + lit(1.0)) / (col("_tt") + lit(nBuckets.toDouble)))
          - qlog((col("_cr").cast(DoubleType) + lit(1.0)) / (col("_tr") + lit(nBuckets.toDouble))))
          .as("lw"))
  }

  /** DSIR scoring + Gumbel top-k selection over the non-target docs:
    * per-doc importance weight `logw = Σ_features lw(bucket)` via a
    * broadcast join against [[dsirWeights]] (inner is safe — the weight
    * table was fit on a superset of the scored corpus, so every bucket
    * a candidate hashes into exists), then sampling-without-replacement
    * via the Gumbel top-k trick with the uniform drawn from md5(doc_id)
    * — deterministic, content-stable, and append-stable like every
    * sampler in this repo. Selection = orderBy + limit (TakeOrdered at
    * scale: per-partition top-k then a k-row driver merge — no global
    * sort or single-task window touches the corpus).
    *
    * Output: (idCol, n_feat, logw, gumbel, sel_score) × k rows.
    */
  def dsirSelect(docs: DataFrame, weights: DataFrame, isTarget: Column,
      k: Int, idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 4096): DataFrame = {
    // u in (0,1) from the top 60 bits of md5(id); 2^60 + 2 keeps both
    // endpoints open. gumbel = −ln(−ln u), dyadically quantized; the
    // final score is an exact sum of two dyadic rationals.
    val u = (conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast(LongType).cast(DoubleType) + lit(1.0)) / lit(1152921504606846978.0)
    dsirSelectImpl(docs, weights, isTarget, k, idCol, textCol,
      featBucket(_, nBuckets), u)
  }

  /** Production twin of [[dsirSelect]]: xxhash64 buckets (pair with
    * [[dsirWeightsXx]]) and the Gumbel uniform drawn from
    * `pmod(xxhash64(id), 2^60)` — still deterministic, content-stable
    * and append-stable, minus the md5 + hex-decode oracle tax.
    */
  def dsirSelectXx(docs: DataFrame, weights: DataFrame, isTarget: Column,
      k: Int, idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 4096): DataFrame = {
    val u = (pmod(xxhash64(col(idCol)), lit(1152921504606846976L))
      .cast(DoubleType) + lit(1.0)) / lit(1152921504606846978.0)
    dsirSelectImpl(docs, weights, isTarget, k, idCol, textCol,
      featBucketXx(_, nBuckets), u)
  }

  private def dsirSelectImpl(docs: DataFrame, weights: DataFrame,
      isTarget: Column, k: Int, idCol: String, textCol: String,
      bucket: Column => Column, u: Column): DataFrame = {
    val scored = docs.filter(!isTarget)
      .select(col(idCol), explode(hashedNgramFeats(col(textCol))).as("_f"))
      .withColumn("bucket", bucket(col("_f")))
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"), sum(col("lw")).as("logw"))
    scored
      .withColumn("gumbel",
        floor(-log(-log(u)) * lit(1048576.0)).cast(DoubleType) / lit(1048576.0))
      .withColumn("sel_score", col("logw") + col("gumbel"))
      .orderBy(col("sel_score").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication: assign every embedding to its
    * nearest codebook centroid (spherical k-means clusters), generate
    * candidate pairs ONLY within a cluster, verify by exact cosine ≥
    * `threshold`, and keep the smallest id of each verified pair (the
    * same per-pair keep-min rule as the text dedup pipeline). Removals
    * are always justified by an exact cosine — clustering only bounds
    * WHERE we look, so precision is 1.0 by construction and recall is
    * the clustering's capture rate (pinned vs brute force in
    * ScaleOpsSpec).
    *
    * Plan shape at 100 TB: the codebook broadcasts (K centroids);
    * assignment is a map-side argmax aggregation (no window over the
    * K×-expanded corpus); the within-cluster pair stage is an equi-join
    * on the compact cluster id, quadratic only in CLUSTER size — K is
    * the knob that keeps clusters bounded (K ~ N/1k in published
    * SemDeDup settings), `clusterCap` skips degenerate clusters instead
    * of letting one of them turn the join quadratic, and
    * [[semanticClusterStats]] makes anything skipped observable (the
    * no-silent-caps rule). Survivor selection reuses the left-outer +
    * null-filter form (see the dedup pipeline: anti joins atop unions
    * get duplicated by Catalyst's pushdown) with shuffle_hash pinned.
    *
    * `cents` carries (c_id int, c_emb array<float>) — a trained codebook
    * (see [[graft.ml.IvfCodebook]]).
    */
  def semanticDedup(emb: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String = "embedding", threshold: Double = 0.25,
      clusterCap: Int = 4096, nAssign: Int = 2): DataFrame = {
    // narrow (cluster, id) memberships materialized once: `assigned`
    // feeds the size histogram, the bound filter, and (via withVec) both
    // sides of the verification self-join — without the cut the optimizer
    // replicates the broadcast-codebook argmax pipeline into every
    // reference (the semantic_dedup plan carried 54 parquet scans).
    // Two longs per vector, so the materialization is seed-frame-sized
    // at any scale; the vector-carrying frames stay unmaterialized.
    val assigned = assignClusters(emb, cents, idCol, vecCol, nAssign)
      .localCheckpoint(true)
    val sizes = assigned.groupBy("_cid").agg(count(lit(1)).as("_csz"))
    val bounded = assigned
      .join(broadcast(sizes.filter(col("_csz") <= clusterCap)).drop("_csz"), "_cid")
    // verification joins VECTORS TO MEMBERSHIPS, then self-joins on the
    // cluster id: the exchange ships one (cluster, id, vector) row per
    // membership (nAssign copies of each vector), and the quadratic
    // within-cluster pair expansion happens INSIDE the join stage where
    // the cosine filter pipelines over it without another exchange. The
    // tempting alternative — narrow (id1, id2) pairs first, vectors
    // fetched by two id-keyed joins like the text pipeline — re-shuffles
    // the PAIR-expanded frame with an array column attached (pairs ≫
    // memberships whenever clusters have > 2 members), which measured 2×
    // slower at sf0.1 (8.6 s vs 4.2 s, min-of-2, identical output). A
    // pair straddling two shared clusters is verified
    // once per cluster; the final distinct dedups the removals.
    val withVec = bounded.hint("shuffle_hash")
      .join(emb.withColumn("_nv", l2norm(col(vecCol)))
        .select(col(idCol), col(vecCol), col("_nv")), idCol)
    val removed = withVec
      .select(col("_cid"), col(idCol).as("id1"), col(vecCol).as("_e1"), col("_nv").as("_n1"))
      .hint("shuffle_hash")
      .join(withVec.select(col("_cid"), col(idCol).as("id2"),
        col(vecCol).as("_e2"), col("_nv").as("_n2")), "_cid")
      .filter(col("id1") < col("id2"))
      .filter(cosine(col("_e1"), col("_e2"), col("_n1"), col("_n2")) >= threshold)
      .select(col("id2").as(idCol)).distinct()
    emb.join(removed.withColumn("_dup", lit(1)).hint("shuffle_hash"),
        Seq(idCol), "left")
      .filter(col("_dup").isNull)
      .drop("_dup")
  }

  /** Top-`nAssign` nearest-centroid assignment: broadcast codebook, exact
    * cosine to every centroid, then `nAssign` map-side argmax passes —
    * each pass excludes the centroids already picked (a corpus-side
    * row_number window over the K×-expanded frame would exchange and
    * sort K copies of every row; n aggregations of the narrow
    * (id, c_id, cos) frame ship one row per vector per pass). nAssign=1
    * is plain nearest-centroid; 2 is the IVF-style multi-probe that
    * catches near-dup pairs straddling a cluster boundary. Output:
    * (_cid, idCol) — one row per (vector, assigned cluster), narrow.
    */
  def assignClusters(emb: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String = "embedding", nAssign: Int = 1): DataFrame = {
    require(nAssign >= 1 && nAssign <= 4, "nAssign out of range")
    val c = cents.withColumn("_nc", l2norm(col("c_emb")))
    val scored = emb.withColumn("_nv", l2norm(col(vecCol)))
      .join(broadcast(c))
      .withColumn("_ccos", cosine(col(vecCol), col("c_emb"), col("_nv"), col("_nc")))
      .select(col(idCol), col("c_id"), col("_ccos"))
    def argmax(frame: DataFrame): DataFrame = frame
      .groupBy(col(idCol))
      .agg(max(struct(col("_ccos"), (-col("c_id")).as("_negc"), col("c_id"))).as("_m"))
      .select(col(idCol), col("_m.c_id").as("_cid"))
    (2 to nAssign).foldLeft(argmax(scored)) { (picked, _) =>
      val next = argmax(
        scored.join(picked.groupBy(col(idCol)).agg(collect_set(col("_cid")).as("_taken")), idCol)
          .filter(!array_contains(col("_taken"), col("c_id")))
          .select(col(idCol), col("c_id"), col("_ccos")))
      picked.unionAll(next)
    }
  }

  /** Cluster-size observability for [[semanticDedup]] (the no-silent-caps
    * rule): cluster count, how many clusters the cap would skip, and the
    * worst cluster size.
    */
  def semanticClusterStats(emb: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String = "embedding", cap: Int = 4096, nAssign: Int = 2): DataFrame =
    assignClusters(emb, cents, idCol, vecCol, nAssign)
      .groupBy("_cid").agg(count(lit(1)).as("_csz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("_csz") > cap, 1L).otherwise(0L)).as("n_skipped"),
        max(col("_csz")).as("max_cluster"))

  /** Sequence packing — assign each document a position in a fixed
    * token-budget training sequence (concat-and-chop semantics: the
    * stream of documents is concatenated in deterministic order and cut
    * every `budget` tokens; a document belongs to the sequence containing
    * its FIRST token and is flagged when it straddles a cut). This is the
    * offset-based packing used when preparing LLM pretraining batches.
    *
    * Plan shape at 100 TB: one window cumulative sum per (lang, shard)
    * stream. Sharding is the scale lever — `lang` alone has cardinality
    * ~10, which would put the whole corpus in a handful of window
    * partitions; `pmod(id, numShards)` fans each language into
    * `numShards` independent deterministic streams (any shard count is
    * valid — each stream is still a well-formed packing), so parallelism
    * is chosen, not inherited from the data. A hot shard is the classic
    * chunked-prefix-sum shape (see Indicators.chunked* / the OBV
    * treatment) if one stream ever outgrows a task. All arithmetic is
    * integral (`div`/`pmod`) — bit-exact against any SQL engine.
    *
    * Output: input columns + n_tokens, shard, seq_id (per-stream),
    * offset_in_seq, spans_boundary.
    */
  def packSequences(df: DataFrame, idCol: String, budget: Int,
      numShards: Int = 8, langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = pmod(col(idCol), lit(numShards.toLong))
    val w = Window.partitionBy(col(langCol), col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", size(tokens(col(textCol))).cast(LongType))
      .withColumn("shard", shard)
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"start_off div ${budget}L"))
      .withColumn("offset_in_seq", pmod(col("start_off"), lit(budget.toLong)))
      .withColumn("spans_boundary",
        expr(s"(start_off + n_tokens - 1) div ${budget}L") > col("seq_id"))
      .drop("start_off")
  }

  /** Polynomial rolling hash over the document's characters:
    * h = fold(h·31 + ascii(c)) mod (2^31 − 1). Sequential fold, BIGINT
    * arithmetic — identical in Spark and DuckDB.
    */
  def rollingHash(text: Column): Column =
    // empty text: BOTH engines tokenize '' to [''] (ascii 0), giving
    // (7*31+0) % m — verified against DuckDB 1.0.0; no guard needed
    aggregate(
      transform(split(text, ""), c => ascii(c).cast(LongType)),
      lit(7L),
      (acc, c) => (acc * lit(31L) + c) % lit(2147483647L))

  // --------------------------------------------------- multimodal columns

  /** Multimodal column plumbing: the engine treats image/audio/video as
    * opaque binary + typed metadata. Container METADATA decode is real —
    * `MediaExpressions.image_meta` parses format/width/height from
    * PNG/JPEG/GIF header bytes natively, no codec needed — and so is
    * pixel/sample decode for the codec-free-payload formats:
    * `RasterFunctions.image_decode` inverts PPM/PGM/BMP rasters (and,
    * since round 9, inflates + unfilters real PNG and LZW-decodes real
    * GIF), `PcmFunctions.pcm_decode` inverts WAV linear PCM, and
    * `PcmFunctions.y4m_frame_luma` walks Y4M frames — all natively, no
    * image/audio library. [[decodeBatches]] feeds those real rasters through the
    * mapPartitions batch path; only compressed codecs with no pure-JDK
    * path (JPEG, H.264 — no libs in this container) fall back to a
    * clearly-marked deterministic byte-sampling featurizer.
    */
  def withMultimodalPayload(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload", col(textCol).cast(BinaryType))
      .withColumn("n_bytes", octet_length(col("payload")).cast(LongType))
      .withColumn("media_meta", struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col("payload")).as("size_bytes")))

  // Fixture encoders for the header parser: build VALID container headers
  // from (width, height) columns with pure byte arithmetic, so the
  // `image_meta` key can round-trip real PNG/JPEG/GIF headers through the
  // native parser and an oracle can recompute the expected dimensions
  // arithmetically. Big-endian fields are hex-padded unhex; little-endian
  // u16 swaps the two bytes with shift/mask.

  private def beU32Col(v: Column): Column = unhex(lpad(hex(v), 8, "0"))
  private def beU16Col(v: Column): Column = unhex(lpad(hex(v), 4, "0"))
  private def leU16Col(v: Column): Column = concat(
    unhex(lpad(hex(v.bitwiseAND(255L)), 2, "0")),
    unhex(lpad(hex(shiftright(v, 8).bitwiseAND(255L)), 2, "0")))

  /** Minimal valid PNG: signature + IHDR chunk (length, tag, w, h,
    * bit-depth 8 / RGBA / deflate / adaptive / no interlace, zero CRC —
    * the parser validates structure, not checksums).
    */
  def synthPngHeader(w: Column, h: Column): Column = concat(
    lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 0x0D, 'I', 'H', 'D', 'R')),
    beU32Col(w), beU32Col(h),
    lit(Array[Byte](8, 6, 0, 0, 0, 0, 0, 0, 0)))

  /** Minimal valid JFIF JPEG: SOI, a full APP0/JFIF segment (so the
    * parser's marker walk must actually skip a segment), an SOF0 frame
    * header carrying (precision 8, height, width, 3 components), EOI.
    */
  def synthJpegHeader(w: Column, h: Column): Column = concat(
    lit(Array[Byte](0xFF.toByte, 0xD8.toByte, // SOI
      0xFF.toByte, 0xE0.toByte, 0x00, 0x10, // APP0, len 16
      'J', 'F', 'I', 'F', 0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
      0xFF.toByte, 0xC0.toByte, 0x00, 0x11, 0x08)), // SOF0, len 17, precision 8
    beU16Col(h), beU16Col(w),
    lit(Array[Byte](0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
      0xFF.toByte, 0xD9.toByte))) // 3 components, EOI

  /** Minimal valid lossless WebP: RIFF/WEBP container + VP8L chunk —
    * 0x2F signature then 28 packed little-endian bits of
    * (width−1):14 | (height−1):14 (the version/alpha bits stay zero).
    * Sizes are honest for the bytes present (VP8L payload 5, RIFF 17).
    */
  def synthWebpHeader(w: Column, h: Column): Column = concat(
    lit("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
    leU32Col(lit(17L)),
    lit("WEBPVP8L".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
    leU32Col(lit(5L)),
    lit(Array[Byte](0x2F)),
    leU32Col((w - lit(1)).bitwiseOR(shiftleft(h - lit(1), 14))))

  /** Minimal valid GIF89a: version signature + little-endian logical
    * screen descriptor + trailer.
    */
  def synthGifHeader(w: Column, h: Column): Column = concat(
    lit("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
    leU16Col(w), leU16Col(h),
    lit(Array[Byte](0, 0, 0, 0x3B)))

  // ------------------------------------------------- real pixel decode
  // Codec-free raster formats (PPM P6 / PGM P5 / uncompressed 24-bpp
  // BMP): pixel payloads are pure header-plus-byte arithmetic, so the
  // WHOLE decode→resize→channel-stats path runs natively with no image
  // library — and the fixture encoders below build complete valid files
  // (headers AND every pixel byte) arithmetically from (w, h, seed), so
  // a DuckDB oracle can recompute the decoded statistics from the same
  // formulas. A hash match on `image_pixels` therefore proves the
  // decoder inverts two real raster encodings — including BMP's
  // bottom-up row order, BGR sample order, and 4-byte row padding —
  // end-to-end on every row.

  /** Deterministic fixture sample: the byte at logical row-major RGB
    * index `idx` of image `seed` is `(seed·31 + idx·7) mod 256` — the
    * generative formula the oracle mirrors.
    */
  private def pixByte(seed: Column, idx: Column): Column =
    (seed * 31 + idx * 7) % 256

  /** Complete valid binary PPM (P6): ASCII header + every RGB sample,
    * row-major top-down, generated from [[pixByte]].
    */
  def synthPpm(w: Column, h: Column, seed: Column): Column = concat(
    concat(lit("P6\n"), w.cast(StringType), lit(" "), h.cast(StringType),
      lit("\n255\n")).cast(BinaryType),
    unhex(array_join(
      transform(sequence(lit(0L), w * h * 3 - 1),
        i => lpad(hex(pixByte(seed, i)), 2, "0")), "")))

  /** PPM variant whose GRADIENTS are seed-dependent: sample byte
    * `(seed·31 + idx·(7 + seed mod 13)) mod 256`. [[synthPpm]]'s
    * additive seed term cancels in any neighbor comparison, so every
    * same-sized image shares one dHash; here the per-index step varies
    * with the seed, so different seeds produce different perceptual
    * fingerprints — the property an image-dedup fixture needs.
    */
  def synthPpmKeyed(w: Column, h: Column, seed: Column): Column = concat(
    concat(lit("P6\n"), w.cast(StringType), lit(" "), h.cast(StringType),
      lit("\n255\n")).cast(BinaryType),
    unhex(array_join(
      transform(sequence(lit(0L), w * h * 3 - 1),
        i => lpad(hex((seed * 31 + i * (lit(7L) + seed % 13)) % 256), 2, "0")),
      "")))

  /** Complete valid 24-bpp BI_RGB BMP encoding the SAME logical image as
    * [[synthPpm]] for the same (w, h, seed): 54-byte header, bottom-up
    * rows, B,G,R sample order, rows padded to a 4-byte boundary — the
    * decoder must undo all three to match the PPM-encoded rows.
    */
  def synthBmp(w: Column, h: Column, seed: Column): Column = {
    val rowBytes = w * 3
    val stride = rowBytes + 3 - (rowBytes + 3) % 4
    val imgSize = stride * h
    val body = unhex(array_join(
      transform(sequence(lit(0L), imgSize - 1), k => {
        val j = ((k - k % stride) / stride).cast(LongType) // file row (bottom-up)
        val o = k % stride // offset within the padded row
        val x = ((o - o % 3) / 3).cast(LongType)
        val cLogical = lit(2L) - o % 3 // file B,G,R → logical R,G,B
        val y = h - 1 - j
        val idx = (y * w + x) * 3 + cLogical
        val v = when(o >= rowBytes, lit(0L)).otherwise(pixByte(seed, idx))
        lpad(hex(v), 2, "0")
      }), ""))
    concat(
      lit("BM".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      leU32Col(imgSize + 54), leU32Col(lit(0L)), leU32Col(lit(54L)),
      leU32Col(lit(40L)), leU32Col(w), leU32Col(h),
      leU16Col(lit(1L)), leU16Col(lit(24L)),
      leU32Col(lit(0L)), leU32Col(imgSize),
      leU32Col(lit(0L)), leU32Col(lit(0L)), leU32Col(lit(0L)), leU32Col(lit(0L)),
      body)
  }

  // ------------------------------------------------- real sample decode
  // The audio/video analogues of the raster path: WAV linear PCM and Y4M
  // raw video are the codec-free containers whose payloads ARE the
  // waveform/frames, so sample decode is pure byte arithmetic — native
  // expressions, no media library — and the fixture encoders build
  // complete valid files (headers AND every sample byte) arithmetically
  // from doc_id, so the DuckDB oracles recompute the decoded statistics
  // from the same formulas. Hash matches on `audio_pcm`/`video_frames`
  // prove the decoders invert the real encodings end-to-end per row.

  /** Complete valid PCM WAV — [[synthWavHeader]]'s canonical header plus
    * every sample byte of the `(seed·13 + k·7) mod 2^bits` waveform
    * (the generative formula the oracle mirrors): 8-bit writes the
    * unsigned byte directly, 16-bit
    * writes little-endian sample pairs. `bits` is a literal 8 or 16 (the
    * byte layout differs structurally, not arithmetically).
    */
  def synthWavPcm(channels: Column, rate: Column, bits: Long,
      frames: Column, seed: Column): Column = {
    require(bits == 8 || bits == 16, s"bits must be 8 or 16, got $bits")
    // round 12: native encoder, byte-identical to the former per-byte
    // hex-string Catalyst construction — which made the WAV stress
    // lane price string plumbing instead of PCM (the r11 "anomaly")
    PcmFunctions.synth_wav_pcm(channels, rate, frames, seed, bits.toInt)
  }

  /** Deterministic fixture luma/chroma byte: offset `o` of frame `f` in
    * stream `seed` is `(seed·31 + f·11 + o·7) mod 256` — mirrored by the
    * video_frames oracle over the luma plane (`o < w·h`).
    */
  private def y4mByte(seed: Column, f: Column, o: Column): Column =
    (seed * 31 + f * 11 + o * 7) % 256

  /** Complete valid Y4M stream: `YUV4MPEG2` header with W/H/F/C tags,
    * then `frames` frames of `FRAME\n` + planar payload from
    * [[y4mByte]]. `colorspace` is a literal `"mono"` (payload `w·h`) or
    * `"420jpeg"` (payload `w·h + 2·⌈w/2⌉·⌈h/2⌉`, matching the parser's
    * ceil-based chroma-plane arithmetic so odd dims stay valid) — the parser
    * must size frames from the colorspace to walk to the next marker,
    * which is exactly what the mixed-colorspace key exercises.
    */
  def synthY4m(w: Column, h: Column, frames: Column, seed: Column,
      colorspace: String): Column = {
    val luma = w * h
    val frameBytes = colorspace match {
      case "mono" => luma
      case "420jpeg" =>
        // ⌈w/2⌉·⌈h/2⌉ — the SAME ceil arithmetic as the Y4mFrameLuma
        // parser, so odd dims produce a payload the parser can walk
        // instead of a silently NULL decode from a size disagreement
        luma + shiftright(w + 1, 1) * shiftright(h + 1, 1) * 2
      case other => throw new IllegalArgumentException(
        s"synthY4m supports mono|420jpeg, got $other")
    }
    val header = concat(lit("YUV4MPEG2 W"), w.cast(StringType),
      lit(" H"), h.cast(StringType),
      lit(s" F25:1 Ip A1:1 C$colorspace\n")).cast(BinaryType)
    concat(header, unhex(array_join(
      transform(sequence(lit(0L), frames - 1), f => {
        val inner = array_join(transform(sequence(lit(0L), frameBytes - 1),
          o => lpad(hex(y4mByte(seed, f, o)), 2, "0")), "")
        concat(lit("4652414d450a"), inner) // hex("FRAME\n") + payload
      }), "")))
  }

  private def leU32Col(v: Column): Column = concat(
    unhex(lpad(hex(v.bitwiseAND(255L)), 2, "0")),
    unhex(lpad(hex(shiftright(v, 8).bitwiseAND(255L)), 2, "0")),
    unhex(lpad(hex(shiftright(v, 16).bitwiseAND(255L)), 2, "0")),
    unhex(lpad(hex(shiftright(v, 24).bitwiseAND(255L)), 2, "0")))
  private def u8Col(v: Column): Column = unhex(lpad(hex(v.bitwiseAND(255L)), 2, "0"))

  /** Minimal valid PCM WAV: RIFF/WAVE + canonical 16-byte `fmt ` chunk +
    * `data` chunk declaring `frames · blockAlign` payload bytes (payload
    * itself omitted — the parser reads declared sizes, not samples; real
    * profiling reads headers from footer-less range requests the same
    * way). blockAlign = channels·bits/8 per the spec.
    */
  def synthWavHeader(channels: Column, rate: Column, bits: Column,
      frames: Column): Column = {
    val blockAlign = channels * shiftright(bits, 3) // bits/8, kept integral
    concat(
      lit("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      leU32Col(lit(36L) + frames * blockAlign),
      lit("WAVEfmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      leU32Col(lit(16L)), leU16Col(lit(1L)), // PCM
      leU16Col(channels), leU32Col(rate),
      leU32Col(rate * blockAlign), leU16Col(blockAlign), leU16Col(bits),
      lit("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      leU32Col(frames * blockAlign))
  }

  /** Minimal valid FLAC: `fLaC` + a last-flagged STREAMINFO block with
    * the spec's bit packing (20-bit rate, 3-bit channels−1, 5-bit
    * bits−1, 36-bit total samples); block/frame-size bounds and MD5 are
    * zero — the parser reads structure, not audio.
    */
  def synthFlacHeader(channels: Column, rate: Column, bits: Column,
      frames: Column): Column = concat(
    lit("fLaC".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
    lit(Array[Byte](0x80.toByte, 0, 0, 34)), // last block, STREAMINFO, len 34
    lit(Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0)), // block/frame sizes
    u8Col(shiftright(rate, 12)),
    u8Col(shiftright(rate, 4)),
    u8Col(rate.bitwiseAND(15L) * 16 + (channels - 1) * 2 +
      shiftright(bits - 1, 4)),
    u8Col((bits - 1).bitwiseAND(15L) * 16 +
      shiftright(frames, 32).bitwiseAND(15L)),
    beU32Col(frames.bitwiseAND(0xFFFFFFFFL)),
    lit(Array.fill[Byte](16)(0))) // MD5

  /** Minimal valid ISO BMFF: `ftyp` (major brand isom) + `moov`
    * containing only an `mvhd` of the requested version (v0: u32
    * timestamps/duration; v1: u64) — the parser must walk the top level,
    * descend into moov, and pick the version-dependent offsets.
    */
  def synthMp4Header(timescale: Column, duration: Column,
      version: Column): Column = {
    val ftyp = concat(
      beU32Col(lit(16L)),
      lit("ftypisom".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      beU32Col(lit(512L))) // minor version
    val mvhdV0 = concat(
      beU32Col(lit(108L)),
      lit("mvhd".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      lit(Array.fill[Byte](4)(0)), // version 0 + flags
      beU32Col(lit(0L)), beU32Col(lit(0L)), // creation/modification
      beU32Col(timescale), beU32Col(duration),
      lit(Array.fill[Byte](80)(0))) // rate..next_track_ID
    val mvhdV1 = concat(
      beU32Col(lit(120L)),
      lit("mvhd".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      lit(Array[Byte](1, 0, 0, 0)), // version 1 + flags
      lit(Array.fill[Byte](16)(0)), // u64 creation/modification
      beU32Col(timescale),
      // u64 duration as (hi, lo) u32 halves — beU32Col alone would
      // silently truncate a >u32 value (lpad keeps the FIRST 8 hex chars)
      beU32Col(shiftright(duration, 32).bitwiseAND(0xFFFFFFFFL)),
      beU32Col(duration.bitwiseAND(0xFFFFFFFFL)),
      lit(Array.fill[Byte](80)(0)))
    val mvhd = when(version === 1, mvhdV1).otherwise(mvhdV0)
    val moovLen = when(version === 1, lit(128L)).otherwise(lit(116L))
    concat(ftyp,
      beU32Col(moovLen),
      lit("moov".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      mvhd)
  }

  /** STUB decode: a real deployment would `mapPartitions` over batches,
    * hand each binary payload to a codec, and emit fixed-width features.
    * Here the "features" are a deterministic fake (first 4 bytes, scaled)
    * so tests can pin the plumbing end-to-end.
    */
  def extractFakeFeatures(df: DataFrame, dim: Int = 4): DataFrame =
    df.withColumn("features", expr(
      s"""transform(sequence(1, $dim),
         |  i -> coalesce(cast(conv(substr(hex(payload), i * 2 - 1, 2), 16, 10) as double), 0.0) / 255.0)""".stripMargin))

  /** Typed media row for the mapPartitions decode path. */
  case class MediaIn(doc_id: Long, payload: Array[Byte])
  case class MediaOut(doc_id: Long, n_bytes: Long, n_frames: Int, features: Array[Double])

  /** The batch-decode stage of the multimodal pipeline: partition-local
    * iteration, micro-batched so per-batch setup (codec context, ONNX
    * session, ...) amortizes, fixed-width feature output with a declared
    * schema. The codec is REAL for the codec-free raster formats —
    * payloads that decode as PPM/PGM/BMP (see
    * [[org.apache.spark.sql.graftnative.ImageDecode]]) are
    * pixel-decoded, nearest-neighbor-resized to a `dim×dim` frame, and
    * emit per-channel sample means as features (`n_frames` = scan
    * lines). Non-raster payloads fall back to the original deterministic
    * byte-sampling features (`frameSample`-style: every `stride`-th
    * `frameBytes`-sized chunk contributes one), documented as such —
    * compressed-codec formats (JPEG pixels, H.264) would need libraries
    * this container does not ship.
    */
  def decodeBatches(ds: org.apache.spark.sql.Dataset[MediaIn], dim: Int = 4,
      batchSize: Int = 64, frameBytes: Int = 16, stride: Int = 2)
      (implicit enc: org.apache.spark.sql.Encoder[MediaOut])
      : org.apache.spark.sql.Dataset[MediaOut] =
    ds.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val raster = ImageDecode.compute(m.payload)
          if (!raster.isNullAt(4)) {
            // real raster: decode → NN-resize to dim×dim → per-channel
            // mean features (padded to the fixed dim width)
            val resized = ImageResizeNN.compute(raster, dim, dim)
            val ch = resized.getInt(3)
            val px = resized.getBinary(4)
            val sums = new Array[Long](ch)
            var i = 0
            while (i < px.length) { sums(i % ch) += px(i) & 0xFF; i += 1 }
            val feats = Array.tabulate(dim) { c =>
              if (c < ch) sums(c).toDouble / (dim * dim) / 255.0 else 0.0
            }
            MediaOut(m.doc_id, m.payload.length.toLong, raster.getInt(2), feats)
          } else {
            val frames = m.payload.grouped(frameBytes).zipWithIndex
              .collect { case (chunk, i) if i % stride == 0 => chunk }.toArray
            val feats = Array.tabulate(dim) { j =>
              if (j < frames.length && frames(j).nonEmpty)
                (frames(j).head & 0xFF) / 255.0
              else 0.0
            }
            MediaOut(m.doc_id, m.payload.length.toLong, frames.length, feats)
          }
        }
      }
    }

  /** Resized media row: fixed-size frame after nearest-neighbor
    * downsampling (the codec-free 1-D analogue of image resize).
    */
  case class MediaResized(doc_id: Long, n_bytes: Long, frame: Array[Byte])

  /** Resize step of the media pipeline: every payload is brought to a
    * FIXED `targetBytes` size — nearest-neighbor sampling when larger
    * (index mapping i ↦ ⌊i·len/target⌋, the standard NN-resize kernel in
    * one dimension), zero-padding when smaller. The fixed output shape is
    * the point: downstream batch inference needs uniform tensors, and the
    * partition-local mapPartitions shape (no shuffle, batch-amortized
    * setup) is exactly what a real image resize (SIMD library, GPU op)
    * would plug into in place of the byte kernel.
    */
  def resizeBatches(ds: org.apache.spark.sql.Dataset[MediaIn], targetBytes: Int = 32,
      batchSize: Int = 64)
      (implicit enc: org.apache.spark.sql.Encoder[MediaResized])
      : org.apache.spark.sql.Dataset[MediaResized] =
    ds.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val len = m.payload.length
          val frame =
            if (len >= targetBytes)
              Array.tabulate(targetBytes)(i => m.payload((i.toLong * len / targetBytes).toInt))
            else m.payload ++ Array.fill[Byte](targetBytes - len)(0)
          MediaResized(m.doc_id, len.toLong, frame)
        }
      }
    }

  // ------------------------------------------------------------------
  // Connected components (alternating large-star / small-star)
  // ------------------------------------------------------------------

  /** Connected components over an undirected edge list, returning the
    * (node, rep) mapping where rep = the component's minimum node id.
    * Nodes that appear in no edge are absent from the output (they are
    * their own singleton representative).
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round is two groupBy-min + equi-join passes over
    * COMPACT (long, long) pairs, and the edge set converges to a star
    * forest in O(log d) rounds for diameter-d components, so a
    * pathological million-doc near-dup chain still finishes in ~20
    * rounds. This is the 100 TB-correct shape for clustering dedup
    * pairs: no component is ever collected to the driver, no task ever
    * sees more than one neighborhood group, and each iteration's
    * shuffle volume is bounded by the (shrinking) edge count.
    *
    * Per-iteration driver-side work is one action computing
    * (count, sum(xxhash64(u, v))) as a convergence checksum; the edge
    * set is checkpointed each round to truncate lineage (an iterative
    * plan would otherwise re-execute every prior round — and the
    * upstream candidate-generation pipeline — per action).
    *
    * Rounds are kept by [[Checkpoints.Rounds]]. Without `runDir` each
    * round is a local checkpoint: fine in local mode, but on a real
    * cluster one executor loss mid-iteration severs the (deliberately
    * truncated) lineage and kills the job. With `runDir` each round's
    * edge frame is written as parquet to `runDir/cc_round_<i>` instead —
    * the 100 TB form: any executor can die and the next round re-reads
    * from durable storage. Either way round i−1 is dropped once round i
    * is materialized, so peak footprint is two (shrinking) edge
    * snapshots. `runDir` must be absent or empty (one run per
    * directory), and the caller deletes it once done with the result.
    *
    * The returned frame is checkpointed: it reads the final round. Release
    * it with [[Checkpoints.release]] once no frame over it is needed.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 25,
      runDir: Option[String] = None): DataFrame = {
    // Per-round materialization + lineage cut. A LAZY keep: the checksum
    // probe that follows every round is a full-scan aggregate, so it
    // materializes the round in the SAME job; the former eager form paid
    // one extra job per round (materialize, then fingerprint the
    // already-materialized blocks) — half the rounds' driver floor for
    // free (guide §1.2: remove passes outright). The durable form's
    // parquet write is an action of its own.
    val rounds = new Checkpoints.Rounds(edges.sparkSession, runDir)
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // large-star: for each node u, every strictly-larger neighbor v is
    // re-pointed at m = min(N(u) ∪ {u}); covers every edge because the
    // adjacency view lists each edge under both endpoints.
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      canonical(adj.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")))
    }

    // small-star: group edges by their LARGER endpoint u; every smaller
    // neighbor (and u itself) is re-pointed at m = min of the group.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e // already canonical: u < v, so group by v
      val mins = dir.groupBy("v").agg(min(col("u")).as("m"))
      val selfEdges = mins.select(col("m").as("u"), col("v"))
      val reEdges = dir.join(mins, "v").filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
      canonical(selfEdges.unionAll(reEdges))
    }

    // (count, xor-of-hashes): set-equality fingerprint that is order-
    // independent and cannot overflow (sum would, and ANSI mode throws).
    // Valid because the edge set is distinct; collision odds ~2^-64, and
    // a false "converged" at worst stops one round early on a set the
    // stars were still reshaping — caught by the result being non-star
    // only with that same negligible probability.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var (e, sum) = rounds.advance(canonical(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))), "cc_round_0",
      eager = false)(checksum)
    var it = 0
    // the checksum's count doubles as the emptiness probe — no isEmpty job
    var converged = sum._1 == 0L
    while (!converged && it < maxIter) {
      val (next, nextSum) = rounds.advance(smallStar(largeStar(e)),
        s"cc_round_${it + 1}", eager = false)(checksum)
      converged = nextSum == sum // star forest ⇔ both stars are no-ops
      e = next
      sum = nextSum
      it += 1
    }
    if (!converged && it == maxIter)
      throw new IllegalStateException(
        s"connectedComponents: no convergence after $maxIter rounds")
    rounds.finish(e.select(col("v").as("node"), col("u").as("rep")))
  }

  // ------------------------------------------------------------------
  // PageRank (fixed-point integer, bit-reproducible)
  // ------------------------------------------------------------------

  /** How many unrolled iterative-graph rounds may compose into one plan
    * before the lineage is cut. Each round adds a join + aggregation to
    * the logical tree, so Catalyst's optimization time grows with the
    * unroll depth; 8 keeps the tree trivially cheap to plan while
    * amortizing the per-round driver floor (job submission + planning +
    * an executor-memory copy of a tiny frame) that dominated the
    * fixed-round graph keys at fixture scale. Scale-independent: the
    * cut frequency bounds PLAN size, not data size — per-round shuffle
    * volume is unchanged at any scale.
    */
  private val UnrollBatch = 8

  /** PageRank over a directed edge list with EXACT fixed-point integer
    * arithmetic: ranks are BIGINTs scaled by `scale`, and every step —
    * out-degree split `rank div deg`, the exact BIGINT sum of in-flowing
    * contributions, damping as `(sum · 85) div 100`, teleport
    * `(scale · 15 / 100) / n` — is integer-only, so the result is
    * bit-identical in any engine that replays the same iterations (the
    * `pagerank` oracle unrolls them in DuckDB and hash-matches). Floating
    * PageRank would be order-of-summation-dependent and unmirrorable.
    *
    * Semantics: `iterations` synchronous rounds from a uniform
    * `scale/n` start; dangling nodes (no out-edges) leak their mass —
    * the standard simplification, applied identically on both sides.
    * `nodes` must be unique on `nodeCol` and cover every edge endpoint;
    * nodes with no in-edges settle at the teleport floor.
    *
    * 100 TB shape (the iterative-join discipline proven by
    * [[connectedComponents]]): the degree-annotated edge list is
    * materialized ONCE and reused every round, so each iteration is one
    * equi-join of edges against the (node, rank) frame, one partial+final
    * aggregation on dst, and one left join back to nodes — shuffle volume
    * per round is O(|edges|) with map-side combine, nothing is ever
    * collected to the driver, and each round's rank frame is eagerly
    * checkpointed to truncate lineage (else round k re-executes rounds
    * 1..k−1 — and the upstream candidate-generation pipeline — per
    * action). With `runDir` every round, the node frame and the edge
    * frame are written as parquet under `runDir` (`pr_round_<i>`,
    * `pr_nodes`, `pr_edges`) instead of executor-local blocks — the
    * cluster-durable form documented on [[connectedComponents]], with the
    * same one-run-per-directory rule; on a real cluster you would
    * additionally bucket the edge list by `src` so the per-round join
    * never reshuffles the (static) big side.
    *
    * Contract: without `runDir` the returned frame is LAZY. The lineage
    * is cut every `UnrollBatch` rounds but not after the last round, so
    * the frame carries up to `UnrollBatch`−1 unrolled rounds over the
    * checkpointed node and edge frames, and every action on it
    * re-executes them. A caller taking more than one action should
    * checkpoint (or persist) it first, and releases the checkpoints under
    * it with [[Checkpoints.release]]. With `runDir` the frame reads the
    * last round's parquet back and carries no round lineage.
    */
  def pageRankFixedPoint(nodes: DataFrame, edges: DataFrame,
      nodeCol: String = "node", srcCol: String = "src",
      dstCol: String = "dst", iterations: Int = 5,
      scale: Long = 1000000000000L,
      runDir: Option[String] = None): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val rounds = new Checkpoints.Rounds(nodes.sparkSession, runDir)
    // The rank chain is LINEAR — round k's frame is referenced exactly
    // once (by round k+1), so nothing re-executes if the rounds compose
    // into ONE plan. Materializing every round paid a per-round driver
    // floor (job submission + planning + an executor-memory copy of the
    // frame) that dominated wall time at fixture scale (8-core runs BEAT
    // 32-core — pure overhead, optimization guide §1.2 "the distributed
    // algorithm" / §2.4 remove passes outright). Rounds are now unrolled
    // and the lineage is cut only every `UnrollBatch` rounds to bound
    // Catalyst's plan-size growth for large iteration counts. The
    // durable (runDir) form keeps per-round parquet: there the
    // round-trip is the fault-tolerance contract, not an optimization.
    def cut(df: DataFrame, round: Int): DataFrame =
      if (runDir.isEmpty &&
          (round == 0 || round == iterations || round % UnrollBatch != 0))
        df // stays in the unrolled plan
      else rounds.advance(df, s"pr_round_$round", eager = true)(_ => ())._1
    // node frame materialized ONCE (it enters every round's aggregation;
    // without the cut each round would replay the upstream corpus scan).
    // Local mode: LAZY checkpoint — the count right below (needed for the
    // teleport constant anyway) materializes it in the SAME job instead
    // of a separate eager-checkpoint job.
    val nodeIds = rounds.keep(
      nodes.select(col(nodeCol).cast(LongType).as("node")), "pr_nodes",
      eager = false)
    val n = nodeIds.count()
    require(n > 0, "pageRankFixedPoint: empty node set")
    val tele = (scale * 15L / 100L) / n
    // distinct edges materialized BEFORE the degree self-join: the two
    // join branches below would otherwise each re-execute the whole
    // upstream candidate→verify pipeline (ReuseExchange across the
    // branches is not guaranteed), doubling the most expensive stage
    val e = rounds.keep(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .distinct(), "pr_dedup", eager = true)
    // in durable mode these frames must survive executor loss too — every
    // round joins against them, so executor-local checkpoint blocks would
    // reintroduce exactly the failure mode the parquet round-trip exists
    // to survive
    // shuffle_hash on the per-node frames: one row per node, but
    // sequential ids and small values compress so well that size-based
    // planning can flip them into multi-million-row broadcast builds at
    // mid scale (the measured triangleCount degree-frame trap,
    // STRESS_GRAPH_r09) — and a PER-ROUND broadcast of the rank frame
    // would pay that again every iteration. The hint pins a
    // per-partition hash build at every scale.
    //
    val contribAnnotated = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg"))
        .hint("shuffle_hash"), "src")
    val contribEdges = rounds.keep(contribAnnotated, "pr_edges", eager = true)
    rounds.drop("pr_dedup") // only the degree join read it
    var ranks = cut(nodeIds.withColumn("rank", lit(scale / n)), 0)
    for (i <- 1 to iterations) {
      // teleport floor via union-zero instead of a left join back to
      // nodes: every node contributes one 0 row to the sum, so isolated
      // nodes land at exactly tele + (0 · 85) div 100 — the same integers
      // as the former coalesce(m, 0) — with one aggregation exchange
      // per round instead of an aggregation plus a node join
      val inflow = contribEdges
        .join(ranks.withColumnRenamed("node", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("contrib"))
      ranks = cut(
        inflow.unionAll(nodeIds.select(col("node"), lit(0L).as("contrib")))
          .groupBy("node").agg(sum(col("contrib")).as("m"))
          .select(col("node"),
            (lit(tele) + expr("(m * 85) div 100")).as("rank")),
        i)
    }
    rounds.finish(ranks)
  }

  /** Convergence-stopped PageRank with WARM-START support — the
    * incremental twin of [[pageRankFixedPoint]] (the engine's standard
    * move: `dedup_incremental`, `ann_ivf_append`). Iterates the same
    * exact integer rounds until the rank vector moves at most `tol`
    * integer units in the ∞-norm (or `maxIterations`), and seeds from
    * `init` when given — the previous run's persisted `(node, rank)`
    * frame. After a graph delta (new edges/nodes), the previous ranks
    * sit FAR closer to the new fixed point than the uniform vector, and
    * since the iteration contracts error by ~the damping factor per
    * round, the saved rounds are ~log(Δ_cold/Δ_warm)/log(1/0.85) — each
    * round at 100 TB is an O(|edges|) shuffle, so warm-starting is the
    * difference between re-paying the full cold cost on every daily
    * delta and paying a handful of rounds. Nodes absent from `init`
    * (newly arrived) start at the uniform rank; departed nodes in
    * `init` are dropped by the inner join onto the current node set.
    *
    * Returns `(ranks, roundsUsed)`. The convergence probe is a
    * scan-only ∞-norm aggregate over the round's frame (the previous rank
    * rides the same rows) — O(n) per round, dwarfed by the O(|edges|)
    * contribution join.
    *
    * With `runDir` the edge frame every round joins and the per-round
    * rank frames are written as parquet under `runDir` (`pr_conv_*`), the
    * durable form of [[connectedComponents]] with its one-run-per-directory
    * rule; only the edges and the final round remain there, and the
    * caller deletes the directory. Without it the returned frame is a
    * local checkpoint of the final round: release it with
    * [[Checkpoints.release]] once no frame over it is needed.
    */
  def pageRankConverge(nodes: DataFrame, edges: DataFrame,
      tol: Long, nodeCol: String = "node", srcCol: String = "src",
      dstCol: String = "dst", maxIterations: Int = 40,
      scale: Long = 1000000000000L,
      init: Option[DataFrame] = None,
      runDir: Option[String] = None): (DataFrame, Int) = {
    require(tol >= 1, s"tol must be >= 1 integer unit, got $tol")
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val rounds = new Checkpoints.Rounds(nodes.sparkSession, runDir)
    // node frame materialized once — it seeds the first rank frame.
    // Local mode: lazy checkpoint fused with the count the teleport
    // constant needs anyway (one job, not an upstream execution for the
    // count PLUS an eager-checkpoint job for the frame).
    val nodeIds = rounds.keep(
      nodes.select(col(nodeCol).cast(LongType).as("node")), "pr_conv_nodes",
      eager = false)
    val n = nodeIds.count()
    require(n > 0, "pageRankConverge: empty node set")
    val tele = (scale * 15L / 100L) / n
    val uniform = scale / n
    // distinct edges materialized BEFORE the degree self-join (one
    // execution of the upstream pipeline, not one per join branch) —
    // same rationale as pageRankFixedPoint
    val e = rounds.keep(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .distinct(), "pr_conv_dedup", eager = true)
    val contribEdges = rounds.keep(e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg"))
        .hint("shuffle_hash"), "src"), // same broadcast-trap pin as pageRankFixedPoint
      "pr_conv_edges", eager = true)
    rounds.drop("pr_conv_dedup") // only the degree join read it
    var ranks = rounds.advance(init match {
      case Some(prev) =>
        nodeIds.join(prev.select(col("node").cast(LongType).as("node"),
            col("rank").cast(LongType).as("_init")), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("_init"), lit(uniform)).as("rank"))
      case None => nodeIds.withColumn("rank", lit(uniform))
    }, "pr_conv_ranks_0", eager = true)(_ => ())._1
    rounds.drop("pr_conv_nodes") // the rounds read ranks, not nodes
    var used = 0
    var converged = false
    while (!converged && used < maxIterations) {
      // one aggregation per round: the teleport floor arrives as a
      // union-zero row per node (exact integers unchanged — see
      // pageRankFixedPoint), and the PREVIOUS rank rides the same rows
      // (max over one non-null value per node), so the convergence probe
      // below is a scan-only aggregate instead of a per-round join
      val inflow = contribEdges
        .join(ranks.select(col("node").as("src"), col("rank"))
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("contrib"),
          lit(null).cast(LongType).as("_prev"))
      val nextPlan = inflow
        .unionAll(ranks.select(col("node"), lit(0L).as("contrib"),
          col("rank").as("_prev")))
        .groupBy("node")
        .agg(sum(col("contrib")).as("m"), max(col("_prev")).as("_prev"))
        .select(col("node"),
          (lit(tele) + expr("(m * 85) div 100")).as("rank"),
          col("_prev"))
      // LAZY keep — the ∞-norm delta probe is a full-scan aggregate, so
      // it materializes the round's frame in the SAME job (the eager form
      // paid a separate materialization job per round)
      val (next, delta) = rounds.advance(nextPlan,
        s"pr_conv_ranks_${used + 1}", eager = false)(
        _.agg(max(abs(col("rank") - col("_prev"))).as("d")).head().getLong(0))
      used += 1
      ranks = next.select("node", "rank")
      converged = delta <= tol
    }
    (rounds.finish(ranks), used)
  }

  /** Exact global triangle count over an undirected edge list, returned
    * as one row `(n_nodes, n_edges, n_triangles)` — the clustering-
    * coefficient / community-density primitive that rounds out the graph
    * family (CC for equivalence, PageRank for centrality, k-NN for
    * construction, triangles for cohesion).
    *
    * Algorithm: degree-ordered orientation (Cohen, "Graph Twiddling in a
    * MapReduce World", CiSE'09 — the standard distributed formulation).
    * Each undirected edge is directed from its lower-degree endpoint to
    * its higher-degree endpoint (ties broken by node id), which makes the
    * orientation acyclic, so every triangle has exactly ONE wedge
    * s→t₁, s→t₂ whose closing edge t₁→t₂ is also forward — each triangle
    * is counted once, never 3× or 6×.
    *
    * == Why this survives 100 TB ==
    * The naive wedge join groups by EVERY node and explodes hubs: a
    * degree-d celebrity contributes d² wedges. Orientation bounds every
    * out-degree by O(√m) (a node of degree > √m cannot have √m
    * higher-degree neighbors), so worst-case wedge volume drops from
    * Σd² to m^1.5 — the known optimum for exact counting — and the skew
    * lands on the JOIN key distribution where AQE's skew-join splitting
    * applies. Everything is equi-joins and aggregates: three shuffles
    * (degree, orientation, wedge-close), no BNLJ, nothing collected.
    * Input normalization (canonicalize + distinct) makes the count
    * well-defined under duplicate or reversed input edges; self-loops
    * are dropped.
    *
    * The result reads two eager local checkpoints, the canonical edges
    * `e` and the oriented edges `ori`, and the caller owns their blocks:
    * `Dataset.unpersist()` does not free them, [[Checkpoints.release]] on
    * the result does, once no frame over it is still needed.
    */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // canonical edges materialized once: `e` feeds four subtrees (both
    // degree branches, the orientation join, the n_edges stat) and `ori`
    // three (two wedge sides, the closing join) — without the cut the
    // optimizer replicates the whole upstream pipeline into every
    // reference (the co-occurrence-graph caller's plan carried 144
    // parquet scans and zero guaranteed reuse)
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // shuffle_hash on the degree side: the (node, degree) frame is one
    // row per node yet compresses to almost nothing (sequential ids,
    // tiny degree values), so size-based planning can flip it into a
    // multi-million-row BROADCAST build at mid scale — measured 2–3×
    // on the 3M-node stress graph (STRESS_GRAPH_r09) where its
    // compressed bytes dipped under the 10 MB threshold. The hint keeps
    // it a per-partition hash build at every scale.
    val ori = e
      .join(deg.select(col("node").as("u"), col("d").as("du"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv"))
        .hint("shuffle_hash"), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(true)
    val wedges = ori
      .join(ori.select(col("s").as("t"), col("t").as("t2")), Seq("t"))
      .select(col("s"), col("t"), col("t2"))
    val closed = wedges.join(
      ori.select(col("s"), col("t").as("t2")), Seq("s", "t2"))
    // three scalar aggregates over different frames: the one-row joins
    // are the allowlisted bounded-stat cross shape
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Deduped undirected adjacency for the LPA variants, with the
    * nonnegative-id precondition the min-label tie-break depends on
    * ENFORCED (the argmax negates the label, which orders correctly only
    * for labels ≥ 0 — a silent wrong answer on negative ids is worse
    * than one cheap extra aggregate on a frame this walk scans anyway).
    */
  private def lpaAdjacency(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Checkpoints.Rounds, eager: Boolean): DataFrame = {
    val und = rounds.keep(edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .unionAll(edges.select(col(dstCol).cast(LongType).as("a"),
        col(srcCol).cast(LongType).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct(), "lpa_adj", eager)
    val minId = und.agg(min(col("a"))).head()
    require(minId.isNullAt(0) || minId.getLong(0) >= 0,
      s"labelPropagation requires nonnegative node ids (min-label " +
        s"tie-break negates the label); got min id ${minId.getLong(0)}")
    und
  }

  /** One synchronous LPA round: neighbor label counts, then argmax by
    * (cnt desc, label asc) — `max(struct(cnt, -label))` instead of a
    * row_number window so the per-round shuffle stays O(|edges|)
    * partial-aggregated with no sort. Labels are node ids ≥ 0
    * ([[lpaAdjacency]] enforces it) so the negation orders correctly.
    *
    * CONTRACT: the label domain must be a subset of the adjacency node
    * domain (`labels.node ⊆ und.a`). The round's output is the argmax
    * frame itself — there is no join back to `labels` — so a label row
    * whose node has NO adjacency entry (an isolated node) silently
    * drops out of the label frame rather than keeping its label. Both
    * callers satisfy the contract by construction (labels are
    * initialized FROM the adjacency node set, and every adjacency node
    * has ≥ 1 neighbor, so the neighbor-count aggregate covers the full
    * domain); a new caller with isolated nodes must densify first.
    * Pinned by the ScaleOpsSpec isolated-node test.
    */
  private[graft] def lpaRound(und: DataFrame, labels: DataFrame): DataFrame = {
    val neigh = und
      .join(labels.select(col("node").as("b"), col("label"))
        .hint("shuffle_hash"), "b") // per-node frame: broadcast-trap pin
      .groupBy(col("a").as("node"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    // every label-frame node IS an adjacency node (both callers derive
    // labels from und's node set) and every adjacency node has ≥1
    // neighbor, so `best` covers the full label domain — the former
    // left-join-back to `labels` was a per-round join whose coalesce
    // never fired; the argmax IS the next label frame
    neigh
      .groupBy("node")
      .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
      .select(col("node"), (-col("m.neg")).as("label"))
  }

  /** Label-propagation community detection (Raghavan et al. 2007), the
    * DETERMINISTIC synchronous variant: every node starts with its own id
    * as label; each round every node adopts the label most frequent among
    * its NEIGHBORS (ties broken by smallest label; a node's own label
    * does not vote). Classic LPA breaks ties randomly — that variant is
    * neither reproducible at 100 TB (retries would flip communities) nor
    * oracle-able; the min-label tie-break makes each round a pure
    * function of the previous one, so a DuckDB oracle can replay the
    * unrolled rounds and even the community assignment hash-matches.
    * Runs a FIXED `iterations` rounds (bounded work by construction;
    * LPA's natural stopping rule — no label changed — is the
    * [[connectedComponents]]-style convergence loop at scale).
    *
    * 100 TB shape (the iterative-join discipline shared with
    * [[pageRankFixedPoint]]): the undirected adjacency list materializes
    * once; each round is one equi-join of edges against the (node,
    * label) frame, one (node, label) count aggregate with map-side
    * combine, and one argmax aggregate — `max(struct(cnt, -label))`
    * instead of a row_number window, so the per-round shuffle stays
    * O(|edges|) partial-aggregated with no sort. The rounds unroll into
    * one plan, cut by an eager checkpoint every `UnrollBatch` rounds.
    *
    * The returned frame is LAZY over the checkpointed adjacency (and the
    * last cut round): release them with [[Checkpoints.release]] once no
    * frame over it is needed.
    */
  def labelPropagation(edges: DataFrame, iterations: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val rounds = new Checkpoints.Rounds(edges.sparkSession, None)
    // LAZY: the nonnegative-id probe is a full-scan aggregate and
    // materializes the adjacency in the same job
    val und = lpaAdjacency(edges, srcCol, dstCol, rounds, eager = false)
    val nodes = und.select(col("a").as("node")).distinct()
    // label chain is LINEAR (each round's frame feeds only the next), so
    // the fixed rounds unroll into one plan — same rationale and batch
    // bound as pageRankFixedPoint; `und` stays materialized because every
    // round joins it
    var labels = nodes.withColumn("label", col("node"))
    for (i <- 1 to iterations) {
      labels = lpaRound(und, labels)
      if (i < iterations && i % UnrollBatch == 0)
        labels = rounds.advance(labels, s"lpa_labels_$i", eager = true)(_ => ())._1
    }
    rounds.finish(labels)
  }

  /** LPA with the natural stopping rule — iterate until NO label changed
    * (or `maxIterations`), returning `(labels, roundsUsed)`. The
    * bounded-round form above is the oracle-able fixture shape; this is
    * the production shape, where the round count is data-dependent and
    * the stop probe is one O(n) changed-label count per round — dwarfed
    * by the O(|edges|) neighbor join it piggybacks on. Because each round
    * is the same pure function of the previous labels, a converged run's
    * assignment EQUALS the bounded-round assignment for any round count
    * ≥ the convergence point (pinned in ScaleOpsSpec). Synchronous
    * min-tie-break LPA can 2-cycle on bipartite-ish structures (the
    * classic oscillation); the loop detects a zero-progress round pair
    * via the changed-count repeating and bails at `maxIterations` in
    * that case rather than hanging.
    *
    * With `runDir` the adjacency and the per-round label frames are
    * written as parquet under `runDir` (`lpa_adj`, `lpa_labels_<i>`), the
    * durable form of [[connectedComponents]] with its one-run-per-directory
    * rule; only the adjacency and the final round remain there, and the
    * caller deletes the directory. Without it the returned frame is a
    * local checkpoint of the final round: release it with
    * [[Checkpoints.release]] once no frame over it is needed.
    */
  def labelPropagationConverged(edges: DataFrame, maxIterations: Int = 40,
      srcCol: String = "src", dstCol: String = "dst",
      runDir: Option[String] = None): (DataFrame, Int) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val rounds = new Checkpoints.Rounds(edges.sparkSession, runDir)
    val und = lpaAdjacency(edges, srcCol, dstCol, rounds, eager = true)
    val nodes = und.select(col("a").as("node")).distinct()
    var labels = rounds.advance(nodes.withColumn("label", col("node")),
      "lpa_labels_0", eager = true)(_ => ())._1
    var used = 0
    var converged = false
    while (!converged && used < maxIterations) {
      // the changed-label probe reads the previous round, so that round
      // is dropped only after it
      val prev = labels.select(col("node"), col("label").as("_prev"))
      val (next, changed) = rounds.advance(lpaRound(und, labels),
        s"lpa_labels_${used + 1}", eager = true)(
        _.join(prev, "node").filter(col("label") =!= col("_prev")).count())
      used += 1
      labels = next
      converged = changed == 0
    }
    (rounds.finish(labels), used)
  }

  /** Single-source (or multi-source) WEIGHTED shortest paths to a bounded
    * number of edges — the graph family's distance primitive with real
    * edge costs, where [[bfsLevels]] covers only hop counts. Returns
    * `(node, dist)` = the minimum total weight over paths of at most
    * `maxRounds` edges from the seed set (seeds at 0; nodes unreachable
    * within the bound absent), for NONNEGATIVE integer weights.
    *
    * Level-synchronous Bellman-Ford with frontier pruning: each round
    * relaxes only the edges out of nodes whose distance improved last
    * round — one equi-join of the improved frontier against the
    * adjacency list, a min-aggregate of candidates (map-side combined),
    * and a full-outer merge against the running distances. The classic
    * invariant (dist after round k = exact min over ≤k-edge paths) is
    * preserved by pruning because every value change re-enters the
    * frontier, which is also what makes the bounded form oracle-able as
    * a depth-capped recursive SQL walk. Per-round state joins are
    * `shuffle_hash`-pinned (the compact per-node frame broadcast trap,
    * see [[pageRankFixedPoint]]); each round is checkpointed to truncate
    * lineage. At 100 TB the per-round shuffle is bounded by the
    * frontier's edge neighborhood, never the whole graph; the
    * run-to-convergence form is this loop with the empty-frontier stop,
    * which the bounded form already short-circuits on.
    *
    * With `runDir` the adjacency and the per-round distance frames are
    * written as parquet under `runDir` (`sssp_adj`, `sssp_merged_<i>`),
    * the durable form of [[connectedComponents]] with its
    * one-run-per-directory rule; only the adjacency and the final round
    * remain there, and the caller deletes the directory. Without it the
    * returned frame is a local checkpoint of the final round: release it
    * with [[Checkpoints.release]] once no frame over it is needed.
    */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "weight", seedCol: String = "node",
      runDir: Option[String] = None): DataFrame =
    ssspRun(edges, seeds, maxRounds, srcCol, dstCol, weightCol, seedCol,
      runDir)._1

  /** Run-to-fixpoint SSSP — [[ssspWeighted]]'s loop with the
    * empty-frontier stop as the PRIMARY exit (the production shape, where
    * the eccentricity of the seed set is data-dependent): relaxation
    * rounds continue until no distance improves, bailing at
    * `maxIterations` as a runaway guard (negative cycles are impossible
    * under the nonnegative-weight `require`, so the loop always
    * terminates — the cap bounds worst-case chain graphs). Returns
    * `(dist, roundsUsed)`; because each round is a pure function of the
    * previous distances and improvements always re-enter the frontier,
    * the converged assignment EQUALS the bounded-round assignment for
    * any bound ≥ the convergence point (pinned in ScaleOpsSpec) — the
    * same contract [[labelPropagationConverged]] pins against its
    * bounded form. `runDir` and the returned frame follow
    * [[ssspWeighted]]'s contract.
    */
  def ssspConverged(edges: DataFrame, seeds: DataFrame,
      maxIterations: Int = 64, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "weight",
      seedCol: String = "node",
      runDir: Option[String] = None): (DataFrame, Int) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    ssspRun(edges, seeds, maxIterations, srcCol, dstCol, weightCol, seedCol,
      runDir)
  }

  private def ssspRun(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      srcCol: String, dstCol: String, weightCol: String, seedCol: String,
      runDir: Option[String]): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val rounds = new Checkpoints.Rounds(edges.sparkSession, runDir)
    val adjPlan = edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"),
        col(weightCol).cast(LongType).as("w"))
      .unionAll(edges.select(col(dstCol).cast(LongType).as("a"),
        col(srcCol).cast(LongType).as("b"),
        col(weightCol).cast(LongType).as("w")))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w")) // parallel edges: keep min
    // lazy keep — the nonnegative-weight probe right below is a
    // full-scan aggregate and materializes it in the same job
    val adj = rounds.keep(adjPlan, "sssp_adj", eager = false)
    val minW = adj.agg(min(col("w"))).head()
    require(minW.isNullAt(0) || minW.getLong(0) >= 0,
      s"ssspWeighted requires nonnegative weights, got min ${minW.getLong(0)}")
    var (dist, frontierHasRows) = rounds.advance(seeds
      .select(col(seedCol).cast(LongType).as("node")).distinct()
      .withColumn("dist", lit(0L)),
      "sssp_merged_0", eager = true)(!_.isEmpty)
    var r = 1
    while (r <= maxRounds && frontierHasRows) {
      // round 1's frontier is the seed frame itself (no _improved column
      // yet); later rounds filter the previous round's improved rows
      val frontier =
        if (r == 1) dist else dist.filter(col("_improved")).select("node", "dist")
      val cand = frontier
        .join(adj.hint("shuffle_hash"), col("node") === col("a"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy("node").agg(min(col("cand")).as("cand"))
      val mergedPlan = dist
        .join(cand.hint("shuffle_hash"), Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("cand")),
            coalesce(col("cand"), col("dist"))).as("dist"),
          (col("cand").isNotNull &&
            (col("dist").isNull || col("cand") < col("dist"))).as("_improved"))
      // LAZY keep — the improved-count probe is a full-scan aggregate,
      // so it materializes the round's frame in the SAME job. The former
      // shape paid three jobs per round (merged checkpoint, frontier
      // checkpoint, isEmpty); the frontier needs no materialization of
      // its own — it is a filter over the round's kept frame (guide §1.2
      // / §2.4: remove redundant passes).
      val (merged, improved) = rounds.advance(mergedPlan, s"sssp_merged_$r",
        eager = false)(_.filter(col("_improved")).count())
      frontierHasRows = improved > 0
      dist = merged
      r += 1
    }
    (rounds.finish(dist.select("node", "dist")), r - 1)
  }

  /** Breadth-first search to a bounded depth: minimum hop distance from a
    * seed set over an undirected edge list, returned as `(node, level)`
    * for every node within `maxLevel` hops (seeds at level 0; unreachable
    * nodes absent). The shortest-path primitive the graph family was
    * missing — blast-radius ("what does this entity touch within 3
    * hops"), neighborhood expansion for sampling, and impact analysis
    * are all this query.
    *
    * Level-synchronous frontier expansion: each round is ONE equi-join
    * of the current frontier against the adjacency list, a distinct, and
    * a left-anti against the visited set — the per-round shuffle is
    * bounded by the frontier's edge neighborhood, never the whole graph,
    * and first-reach order IS minimum level, so no min-aggregate pass is
    * needed afterwards. Rounds are checkpointed to truncate
    * lineage (same rationale as the CC/PageRank iterations: without it
    * round N replays rounds 1..N−1 per action). Depth is bounded by
    * construction — this is the hop-limited form; unbounded
    * shortest-paths at 100 TB wants the [[connectedComponents]]-style
    * convergence loop instead.
    *
    * The result is a union of the per-level local checkpoints; the
    * adjacency's checkpoint is released before returning. The caller owns
    * the level checkpoints and frees them with [[Checkpoints.release]].
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxLevel: Int,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(maxLevel >= 0, s"maxLevel must be >= 0, got $maxLevel")
    val adj = edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .unionAll(edges.select(col(dstCol).cast(LongType).as("a"),
        col(srcCol).cast(LongType).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      // lazy: each level's job references the adjacency exactly once, so
      // level 1's count materializes it with no dedicated checkpoint job
      .localCheckpoint(false)
    // per-level frames are LAZY checkpoints materialized by the count
    // probe that doubles as the emptiness check — one job per level
    // instead of the former checkpoint + isEmpty pair (guide §1.2)
    var visited = seeds
      .select(col(seedCol).cast(LongType).as("node")).distinct()
      .withColumn("level", lit(0))
      .localCheckpoint(false)
    var frontier = visited
    var frontierHasRows = frontier.count() > 0
    var l = 1
    while (l <= maxLevel && frontierHasRows) {
      val next = frontier
        .join(adj, col("node") === col("a"))
        .select(col("b").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("level", lit(l))
        .localCheckpoint(false)
      frontierHasRows = next.count() > 0 // materializes the level's blocks
      // visited is a union of ALREADY-materialized per-level frames —
      // re-checkpointing the union each level just re-copied every prior
      // level's rows; the shallow union lineage is free to rescan
      visited = visited.unionAll(next)
      frontier = next
      l += 1
    }
    // every level is materialized, and the result reads none of adj
    Checkpoints.release(adj)
    visited
  }

}
