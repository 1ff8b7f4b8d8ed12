package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.OracleDialect
import graft.engine.BoundedCollect

/** High-level training-data pipeline operators over the `documents` table:
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  * embedding similarity search, and text analysis (language ID, quality
  * scoring, token counting, fingerprinting).
  *
  * Scale design: every operator is a pure DataFrame pipeline — hash-based
  * blocking before any pairwise work, so candidate generation is a
  * shuffle-on-key (never a cross join), and all pairwise verification runs
  * only within tiny buckets.
  */
object Ops {

  /** Exact duplicate groups by full-text hash: one surviving doc per group. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash-LSH near-duplicate candidate pairs with verified Jaccard.
    * shingle=3 words, 64 hashes, 16 bands of 4 rows.
    *
    * Scale shape: candidate generation is id-only — the band join and the
    * pair-dedup shuffle carry (band, hash, id) rows, never document text;
    * texts are joined back exactly once per verified-candidate side.
    *
    * Scale composition note: a cluster of m EXACT duplicates collides in
    * every band and yields m^2/2 pairs — on web corpora run [[dedupExact]]
    * first and feed one representative per identical text into this
    * operator, so pair volume is quadratic only in near-duplicate (not
    * exact-duplicate) cluster sizes. */
  def dedupMinHash(spark: SparkSession, docs: DataFrame,
                   threshold: Double = 0.7, shingle: Int = 3,
                   numHashes: Int = 64, bands: Int = 16): DataFrame = {
    OpsFunctions.register(spark)
    val withBands = docs
      .select(col("doc_id"),
        posexplode(expr(s"minhash_band_hashes(text, $shingle, $numHashes, $bands)"))
          .as(Seq("band", "band_hash")))

    // Same band index + same band hash -> candidate pair (a < b), ids only.
    val a = withBands.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
    val b = withBands.select(col("band"), col("band_hash"), col("doc_id").as("b_id"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()

    // Texts join back once per side for exact-Jaccard verification.
    val texts = docs.select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(texts.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .withColumn("ov", expr(s"ngram_overlap(a_text, b_text, $shingle)"))
      .select(col("a_id"), col("b_id"),
        col("ov.n_inter").as("n_inter"), col("ov.n_union").as("n_union"))
      .filter(col("n_inter").cast("double") / col("n_union") >= threshold)
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering (the
    * AllPairs/PPJoin family): every pair with distinct-shingle Jaccard >=
    * `threshold` is found — no probabilistic recall, unlike MinHash.
    *
    * Soundness of the blocking: if J(A,B) >= t then |A n B| >=
    * ceil(t*|A|), and A's non-prefix suffix holds only ceil(t*|A|) - 1
    * shingles, so at least one shared shingle lies in A's prefix (the
    * |A| - ceil(t*|A|) + 1 globally RAREST shingles by document
    * frequency). Probing prefix shingles against the full index is
    * therefore complete; rare-first ordering keeps candidate buckets
    * small (hot shingles are indexed but almost never probed).
    *
    * Scale shape: shingles and candidates are id-only; df is one
    * aggregation; texts join back once per verified-candidate side. */
  def dedupNgramExact(spark: SparkSession, docs: DataFrame,
                      threshold: Double = 0.5, shingle: Int = 3): DataFrame = {
    OpsFunctions.register(spark)
    val sh = docs.select(col("doc_id"),
      explode(expr(s"shingle_fps(text, $shingle)")).as("fp"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfreq = sh.groupBy("fp").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("fp"))
    val prefix = sh.join(dfreq, "fp")
      .withColumn("rn", row_number().over(w))
      .join(sizes, "doc_id")
      // epsilon guards FP overshoot: ceil(0.4*5) must be 2, not
      // ceil(2.0000000000000004) = 3 — an overshoot SHORTENS the prefix
      // below the completeness bound.
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("doc_id").as("p_id"), col("fp"))
    val candidates = prefix
      .join(sh.select(col("doc_id").as("i_id"), col("fp")), "fp")
      .filter(col("p_id") =!= col("i_id"))
      .select(least(col("p_id"), col("i_id")).as("a_id"),
        greatest(col("p_id"), col("i_id")).as("b_id"))
      .distinct()
    val texts = docs.select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(texts.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .withColumn("ov", expr(s"ngram_overlap(a_text, b_text, $shingle)"))
      .select(col("a_id"), col("b_id"),
        col("ov.n_inter").as("n_inter"), col("ov.n_union").as("n_union"))
      .filter(col("n_inter").cast("double") / col("n_union") >= threshold)
  }

  /** SimHash near-duplicates over the 63-bit signature, blocked on
    * (maxHamming + 1) bit chunks: by pigeonhole, any pair within
    * `maxHamming` differing bits shares at least one untouched chunk, so
    * recall at the threshold is exact. */
  def dedupSimHash(spark: SparkSession, docs: DataFrame,
                   maxHamming: Int = 3): DataFrame = {
    OpsFunctions.register(spark)
    require(maxHamming >= 0 && maxHamming < 63, s"maxHamming=$maxHamming")
    val chunks = maxHamming + 1
    val base = 63 / chunks
    val rem = 63 % chunks
    // Chunk i covers [off(i), off(i+1)): first `rem` chunks get base+1 bits.
    val offsets = (0 to chunks).map(i => i * base + math.min(i, rem))
    val sigs = docs.select(col("doc_id"), expr("simhash(text)").as("sig"))
    // Chunk values stay BIGINT: at maxHamming <= 1 a chunk spans >= 32
    // bits, where an int cast would raise CAST_OVERFLOW under ANSI mode.
    val chunked = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until chunks).map { i =>
        val width = offsets(i + 1) - offsets(i)
        expr(s"cast((sig >> ${offsets(i)}) & ${(1L << width) - 1} as bigint)")
      }: _*)).as(Seq("chunk", "chunk_val")))
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig").distinct()
      .withColumn("hamming", expr("hamming64(a_sig, b_sig)"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Embedding near-duplicates via MULTI-TABLE hyperplane LSH blocking +
    * exact cosine verification. Recall per table is (1 - theta/pi)^bits,
    * unioned across tables — size `bits` so buckets stay small at the
    * corpus size (bits ~ log2(n / bucketTarget)) and `tables` for the
    * recall target at the threshold's angle. Candidate generation and the
    * cross-table dedup shuffle are id-only; vectors join back once. */
  def dedupEmbedding(spark: SparkSession, embeddings: DataFrame,
                     threshold: Double = 0.95, bits: Int = 16,
                     tables: Int = 8, seed: Long = 42L): DataFrame = {
    OpsFunctions.register(spark)
    val tableSigs = (0 until tables).map(t =>
      expr(s"hyperplane_lsh(embedding, $bits, ${seed + 7919L * t}L)"))
    val hashed = embeddings.select(col("vec_id"),
      posexplode(array(tableSigs: _*)).as(Seq("tbl", "bucket")))
    val a = hashed.select(col("tbl"), col("bucket"), col("vec_id").as("a_id"))
    val b = hashed.select(col("tbl"), col("bucket"), col("vec_id").as("b_id"))
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    candidates
      .join(vecs.select(col("vec_id").as("a_id"), col("embedding").as("a_vec")), "a_id")
      .join(vecs.select(col("vec_id").as("b_id"), col("embedding").as("b_vec")), "b_id")
      .withColumn("cosine", expr("cosine_similarity(a_vec, b_vec)"))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Brute-force cosine top-k: exact baseline. Queries are broadcast; the
    * corpus is scanned once; per-query top-k via window. */
  def annBruteForce(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                    k: Int): DataFrame = {
    OpsFunctions.register(spark)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("q_vec")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(q)
      .withColumn("sim", expr("cosine_similarity(embedding, q_vec)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "sim", "rank")
  }

  /** Brute-force cosine top-k via the typed top-K aggregator: partial
    * top-k runs map-side, so the shuffle carries at most k rows per query
    * per partition (the preferred shape when candidate sets are huge). */
  def annBruteForceAgg(spark: SparkSession, corpus: DataFrame,
                       queries: DataFrame, k: Int): DataFrame = {
    OpsFunctions.register(spark)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("q_vec")))
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(q)
      .withColumn("sim", expr("cosine_similarity(embedding, q_vec)"))
    TopK.topKPerGroup(spark, scored, "qid", "sim", "vec_id", k)
  }

  /** LSH-bucketed ANN: L independent hash tables of `bits` hyperplanes
    * each, plus 1-bit multi-probe per table; candidates unioned across
    * tables, then re-ranked by exact cosine. Scale path: the corpus is
    * hashed once per table and shuffled by (table, bucket); no cross join. */
  def annLsh(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             k: Int, bits: Int = 10, tables: Int = 4,
             seed: Long = 42L): DataFrame = {
    OpsFunctions.register(spark)
    val tableSigs = (0 until tables).map(t =>
      expr(s"hyperplane_lsh(embedding, $bits, ${seed + 7919L * t}L)"))
    val hashed = corpus.select(col("vec_id"),
      posexplode(array(tableSigs: _*)).as(Seq("tbl", "bucket")))
    val probes = queries.select(col("vec_id").as("qid"), col("embedding"),
      posexplode(array(tableSigs: _*)).as(Seq("tbl", "b0")))
      .withColumn("bucket", explode(array(
        col("b0") +: (0 until bits).map(i => expr(s"b0 ^ ${1L << i}")): _*)))
      .select("qid", "tbl", "bucket")
    // Candidates and the cross-table dedup shuffle carry ids only; the
    // embedding payloads join back once after dedup.
    val candidates = probes.join(hashed, Seq("tbl", "bucket"))
      .select("qid", "vec_id").distinct()
    val scored = candidates
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("q_vec"))), "qid")
      .withColumn("sim", expr("cosine_similarity(embedding, q_vec)"))
    // Map-side partial top-k: the final shuffle carries <= k rows per
    // query per partition.
    TopK.topKPerGroup(spark, scored, "qid", "sim", "vec_id", k)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into `nCentroids`
    * cells around medoid centroids (a deterministic pseudo-random corpus
    * sample — no iterative training, so the index build is one broadcast
    * pass and the whole structure is re-derivable by the DuckDB oracle);
    * each query probes its `nProbe` nearest centroids and re-ranks only
    * those cells' vectors.
    *
    * Scale shape: centroids broadcast (nCentroids ~ sqrt(corpus)), the
    * assignment is one map-side pass over the corpus, candidates shuffle
    * on centroid id, and the final top-k uses the map-side aggregator. */
  def annIvf(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             k: Int, nCentroids: Int = 32, nProbe: Int = 4,
             nAssign: Int = 1): DataFrame = {
    OpsFunctions.register(spark)
    // Deterministic pseudo-random medoid pick (mirrored by the oracle);
    // nCentroids ~ sqrt(corpus) rows come to the driver once and ship to
    // executors as a broadcast.
    val centRows = corpus
      .orderBy(expr("(vec_id * 48271) % 2147483647"), col("vec_id"))
      .limit(nCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
    val centroids = spark.sparkContext.broadcast(new CentroidSet(
      centRows.map(_.getLong(0)),
      centRows.map(_.getSeq[Float](1).toArray)))

    // Soft assignment (nAssign > 1): a vector near a Voronoi border is
    // indexed under its nAssign nearest cells, trading index size for
    // recall without any training step.
    val assigned = assignToCentroids(
      corpus.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nAssign, centroids)
    val probes = assignToCentroids(
      queries.select(col("vec_id").as("qid"), col("embedding").as("q_vec")),
      "qid", "q_vec", nProbe, centroids)

    val scored = probes.join(assigned, "cid")
      .select("qid", "vec_id").distinct()
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("q_vec"))), "qid")
      .withColumn("sim", expr("cosine_similarity(embedding, q_vec)"))
    TopK.topKPerGroup(spark, scored, "qid", "sim", "vec_id", k)
  }

  /** IVF + Product Quantization ANN — the memory-bounded scale path: the
    * inverted file carries only (cid, vec_id, m-byte PQ codes), never raw
    * vectors (~8 TB of codes vs ~256 TB of floats at 10^12 x 64-dim), and
    * candidate scoring is `nSub` table lookups per candidate (the per-query
    * ADC lookup table, broadcast) instead of a dim-length dot product. The
    * top-`rerankDepth` ADC candidates are re-ranked with exact cosine
    * against the raw vectors — the only stage that touches them.
    *
    * Codebooks are deterministic per-subspace medoid picks (no iterative
    * training), so the whole index — coarse cells, codes, tables, scores —
    * is re-derivable from scratch by the DuckDB oracle. */
  def annIvfPq(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
               k: Int, nCentroids: Int = 32, nProbe: Int = 8, nAssign: Int = 2,
               nSub: Int = 8, nCodewords: Int = 16,
               rerankDepth: Int = 20): DataFrame = {
    OpsFunctions.register(spark)
    import org.apache.spark.sql.GraftBridge.{column => gcol, expression => gexpr}

    // Coarse quantizer: same deterministic medoid pick as annIvf.
    val centRows = corpus
      .orderBy(expr("(vec_id * 48271) % 2147483647"), col("vec_id"))
      .limit(nCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
    val centroids = spark.sparkContext.broadcast(new CentroidSet(
      centRows.map(_.getLong(0)),
      centRows.map(_.getSeq[Float](1).toArray)))

    // PQ codebooks: per subspace, nCodewords medoid SUBvectors under a
    // per-subspace deterministic shuffle. ONE corpus pass selects ALL
    // subspaces' medoid ids (map-side top-K per subspace on the hash —
    // "smallest (hash, vec_id)" == the old per-subspace orderBy/limit),
    // plus one filtered fetch of the few selected vectors; the previous
    // formulation ran nSub separate full-corpus sort jobs.
    val dim = corpus.select(size(col("embedding"))).head.getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val sub = dim / nSub
    val picked = TopK.topKPerGroup(spark,
      corpus.selectExpr("vec_id",
          s"explode(transform(sequence(0, ${nSub - 1}), m -> named_struct(" +
            "'m', m, 'h', (vec_id * (16807 + 1000003 * cast(m as bigint))) % 2147483647))) AS e")
        .selectExpr("e.m AS m", "cast(-e.h as double) AS neg_h", "vec_id"),
      "m", "neg_h", "vec_id", nCodewords)
      .select(col("m"), (-col("neg_h")).cast("long").as("h"), col("vec_id"))
      .collect()
    val needIds = picked.map(_.getLong(2)).toSet.toSeq
    val vecMap = corpus.filter(col("vec_id").isInCollection(needIds))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val cwArr = Array.tabulate(nSub) { mi =>
      picked.filter(_.getInt(0) == mi)
        .sortBy(r => (r.getLong(1), r.getLong(2)))
        .map(r => vecMap(r.getLong(2)).slice(mi * sub, (mi + 1) * sub)
          .map(_.toDouble).toArray)
    }
    val cb = spark.sparkContext.broadcast(new PqCodebook(nSub, nCodewords, sub, cwArr))

    // Inverted file: (cid, vec_id, codes) — ids + codes only.
    val assigned = assignToCentroids(
      corpus.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nAssign, centroids)
    val codes = corpus.select(col("vec_id"),
      gcol(PqEncodeExpr(gexpr(col("embedding")), cb)).as("codes"))
    val index = assigned.join(codes, "vec_id")

    val probes = assignToCentroids(
      queries.select(col("vec_id").as("qid"), col("embedding").as("q_vec")),
      "qid", "q_vec", nProbe, centroids)
    val qtabs = queries.select(col("vec_id").as("qid"),
      gcol(PqQueryTableExpr(gexpr(col("embedding")), cb)).as("qt"))

    // ADC scoring: m lookups per candidate; map-side top-rerankDepth.
    val cand = probes.join(index, "cid")
      .select("qid", "vec_id", "codes").distinct()
    val adc = cand.join(broadcast(qtabs), "qid")
      .withColumn("adc", gcol(PqAdcExpr(
        gexpr(col("qt.tbl")), gexpr(col("qt.qn2")), gexpr(col("codes")), cb)))
    val topR = TopK.topKPerGroup(spark, adc, "qid", "adc", "vec_id", rerankDepth)

    // Exact re-rank: the only stage that reads raw vectors, over <=
    // rerankDepth rows per query.
    val rr = topR.select("qid", "vec_id")
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("q_vec"))), "qid")
      .withColumn("sim", expr("cosine_similarity(embedding, q_vec)"))
    TopK.topKPerGroup(spark, rr, "qid", "sim", "vec_id", k)
  }

  /** Map-side IVF centroid assignment: (id, cid) for each row's `n`
    * nearest broadcast centroids. ZERO-shuffle by construction — the old
    * crossJoin + Window formulation shuffled corpus x nCentroids rows
    * keyed by id (~3x10^13 rows at 10^12 vectors); this is one narrow
    * pass (OpsSpec pins the exchange-free plan). */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String, n: Int,
                        centroids: org.apache.spark.broadcast.Broadcast[CentroidSet])
      : DataFrame = {
    val nearest = org.apache.spark.sql.GraftBridge.column(NearestCentroidsExpr(
      org.apache.spark.sql.GraftBridge.expression(col(vecCol)), n, centroids))
    df.select(col(idCol), explode(nearest).as("cid"))
  }

  /** Connected components over duplicate PAIRS -> cluster ids (min doc_id
    * of the component), the step every production dedup needs after pair
    * generation: smallest-label propagation, one shuffle-on-id round per
    * iteration, converging in O(component diameter) rounds — near-dup
    * clusters have tiny diameters (pairs are near-cliques), so 2-4 rounds
    * in practice; a driver-side changed-count gates termination. Input
    * columns: a_id, b_id. Output: (doc_id, cluster_id) for every doc that
    * appears in a pair. */
  def duplicateClusters(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).cache()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // Each node adopts the smallest label among itself and neighbors...
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("lbl"))
      val neighborMin = labels.unionByName(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
      // ...then follows its label's label (pointer doubling): path lengths
      // halve every round, so chain-shaped components converge in
      // O(log diameter) rounds instead of O(diameter) — the difference
      // between 40 and 10^12-class iteration counts on adversarial chains.
      // localCheckpoint truncates the lineage: the self-join doubles the
      // logical plan every round, so without truncation analysis cost
      // (and driver heap) grows 2^rounds. At cluster scale swap for a
      // reliable checkpoint dir if executor loss must be survivable.
      val next = neighborMin
        .join(neighborMin.select(col("id").as("lbl"), col("lbl").as("lbl2")), "lbl")
        .select(col("id"), col("lbl2").as("lbl"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("lbl", "prev"), "id")
        .filter(col("lbl") < col("prev")).count()
      labels.unpersist(blocking = false)
      labels = next
      rounds += 1
    }
    lastClusterRounds = rounds
    edges.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Rounds the last [[duplicateClusters]] call took (spec hook for the
    * O(log diameter) convergence claim). */
  @volatile private[graft] var lastClusterRounds: Int = 0

  /** SQL expression re-segmenting a single-line `text` column into
    * '\n'-joined lines of `width` words — THE shared lined-corpus shape
    * used by the driver queries, the bench workload and the specs (one
    * definition so they can never diverge; the DuckDB mirror lives in
    * SparkEntry.linedDuckCte). */
  def relineSql(width: Int = 2): String =
    s"CASE WHEN size(split(trim(text), '\\\\s+')) = 0 THEN '' ELSE " +
      s"array_join(transform(sequence(0, cast(ceil(size(split(trim(text), '\\\\s+'))/$width.0) as int) - 1), " +
      s"g -> array_join(slice(split(trim(text), '\\\\s+'), g*$width+1, $width), ' ')), '\\n') END"

  /** Corpus-level boilerplate LINE removal (the CCNet/RefinedWeb shape):
    * lines whose normalized fingerprint appears in >= `minDocs` distinct
    * documents are dropped from every document; surviving lines are
    * reassembled in order. Input: (doc_id, text) with '\n'-separated lines.
    * Output: (doc_id, n_lines, n_kept, clean_text).
    *
    * Scale shape: the doc-frequency aggregation exchanges only
    * (line_fp, doc_id) — never line text. The boilerplate set
    * (df >= minDocs) is small: up to `broadcastMaxFps` fps it is collected
    * in one bounded job ([[BoundedCollect.sortedLongs]]) and broadcast to
    * the per-document `drop_boiler_lines` kernel, so line text crosses no
    * exchange; past the cap it feeds an anti join, and line payloads
    * shuffle exactly once (the per-doc reassembly). Line totals come
    * straight from the source (no second explode scan). On web corpora,
    * scope the key per domain with [[lineDedupByDomain]] (header/footer
    * boilerplate is domain-local); both run one body, with the
    * line key unsalted here. */
  def lineDedup(spark: SparkSession, docs: DataFrame,
                minDocs: Int = 2,
                broadcastMaxFps: Int = 4 << 20,
                approxDfRsd: Double = 0.0): DataFrame =
    dropBoilerLines(spark, docs, Seq(col("doc_id")), lit(-1L),
      minDocs, broadcastMaxFps, approxDfRsd)

  /** The shuffle formulation of [[lineDedup]], exposed for the
    * fast-path-equivalence spec (and for callers that want to force it). */
  def lineDedupShuffle(spark: SparkSession, docs: DataFrame,
                       minDocs: Int = 2): DataFrame =
    lineDedup(spark, docs, minDocs, broadcastMaxFps = -1)

  /** DOMAIN-scoped boilerplate line removal: header/footer chrome is
    * domain-local, so the doc-frequency key is (domain, line) rather
    * than the line alone ("Home | About | Contact" on 10^6 unrelated
    * sites is navigation, not corpus boilerplate — the global key would
    * strip it everywhere once ANY minDocs sites share it; the scoped key
    * only strips it where it actually repeats within one site). Input:
    * (doc_id, domain, text); output (doc_id, domain, n_lines, n_kept,
    * clean_text). Null domains group as ''.
    *
    * The same body as [[lineDedup]] with the line key salted by
    * doc_fingerprint(domain): key = (fp(domain) * 48271 + fp(line)) mod P
    * (wrap-exact, mirrored verbatim in the DuckDB oracle; its mod-P
    * collision odds equal the global variant's line_fp collisions). The
    * fast path broadcasts one sorted key array serving EVERY domain at
    * once (the per-row salt picks the domain slice), so corpus text
    * still crosses zero exchanges. */
  def lineDedupByDomain(spark: SparkSession, docs: DataFrame,
                        minDocs: Int = 2,
                        broadcastMaxFps: Int = 4 << 20,
                        approxDfRsd: Double = 0.0): DataFrame =
    dropBoilerLines(spark, docs.withColumn("domain", coalesce(col("domain"), lit(""))),
      Seq(col("doc_id"), col("domain")), call_function("doc_fingerprint", col("domain")),
      minDocs, broadcastMaxFps, approxDfRsd)

  /** The boilerplate-line body of [[lineDedup]] and [[lineDedupByDomain]]:
    * `keep` are the pass-through columns and `salt` the per-row line-key
    * salt of the `line_fps` / `drop_boiler_lines` kernels (-1 for the
    * plain line fingerprint). */
  private def dropBoilerLines(spark: SparkSession, docs: DataFrame, keep: Seq[Column],
                              salt: Column, minDocs: Int, broadcastMaxFps: Int,
                              approxDfRsd: Double): DataFrame = {
    OpsFunctions.register(spark)
    require(minDocs >= 2, s"minDocs=$minDocs (a line always appears in its own doc)")
    // Exact df (the oracle-checked default) aggregates every distinct
    // (line_fp, doc_id) pair — work and exchange grow with CORPUS size.
    // approxDfRsd > 0 switches the doc frequency to an HLL++ sketch:
    // partials combine map-side, so the exchange is one sketch per
    // fingerprint per partition — FIXED in the corpus size (only the
    // distinct-line count matters), and measured 2x faster in wall even
    // at 2M docs. A boilerplate threshold is a coarse knob — a few
    // percent df error moves only lines sitting exactly at it (spec pins
    // equality on corpora whose dfs are well separated from it).
    // The df scan explodes the line_fps kernel array (one pass, keys
    // only) — the line STRINGS never leave the scan stage; the keys equal
    // the per-line doc_fingerprint formulation exactly (spec-pinned).
    val lineFps = call_function("line_fps", col("text"), salt)
    val dfAgg =
      if (approxDfRsd > 0) approx_count_distinct(col("doc_id"), approxDfRsd)
      else countDistinct(col("doc_id"))
    val boiler = docs
      .select(col("doc_id"), explode(lineFps).as("line_fp"))
      .groupBy("line_fp")
      .agg(dfAgg.as("df"))
      .filter(col("df") >= minDocs)
      .select("line_fp")

    // Fast path (the common case): the boilerplate set is tiny relative
    // to the corpus. Collect it as sorted primitive longs under the cap
    // (BoundedCollect: one collecting job), broadcast it, and filter +
    // reassemble each document IN PLACE with one codegen kernel — no
    // anti-join and no groupBy(doc_id) reassembly, so the corpus text
    // crosses ZERO exchanges (the df aggregation above still runs but
    // moves only (line_fp, doc_id) pairs). The cap bounds driver/executor
    // memory (default 4M fps = 32 MB); above it the shuffle formulation
    // below remains the big-boiler fallback.
    BoundedCollect.sortedLongs(boiler, broadcastMaxFps) match {
      case Some(dict) =>
        val bc = spark.sparkContext.broadcast(dict)
        val r = org.apache.spark.sql.GraftBridge.column(DropBoilerLinesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          org.apache.spark.sql.GraftBridge.expression(salt), bc))
        docs.select(keep :+ r.as("__r"): _*)
          .select(keep ++ Seq(col("__r.n_lines").as("n_lines"),
            // NULL-text rows must match the shuffle formulation exactly:
            // there the left join + coalesce yields (null, 0, ''); the
            // null-safe kernel struct alone would yield (null, null, null).
            coalesce(col("__r.n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("__r.clean_text"), lit("")).as("clean_text")): _*)
      case None =>
        // Each line with its key from the same kernel as the df scan.
        val lines = docs.select(col("doc_id"), posexplode(arrays_zip(
            split(col("text"), "\n").as("line"), lineFps.as("line_fp"))).as(Seq("pos", "l")))
          .select(col("doc_id"), col("pos"), col("l.line").as("line"),
            col("l.line_fp").as("line_fp"))
        val agg = lines.join(boiler, Seq("line_fp"), "left_anti")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_kept"),
            expr("array_join(transform(array_sort(collect_list(struct(pos, line))), " +
              "s -> s.line), '\\n')").as("clean_text"))
        docs.select(keep :+ size(split(col("text"), "\n")).as("n_lines"): _*)
          .join(agg, Seq("doc_id"), "left")
          .select(keep ++ Seq(col("n_lines"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text")): _*)
    }
  }

  /** [[lineDedupByDomain]] over a pages-shaped frame (doc_id, url, text):
    * extracts the lowercased URL host with the same pattern as
    * [[domainCap]] (schemeless/invalid urls group as ''). */
  def lineDedupByUrl(spark: SparkSession, pages: DataFrame,
                     minDocs: Int = 2,
                     broadcastMaxFps: Int = 4 << 20,
                     approxDfRsd: Double = 0.0): DataFrame =
    lineDedupByDomain(spark,
      pages.withColumn("domain", lower(regexp_extract(col("url"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))),
      minDocs, broadcastMaxFps, approxDfRsd)

  /** Gopher-style repetition quality signals, computed per row (no shuffle
    * at all): duplicate-line fraction, fraction of characters inside
    * duplicated lines, most-common-word fraction, most-common-bigram
    * fraction. Input: (doc_id, text) with '\n'-separated lines.
    *
    * The signals come from the one-pass codegen'd kernel
    * ([[OpsKernel.repetitionStats]], O(doc length) per row, never
    * corpus-dependent); [[repetitionSignalsHof]] is the equivalent
    * declarative formulation (value-identical, spec-pinned) kept as the
    * independent reference — the kernel is ~50x faster because Spark's
    * higher-order lambdas evaluate interpreted, ~200ns per element step. */
  def repetitionSignals(spark: SparkSession, docs: DataFrame): DataFrame = {
    OpsFunctions.register(spark)
    docs.selectExpr("doc_id", "text_repetition(text) AS r")
      .selectExpr("doc_id", "r.n_lines AS n_lines", "r.n_words AS n_words",
        "r.dup_line_frac AS dup_line_frac", "r.dup_char_frac AS dup_char_frac",
        "r.top_word_frac AS top_word_frac", "r.top_bigram_frac AS top_bigram_frac")
  }

  /** Reference formulation of [[repetitionSignals]] in pure Spark SQL
    * higher-order functions — value-identical by construction (the
    * equivalence is spec-pinned); slow, test-only. */
  private[graft] def repetitionSignalsHof(docs: DataFrame): DataFrame =
    docs
      .withColumn("__ls", split(col("text"), "\n"))
      .withColumn("__w", split(trim(col("text")), "\\s+"))
      .withColumn("__bg", expr(
        "CASE WHEN size(__w) < 2 THEN array() " +
        "ELSE transform(sequence(1, size(__w) - 1), " +
        "i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1))) END"))
      .selectExpr(
        "doc_id",
        "size(__ls) AS n_lines",
        "size(__w) AS n_words",
        "(1.0 - cast(size(array_distinct(__ls)) as double) / size(__ls)) AS dup_line_frac",
        "(cast(aggregate(filter(__ls, l -> size(filter(__ls, x -> x = l)) > 1), " +
          "cast(0 as bigint), (a, l) -> a + length(l)) as double) " +
          "/ greatest(length(replace(text, '\\n', '')), 1)) AS dup_char_frac",
        "(cast(array_max(transform(array_distinct(__w), " +
          "x -> size(filter(__w, y -> y = x)))) as double) " +
          "/ greatest(size(__w), 1)) AS top_word_frac",
        "(cast(coalesce(array_max(transform(array_distinct(__bg), " +
          "x -> size(filter(__bg, y -> y = x)))), 0) as double) " +
          "/ greatest(size(__bg), 1)) AS top_bigram_frac")

  /** Per-domain quota (web-corpus domain balancing): extracts the URL host
    * and keeps at most `maxPerDomain` pages per domain, smallest page_id
    * first (deterministic). Output: (domain, page_id, rnk).
    *
    * Scale shape: routed through the native map-side top-K aggregate, so
    * the shuffle carries at most `maxPerDomain` rows per domain per input
    * partition — a hot domain with 10^9 pages costs its reducer
    * maxPerDomain * nPartitions rows, not 10^9 (a window + row_number
    * would shuffle every row of the hot domain to one reducer). Selection
    * key is -page_id as double: exact for |page_id| < 2^53. */
  def domainCap(spark: SparkSession, pages: DataFrame,
                maxPerDomain: Int): DataFrame = {
    // Scheme matching is case-insensitive and the host lowercased —
    // 'HTTPS://Host-1.Example/..' must group with its lowercase twin, not
    // collapse into a shared '' domain (which would cap unrelated pages
    // against each other and silently drop rows).
    val withDomain = pages
      .withColumn("domain", lower(regexp_extract(col("url"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
      .withColumn("__neg_id", -col("page_id").cast("double"))
    TopK.topKPerGroup(spark, withDomain, "domain", "__neg_id", "page_id", maxPerDomain)
      .select(col("domain"), col("page_id"), col("rank").as("rnk"))
  }

  /** Deterministic content-hash split (train/valid/test): the bucket is the
    * normalized-text fingerprint mod 100, so EXACT duplicates always land
    * in the same split — content-addressed splitting is the standard guard
    * against train/test contamination through duplicated web pages. Pure
    * per-row expression (no shuffle); re-runs and re-shards never move a
    * document. Output: (doc_id, bucket, split). */
  def hashSplit(spark: SparkSession, docs: DataFrame,
                trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    OpsFunctions.register(spark)
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"trainPct=$trainPct validPct=$validPct")
    docs.selectExpr(
      "doc_id",
      "doc_fingerprint(text) % 100 AS bucket",
      s"CASE WHEN doc_fingerprint(text) % 100 < $trainPct THEN 'train' " +
        s"WHEN doc_fingerprint(text) % 100 < ${trainPct + validPct} THEN 'valid' " +
        "ELSE 'test' END AS split")
  }

  /** PII patterns (emails, NANP-style phone numbers, IPv4 addresses) —
    * RE2-compatible (no backrefs/lookaround), so the DuckDB oracle runs
    * the IDENTICAL patterns. Raw regex; call sites escape for their SQL
    * dialect. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val PiiIpv4 = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  private def sparkRegexLit(re: String): String = re.replace("\\", "\\\\")

  /** PII occurrence counts per document (the filter/audit side of PII
    * handling): emails, phone numbers, IPv4 addresses. Pure per-row
    * regexp scans — shuffle-free, codegen'd. */
  def piiSignals(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"size(regexp_extract_all(text, '${sparkRegexLit(PiiEmail)}', 0)) AS n_emails",
      s"size(regexp_extract_all(text, '${sparkRegexLit(PiiPhone)}', 0)) AS n_phones",
      s"size(regexp_extract_all(text, '${sparkRegexLit(PiiIpv4)}', 0)) AS n_ips")

  /** PII redaction: emails -> `<EMAIL>`, phones -> `<PHONE>`, IPv4 ->
    * `<IP>`, applied in that fixed order (the order is part of the
    * contract — a phone-shaped substring inside an already-redacted email
    * must not double-fire). Per-row, shuffle-free. */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"""regexp_replace(regexp_replace(regexp_replace(text,
            '${sparkRegexLit(PiiEmail)}', '<EMAIL>'),
            '${sparkRegexLit(PiiPhone)}', '<PHONE>'),
            '${sparkRegexLit(PiiIpv4)}', '<IP>') AS redacted""")

  /** HTML -> text extraction (the first stage of every web-corpus
    * pipeline): drop tags, script/style blocks and comments, unescape the
    * core entities, collapse runs of whitespace. Pure per-row regexp
    * surgery over the binary `html` column — shuffle-free; the driver
    * oracle proves it inverts the pages synthesis byte-exactly. */
  def htmlToText(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    val s0 = s"cast($htmlCol as string)"
    // script and style strip in SEPARATE passes: a combined alternation
    // '(script|style)...</(script|style)>' lets a lazy match close a
    // <script> block at a '</style>', leaking script text into the
    // output (RE2 has no backreferences, so two passes is the portable
    // fix — and matches the HTML rule that only the own end tag closes
    // the block).
    val noScript = s"regexp_replace($s0, '(?s)<script[^>]*>.*?</script>', '')"
    val noStyle = s"regexp_replace($noScript, '(?s)<style[^>]*>.*?</style>', '')"
    val noComment = s"regexp_replace($noStyle, '(?s)<!--.*?-->', '')"
    val noTags = s"regexp_replace($noComment, '<[^>]*>', '')"
    // &amp; last so it cannot re-expand; the apostrophe goes through
    // chr(39) to stay dialect-safe (no quote escaping differences).
    val unescaped = Seq(
      ("'&lt;'", "'<'"), ("'&gt;'", "'>'"), ("'&quot;'", "'\"'"),
      ("'&#39;'", "chr(39)"), ("'&amp;'", "'&'"))
      .foldLeft(noTags) { case (e, (from, to)) => s"replace($e, $from, $to)" }
    val collapsed = s"trim(regexp_replace($unescaped, '[ \\\\t\\\\r\\\\n]+', ' '))"
    pages.withColumn("extracted_text", expr(collapsed))
  }

  /** URL normalization for dedup/domain keys: lowercase scheme and host,
    * strip the fragment, drop `utm_*` tracking parameters, strip default
    * ports (:80 / :443), and trim trailing `?`/`&`. Pure per-row regexp
    * surgery (identical RE2-safe patterns on the oracle side). */
  def normalizeUrls(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val scheme = s"lower(regexp_extract($urlCol, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val host = s"lower(regexp_extract($urlCol, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    val hostNoPort =
      s"regexp_replace($host, ':(80|443)$$', '')"
    val rest = s"regexp_extract($urlCol, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)"
    // Strip utm params ONLY at a parameter boundary ([?&]utm_...): an
    // unanchored 'utm_' pattern would also fire inside path segments or
    // other parameter names ('/utm_guide', 'myutm_x=1') and eat
    // unrelated bytes. Stripping can orphan the query: '?utm_a=1&id=2'
    // loses its '?', so the first '&' with no '?' before it is promoted
    // back to '?' (anchored pattern — applies at most once).
    val noUtm = s"regexp_replace($rest, '[?&]utm_[^&#]*', '')"
    val fixed = s"regexp_replace($noUtm, '^([^?]*)&', '$$1?')"
    val trimmed = s"regexp_replace($fixed, '[?&]+$$', '')"
    pages.withColumn("norm_url",
      expr(s"concat($scheme, '://', $hostNoPort, $trimmed)"))
  }

  private val Stopwords = OpsKernel.QualityStopwords

  /** The blended [0,1] quality score as ONE SQL expression over a `text`
    * column — value-identical to [[qualityScore]]'s `quality` output
    * (spec-pinned), for call sites that must stay single-pass and keep
    * their own columns (e.g. the streaming curation pipeline, where a
    * join-back is not an option). */
  def qualitySql: String = {
    // All counts come from the one-pass text_quality_stats kernel
    // (exact split/regexp/length parity, spec-pinned); the double
    // arithmetic below is operation-for-operation the r5 formulation
    // (int/int and long/long division produce the same IEEE double), so
    // the value is bit-identical while the 2 regexp_replace passes, the
    // interpreted stopword HOF and 3 regex splits are gone. Repeated
    // field accesses collapse to one kernel call per row via codegen
    // subexpression elimination.
    val qs = "text_quality_stats(text)"
    val nWords = s"$qs.n_words"
    val punct = s"(($qs.n_punct) / greatest($qs.n_chars, 1))"
    val digit = s"(($qs.n_digit) / greatest($qs.n_chars, 1))"
    val stop = s"(($qs.n_stop) / greatest($nWords, 1))"
    s"""greatest(0.0d, least(1.0d,
        0.5d + $stop * 1.5d - $digit * 2.0d
             - greatest($punct - 0.1d, 0.0d) * 3.0d
             + CASE WHEN $nWords >= 20 AND $nWords <= 5000
                    THEN 0.2d ELSE -0.2d END))"""
  }

  /** Quality scoring: word stats, punctuation/digit/space ratios, stopword
    * ratio, and a blended [0,1] quality score. */
  def qualityScore(docs: DataFrame): DataFrame = {
    OpsFunctions.register(docs.sparkSession)
    // One text_quality_stats kernel call per row replaces 2
    // regexp_replace passes, 3 regex splits and the interpreted stopword
    // HOF; the output columns keep the r5 types (INT counts) and the
    // identical division arithmetic, so values and schema are unchanged
    // (spec- and oracle-pinned).
    docs.selectExpr(
      "doc_id",
      "text",
      "text_quality_stats(text) AS __qs")
      .selectExpr(
        "doc_id",
        "CAST(__qs.n_chars AS INT) AS n_chars",
        "CAST(__qs.n_words AS INT) AS n_words",
        "(__qs.n_punct / greatest(__qs.n_chars, 1)) AS punct_ratio",
        "(__qs.n_digit / greatest(__qs.n_chars, 1)) AS digit_ratio",
        "(__qs.n_stop / greatest(__qs.n_words, 1)) AS stopword_ratio")
      .withColumn("quality",
        greatest(lit(0.0), least(lit(1.0),
          lit(0.5)
            + col("stopword_ratio") * 1.5
            - col("digit_ratio") * 2.0
            - greatest(col("punct_ratio") - lit(0.1), lit(0.0)) * 3.0
            + when(col("n_words") >= 20 && col("n_words") <= 5000, 0.2).otherwise(-0.2))))
  }

  /** Token counting: whitespace tokens and a BPE-ish subword estimate
    * (words + punctuation marks + ceil(chars/4) blend). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "size(split(trim(text), '\\\\s+')) AS ws_tokens",
      "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)) AS regex_tokens",
      "cast(ceil(length(text) / 4.0) AS bigint) AS byte_tokens")

  /** Document fingerprints (rolling hash over normalized text). */
  def fingerprints(spark: SparkSession, docs: DataFrame): DataFrame = {
    OpsFunctions.register(spark)
    docs.selectExpr("doc_id", "doc_fingerprint(text) AS fingerprint")
  }

  /** Approximate distinct count per group via the KMV sketch
    * ([[KmvSketchAgg]]): below k distinct hashes the count is exact;
    * otherwise est = floor((k-1) * P^2 / h_k) from the kth smallest
    * composite hash — the one IEEE division is computed from identical
    * integer inputs by both engines, so the DuckDB oracle re-derives the
    * estimate bit-for-bit.
    *
    * Scale design: the sketch is a bounded sorted array maintained
    * map-side (partial aggregation), so the shuffle carries at most k
    * longs per group per partition — a 10^12-row distinct count per
    * group moves KBs instead of the exact-distinct (group, value)
    * exchange. Mergeable: union of sketches = sketch of the union
    * (repartition-determinism spec). */
  def approxDistinct(spark: SparkSession, df: DataFrame, groupCol: String,
                     valueCol: String, k: Int = 256): DataFrame = {
    // Fail at plan time, not inside an executor task: the sketch hashes
    // string values (cast a numeric column explicitly if needed).
    val vt = df.schema.fields.find(_.name == valueCol).map(_.dataType)
    require(vt.contains(org.apache.spark.sql.types.StringType),
      s"approxDistinct: value column '$valueCol' must be StringType, " +
        s"got ${vt.getOrElse("missing column")}")
    val agg = org.apache.spark.sql.GraftBridge.column(KmvSketchAgg(
      org.apache.spark.sql.GraftBridge.expression(col(valueCol)), k)
      .toAggregateExpression())
    df.groupBy(col(groupCol))
      .agg(agg.as("sk"))
      .select(col(groupCol),
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(
            s"CAST(floor(CAST(${k - 1} AS DOUBLE) * " +
              "(CAST(2147483647 AS DOUBLE) * CAST(2147483647 AS DOUBLE)) / " +
              s"CAST(element_at(sk, $k) AS DOUBLE)) AS BIGINT)"))
          .as("est_distinct"))
  }

  /** Exact distributed quantiles of a bounded-cardinality integral
    * column (quantized metrics: lengths, fixed-point scores): lower
    * quantiles (DuckDB's quantile_disc) — the smallest value whose
    * cumulative count reaches ceil(q * n / 1000). Output one row per
    * requested per-mille point: (q_permille, value).
    *
    * Scale design: ONE histogram aggregation (map-side partial first),
    * then the cumulative walk runs driver-side over the DISTINCT values
    * — the same bounded-cardinality histogram shape as the CCNet
    * tercile cuts: no global row sort, no single-partition window, and
    * the collect is value-cardinality-sized, never row-sized (guarded
    * by `maxDistinct`). */
  def exactQuantiles(spark: SparkSession, df: DataFrame, column: String,
                     qsPermille: Seq[Int] = Seq(250, 500, 750, 900, 990),
                     maxDistinct: Int = 4 << 20): DataFrame = {
    import spark.implicits._
    require(qsPermille.nonEmpty && qsPermille.forall(q => q > 0 && q <= 1000))
    // Nulls carry no rank: dropped here (and a NULL-only input has no
    // quantiles — surfaced as the empty-histogram require below).
    val hist = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("long").as("v"))
      .agg(count(lit(1)).as("c")).persist()
    try {
      val nDistinct = hist.count()
      require(nDistinct <= maxDistinct,
        s"exactQuantiles: $nDistinct distinct values exceed maxDistinct=" +
          s"$maxDistinct — quantize the column first")
      val sorted = hist.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      require(sorted.nonEmpty,
        s"exactQuantiles: no non-null values in '$column'")
      val n = sorted.iterator.map(_._2).sum
      val cuts = qsPermille.map { q =>
        val need = (q.toLong * n + 999L) / 1000L
        var cum = 0L
        var i = 0
        var v = sorted.last._1
        var found = false
        while (i < sorted.length && !found) {
          cum += sorted(i)._2
          if (cum >= need) { v = sorted(i)._1; found = true }
          i += 1
        }
        (q, v)
      }
      cuts.toDF("q_permille", "value")
    } finally hist.unpersist()
  }

  /** Corpus vocabulary with occurrence and document frequencies, above a
    * min occurrence count — the tokenizer-vocab building step. One
    * explode + hash aggregation; the exchange carries (word, doc_id)
    * pairs for the exact df and nothing else. */
  def vocab(docs: DataFrame, minCount: Long = 2): DataFrame =
    docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      // split(trim(''), '\s+') yields [''] — drop it to match the
      // OracleDialect.words zero-words guard for empty/whitespace docs.
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("df"))
      .filter(col("cnt") >= minCount)

  /** Shared word-count dictionary behind the BPE trainer: top `cap`
    * corpus words by (count desc, word asc) — a total order, so the cap
    * boundary is deterministic. One explode + hash aggregation +
    * TakeOrdered; the aggregation output is corpus-VOCABULARY sized. */
  private def bpeDict(docs: DataFrame, cap: Int): Array[(String, Long)] =
    // word_count_pairs pre-aggregates counts PER DOCUMENT in one kernel
    // pass (no regex split, no per-occurrence token row); summing the
    // per-doc counts is exactly the explode + filter('' ) + groupBy
    // count of r5 (spec-pinned), with hash-aggregate input shrunk from
    // word occurrences to distinct-words-per-doc.
    docs.selectExpr("inline(word_count_pairs(text))")
      .groupBy("word").agg(sum("cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(cap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** BPE merge-table training (Sennrich 2016 / the GPT-2 tokenizer
    * recipe): aggregate the corpus word-count dictionary, then iterate
    * driver-side on that dictionary — count adjacent symbol pairs
    * weighted by word count, merge the argmax, repeat. Output: one row
    * per learned merge, (merge_rank, lhs, rhs, pair_cnt) in rank order.
    *
    * Scale design: training is ONE corpus scan (the word-count
    * aggregation, map-side partial first) + a driver loop over the
    * vocabulary-sized dictionary — the standard shape; real trainers
    * never rescan text per merge. The dictionary is capped at `cap`
    * words under a total order, so a 100-TB corpus with an unbounded
    * tail still trains on a deterministic top slice; encoding stays
    * total regardless (characters are the base symbols — no UNK). */
  def bpeMerges(spark: SparkSession, docs: DataFrame, nMerges: Int = 12,
                minPair: Long = 2L, cap: Int = 1 << 16): DataFrame = {
    import spark.implicits._
    OpsFunctions.register(spark)
    val merges = Bpe.train(bpeDict(docs, cap), nMerges, minPair)
    merges.zipWithIndex.map { case ((l, r, c), i) => (i + 1, l, r, c) }.toSeq
      .toDF("merge_rank", "lhs", "rhs", "pair_cnt")
  }

  /** BPE corpus encode: trains as [[bpeMerges]], broadcasts the merge
    * table, and encodes every document with one codegen kernel pass.
    * Output: (doc_id, n_tokens, token_fp) — the token count and the
    * rolling fingerprint of the ';'-prefixed token stream (the oracle
    * re-derives the entire merge table AND the fingerprints in SQL).
    *
    * Scale design: one scan to train (see [[bpeMerges]]) + one
    * shuffle-free scan to encode; the model broadcast is the tiny merge
    * table, memoized per executor so each distinct word is re-tokenized
    * once per executor, not once per occurrence. */
  def bpeEncode(spark: SparkSession, docs: DataFrame, nMerges: Int = 12,
                minPair: Long = 2L, cap: Int = 1 << 16): DataFrame = {
    OpsFunctions.register(spark)
    val merges = Bpe.train(bpeDict(docs, cap), nMerges, minPair)
    val model = spark.sparkContext.broadcast(
      new BpeModel(merges.map(_._1), merges.map(_._2)))
    val enc = org.apache.spark.sql.GraftBridge.column(BpeEncodeExpr(
      org.apache.spark.sql.GraftBridge.expression(col("text")), model))
    docs.select(col("doc_id"), enc.as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.token_fp").as("token_fp"))
  }

  /** Language ID: character-trigram profiles built from a labeled sample of
    * the corpus itself, then classification by profile overlap. Returns
    * (doc_id, lang, predicted, score). */
  def langId(spark: SparkSession, docs: DataFrame,
             profileSize: Int = 200): DataFrame = {
    OpsFunctions.register(spark)

    // ONE scan of documents: the per-doc trigram tf table is cached and
    // both consumers (profile building, scoring) read the cache — the
    // profile counts re-derive exactly as sum(tf). docGrams is bounded by
    // <= 500 grams/doc, far smaller than the exploded gram stream.
    val docGrams = docs.select(col("doc_id"), col("lang"),
        expr("char_ngrams(text, 3, 500)").as("ngram"))
      .groupBy("doc_id", "lang", "ngram")
      .agg(count(lit(1)).as("tf"))
      .cache()

    // Per-language top-N trigram profile, weighted by inverse rank.
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("ngram"))
    val profiles = docGrams.groupBy("lang", "ngram")
      .agg(sum("tf").as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= profileSize)
      .select(col("lang").as("p_lang"), col("ngram"),
        (lit(profileSize + 1) - col("rk")).as("weight"))

    // Score each document against every profile; argmax wins.
    val scored = docGrams.join(broadcast(profiles), "ngram")
      .groupBy("doc_id", "lang", "p_lang")
      .agg(sum(col("weight") * col("tf")).as("score"))
    val best = Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang"))
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("predicted"), col("score"))
  }

  /** Collect the eval set's distinct shingle-fp dictionary (sorted, for
    * binary-search probes) when it fits under `cap`; None past the cap or
    * for cap < 0. Shared by the batch fast path and the streaming
    * decontaminator. */
  private[graft] def evalFpDict(spark: SparkSession, eval: DataFrame,
                                shingle: Int, cap: Int): Option[Array[Long]] = {
    OpsFunctions.register(spark)
    BoundedCollect.sortedLongs(evalFps(eval, shingle), cap)
  }

  /** The eval set's distinct shingle fps, as a one-column `fp` frame. */
  private def evalFps(eval: DataFrame, shingle: Int): DataFrame =
    eval.select(explode(expr(s"shingle_fps(text, $shingle)")).as("fp")).distinct()

  /** Per-row distinct-hit-count probe column against a sorted broadcast
    * dictionary. NULL text coalesces to 0 hits, matching the shuffle
    * formulation (there the explode emits no rows and the left join
    * coalesces to 0). */
  private[graft] def evalProbe(spark: SparkSession, fps: Array[Long],
                               shingle: Int): org.apache.spark.sql.Column = {
    val bc = spark.sparkContext.broadcast(fps)
    coalesce(org.apache.spark.sql.GraftBridge.column(ShingleHitsExpr(
      org.apache.spark.sql.GraftBridge.expression(col("text")), shingle, bc)),
      lit(0L))
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * `shingle`-gram with the evaluation set (the GPT-3/Pile n-gram-overlap
    * methodology). Output: one row per training doc —
    * (doc_id, n_hits = distinct contaminated n-grams, contaminated).
    *
    * Scale design: the eval dictionary is inherently small (benchmarks
    * are thousands of documents against a 10^12-doc corpus). Fast path
    * (the common case): collect it as sorted primitive longs in one
    * bounded job ([[BoundedCollect.sortedLongs]]; an over-cap dictionary
    * never reaches the driver), broadcast it, and probe each training
    * document with one codegen kernel — the corpus crosses ZERO
    * exchanges and is scanned once. Above the cap (default 4M fps =
    * 32 MB) the shuffle fallback runs an exploded set-membership join on
    * fp with NOTHING broadcast (both the dictionary and the per-doc hits
    * aggregate are unbounded there); the shuffled rows are (doc_id, fp)
    * pairs only, partial-aggregated map-side first. */
  def decontaminate(spark: SparkSession, train: DataFrame, eval: DataFrame,
                    shingle: Int = 5, broadcastMaxFps: Int = 4000000): DataFrame = {
    OpsFunctions.register(spark)
    evalFpDict(spark, eval, shingle, broadcastMaxFps) match {
      case Some(fps) =>
        train.select(col("doc_id"),
            evalProbe(spark, fps, shingle).as("n_hits"))
          .select(col("doc_id"), col("n_hits"),
            (col("n_hits") > 0).as("contaminated"))
      case None =>
        // Over-cap dictionary: NOTHING is broadcast — by definition the
        // dictionary is large, and the per-doc hits aggregate is
        // unbounded in corpus size (every contaminated doc yields a
        // row), so both joins stay shuffles (AQE may still downgrade the
        // dictionary side if it turns out small at runtime).
        // shingle_fps is already distinct per doc, so count(*) after the
        // set-membership join IS the distinct-contaminated-n-gram count.
        val hits = train
          .select(col("doc_id"), explode(expr(s"shingle_fps(text, $shingle)")).as("fp"))
          .join(evalFps(eval, shingle), "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"))
        train.select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
    }
  }

  /** The shuffle formulation of [[decontaminate]], exposed for the
    * fast-path-equivalence spec (and for dictionaries past the cap). */
  def decontaminateShuffle(spark: SparkSession, train: DataFrame,
                           eval: DataFrame, shingle: Int = 5): DataFrame =
    decontaminate(spark, train, eval, shingle, broadcastMaxFps = -1)

  /** Deterministic mixture sampling: resample the corpus to per-source
    * target weights. A source with weight w keeps each document
    * floor(w) times plus one more iff its salted id-uniform
    * u < frac(w); sources absent from `weights` are dropped. Re-runs,
    * re-shards and re-partitions reproduce the exact same copies — the
    * property that makes a 10^12-doc mixture auditable.
    * Output: (doc_id, source, n_copies, copy) — one row per emitted copy.
    *
    * Scale design: pure per-row expressions (the weight table folds into
    * a CASE literal) + a generator — shuffle-free end to end. The uniform
    * is a Lehmer mix of doc_id (OracleDialect.lehmerU) — a rolling hash of
    * the decimal id string would cluster u by id length and bias the
    * fractional rounding. */
  def mixtureSample(spark: SparkSession, docs: DataFrame,
                    weights: Map[String, Double],
                    salt: String = "mix"): DataFrame = {
    OpsFunctions.register(spark)
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0),
      s"weights must be non-negative: $weights")
    docs
      // ONE emitter serves this operator and both DuckDB oracles.
      .withColumn("rate", expr(graft.OracleDialect.mixtureCase(weights)))
      // deterministic uniform in (0,1) — the DuckDB oracle re-derives the
      // identical arithmetic bit-for-bit.
      .withColumn("u", expr(
        graft.OracleDialect.lehmerU("doc_id", TextKernel.stringFp(salt))))
      .withColumn("n_copies", expr(
        "CAST(floor(rate) AS BIGINT) + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(expr("sequence(CAST(0 AS BIGINT), n_copies - 1)")).as("copy"))
  }

  /** Repeated-substring (span-level) exact dedup: report every maximal
    * token span covered by sliding `window`-token windows occurring at
    * least `minCount` times corpus-wide — the ExactSubstr methodology of
    * the training-data-dedup literature re-expressed relationally, with
    * rolling-window fingerprints in place of a monolithic suffix array.
    * Docs shorter than `window` words hash as one whole-doc window, so
    * whole-doc duplicates surface as full-doc spans. Output: one row per
    * maximal duplicated span — (doc_id, span_id, start_tok, end_tok,
    * n_windows); masking/removal against `text` is a per-row follow-on.
    *
    * Scale design: text explodes to (doc_id, pos, fp) map-side and never
    * crosses an exchange. Global occurrence counts are a TWO-LEVEL exact
    * aggregation: groupBy(fp) partial-aggregates map-side, so a mega-hot
    * boilerplate fingerprint (10^8-10^9 occurrences on web corpora)
    * collapses to one partial row per map task before the tiny count
    * shuffle — the r5 formulation (`count(*) OVER (PARTITION BY fp)`)
    * instead serialized every occurrence of a hot fp through ONE
    * spilling window task (no map-side partials, AQE skew splitting
    * does not apply to windows). The duplicated-fp set is then collected
    * in one bounded job ([[BoundedCollect.sortedLongs]]) when it fits
    * under `broadcastMaxFps` (the common case — duplicated WINDOW fps are
    * far rarer than duplicated lines) and broadcast to a span-merge kernel
    * over each document; else it re-attaches to a recomputed occurrence
    * frame by an fp semi-join that AQE skew splitting DOES cover, and a
    * second shuffle on doc_id merges overlapping windows into maximal
    * spans (gaps-and-islands over the running max end). Worst case two
    * id-only exchanges, no quadratic step, no unsplittable hot-key task,
    * nothing corpus-sized in one place (equality with the window
    * formulation is spec-pinned). */
  def dedupSpans(spark: SparkSession, docs: DataFrame,
                 window: Int = 50, minCount: Long = 2,
                 broadcastMaxFps: Int = 4 << 20): DataFrame = {
    OpsFunctions.register(spark)
    require(window > 0 && minCount >= 2, s"window=$window minCount=$minCount")
    def occ = docs.select(
        col("doc_id"),
        expr("word_count(text)").as("n_words"),
        posexplode(expr(s"shingle_fps_pos(text, $window)")).as(Seq("pos", "fp")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        least(col("pos") + lit(window - 1), col("n_words") - 1)
          .cast("long").as("w_end"),
        col("fp"))
    // Exact per-fp totals via hash aggregation (map-side partials bound
    // the hot-key shuffle); only fps at or over the threshold survive.
    val dupFps = occ.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
      .select("fp")
    // Attach the duplicated-fp set back to the occurrence frame. Under
    // the cap (BoundedCollect: one collecting job) the probe is a
    // broadcast sorted-array binary search inside the same codegen stage
    // as the explode — the corpus text is scanned twice (counts, probe)
    // but never crosses an fp exchange at all.
    BoundedCollect.sortedLongs(dupFps, broadcastMaxFps) match {
      case Some(fps) =>
        // Broadcast path: the span merge itself runs INSIDE the probe
        // scan (window fps stream in position order, so gaps-and-islands
        // is a local pass per document) — the probe side carries NO
        // exchange at all: no occurrence re-shuffle on doc_id, no window
        // sort. Rows equal the relational merge below (spec-pinned).
        val bc = spark.sparkContext.broadcast(fps)
        val spansCol = org.apache.spark.sql.GraftBridge.column(SpanMergeExpr(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          window.toInt, bc))
        docs.select(col("doc_id"), explode(spansCol).as("s"))
          .select(col("doc_id"), col("s.span_id").as("span_id"),
            col("s.start_tok").as("start_tok"),
            col("s.end_tok").as("end_tok"),
            col("s.n_windows").as("n_windows"))
      case None =>
        // Past the cap: plain fp semi-join — a JOIN, so AQE's skew-join
        // splitting applies to hot fps (unlike the window formulation) —
        // then the relational gaps-and-islands merge on doc_id.
        val dupOcc = occ.join(dupFps, Seq("fp"), "left_semi")
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
        dupOcc
          .select("doc_id", "pos", "w_end")
          .withColumn("pmax",
            max("w_end").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("pmax").isNull || col("pos") > col("pmax") + 1, 1L).otherwise(0L))
          .withColumn("span_id",
            sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "span_id")
          .agg(min("pos").as("start_tok"), max("w_end").as("end_tok"),
            count(lit(1)).as("n_windows"))
          .select("doc_id", "span_id", "start_tok", "end_tok", "n_windows")
    }
  }

  /** Sequence packing (concat-and-chunk): assign every document a token
    * span in a stream of fixed-length `seqLen` training sequences. The
    * corpus is dealt into `nShards` hash-derived shards and hash-ordered
    * within each (deterministic global shuffle), then packed by running
    * token offset. Output per doc: (doc_id, shard, n_tokens, start_off,
    * seq_first, seq_last, n_seqs) — seq ids are shard-local.
    *
    * Scale design: ONE shuffle (the window partition by shard); each
    * shard packs independently, so parallelism = nShards — at 100 TB set
    * nShards to the writer parallelism (each shard is one output sequence
    * stream) instead of windowing over a global order, which would
    * serialize the corpus through a single partition. */
  def packSequences(spark: SparkSession, docs: DataFrame,
                    seqLen: Int = 2048, nShards: Int = 8): DataFrame = {
    OpsFunctions.register(spark)
    packSequencesByCount(spark, docs.select(
      col("doc_id"),
      // NULL text packs as 0 tokens like the empty string (without the
      // guard the ELSE branch would turn every span column NULL).
      // split_word_count is the exact size(split(trim(text),'\s+'))
      // kernel (spec-pinned parity) — the regex split + per-row token
      // array existed only to be counted.
      expr("CASE WHEN text IS NULL OR trim(text) = '' THEN CAST(0 AS BIGINT) " +
        "ELSE split_word_count(text) END")
        .as("n_tokens")), seqLen, nShards)
  }

  /** [[packSequences]] over PRE-COMPUTED token counts (doc_id, n_tokens)
    * — the composition point for real tokenizers: feed
    * [[bpeEncode]]'s counts and documents pack by their actual BPE
    * token budget instead of the whitespace estimate. Same deterministic
    * shard/order keys, same span arithmetic, same one-exchange plan. */
  def packSequencesByCount(spark: SparkSession, counted: DataFrame,
                           seqLen: Int = 2048, nShards: Int = 8): DataFrame = {
    OpsFunctions.register(spark)
    require(seqLen > 0 && nShards > 0, s"seqLen=$seqLen nShards=$nShards")
    val keyed = counted.select(
      col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"),
      // fingerprints are already non-negative (mod 2^31-1), so plain %
      // shards them without a sign fix-up.
      expr(s"doc_fingerprint(concat('pack#', CAST(doc_id AS STRING))) % $nShards").as("shard"),
      expr("doc_fingerprint(concat('ord#', CAST(doc_id AS STRING)))").as("ord"))
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("start_off", col("cum") - col("n_tokens"))
      .withColumn("seq_first", expr(s"start_off DIV $seqLen"))
      .withColumn("seq_last", expr(
        s"CASE WHEN n_tokens = 0 THEN seq_first ELSE (cum - 1) DIV $seqLen END"))
      .withColumn("n_seqs", expr(
        "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE seq_last - seq_first + 1 END"))
      .select("doc_id", "shard", "n_tokens", "start_off",
        "seq_first", "seq_last", "n_seqs")
  }

  /** Distributed Stupid-Backoff n-gram language model scoring (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * count-based LM designed for MapReduce-scale corpora, where exact
    * Kneser-Ney normalization is dropped because relative frequencies plus
    * a fixed backoff factor behave identically downstream at web scale).
    *
    * Trains trigram/bigram/unigram counts over the `trainPred` slice of
    * the corpus and scores EVERY document: position j's score is
    * c3/c2(context) at the trigram level, backing off by `alpha` per level
    * to c2/c1(context) and c1/N. Scores are 1e-6 fixed-point integers
    * summed per document (order-independent), with per-level hit counts
    * (n_tri/n_bi/n_uni/n_oov) as the diagnostic a curation filter
    * actually thresholds on.
    *
    * Scale design: n-grams are hashed to mod-P 8-byte fingerprints (the
    * standard large-LM trick — the count tables join on fixed-width keys
    * and never carry strings); counting is one shuffle-on-fp groupBy with
    * map-side partial aggregation. Scoring is dual-path like
    * [[decontaminate]]: when the count table fits under
    * `broadcastMaxCounts` (collected as sorted primitive arrays, 16 B per
    * n-gram), each document is scored in ONE codegen kernel pass against
    * the broadcast dictionary and the corpus crosses ZERO exchanges; past
    * the cap, scoring melts each position's 5 probes (t1, t1x, t2, t2x,
    * t3) into (kind, fp) rows and runs ONE shuffle join against the
    * unified count table — sharded by key, never broadcast or collected,
    * so a 10^12-token corpus with a 10^10-entry trigram table works on
    * table-size-agnostic joins. */
  /** Unified (kind, fp, cnt) n-gram count table for n = 1..3 over a
    * training corpus. k >= 2 needs the word_count guard: shingle_fps_pos
    * falls back to hashing ALL words joined when a doc has fewer than k
    * words, and that fallback fp would alias a genuine lower-order
    * n-gram. */
  private def lmCounts(train: DataFrame): DataFrame =
    // ONE kernel pass emits every 1/2/3-gram fp packed as (kind<<32)|fp
    // (bit-identical multiset to the former three-scan union of
    // shingle_fps_pos(text, k) for k = 1..3, spec-pinned) — the training
    // corpus is scanned once instead of three times.
    train.select(explode(expr("lm_gram_fps(text)")).as("p"))
      .select(shiftright(col("p"), 32).cast("int").as("kind"),
        col("p").bitwiseAND(lit(4294967295L)).as("fp"))
      .groupBy("kind", "fp").agg(count(lit(1)).as("cnt"))

  /** Collect the LM count dictionary (three sorted fp/count array pairs)
    * plus the total training token count when it fits under `cap`; None
    * past the cap or for cap < 0, through [[BoundedCollect]] (one
    * collecting job; an over-cap table never reaches the driver, and the
    * shuffle path recomputes the lazy counts frame). `nt` is the sum of
    * unigram counts — free from the collected rows, no extra corpus scan.
    * Shared by the batch fast path and the streaming scorer. */
  private[graft] def lmDict(spark: SparkSession, train: DataFrame,
                            cap: Int): Option[(LmDict, Long)] = {
    OpsFunctions.register(spark)
    BoundedCollect.rows(lmCounts(train), cap)(_ => 1L).map { rows =>
      val fpsA = new Array[Array[Long]](3)
      val cntA = new Array[Array[Long]](3)
      for (k <- 1 to 3) {
        val kr = rows.filter(_.getInt(0) == k).sortBy(_.getLong(1))
        fpsA(k - 1) = kr.map(_.getLong(1))
        cntA(k - 1) = kr.map(_.getLong(2))
      }
      (new LmDict(fpsA, cntA), cntA(0).sum)
    }
  }

  /** Stupid-Backoff scoring column (struct n_tokens/n_tri/n_bi/n_uni/
    * n_oov/score_fp over a `text` column) against a model trained in
    * BATCH on `reference` — usable on batch AND streaming frames (the
    * probe is a stateless broadcast-dictionary codegen kernel). Throws
    * past the cap: a stateless streaming probe requires a broadcastable
    * model; score the backlog with batch [[lmScore]] instead. */
  def lmScoreCol(spark: SparkSession, reference: DataFrame,
                 alpha: Double = 0.4,
                 broadcastMaxCounts: Int = 2000000): Column = {
    val (dict, nt) = lmDict(spark, reference, broadcastMaxCounts).getOrElse(
      throw new IllegalArgumentException(
        s"LM dictionary exceeds $broadcastMaxCounts entries — " +
          "score in batch with lmScore (shuffle path) instead"))
    lmProbe(spark, dict, nt, alpha)
  }

  /** The broadcast-dictionary `lm_score_doc` kernel over `text`. */
  private def lmProbe(spark: SparkSession, dict: LmDict, nt: Long,
                      alpha: Double): Column =
    org.apache.spark.sql.GraftBridge.column(LmScoreDocExpr(
      org.apache.spark.sql.GraftBridge.expression(col("text")),
      spark.sparkContext.broadcast(dict), alpha, nt))

  /** `keep` plus the six LM score columns of `probe` (an [[lmScoreCol]]
    * struct), NULL text scoring 0 everywhere as on the shuffle path. */
  private[graft] def withLmScores(frame: DataFrame, keep: Seq[Column],
                                  probe: Column): DataFrame =
    frame.select(keep :+ probe.as("__lm"): _*)
      .select(keep ++ Seq("n_tokens", "n_tri", "n_bi", "n_uni", "n_oov", "score_fp")
        .map(f => coalesce(col(s"__lm.$f"), lit(0L)).as(f)): _*)

  def lmScore(spark: SparkSession, docs: DataFrame, trainPred: Column,
              alpha: Double = 0.4,
              broadcastMaxCounts: Int = 2000000): DataFrame = {
    OpsFunctions.register(spark)
    val train = docs.where(trainPred)

    // FAST PATH (the common case — a trigram table after count-cutoff
    // pruning fits executor memory for all but the very largest LMs):
    // broadcast the dictionary and score each document in ONE codegen
    // kernel pass (5 binary searches per position) — the corpus crosses
    // ZERO exchanges. Past the cap, the shuffle formulation below runs
    // with NOTHING broadcast or collected.
    lmDict(spark, train, broadcastMaxCounts) match {
      case Some((dict, ntVal)) =>
        return withLmScores(docs, Seq(col("doc_id")), lmProbe(spark, dict, ntVal, alpha))
      case None =>
    }
    val counts = lmCounts(train)

    // Total training tokens as a broadcast ONE-ROW frame, not a collected
    // literal: the shared portable score emitter references column `nt`
    // identically on the Spark and DuckDB sides.
    val nt = train.agg(sum(coalesce(expr("word_count(text)"), lit(0L))).as("nt"))

    // Per-position probe rows stream from the lm_probes generator (one
    // O(n) kernel pass per document), melt to (kind, fp), join the count
    // table once, and pivot back to one row per position.
    val probes = docs.select(col("doc_id"), expr("lm_probes(text)"))
    val melted = probes.select(col("doc_id"), col("j"), explode(array(
        struct(lit(1).as("kind"), lit("t1").as("role"), col("t1").as("fp")),
        struct(lit(1).as("kind"), lit("t1x").as("role"), col("t1x").as("fp")),
        struct(lit(2).as("kind"), lit("t2").as("role"), col("t2").as("fp")),
        struct(lit(2).as("kind"), lit("t2x").as("role"), col("t2x").as("fp")),
        struct(lit(3).as("kind"), lit("t3").as("role"), col("t3").as("fp")))).as("p"))
      .select(col("doc_id"), col("j"), col("p.kind").as("kind"),
        col("p.role").as("role"), col("p.fp").as("fp"))
      .where(col("fp") >= 0) // -1 = context out of range at this position
    val hit = melted.join(counts, Seq("kind", "fp"), "left")
      .groupBy("doc_id", "j").agg(
        coalesce(max(when(col("role") === "t1", col("cnt"))), lit(0L)).as("c1"),
        coalesce(max(when(col("role") === "t1x", col("cnt"))), lit(0L)).as("c1x"),
        coalesce(max(when(col("role") === "t2", col("cnt"))), lit(0L)).as("c2"),
        coalesce(max(when(col("role") === "t2x", col("cnt"))), lit(0L)).as("c2x"),
        coalesce(max(when(col("role") === "t3", col("cnt"))), lit(0L)).as("c3"))
    val scored = hit.crossJoin(broadcast(nt)).select(col("doc_id"),
      expr(OracleDialect.sbmScoreCase(alpha)).as("s_fp"),
      expr(OracleDialect.sbmLevelCase).as("lvl"))
    val perDoc = scored.groupBy("doc_id").agg(
      sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
      sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
      sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni"),
      sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_oov"),
      sum(col("s_fp")).as("score_fp"))

    // Left join from the corpus so zero-token documents keep a row.
    docs.select(col("doc_id"),
        coalesce(expr("CAST(word_count(text) AS BIGINT)"), lit(0L)).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("n_uni"), lit(0L)).as("n_uni"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("score_fp"), lit(0L)).as("score_fp"))
  }

  /** The shuffle formulation of [[lmScore]], exposed for the fast-path
    * equivalence spec (and for count tables past the broadcast cap). */
  def lmScoreShuffle(spark: SparkSession, docs: DataFrame, trainPred: Column,
                     alpha: Double = 0.4): DataFrame =
    lmScore(spark, docs, trainPred, alpha, broadcastMaxCounts = -1)

  /** BM25 top-k retrieval over the corpus (Robertson-Sparck Jones
    * probabilistic idf, k1/b saturation): builds the inverted statistics
    * (tf, df, dl, avgdl) over hashed terms and returns the k best
    * documents per query with deterministic fixed-point scores.
    *
    * Scale design: postings are sharded by term fingerprint (tf groupBy
    * and the df join are shuffle-on-fp with map-side combine); query
    * terms join postings on the 8-byte term key — a shuffle join that
    * tolerates both million-query batches and stopword-scale posting
    * lists (AQE splits skewed terms); per-query accumulation is a
    * groupBy-sum of integer contributions and the final cut is the native
    * map-side top-k aggregator, so the shuffle carries at most k rows per
    * query per partition. The idf is quantized per TERM (1e-9 fixed
    * point) so the single library call (ln) never lands in per-posting
    * float arithmetic. */
  def bm25TopK(spark: SparkSession, docs: DataFrame, queriesPred: Column,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               qTerms: Int = 6, maxDfFrac: Double = 1.0): DataFrame = {
    OpsFunctions.register(spark)
    // dl rides along the token stream and is folded into the tf
    // aggregation (first() of a per-doc constant), so postings never
    // re-join the corpus on doc_id — one fewer full-postings shuffle.
    val toks = docs.select(col("doc_id"),
      coalesce(expr("CAST(word_count(text) AS BIGINT)"), lit(0L)).as("dl"),
      explode(expr("shingle_fps_pos(text, 1)")).as("fp"))
    val tf = toks.groupBy("doc_id", "fp")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    val dft = tf.groupBy("fp").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(coalesce(expr("word_count(text)"), lit(0L))).as("tot"))
    // Stop-list pruning (maxDfFrac < 1): a term present in more than
    // that fraction of documents is dropped from the index entirely —
    // at web scale a stopword's posting list is a large fraction of the
    // corpus, and joining it per query is THE retrieval bottleneck; its
    // near-zero idf contributes nothing to ranking anyway.
    val idf = dft.crossJoin(broadcast(stats))
      .where(col("df") <= col("n_docs") * maxDfFrac)
      .select(col("fp"), expr(OracleDialect.bm25IdfFp).as("idf_fp"))
    val postings = tf.join(idf, "fp")

    // Queries: the first qTerms distinct term fps of each query document.
    val qt = docs.where(queriesPred).select(col("doc_id").as("qid"),
      explode(expr(s"array_distinct(slice(shingle_fps_pos(text, 1), 1, $qTerms))")).as("fp"))
    val contrib = qt.join(postings, "fp").crossJoin(broadcast(stats))
      .withColumn("c_fp", expr(OracleDialect.bm25ContribFp(k1, b)))
    val scored = contrib.groupBy("qid", "doc_id").agg(sum("c_fp").as("score_fp"))
    TopK.topKPerGroup(spark, scored, "qid", "score_fp", "doc_id", k)
      .select(col("qid"), col("rank"),
        col("score_fp").cast("long").as("score_fp"), col("doc_id"))
  }

  /** Spark-dialect feature projection for [[lrFilter]]: the SAME surface
    * statistics as [[qualityScore]] (whose DuckDB parity is pinned by the
    * quality_score oracle), each a single IEEE division of exact
    * integers — bit-identical across engines with no quantization
    * needed. */
  private def lrFeatures: Seq[(String, String)] = {
    // Counts from the one-pass text_quality_stats kernel (exact parity
    // with the former split/regexp formulations, spec-pinned); the
    // double arithmetic is unchanged operation-for-operation so the
    // feature values — and hence the whole GD weight trajectory the
    // oracle re-derives — are bit-identical.
    val qs = "text_quality_stats(text)"
    val nWords = s"$qs.n_words"
    // The three ratio features are rescaled x10 (an exact binary-safe
    // constant) so their dynamic range matches the bias term — without
    // it, full-batch GD is too ill-conditioned to move off the prior in
    // a fixed iteration budget.
    Seq(
      "x1" -> s"(CAST((($qs.n_stop) / greatest($nWords, 1)) AS DOUBLE) * 10.0)",
      "x2" -> s"(CAST((($qs.n_digit) / greatest($qs.n_chars, 1)) AS DOUBLE) * 10.0)",
      "x3" -> s"(CAST((($qs.n_punct) / greatest($qs.n_chars, 1)) AS DOUBLE) * 10.0)",
      "x4" -> s"(least(CAST($nWords AS DOUBLE), 1000.0) / 1000.0)",
      "x5" -> s"((CAST($qs.n_chars AS DOUBLE) / greatest(CAST($nWords AS DOUBLE), 1.0)) / 20.0)")
  }

  /** Learned selection classifier (the FineWeb/CCNet quality-filter
    * shape): full-batch logistic regression over surface text statistics,
    * trained distributedly for a FIXED number of iterations and applied
    * to every document. Output: (doc_id, label, z_fp, pred) — the 1e-6
    * fixed-point decision margin and the sign prediction.
    *
    * Determinism (what makes the trained MODEL oracle-re-derivable): each
    * document's gradient contribution is quantized to 1e-6 fixed point
    * BEFORE the distributed sum, so gradient totals are order-independent
    * integers; the weight recurrence is the shared
    * OracleDialect.lrWUpdate arithmetic on those integers, so both
    * engines walk the identical weight sequence.
    *
    * Scale design: one corpus scan per iteration, all map-side — the
    * shuffle carries 6 longs per partition (the partial gradient sums);
    * the model ships back as 6 literals folded into the next scan's
    * codegen expressions (no broadcast machinery, no driver-side data);
    * the scoring pass is shuffle-free. 10^12 docs = `iters` + 1 scans. */
  def lrFilter(spark: SparkSession, docs: DataFrame, labelExpr: Column,
               iters: Int = 20, eta: Double = 4.0): DataFrame = {
    OpsFunctions.register(spark)
    def feats = docs.select(
      col("doc_id") +: labelExpr.cast("double").as("y") +:
        lrFeatures.map { case (n, sql) => expr(sql).as(n) }: _*)
    def tok(v: Double) = s"(${java.lang.Double.toString(v)})"
    var w = Array.fill(6)(0.0)
    // The feature matrix (7 narrow doubles per doc) is materialized ONCE
    // for the training loop — the standard extract-then-train shape; the
    // regex feature extraction would otherwise rerun in all `iters`
    // scans. The cache is fully consumed by the iteration actions and
    // released before the (lazy) scoring frame is returned, so no cache
    // ownership escapes this call. At extreme corpus scale one trains on
    // a deterministic SAMPLE and scores everything (the FineWeb shape) —
    // pass a pre-sampled `docs` for that.
    // Coalesced to one partition per core before caching: every GD
    // iteration is a full-frame aggregation job over this cache, and at
    // the synth default of 4 partitions/core the 21 iteration jobs spend
    // more wall in task scheduling than in the 7-double arithmetic.
    // coalesce (not repartition): no shuffle, and the quantized gradient
    // sums are order-independent integers so the trajectory is unchanged.
    val trainFeats = feats
      .coalesce(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val wt = w.toSeq.map(tok)
        val aggs = (0 to 5).map(j =>
          sum(expr(OracleDialect.lrGradQ(j, wt))).as(s"g$j")) :+
          count(lit(1)).as("c")
        val r = trainFeats.agg(aggs.head, aggs.tail: _*).collect()(0)
        val c = r.getLong(6)
        if (c > 0) w = Array.tabulate(6) { j =>
          val g = if (r.isNullAt(j)) 0L else r.getLong(j)
          // Mirrors OracleDialect.lrWUpdate operation-for-operation.
          w(j) - eta * ((g.toDouble / 1000000.0) / c.toDouble)
        }
      }
    } finally trainFeats.unpersist(blocking = false)
    val wt = w.toSeq.map(tok)
    feats.select(col("doc_id"), (col("y") === 1.0).as("label"),
      expr(OracleDialect.lrScoreQ(wt)).as("z_fp"),
      expr(OracleDialect.lrPred(wt)).as("pred"))
  }

  /** Deterministic distributed k-means (spherical Lloyd refinement over
    * cosine geometry): starts from the same deterministic medoid pick as
    * the IVF index and runs `rounds` assignment + centroid-mean rounds.
    * Output: (vec_id, cid, sim_fp) — the final cluster index (0..k-1 in
    * medoid-pick order) and the 1e-6 fixed-point cosine to the final
    * centroid.
    *
    * Determinism (what makes the centroid TRAJECTORY oracle-
    * re-derivable): per-point coordinate contributions are quantized to
    * 1e-6 fixed point BEFORE the per-cluster sum, so the k x dim sums
    * are order-independent integers; the refreshed coordinate is the
    * shared (sum / 1e6) / count arithmetic narrowed to FLOAT exactly as
    * the oracle CASTs it. Empty clusters keep their previous centroid.
    *
    * Scale design: one corpus scan per round — assignment is the
    * broadcast NearestCentroids kernel (map-side, zero shuffle); the
    * coordinate sums are a (cid, dim)-keyed groupBy with map-side
    * partial aggregation whose result is k x dim rows (kilobytes to the
    * driver); the refreshed centroids broadcast back. 10^12 vectors =
    * rounds + 1 scans, nothing else. */
  /** The Lloyd loop behind [[kmeans]] (and SemDeDup's refined-cluster
    * mode): deterministic medoid init, `rounds` quantized-sum mean
    * updates. Returns the final centroids, cluster id = array index. */
  private[graft] def kmeansCentroids(spark: SparkSession,
                                     embeddings: DataFrame, nClusters: Int,
                                     rounds: Int): Array[Array[Float]] = {
    OpsFunctions.register(spark)
    var cents: Array[Array[Float]] = embeddings
      .orderBy(expr("(vec_id * 48271) % 2147483647"), col("vec_id"))
      .limit(nClusters)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    val k = cents.length
    var r = 0
    while (r < rounds) {
      val nearestCol = org.apache.spark.sql.GraftBridge.column(NearestCentroidsExpr(
        org.apache.spark.sql.GraftBridge.expression(col("embedding")), 1,
        spark.sparkContext.broadcast(
          new CentroidSet(Array.tabulate(k)(_.toLong), cents))))
      val sums = embeddings
        .select(explode(nearestCol).as("cid"), col("embedding"))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("cid", "d")
        .agg(sum(expr("CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { row =>
        val cid = row.getLong(0).toInt
        val d = row.getInt(1)
        // Shared arithmetic with the oracle: (S / 1e6) / n -> FLOAT.
        next(cid)(d) =
          ((row.getLong(2).toDouble / 1000000.0) / row.getLong(3).toDouble).toFloat
      }
      cents = next
      r += 1
    }
    cents
  }

  def kmeans(spark: SparkSession, embeddings: DataFrame,
             nClusters: Int = 16, rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, embeddings, nClusters, rounds)
    val k = cents.length
    val nearestCol = org.apache.spark.sql.GraftBridge.column(NearestCentroidsExpr(
      org.apache.spark.sql.GraftBridge.expression(col("embedding")), 1,
      spark.sparkContext.broadcast(
        new CentroidSet(Array.tabulate(k)(_.toLong), cents))))
    val centDf = cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("cid", "c_vec")
    embeddings.select(col("vec_id"), col("embedding"),
        explode(nearestCol).as("cid"))
      .join(broadcast(centDf), "cid")
      .select(col("vec_id"), col("cid"),
        expr("CAST(floor(1000000.0 * CAST(cosine_similarity(embedding, c_vec) AS DOUBLE)) AS BIGINT)")
          .as("sim_fp"))
  }

  /** SemDeDup semantic deduplication (Abbas et al. 2023): cluster the
    * embedding space, then drop any vector whose cosine similarity to a
    * LOWER-id vector in the SAME cluster reaches `tau` — pairwise work is
    * confined to clusters, never the full corpus. Output: every vector
    * with its cluster, the count of lower-id near-duplicates, and the
    * kept flag.
    *
    * Scale design: centroids are a deterministic medoid pick (nClusters ~
    * sqrt(corpus) rows to the driver once, broadcast back); assignment is
    * the zero-shuffle map-side kernel shared with the IVF index; the
    * within-cluster pair join shuffles both sides by cid only, and the
    * quadratic factor is bounded by cluster size (corpus/nClusters on
    * average — at 10^12 vectors one raises nClusters, exactly the paper's
    * knob). */
  def semDedup(spark: SparkSession, embeddings: DataFrame,
               nClusters: Int = 32, tau: Double = 0.92,
               lloydRounds: Int = 0): DataFrame = {
    OpsFunctions.register(spark)
    // lloydRounds > 0 = the paper's actual setup (k-means clusters, not
    // raw medoids): cluster ids become 0..k-1 in medoid-pick order and
    // the pruning geometry is identical from there on.
    val centroids =
      if (lloydRounds > 0) {
        val cents = kmeansCentroids(spark, embeddings, nClusters, lloydRounds)
        spark.sparkContext.broadcast(new CentroidSet(
          Array.tabulate(cents.length)(_.toLong), cents))
      } else {
        val centRows = embeddings
          .orderBy(expr("(vec_id * 48271) % 2147483647"), col("vec_id"))
          .limit(nClusters)
          .select(col("vec_id"), col("embedding"))
          .collect()
        spark.sparkContext.broadcast(new CentroidSet(
          centRows.map(_.getLong(0)),
          centRows.map(_.getSeq[Float](1).toArray)))
      }
    val nearest = org.apache.spark.sql.GraftBridge.column(NearestCentroidsExpr(
      org.apache.spark.sql.GraftBridge.expression(col("embedding")), 1, centroids))
    val asg = embeddings.select(col("vec_id"), col("embedding"),
      explode(nearest).as("cid"))
    val left = asg.select(col("cid"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"))
    val right = asg.select(col("cid"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"))
    val near = left.join(right, Seq("cid"))
      .where(col("a_id") < col("b_id") &&
        expr("cosine_similarity(a_vec, b_vec)") >= tau)
      .select(col("cid"), col("b_id").as("vec_id"))
      .groupBy("cid", "vec_id").agg(count(lit(1)).as("n_near"))
    asg.select(col("vec_id"), col("cid"))
      .join(near, Seq("cid", "vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("n_near").isNull.as("kept"))
  }
}
