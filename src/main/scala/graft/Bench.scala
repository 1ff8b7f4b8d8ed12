package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Knn, Pages, SpatialJoin, TileRollup}
import graft.ops.Ops

/** Benchmark main. Headline metric: spatial-join throughput — synthetic
  * geotagged docs through res-9 H3 indexing, PIP join against polygon
  * covers, and res-5 tile assignment (the north-rule pipeline), in docs/sec.
  *
  * Emits ONE JSON line:
  * {"metric":"spatial_join_docs_per_sec","value":N,"unit":"docs/sec",
  *  "queries":{phase:minSec,...},"reps":{phase:[sec,...]},
  *  "headline_median_docs_per_sec":N,"load_avg_at_start":L,
  *  "phase_other_load":{phase:[foreignCpuShare,...]},
  *  "suspect_phases":[...],"salting_max_task_ms":{...},"sf":...}
  * — per-rep arrays + per-rep FOREIGN cpu share make the artifact
  * self-diagnosing per phase: each phase's min is taken from reps whose
  * foreign share stayed under SPARK_GRAFT_BENCH_MAX_OTHER (default 0.15),
  * with up to 2 retry reps; a phase with no clean rep lands in
  * suspect_phases so a reader never mistakes contention for regression.
  *
  * Point volume scales with SPARK_GRAFT_BENCH_MULT x events rows (default
  * min(2000, cpus*60) => 192M docs at sf0.1 / 32 cpus). All point
  * synthesis is computed (no IO) so the measurement is engine time, not
  * parquet scan time.
  */
object Bench {

  /** The headline polygons — Paris, SanFrancisco and Holes, ids 1 to 3 —
    * read from `src/test/resources/h3/shapes/` of the checkout (run from
    * the repository root). A missing file fails fast with its path. */
  def headlinePolys(): Seq[SpatialJoin.Poly] =
    Seq("Paris", "SanFrancisco", "Holes").zipWithIndex.map { case (name, i) =>
      val p = java.nio.file.Paths.get("src/test/resources/h3/shapes", s"$name.geojson")
        .toAbsolutePath
      if (!java.nio.file.Files.isRegularFile(p))
        throw new java.io.FileNotFoundException(
          s"bench shape $p not found; run from the repository root")
      SpatialJoin.Poly(i + 1L, SpatialJoin.loadShape(p.toString)(0))
    }

  /** Synthetic geotagged docs from the shared deterministic formulas.
    * 4 tasks per core so stragglers smooth out across the run. */
  def synthPoints(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 4).selectExpr(
      "id AS page_id",
      Pages.latSql("id", duck = false) + " AS lat",
      Pages.lngSql("id", duck = false) + " AS lng")

  /** '\n'-lined multi-line docs synthesized by joining ids onto the
    * (broadcast) documents corpus re-segmented to 2-word lines — the
    * deterministic text workload for the curation phases/scaling.
    * Pass `nTable` (the documents row count) when known to avoid an
    * extra count job per invocation. */
  def synthLinedDocs(spark: SparkSession, sfDir: String, n: Long,
                     nTable: Long = -1L): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nT = if (nTable > 0) nTable else docs.count()
    val base = broadcast(docs.selectExpr("doc_id AS __k",
      graft.ops.Ops.relineSql(2) + " AS text"))
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 4)
      .selectExpr("id AS doc_id", s"id % $nT AS __k")
      .join(base, "__k").select("doc_id", "text")
  }

  /** Synthesized event log (1M-ish users, deterministic
    * multiplicative-hash scatter over 30 days of minutes) — the shared
    * workload behind the temporal bench phases and the "temporal"
    * scaling mode. */
  def synthEvents(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 4)
      .selectExpr(
        "id AS event_id",
        "timestamp_micros(1700000000000000 + (id * 1099087573) % 43200 * 60000000) AS ts",
        "(id * 2654435761) % 1000003 AS user_id",
        "element_at(array('view','click','purchase','signup','error'), CAST(id % 5 AS INT) + 1) AS event_type")

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Adaptive default workload: ~8-10s of headline join per run at the
    // given parallelism (override with SPARK_GRAFT_BENCH_MULT).
    val cpusN = cpus.toInt
    val mult = sys.env.get("SPARK_GRAFT_BENCH_MULT").map(_.toInt)
      .getOrElse(math.min(2000, cpusN * 60))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.spark.H3Functions.register(spark)
    graft.ops.OpsFunctions.register(spark)

    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nDocs = nEvents * mult
    var phases = Vector.empty[(String, Double)]
    // Per-rep wall times per phase: emitted in the JSON so a loaded-machine
    // artifact is self-diagnosing (a noisy run shows median >> min; a real
    // regression shifts min itself). BENCH_r02's headline was a bad run
    // that nothing in the artifact could reveal — never again.
    var repTimes = Vector.empty[(String, Seq[Double])]
    val loadAvgStart =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Warm-up: JIT the kernel + codegen paths on a small slice.
    synthPoints(spark, 50000)
      .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c").count()

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    // Per-phase contamination detection (BENCH_r03 shipped a line_dedup
    // min of 51 s that a quiet rerun measured at 5.7 s, and nothing in the
    // artifact flagged it per phase): every rep samples the FOREIGN cpu
    // share — whole-machine load minus this process's — over its own
    // window. min-of-reps is only trusted from reps whose foreign share
    // stayed under the threshold; a phase with no clean rep retries up to
    // twice for a quiet window and is otherwise flagged `suspect` in the
    // emitted JSON, so a contaminated artifact is machine-detectable
    // per phase instead of per run.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val otherLoadMax =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_OTHER", "0.15").toDouble
    var phaseOther = Vector.empty[(String, Seq[Double])]
    var suspects = Vector.empty[String]
    var bandExceeded = Vector.empty[String]
    osBean.getCpuLoad(); osBean.getProcessCpuLoad() // open sampling windows

    // Per-phase reference bands (seconds, the last verified-quiet run's
    // clean min, committed in-repo): the foreign-share detector is
    // necessary but NOT sufficient — this machine's documented failure
    // mode is OWN-process CPU inflation (frequency / memory-bandwidth
    // contention, 2-6x) that leaves foreign share at exactly 0.000
    // (BENCH_r04 shipped a 2x-inflated knn_join that way, unflagged). A
    // phase whose clean-rep min exceeds band x 1.5 gets one quiet-window
    // re-run and is otherwise flagged, so self-inflation is
    // machine-detectable from the artifact alone.
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BANDS",
      "/root/repo/bench-bands.json")
    val bands: Map[String, Double] = {
      val raw: Map[String, Any] =
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(bandsPath)))
          Map.empty
        else graft.h3.Geo.Json.parse(
            new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(bandsPath)), "UTF-8"))
          .asInstanceOf[Map[String, Any]]
      // Bands are only meaningful at the scale+parallelism they were
      // measured at (recorded as "_sf"/"_cpus" in the file): any other
      // configuration runs unbanded rather than false-flagging.
      val sfOk = raw.get("_sf").forall(_.toString == sfDir)
      val cpusOk = raw.get("_cpus").forall(_.toString == cpusN.toString)
      if (!sfOk || !cpusOk) Map.empty
      else raw.collect {
        case (k, v: Double) if !k.startsWith("_") => k -> v
        case (k, v: Long) if !k.startsWith("_") => k -> v.toDouble
      }
    }
    val bandFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BAND_FACTOR", "1.5").toDouble

    def measure(name: String, n: Int)(body: => Unit): Double = {
      def runOnce(): (Double, Double) = {
        osBean.getCpuLoad(); osBean.getProcessCpuLoad() // window start
        val t = time(body)._2
        val cpu = osBean.getCpuLoad()
        val proc = osBean.getProcessCpuLoad()
        // A negative reading means the platform metric is UNAVAILABLE:
        // propagate NaN ("unknown") instead of clamping to 0, which
        // would classify every rep as clean and silently disable the
        // contamination gate.
        val other =
          if (cpu < 0 || proc < 0) Double.NaN
          else math.max(0.0, cpu - proc)
        (t, other)
      }
      def isClean(o: Double): Boolean = !o.isNaN && o <= otherLoadMax
      var rs = (0 until n).map(_ => runOnce())
      var retries = 0
      while (!rs.exists(r => isClean(r._2)) && retries < 2) {
        retries += 1
        rs = rs :+ runOnce()
      }
      def cleanMin: Option[Double] = {
        val c = rs.filter(r => isClean(r._2))
        if (c.nonEmpty) Some(c.map(_._1).min) else None
      }
      // Band check against the in-repo reference: one extra rep buys a
      // quieter window; a min still out of band is flagged (it may be a
      // real regression OR self-inflation — either way the artifact says
      // so instead of shipping the number as truth).
      bands.get(name).foreach { b =>
        if (cleanMin.exists(_ > b * bandFactor)) rs = rs :+ runOnce()
        if (cleanMin.exists(_ > b * bandFactor)) {
          bandExceeded :+= name
          suspects :+= name
        }
      }
      val minT = cleanMin.getOrElse { suspects :+= name; rs.map(_._1).min }
      phases :+= name -> minT
      repTimes :+= name -> rs.map(_._1)
      phaseOther :+= name -> rs.map(_._2)
      minT
    }

    // Phase 1: raw indexing throughput (latLngToCell at res 9).
    measure("index", reps) {
      synthPoints(spark, nDocs)
        .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c")
        .agg(count(lit(1)), min("c")).collect()
    }

    // Phase 2 (headline): index + PIP join + tile assignment end-to-end.
    // Extra reps here: this phase alone sets the headline metric, and the
    // shared machine shows ~15% run-to-run noise, so min-of-5 is the
    // stable estimator of engine speed.
    val headlineReps = math.max(reps, 5)
    val polys = headlinePolys()
    var joinedDocs = 0L
    val tJoin = measure("pip_join_tiles", headlineReps) {
      val pts = synthPoints(spark, nDocs)
        .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
      val rows = SpatialJoin.pipJoin(spark, pts, polys, res = 9)
        .withColumn("tile", expr("h3_cell_to_parent(cell9, 5)"))
        .groupBy("poly_id", "tile").agg(count(lit(1)))
        .agg(count(lit(1)).as("tiles"), sum("count(1)").as("docs_joined")).collect()
      joinedDocs = rows(0).getLong(1)
    }

    // Phase 2b: PIP join against a polygon TABLE (covers computed on
    // executors by the annotated generator) — 200 city geofences over
    // nDocs/20 points.
    val geofences = {
      import scala.jdk.CollectionConverters._
      val rows = (0 until 200).map { i =>
        val cLat = Pages.CityLat(i % 40) + (i / 40) * 0.02
        val cLng = Pages.CityLng(i % 40) + (i / 40) * 0.02
        val (a, b, c, d) = (cLng - 0.05, cLat - 0.05, cLng + 0.05, cLat + 0.05)
        org.apache.spark.sql.Row(i.toLong,
          s"""{"type":"Polygon","coordinates":[[[$a,$b],[$c,$b],[$c,$d],[$a,$d],[$a,$b]]]}""")
      }
      spark.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("poly_id",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("geojson",
            org.apache.spark.sql.types.StringType, false))))
    }
    measure("pip_join_table", reps) {
      val pts = synthPoints(spark, nDocs / 20)
        .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
      SpatialJoin.pipJoinPolygonTable(spark, pts, geofences, res = 9)
        .agg(count(lit(1))).collect()
    }

    // Phase 3: tile roll-up pyramid 9 -> 7 -> 5 -> 3 (nDocs/4 rows).
    measure("tile_rollup", reps) {
      val pts = synthPoints(spark, nDocs / 4)
        .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
        .withColumn("v", col("page_id") % 97)
      val levels = TileRollup.pyramid(spark, pts, "cell9", 9, Seq(7, 5, 3), Seq("v"))
      levels(3).agg(count(lit(1)), sum("cnt")).collect()
    }

    // Phase 4: gridDisk explosion (kNN fuel), k=1 on nDocs/20.
    measure("grid_disk", reps) {
      synthPoints(spark, nDocs / 20)
        .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c")
        .selectExpr("h3_grid_disk(c, 1) AS n")
        .agg(count(lit(1))).collect()
    }

    // Phase 5: kNN join (200 queries against nDocs/10 points), both call
    // shapes. knn_join_cold is the one-shot path: full corpus scan + lazy
    // escalation caching, all caches released per call (round 3's fast
    // number silently measured leaked cross-call caches — the leak is
    // fixed, so the honest cold cost is recorded separately). knn_join is
    // the repeated-query service shape: the corpus is indexed once
    // (prepareCorpus) outside the reps and each rep joins a query batch
    // against the hot corpus — the number a production endpoint sees.
    // Two cold reps (fresh corpus scan each — knnJoin owns and releases
    // every cache it takes): a single-rep number was the noisiest phase
    // in the artifact; min-of-2 bounds it.
    measure("knn_join_cold", 2) {
      val pts = synthPoints(spark, nDocs / 10)
        .select(col("page_id").as("id"), col("lat"), col("lng"))
      val qs = synthPoints(spark, 200)
        .select(col("page_id").as("qid"), col("lat"), col("lng"))
      val r = Knn.knnJoin(spark, pts, qs, k = 10, res = 8, initialRing = 2,
        maxRounds = 3)
      r.agg(count(lit(1))).collect()
      r.unpersist(blocking = false)
    }
    // One-time index build for the prepared/service shape (bucketed
    // Icelite corpus table, sorted 8 MB row groups) — measured as its
    // own phase so the amortized cost is visible in the artifact.
    var knnCorpus: Knn.PreparedCorpus = null
    measure("knn_prepare", 1) {
      knnCorpus = Knn.prepareCorpus(spark,
        synthPoints(spark, nDocs / 10)
          .select(col("page_id").as("id"), col("lat"), col("lng")),
        res = 8, maxRounds = 3)
    }
    measure("knn_join", reps) {
      val qs = synthPoints(spark, 200)
        .select(col("page_id").as("qid"), col("lat"), col("lng"))
      val r = Knn.knnJoinPrepared(spark, knnCorpus, qs, k = 10)
      r.agg(count(lit(1))).collect()
      r.unpersist(blocking = false)
    }
    // Localized batch against the same prepared corpus — the service
    // reality (a batch of queries over one region): the stats-driven
    // planner prunes the corpus scan to the few buckets the disks
    // intersect instead of scanning all of it. The global 200-city batch
    // above correctly keeps the full scan (its disks touch ~80% of the
    // corpus row mass); this phase is the shape the bucketed store exists
    // for.
    measure("knn_join_local", reps) {
      val qs = spark.range(0, 200, 1, 4).selectExpr(
        "id AS qid",
        "48.8566 + cast(id % 97 as double) * 2e-3 AS lat",
        "2.3522 + cast(id % 89 as double) * 2e-3 AS lng")
      val r = Knn.knnJoinPrepared(spark, knnCorpus, qs, k = 10)
      r.agg(count(lit(1))).collect()
      r.unpersist(blocking = false)
    }
    knnCorpus.release()

    // Phase 6: dedup + ANN over the driver tables.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    measure("dedup_minhash", reps) {
      Ops.dedupMinHash(spark, docs, threshold = 0.5).agg(count(lit(1))).collect()
    }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    measure("ann_brute", reps) {
      // Production path: map-side top-K aggregator (shuffle carries at
      // most k rows per query per partition).
      Ops.annBruteForceAgg(spark, emb, emb.limit(50), k = 10)
        .agg(count(lit(1))).collect()
    }

    // Phase 7b: web-curation text path (synthesis is computed + one
    // broadcast join, so the measurement is the text kernels + the dedup
    // dataflow, not parquet IO).
    val nDocsTable = docs.count()
    def linedBench(n: Long): DataFrame = synthLinedDocs(spark, sfDir, n, nDocsTable)
    // Corpus-level boilerplate line removal over nDocs/100 docs; the
    // doc-frequency threshold scales with the duplication factor so a
    // realistic mix of lines survives.
    measure("line_dedup", reps) {
      val n = nDocs / 100
      Ops.lineDedup(spark, linedBench(n),
          minDocs = math.max(2, (n * 15 / nDocsTable).toInt))
        .agg(count(lit(1)), sum("n_kept")).collect()
    }
    // Per-row repetition signals (shuffle-free whole-stage-codegen path)
    // over nDocs/20 docs.
    measure("text_signals", reps) {
      Ops.repetitionSignals(spark, linedBench(nDocs / 20))
        .agg(count(lit(1)), sum("top_word_frac"), sum("dup_line_frac")).collect()
    }
    // Repeated-substring span dedup over nDocs/100 docs: the heaviest
    // assembly-path dataflow (every doc explodes to ~n_words window
    // fingerprints; three id-only shuffles). The synthesized corpus
    // repeats each base text n/nTable times, so duplicated spans dominate
    // — the worst case for the island merge.
    measure("dedup_spans", reps) {
      Ops.dedupSpans(spark, linedBench(nDocs / 100), window = 20)
        .agg(count(lit(1)), sum("n_windows")).collect()
    }
    // Sequence packing over nDocs/20 docs into 2048-token sequences on 64
    // shards (the writer-parallelism shape): one shuffle + per-shard sort.
    measure("pack_sequences", reps) {
      Ops.packSequences(spark, linedBench(nDocs / 20), seqLen = 2048, nShards = 64)
        .agg(count(lit(1)), sum("n_seqs"), max("seq_last")).collect()
    }
    // Stupid-Backoff LM over nDocs/200 docs: train on 2/3, score all.
    // The synth corpus' n-gram tables are small (replicated base texts),
    // so the count join goes broadcast — the measurement is the probe
    // generator, the melt, and the two per-position aggregations.
    measure("lm_score", reps) {
      Ops.lmScore(spark, linedBench(nDocs / 200), col("doc_id") % 3 =!= 0)
        .agg(count(lit(1)), sum("score_fp"), sum("n_oov")).collect()
    }
    // BPE tokenizer over nDocs/20 docs: train (one word-count
    // aggregation scan + the driver merge loop on the ~30-word dict),
    // then the shuffle-free memoized encode pass — the two-scan
    // tokenizer shape.
    measure("bpe_encode", reps) {
      Ops.bpeEncode(spark, linedBench(nDocs / 20), nMerges = 32)
        .agg(count(lit(1)), sum("n_tokens"), sum("token_fp")).collect()
    }
    // KMV distinct sketch over nDocs/20 docs in 32 groups: the shuffle
    // carries at most k=256 longs per group per partition — cardinality
    // estimation without the exact-distinct (group, value) exchange.
    measure("approx_distinct", reps) {
      Ops.approxDistinct(spark,
          linedBench(nDocs / 20).withColumn("grp", col("doc_id") % 32),
          "grp", "text")
        .agg(count(lit(1)), sum("est_distinct")).collect()
    }
    // Temporal family over a synthesized nDocs/4 event log (1M users,
    // deterministic multiplicative-hash scatter over 30 days of
    // minutes): sessionize = ONE 48M-row shuffle + two window passes +
    // the co-partitioned per-session aggregation; asof_join = the
    // union-tag running-last over the same log's view/click slices.
    measure("sessionize", reps) {
      graft.ops.Temporal.sessionize(spark, synthEvents(spark, nDocs / 4))
        .agg(count(lit(1)), sum("n_events"), sum(col("duration_us") / 1000000L))
        .collect()
    }
    measure("asof_join", reps) {
      graft.ops.Temporal.asofJoin(spark, synthEvents(spark, nDocs / 4))
        .agg(count(lit(1)), count("matched_id"), sum(col("lag_us") / 1000000L))
        .collect()
    }
    // BM25 over an nDocs/1000-doc index. The synth vocabulary is ~30
    // words, so EVERY term is a stopword with full-corpus postings and 8
    // queries x 6 terms touch nearly every posting — the honest skew
    // worst case (a real corpus' zipfian tail is far cheaper per query).
    measure("bm25_topk", reps) {
      val n = nDocs / 1000
      Ops.bm25TopK(spark, linedBench(n), col("doc_id") % (n / 8) === 1)
        .agg(count(lit(1)), sum("score_fp")).collect()
    }
    // Learned selection classifier over nDocs/1000 docs: 20 full-batch
    // GD iterations = 21 feature scans with 6-long map-side gradient
    // sums each — the shuffle-free distributed-training shape.
    measure("lr_filter", reps) {
      Ops.lrFilter(spark, linedBench(nDocs / 1000),
          expr(s"CAST(floor((${Ops.qualitySql}) * 1000000) AS BIGINT) >= 750000"))
        .agg(count(lit(1)), sum("z_fp")).collect()
    }
    // SemDeDup over 200k synthetic vectors (the sf embedding table
    // replicated with one perturbed component) in 512 medoid clusters:
    // measures the broadcast assignment kernel plus the within-cluster
    // quadratic pair join.
    measure("sem_dedup", reps) {
      val semEmb = spark.range(0, 200000, 1,
          spark.sparkContext.defaultParallelism * 4)
        .selectExpr("id AS vec_id", "id % 2000 AS __k")
        .join(broadcast(emb.selectExpr("vec_id AS __k", "embedding")), "__k")
        .selectExpr("vec_id", "concat(slice(embedding, 1, 63), " +
          "array(cast((vec_id % 97) / 97.0 AS float))) AS embedding")
      Ops.semDedup(spark, semEmb, nClusters = 512, tau = 0.35)
        .agg(count(lit(1)), sum("n_near")).collect()
    }

    // Phase 8: compacted (mixed-res) dissolve via the boundary-refinement
    // fast path, through the SQL surface.
    measure("dissolve_compacted", reps) {
      spark.sql(s"""
        WITH base AS (SELECT h3_latlng_to_cell(lat, lng, 6) AS cell
                      FROM (SELECT ${Pages.latSql("id", duck = false)} AS lat,
                                   ${Pages.lngSql("id", duck = false)} AS lng
                            FROM range(0, 2000)))
        SELECT count(*) FROM (
          SELECT h3_cells_to_multi_polygon(
                   array_union(collect_set(cell),
                               collect_set(h3_cell_to_center_child(cell, 8)))) AS geo
          FROM base GROUP BY cell % 64)
      """).collect()
    }

    // Phase 9: Icelite table layer on the data path — write a partitioned
    // snapshot once, then compare a manifest-pruned scan (Paris res-1
    // prefix cells only) against the full-table scan. This is the
    // north-rule "over Iceberg tables" scan-planning claim, measured.
    val icePts = synthPoints(spark, nDocs / 20).selectExpr(
      "page_id", "lat", "lng",
      "h3_latlng_to_cell(lat, lng, 9) AS cell9",
      "h3_cell_to_parent(h3_latlng_to_cell(lat, lng, 9), 1) AS cell_p")
    // Each write rep gets a FRESH root: a contamination retry on the same
    // root would resume into a no-op and record a fake near-zero time.
    var iceRoots = List.empty[String]
    measure("icelite_write", 1) {
      val r = java.nio.file.Files.createTempDirectory("graft-bench-icelite").toString
      iceRoots ::= r
      graft.engine.Icelite.writeResumable(spark, icePts, r, "cell_p")
    }
    val iceRoot = iceRoots.head
    val parisP = graft.h3.H3.latLngToCell(48.8566, 2.3522, 1)
    val parisCover = graft.h3.H3.gridDisk(parisP, 1).map(_.toString).toSet
    measure("icelite_scan_full", reps) {
      graft.engine.Icelite.read(spark, iceRoot)
        .agg(count(lit(1)), sum("page_id")).collect()
    }
    measure("icelite_scan_pruned", reps) {
      graft.engine.Icelite.readWhere(spark, iceRoot, parisCover.contains)
        .agg(count(lit(1)), sum("page_id")).collect()
    }
    iceRoots.foreach(r => deleteDir(java.nio.file.Paths.get(r)))

    // Phase 10: hot-cell salting under measurement — the shuffle-path PIP
    // join against a pathological hot cell (half the points inside ONE
    // res-9 cell), with and without probe-side salting; reducer-time
    // spread (max task ms) shows what the salt buys. The salted entry
    // side is hinted shuffle_merge, so the join shuffles at any
    // auto-broadcast threshold.
    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val taskListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) taskMs.add(te.taskInfo.duration)
    }
    spark.sparkContext.addSparkListener(taskListener)
    def maxTaskOf(body: => Unit): Long = {
      taskMs.clear()
      body
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      taskMs.asScala.foldLeft(0L)(math.max)
    }
    var maxTaskUnsalted = 0L
    var maxTaskSalted = 0L
    def saltRun(buckets: Int): Long = maxTaskOf {
      val hot = spark.range(0, nDocs / 20, 1,
          spark.sparkContext.defaultParallelism * 4).selectExpr(
        "id AS page_id",
        "48.8566 + cast(id % 1000 as double) * 1e-7 AS lat", // ~11 m jitter:
        "2.3522 + cast(id % 997 as double) * 1e-7 AS lng")   // one res-9 cell
      val pts = synthPoints(spark, nDocs / 20).unionByName(hot)
        .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
      SpatialJoin.pipJoin(spark, pts, polys, res = 9,
          broadcastCover = false, saltBuckets = buckets)
        .agg(count(lit(1))).collect()
    }
    measure("pip_shuffle_unsalted", reps) { maxTaskUnsalted = saltRun(1) }
    measure("pip_shuffle_salted", reps) { maxTaskSalted = saltRun(8) }
    spark.sparkContext.removeSparkListener(taskListener)

    val docsPerSec = nDocs / tJoin
    val headlineMedian = {
      val ts = repTimes.find(_._1 == "pip_join_tiles").get._2.sorted
      nDocs / ts(ts.length / 2)
    }
    val qs = phases.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val repsJson = repTimes.map { case (k, ts) =>
      s""""$k":[${ts.map(t => f"$t%.3f").mkString(",")}]"""
    }.mkString("{", ",", "}")
    // NaN = metric unavailable; serialized as -1 (NaN is not valid JSON).
    val otherJson = phaseOther.map { case (k, os) =>
      s""""$k":[${os.map(o => if (o.isNaN) "-1" else f"$o%.3f").mkString(",")}]"""
    }.mkString("{", ",", "}")
    val suspectJson = suspects.distinct.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val bandJson = bands.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val bandExJson = bandExceeded.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"spatial_join_docs_per_sec","value":$docsPerSec,"unit":"docs/sec","queries":$qs,"sf":"$sfDir","docs":$nDocs,"joined":$joinedDocs,"reps":$repsJson,"headline_median_docs_per_sec":$headlineMedian,"load_avg_at_start":$loadAvgStart,"phase_other_load":$otherJson,"suspect_phases":$suspectJson,"bands":$bandJson,"band_exceeded":$bandExJson,"salting_max_task_ms":{"unsalted":$maxTaskUnsalted,"salted":$maxTaskSalted}}""")
    spark.stop()
  }

  private def deleteDir(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p) // close the stream: it holds an fd
      try s.iterator().asScala.toList.foreach(deleteDir) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
