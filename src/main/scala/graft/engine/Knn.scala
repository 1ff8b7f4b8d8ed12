package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

import graft.h3.H3
import graft.spark.H3Functions

/** kNN join via H3 gridDisk expansion with resolution-coarsening
  * escalation.
  *
  * Round 0 buckets both sides at `res` and joins each query's k-ring disk
  * against the points (query disks are broadcast — points never shuffle —
  * while they fit the cap).
  * A query's result is provably complete when it has K candidates and its
  * K-th distance is below the minimum possible distance to anything
  * outside the explored disk. Unsettled queries escalate to a coarser
  * resolution (res-4, then 0), whose ring-2 disk covers hemispheric
  * distances, so even isolated mid-ocean queries resolve without a
  * cross join; a brute-force pass remains as a final guard for corpora
  * with fewer than K points in half the globe.
  *
  * Rounds are planned on the driver whenever the remaining queries' disks
  * fit `broadcastMaxDisks` and their top-k rows fit `DriverMaxRows`
  * (10^5; every service-sized batch does): the driver holds
  * the remaining queries — what the disk broadcast ships anyway — runs
  * each round as one collecting action of at most k rows per query, and
  * settles it in driver code. Only a remainder over either bound runs
  * distributed rounds (counts, per-round caches, a shuffle disk join),
  * handing over to the driver once it fits. The returned
  * frame is materialized: a local relation with no cache to release,
  * unless distributed rounds ran, whose share is cached (release it with
  * `unpersist()`).
  *
  * Two call shapes:
  *  - [[knnJoin]] — one-shot: the corpus is scanned as needed and cached
  *    only if the ladder escalates; every cache taken is released before
  *    returning. Right for single batches over a corpus too large to pin
  *    (at 10^12 points the projected corpus is ~50 TB).
  *  - [[prepareCorpus]] + [[knnJoinPrepared]] — the repeated-query
  *    service shape: the per-level cell columns are computed ONCE and
  *    written to a bucketed Icelite table; each query batch prunes its
  *    round-0 scan to the buckets its disks intersect (file-precise
  *    manifest pruning, stats-driven — see [[CorpusStore]]), falling
  *    back to a cached full scan only for batches that genuinely touch
  *    most of the corpus. (Round 3 accidentally measured this shape
  *    through a cache leak; round 4's explicit API scanned the full
  *    cached corpus every batch — at 10^12 points a ~50 TB scan per
  *    batch. The bucketed store closes that.) Caller releases with
  *    [[PreparedCorpus.release]].
  */
object Knn {

  /** Conservative lower bound (meters) on the distance from ANY point of
    * the query cell (worst case: a boundary vertex) to any point outside
    * disk(ring) at `res`, for ring >= 2.
    *
    * Derivation: a segment leaving the origin cell and exiting disk(ring)
    * crosses each of rings 1..ring, so its length is at least ring x the
    * minimum cell width. The 0.75 factor is calibrated against an
    * exhaustive boundary-vertex-to-boundary-vertex sweep over ALL pentagon
    * neighborhoods (the maximal grid distortion) at res 0..11 plus global
    * random sampling, whose observed worst ratio is 0.925 x ring x avgEdge
    * (KnnBoundSpec re-runs a subset); ring < 2 is rejected because the
    * single-ring margin is not covered by the calibration. */
  def safeRadiusM(res: Int, ring: Int): Double = {
    require(ring >= 2, s"safeRadiusM requires ring >= 2, got $ring")
    // Res 0 admits NO positive bound: with only 122 cells the ring-2 shell
    // wraps around and can touch the origin cell (observed d = 0), so
    // settlement is rejected there — the ladder floors at res 1 and the
    // brute-force guard covers whatever cannot settle.
    require(res >= 1, s"safeRadiusM requires res >= 1, got $res")
    val edgeM = graft.h3.Tables.EdgeLengthRads(res) * H3.EarthRadiusKm * 1000.0
    ring.toDouble * edgeM * 0.75
  }

  /** The most result rows (queries x k) a call settles on the driver and
    * returns as a local relation; larger batches keep their result cached
    * on the executors. Every action on a local relation re-reads its rows
    * from the driver. Measured on 4 cores with a 200k-point prepared
    * corpus and k = 10: at 10^6 rows an action cost 2.2-3.3 s more than
    * from the executor cache, at this bound 0.15-0.25 s more, under the
    * ~0.7 s of Spark jobs the driver path saves a batch. */
  private val DriverMaxRows = 100000L

  /** Escalation ladder: native res, res-4, res 1 (near-hemispheric reach;
    * res 0 cannot soundly settle — see safeRadiusM). */
  private def ladder(res: Int, maxRounds: Int): List[Int] = {
    require(res >= 1, s"knnJoin requires res >= 1, got $res")
    require(maxRounds >= 1, s"knnJoin requires maxRounds >= 1, got $maxRounds")
    (List(res) ++ List(math.max(res - 4, 1), 1)).distinct.take(maxRounds)
  }

  /** Corpus projected to (id, plat, plng, one bit-parent cell column per
    * ladder level) — all levels derived from the finest by cheap bit
    * truncation. */
  private def corpusFrame(points: DataFrame, levels: List[Int]): DataFrame = {
    var pts = points
      .withColumn(s"__pcell${levels.head}",
        expr(s"h3_latlng_to_cell(lat, lng, ${levels.head})"))
    for (l <- levels.tail)
      pts = pts.withColumn(s"__pcell$l",
        expr(s"h3_cell_to_parent(__pcell${levels.head}, $l)"))
    pts.select((Seq(col("id"), col("lat").as("plat"), col("lng").as("plng")) ++
      levels.map(l => col(s"__pcell$l"))): _*)
  }

  /** Re-derives the escalation-level parent columns from the stored
    * finest cell (3 bit ops per row at read) — the bucketed table only
    * persists the finest cell, which cuts the one-time prepare write
    * (and its stats job) by two long columns. */
  private def withParents(df: DataFrame, levels: List[Int]): DataFrame = {
    var out = df
    for (l <- levels.tail)
      out = out.withColumn(s"__pcell$l",
        expr(s"h3_cell_to_parent(__pcell${levels.head}, $l)"))
    out
  }

  /** The bucketed storage behind a [[PreparedCorpus]]: an Icelite table
    * partitioned by the res-`bucketRes` bit-parent of the corpus cell,
    * with per-bucket row counts from the manifest. Query batches prune
    * their round-0 scan to exactly the buckets their disks intersect
    * (file-precise manifest pruning) whenever the selected row mass is
    * under `pruneMaxRowFraction` of the table; above it the full scan
    * (cache-backed) is the cheaper plan and is kept. At 10^12 points any
    * real batch touches a tiny row fraction, so the service shape reads
    * a few buckets' files instead of a ~50 TB corpus scan per batch.
    * `schema` is the stored data schema, read once at prepare time, so a
    * pruned read plans without inferring it from parquet footers. */
  final case class CorpusStore private[engine] (
      root: String, bucketRes: Int, ownsRoot: Boolean,
      rowsByBucket: Map[String, Long], filesByBucket: Map[String, Int],
      totalRows: Long, pruneMaxRowFraction: Double, schema: StructType)

  /** A corpus indexed once for repeated [[knnJoinPrepared]] batches:
    * written to a bucketed Icelite table (the prune-able scan source)
    * plus a lazily-cached full frame for escalation rounds and batches
    * too dispersed to prune. `release()` drops the cache and, when the
    * store root was self-allocated, the table. */
  final case class PreparedCorpus private[engine] (
      ptsC: DataFrame, levels: List[Int], res: Int,
      store: Option[CorpusStore]) {
    def release(): Unit = {
      ptsC.unpersist(blocking = false)
      store.foreach(s => if (s.ownsRoot) Icelite.drop(s.root))
    }
  }

  /** How one round of a kNN call ran: `driver` for a round planned on the
    * driver (one collecting action), false for a distributed round over
    * the broadcast cap; `scan` is how a prepared store's corpus scan was
    * planned — ("pruned", nFiles) for a manifest-pruned file scan,
    * ("full", -1) for the full-corpus scan, None without a store and for
    * the brute-force guard. */
  final case class RoundTrace(driver: Boolean, scan: Option[(String, Int)])

  /** Test/diagnostic probe: the rounds of the last kNN call, in ladder
    * order; an entry at index `levels.length` is the brute-force guard. */
  private[graft] var lastRounds: Vector[RoundTrace] = Vector.empty

  /** Index `points` (columns: id, lat, lng) for repeated query batches:
    * computes the ladder cell columns and writes them to a bucketed
    * Icelite table (partitioned by the res-`bucketRes` cell prefix,
    * rows sorted by the finest cell inside each bucket so parquet
    * row-group stats stay tight). Each [[knnJoinPrepared]] batch then
    * prunes its scan to the buckets its disks intersect instead of
    * scanning the whole corpus — the difference between a few file reads
    * and a full-corpus pass per batch at production scale.
    *
    * @param root      storage root for the bucketed table; null (default)
    *                  allocates a temp dir owned (and dropped) by
    *                  `release()`. A caller-provided root is resumable:
    *                  re-preparing over it skips buckets already written.
    * @param bucketRes bucket (directory) granularity; default res-7 —
    *                  coarse on purpose: at most 842 directories
    *                  globally keeps the one-time table write fast, and
    *                  the FINE pruning happens below the directory
    *                  level anyway (rows are sorted by the finest cell
    *                  inside 8 MB parquet row groups, and each batch
    *                  pushes its disk-cell range as a filter, so the
    *                  scan skips row groups outside the batch's
    *                  locality even inside a kept bucket). */
  def prepareCorpus(spark: SparkSession, points: DataFrame, res: Int,
                    maxRounds: Int = 4, root: String = null,
                    bucketRes: Int = -1,
                    pruneMaxRowFraction: Double = 0.5): PreparedCorpus = {
    H3Functions.register(spark)
    val levels = ladder(res, maxRounds)
    val bRes = if (bucketRes >= 0) bucketRes else math.max(1, res - 7)
    require(bRes <= levels.head, s"bucketRes=$bRes above corpus res ${levels.head}")
    val owns = root == null
    val tableRoot =
      if (owns) java.nio.file.Files.createTempDirectory("graft-knn-corpus").toString
      else root
    // Only the finest cell column is persisted (escalation parents are
    // re-derived by bit ops at read via withParents) — two fewer long
    // columns through the staging shuffle, the parquet encode and the
    // stats job of the one-time build.
    val frame = points
      .withColumn(s"__pcell${levels.head}",
        expr(s"h3_latlng_to_cell(lat, lng, ${levels.head})"))
      // Null cells (invalid coordinates) can never match a disk and would
      // poison the partition key; at the table boundary they are dropped.
      .filter(col(s"__pcell${levels.head}").isNotNull)
      .select(col("id"), col("lat").as("plat"), col("lng").as("plng"),
        col(s"__pcell${levels.head}"))
      .withColumn("__bucket",
        expr(s"h3_cell_to_parent(__pcell${levels.head}, $bRes)"))
    Icelite.writeResumable(spark, frame, tableRoot, "__bucket",
      sortCols = Seq(s"__pcell${levels.head}"),
      parquetBlockBytes = 8L * 1024 * 1024)
    Icelite.currentSnapshot(tableRoot) match {
      case Some(snap) =>
        val rows = snap.entries.map(e => e.value -> e.rows).toMap
        val files = snap.entries.map(e => e.value -> e.files.length).toMap
        // Lazy cache: materialized only if a batch actually needs the
        // full scan (dispersed batch or escalation round).
        val stored = Icelite.read(spark, tableRoot)
        val ptsC = withParents(stored, levels).cache()
        PreparedCorpus(ptsC, levels, res,
          Some(CorpusStore(tableRoot, bRes, owns, rows, files,
            rows.valuesIterator.sum, pruneMaxRowFraction, stored.schema)))
      case None =>
        // Empty corpus: nothing was staged, so no snapshot exists — fall
        // back to an (empty) in-memory frame with no store.
        if (owns) Icelite.drop(tableRoot)
        PreparedCorpus(withParents(frame.drop("__bucket"), levels).cache(),
          levels, res, None)
    }
  }

  /** One-shot kNN join (see object doc for the call-shape trade-off).
    *
    * @param points  columns: id, lat, lng (degrees)
    * @param queries columns: qid, lat, lng (degrees)
    * @param broadcastMaxDisks max exploded disk rows (queries x disk size)
    *        broadcast per round, and the most rows (queries x max(disk
    *        size, k)) a round holds on the driver; above it, or above
    *        `DriverMaxRows` top-k rows, the round runs distributed, with a
    *        shuffle disk join, so huge query sets cannot blow the driver.
    * @return columns: qid, id, dist_m, rank (rank 1..k). A materialized
    *         local relation when every round was planned on the driver
    *         (nothing to release); a cached frame the caller may
    *         `unpersist()` when the batch started over either bound.
    */
  def knnJoin(spark: SparkSession, points: DataFrame, queries: DataFrame,
              k: Int, res: Int, initialRing: Int = 2,
              maxRounds: Int = 4,
              broadcastMaxDisks: Long = 2L * 1000 * 1000): DataFrame = {
    H3Functions.register(spark)
    val levels = ladder(res, maxRounds)
    run(spark, corpusFrame(points, levels), corpusOwned = true,
      levels, queries, k, initialRing, broadcastMaxDisks, store = None)
  }

  /** kNN join of one query batch against a [[prepareCorpus]] result.
    * Rounds planned on the driver (see the object doc) plan their scan
    * from stats: the kernel derives the batch's disk
    * buckets from the driver-held queries, the manifest sums their row
    * mass, and the scan reads only those buckets' files when the mass is
    * under the store's prune fraction — the full (cached) scan is kept
    * only for batches genuinely touching most of the corpus, and for
    * distributed rounds. Returns the same materialized frame as
    * [[knnJoin]]; it does not depend on the corpus staying prepared. */
  def knnJoinPrepared(spark: SparkSession, corpus: PreparedCorpus,
                      queries: DataFrame, k: Int, initialRing: Int = 2,
                      broadcastMaxDisks: Long = 2L * 1000 * 1000): DataFrame =
    run(spark, corpus.ptsC, corpusOwned = false,
      corpus.levels, queries, k, initialRing, broadcastMaxDisks, corpus.store)

  private def run(spark: SparkSession, corpus: DataFrame, corpusOwned: Boolean,
                  levels: List[Int], queries: DataFrame, k: Int,
                  initialRing: Int, broadcastMaxDisks: Long,
                  store: Option[CorpusStore]): DataFrame = {
    // Rings below 2 are rejected: the settlement bound is only calibrated
    // for ring >= 2.
    val rings = levels.zipWithIndex.map { case (_, i) =>
      if (i == 0) math.max(initialRing, 2) else 2
    }
    val bruteRound = levels.length // the final brute-force guard
    // The most remaining queries a round may hold on the driver: their
    // exploded disks (what the broadcast ships anyway) and their top-k
    // rows must both fit the cap, and their top-k rows DriverMaxRows too.
    // Widths only shrink down the ladder, so a remainder that fits once
    // fits every later round.
    def driverMax(round: Int): Long = {
      val width = if (round < bruteRound) H3.maxGridDiskSize(rings(round)) else 1L
      math.min(broadcastMaxDisks / math.max(width, k.toLong), DriverMaxRows / math.max(k, 1))
    }
    // When this call owns the corpus, it is NOT cached upfront: if round 0
    // settles every query (the common case), caching would materialize the
    // full projected corpus for nothing. The cache is installed lazily the
    // first time a round leaves unsettled queries, so escalation rounds
    // still reuse one materialization (a prepared corpus is already hot).
    var ptsC = corpus
    var ptsCached = false
    def escalate(): Unit =
      if (corpusOwned && !ptsCached) { ptsC = ptsC.cache(); ptsCached = true }
    var rounds = Vector.empty[RoundTrace]
    val fullScan = store.map(_ => ("full", -1))

    val queryFrame = queries
      .withColumn("__qcell", expr(s"h3_latlng_to_cell(lat, lng, ${levels.head})"))
      .select(col("qid"), col("lat").as("qlat"), col("lng").as("qlng"), col("__qcell"))

    def disks(qs: DataFrame, round: Int): DataFrame =
      qs.select(col("qid"), col("qlat"), col("qlng"),
        expr(s"h3_grid_disk(h3_cell_to_parent(__qcell, ${levels(round)}), ${rings(round)})")
          .as("__cell"))

    // Per-query top-k via the typed aggregator: partial top-k runs
    // map-side, so each round's shuffle carries at most k rows per query
    // per partition instead of every candidate (a Window would shuffle the
    // full candidate set). Score = -distance so "largest" = nearest, with
    // ties broken by smaller id exactly like ORDER BY dist, id.
    def rank(cand: DataFrame): DataFrame = {
      val scored = cand
        .withColumn("dist_m", expr("h3_great_circle_distance_m(qlat, qlng, plat, plng)"))
        .withColumn("negd", -col("dist_m"))
      graft.ops.TopK.topKPerGroup(spark, scored, "qid", "negd", "id", k)
        .select(col("qid"), col("id"), (-col("negd")).as("dist_m"), col("rank"))
    }

    // Round scan over a bucketed store, planned from the driver-held
    // batch: the kernel derives the batch's bucket set and [lo, hi]
    // disk-cell range (the same cells the disk generator emits), the
    // manifest sums the buckets' row mass, and the scan reads only those
    // buckets' files when the mass is a small fraction of the corpus (at
    // 10^12 points every real batch is). Disks at `level` truncate exactly
    // to the store's bucket (pure bit parentage — no geometric
    // protrusion), so the prune loses no candidate. The range is pushed
    // into the parquet scan: rows are sorted by the finest cell in 8 MB
    // row groups, so a localized batch skips most of a kept bucket's
    // bytes too; cells share one resolution, so raw-long order is total
    // and the BETWEEN is a semantic no-op over the equi-join. A batch
    // touching most of the corpus (or an escalation below bucketRes)
    // keeps the full cached scan.
    def roundScan(round: Int, qs: Array[Row]): (DataFrame, Option[(String, Int)]) = {
      val level = levels(round)
      store match {
        case Some(st) if level >= st.bucketRes =>
          val buckets = scala.collection.mutable.HashSet.empty[String]
          var lo = Long.MaxValue
          var hi = Long.MinValue
          for (q <- qs if !q.isNullAt(3)) {
            val p = H3.cellToParent(q.getLong(3), level)
            if (p != 0L) for (c <- H3.gridDisk(p, rings(round))) {
              buckets += H3.cellToParent(c, st.bucketRes).toString
              lo = math.min(lo, c)
              hi = math.max(hi, c)
            }
          }
          val mass = buckets.iterator.map(st.rowsByBucket.getOrElse(_, 0L)).sum
          if (buckets.nonEmpty && mass <= st.pruneMaxRowFraction * st.totalRows) {
            // Stored schema carries only the finest cell; the ladder
            // parents are re-derived AFTER reading so that for round 0
            // (level == levels.head) the BETWEEN filters the stored column
            // and pushes into the parquet scan; escalation levels filter
            // the derived column post-read.
            val scan = Icelite.readWhereOpt(spark, st.root, buckets.contains, Some(st.schema))
              .map(df => withParents(df, levels).filter(col(s"__pcell$level").between(lo, hi)))
              .getOrElse(ptsC.limit(0))
            (scan, Some(("pruned", buckets.iterator.map(st.filesByBucket.getOrElse(_, 0)).sum)))
          } else (ptsC, fullScan)
        case _ => (ptsC, fullScan)
      }
    }

    // Driver-planned rounds: the remaining queries are local rows, so a
    // round is ONE collecting action (scan ⋈ broadcast disks → top-k, at
    // most k rows per query) and settlement is driver code — no counts,
    // no per-round caches, no result cache.
    def driverRounds(from: Int, start: Array[Row]): Seq[Row] = {
      val settled = scala.collection.mutable.ArrayBuffer.empty[Row]
      var qs = start
      var round = from
      while (qs.nonEmpty && round <= bruteRound) {
        val qFrame = spark.createDataFrame(java.util.Arrays.asList(qs: _*), queryFrame.schema)
        if (round == bruteRound) {
          rounds :+= RoundTrace(driver = true, None)
          settled ++= rank(qFrame.crossJoin(ptsC)).collect()
          qs = Array.empty
        } else {
          val level = levels(round)
          val (scan, how) = roundScan(round, qs)
          rounds :+= RoundTrace(driver = true, how)
          val ranked = rank(scan
            .join(broadcast(disks(qFrame, round)), col("__cell") === col(s"__pcell$level")))
            .collect()
          // A query settles with k candidates whose k-th distance is
          // inside the explored disk's safe radius.
          val safe = safeRadiusM(level, rings(round))
          val ok = ranked.groupBy(_.get(0)).collect {
            case (q, rs) if q != null && rs.length == k && rs.forall(_.getDouble(2) <= safe) => q
          }.toSet
          settled ++= ranked.filter(r => ok(r.get(0)))
          qs = qs.filterNot(r => ok(r.get(0)))
          if (qs.nonEmpty) escalate()
        }
        round += 1
      }
      settled.toSeq
    }

    // Distributed rounds cache their ranked frames; every cache is released
    // before returning.
    val cachedFrames = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var result: DataFrame = null
    var local: Seq[Row] = Nil
    // One bounded collect decides the path: a batch that fits the driver
    // bounds is held on the driver from round 0 (a local query frame costs no job).
    val fit0 = driverMax(0)
    val probe = queryFrame.limit(math.min(fit0, Int.MaxValue - 1L).toInt + 1).collect()
    if (probe.length <= fit0) local = driverRounds(0, probe)
    else {
      // Over the driver bounds: distributed rounds shuffle the full scan
      // and the disks on the disk cell until the remainder fits the
      // driver.
      var remaining = queryFrame.cache()
      cachedFrames += remaining
      var remainingCount = remaining.count()
      var round = 0
      while (remainingCount > driverMax(round)) {
        if (round == bruteRound) {
          rounds :+= RoundTrace(driver = false, None)
          val ranked = rank(remaining.crossJoin(ptsC)).cache()
          cachedFrames += ranked
          result = if (result == null) ranked else result.unionByName(ranked)
          remainingCount = 0
        } else {
          rounds :+= RoundTrace(driver = false, fullScan)
          val level = levels(round)
          val ranked = rank(ptsC.join(disks(remaining, round),
            col("__cell") === col(s"__pcell$level"))).cache()
          cachedFrames += ranked
          // okQids is tiny (<= one row per remaining query); caching and
          // counting it settles the round in one small job.
          val okQids = ranked.groupBy("qid")
            .agg(count(lit(1)).as("n"), max("dist_m").as("kth"))
            .filter(col("n") === k && col("kth") <= lit(safeRadiusM(level, rings(round))))
            .select("qid")
            .cache()
          cachedFrames += okQids
          val nOk = okQids.count()
          val settled = ranked.join(okQids, "qid")
          result = if (result == null) settled else result.unionByName(settled)
          remainingCount -= nOk
          remaining = remaining.join(okQids, Seq("qid"), "left_anti")
          if (remainingCount > 0) escalate()
        }
        round += 1
      }
      if (remainingCount > 0) local = driverRounds(round, remaining.collect())
    }
    lastRounds = rounds

    val settledLocal = spark.createDataFrame(local.asJava,
      rank(queryFrame.crossJoin(ptsC)).schema)
    // A distributed share is cached and materialized from the hot
    // per-round caches before they are released (unpersisting a parent
    // does not invalidate a child's own cache); the caller owns that
    // cache. Otherwise the result is the local relation itself.
    val out =
      if (result == null) settledLocal
      else {
        val o = result.unionByName(settledLocal).cache()
        o.count()
        o
      }
    cachedFrames.foreach(_.unpersist(blocking = false))
    if (ptsCached) ptsC.unpersist(blocking = false)
    out
  }
}
