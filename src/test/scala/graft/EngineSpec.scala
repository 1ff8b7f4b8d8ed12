package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Icelite, Knn, Pages, SpatialJoin, TileRollup}
import graft.h3.Geo

/** Engine pipelines vs brute-force reference computations (sf0.001). */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def shape(name: String): Array[Geo.GeoPolygon] = {
    val url = getClass.getResource(s"/h3/shapes/$name.geojson")
    Geo.parseGeoJson(scala.io.Source.fromURL(url).mkString)
  }

  test("PIP join matches brute-force ray cast over every polygon") {
    val pts = Pages.indexedPages(spark, sfDir).cache()
    val polys = Seq(
      SpatialJoin.Poly(1, shape("Paris")(0)),
      SpatialJoin.Poly(2, shape("SanFranciscoHole")(0)),
      SpatialJoin.Poly(3, shape("Rabi")(0)))

    val joined = SpatialJoin.pipJoin(spark, pts, polys, res = 9)
      .select("poly_id", "page_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Brute force: every point against every polygon.
    val raw = pts.select("page_id", "lat", "lng").collect()
    val brute = (for {
      row <- raw
      p <- polys
      if p.geo.containsCentroid(Math.toRadians(row.getDouble(1)),
        Math.toRadians(row.getDouble(2)))
    } yield (p.id, row.getLong(0))).toSet

    assert(joined == brute)
  }

  test("kNN join matches brute-force haversine top-k") {
    val pages = Pages.pages(spark, sfDir).cache()
    val points = pages.select(col("page_id").as("id"), col("lat"), col("lng"))
    val queries = pages.filter(col("page_id") % 101 === 0)
      .select(col("page_id").as("qid"), col("lat"), col("lng"))
    val k = 4

    val knnDf = Knn.knnJoin(spark, points, queries, k = k, res = 7)
    val engine = knnDf.select("qid", "id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    knnDf.unpersist(blocking = false) // caller owns the eager cache

    val raw = pages.select("page_id", "lat", "lng").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val qs = raw.filter(_._1 % 101 == 0)
    val brute = qs.flatMap { case (qid, qlat, qlng) =>
      raw.map { case (id, lat, lng) =>
        (id, graft.h3.H3.greatCircleDistanceM(qlat, qlng, lat, lng))
      }.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex.map {
        case ((id, _), i) => (qid, id, i + 1)
      }
    }.toSet

    assert(engine == brute)
  }

  test("kNN join is exact for external queries (including empty-disk ocean)") {
    import spark.implicits._
    val pages = Pages.pages(spark, sfDir)
    val points = pages.select(col("page_id").as("id"), col("lat"), col("lng"))
    // External queries not present in the corpus; one mid-ocean (its res-7
    // disk is empty at this density -> exercises the escalation path).
    val queries = Seq(
      (9001L, 48.86, 2.34),   // Paris (dense)
      (9002L, -43.2, -140.5), // south Pacific (no candidates nearby)
      (9003L, 40.7, -74.0)    // NYC
    ).toDF("qid", "lat", "lng")
    val k = 3
    val knnDf = Knn.knnJoin(spark, points, queries, k = k, res = 7)
    val engine = knnDf.select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    knnDf.unpersist(blocking = false) // caller owns the eager cache
    val raw = pages.select("page_id", "lat", "lng").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = Seq((9001L, 48.86, 2.34), (9002L, -43.2, -140.5),
      (9003L, 40.7, -74.0)).flatMap { case (qid, qlat, qlng) =>
      raw.map { case (id, lat, lng) =>
        (id, graft.h3.H3.greatCircleDistanceM(qlat, qlng, lat, lng))
      }.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex.map {
        case ((id, _), i) => (qid, id, i + 1)
      }
    }.toSet
    assert(engine == brute)
  }

  test("tile rollup pyramid conserves counts and sums across levels") {
    val pts = Pages.indexedPages(spark, sfDir)
      .withColumn("n_chars", length(col("text")))
    val levels = TileRollup.pyramid(spark, pts, "cell9", 9,
      Seq(7, 5, 3), Seq("n_chars"))
    val total = pts.count()
    val totalChars = pts.agg(sum("n_chars")).collect()(0).getLong(0)
    for ((res, df) <- levels) {
      val agg = df.agg(sum("cnt"), sum("n_chars")).collect()(0)
      assert(agg.getLong(0) == total, s"res $res count")
      assert(agg.getLong(1) == totalChars, s"res $res sum")
      // Cells are valid and at the right resolution.
      val badRes = df.filter(expr(s"h3_get_resolution(cell) != $res")).count()
      assert(badRes == 0)
    }
  }

  test("byte-identical text per url through the spatial pipeline") {
    val pts = Pages.indexedPages(spark, sfDir)
    val before = pts.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val polys = Seq(SpatialJoin.Poly(1, shape("Paris")(0)))
    val after = SpatialJoin.pipJoin(spark, pts, polys, res = 9)
      .select("url", "text").collect()
    assert(after.nonEmpty)
    after.foreach { r =>
      assert(before(r.getString(0)) == r.getString(1), r.getString(0))
    }
  }

  test("icelite: resumable write recomputes only missing partitions") {
    val root = java.nio.file.Files.createTempDirectory("icelite").toString
    val df = Pages.indexedPages(spark, sfDir)
      .withColumn("bucket", pmod(col("page_id"), lit(7)))

    // First run dies after 3 buckets.
    intercept[RuntimeException] {
      Icelite.writeResumable(spark, df, root, "bucket", failAfter = 3)
    }
    assert(Icelite.completedPartitions(root).size == 3)

    // Resume: only the remaining 4 buckets are computed.
    val computed = Icelite.writeResumable(spark, df, root, "bucket")
    assert(computed == 4)
    assert(Icelite.completedPartitions(root).size == 7)

    // Output identical to a clean one-shot write.
    val resumed = Icelite.read(spark, root).select("page_id").collect()
      .map(_.getLong(0)).sorted
    val direct = df.select("page_id").collect().map(_.getLong(0)).sorted
    assert(resumed.toSeq == direct.toSeq)

    // Second resume is a no-op (no recomputation).
    assert(Icelite.writeResumable(spark, df, root, "bucket") == 0)
  }

  test("incremental roll-up via icelite snapshot delta equals full recompute") {
    val root = java.nio.file.Files.createTempDirectory("icelite-inc").toString
    def indexed = Pages.indexedPages(spark, sfDir)
      .withColumn("bucket", pmod(col("page_id"), lit(11)))
      .withColumn("v", col("page_id") % 97)

    // Phase 1: buckets 0..5 committed; remember the snapshot id.
    Icelite.writeResumable(spark, indexed.filter(col("bucket") <= 5), root, "bucket")
    val snapId = Icelite.currentSnapshot(root).get.id
    val oldData = Icelite.read(spark, root) // resolves phase-1 paths now

    // Phase 2: the remaining buckets arrive.
    Icelite.writeResumable(spark, indexed, root, "bucket")

    def level5(df: org.apache.spark.sql.DataFrame) =
      TileRollup.pyramid(spark, df, "cell9", 9, Seq(7, 5), Seq("v"))(5)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "cnt", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // Delta pyramid over ONLY the new partitions, merged into the old
    // standing pyramid == full recompute (decomposable aggs).
    val delta = Icelite.readIncremental(spark, root, snapId)
    val merged = TileRollup.merge(level5(oldData), level5(delta), Seq("v"))
    assert(toSet(merged) == toSet(level5(Icelite.read(spark, root))))
    assert(delta.select("bucket").distinct().count() == 5) // buckets 6..10 only
  }

  test("icelite: special-character partition values escape like Spark and round-trip") {
    val root = java.nio.file.Files.createTempDirectory("icelite-esc").toString
    val df = Pages.indexedPages(spark, sfDir).limit(40)
      .withColumn("bucket",
        concat(lit("a:b=c%"), (col("page_id") % 3).cast("string")))
    val computed = Icelite.writeResumable(spark, df, root, "bucket")
    assert(computed == 3)
    val back = Icelite.read(spark, root)
    assert(back.count() == 40)
    assert(back.select("bucket").distinct().collect()
      .map(_.getString(0)).toSet ==
      Set("a:b=c%0", "a:b=c%1", "a:b=c%2"))
    // Manifest pruning resolves the escaped dir for an exact raw value.
    assert(Icelite.readWhere(spark, root, _ == "a:b=c%1").count() ==
      df.filter(col("page_id") % 3 === 1).count())
  }

  test("icelite: NULL partition values are rejected up front") {
    val root = java.nio.file.Files.createTempDirectory("icelite-null").toString
    val df = Pages.indexedPages(spark, sfDir).limit(10)
      .withColumn("bucket",
        when(col("page_id") % 2 === 0, col("page_id").cast("string")))
    val e = intercept[IllegalArgumentException] {
      Icelite.writeResumable(spark, df, root, "bucket")
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("icelite: staged write job count is bounded regardless of bucket count") {
    val root = java.nio.file.Files.createTempDirectory("icelite-jobs").toString
    val df = Pages.indexedPages(spark, sfDir)
      .withColumn("bucket", pmod(col("page_id"), lit(23)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Icelite.writeResumable(spark, df, root, "bucket")
      // Deterministic drain of the async listener bus (a sleep was flaky
      // on loaded machines).
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // One staged write + one stats aggregation (+ small constant overhead,
    // incl. possible AQE stage jobs), never O(buckets): the old per-bucket
    // loop would run 46+ jobs here. Observed baseline is 2-4; 8 is ample
    // headroom while still catching any O(buckets) regression.
    assert(jobs.get <= 8, s"jobs=${jobs.get}")
    assert(Icelite.completedPartitions(root).size == 23)
    val back = Icelite.read(spark, root).select("page_id").collect()
      .map(_.getLong(0)).sorted
    assert(back.toSeq == df.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("bucketed tables co-locate the cell-prefix join (no shuffle exchange)") {
    // Tables land in the default warehouse dir; DROP TABLE (managed)
    // removes the files again in the finally block.
    val pages = Pages.indexedPages(spark, sfDir)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      pages.select("page_id", "cell_p", "url")
        .write.mode("overwrite").bucketBy(8, "cell_p").sortBy("cell_p")
        .saveAsTable("pages_bkt")
      pages.groupBy("cell_p").count()
        .write.mode("overwrite").bucketBy(8, "cell_p")
        .saveAsTable("stats_bkt")
      val joined = spark.table("pages_bkt").join(spark.table("stats_bkt"), "cell_p")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // Matching bucket specs on the join key: both sides read pre-hashed
      // buckets, so the sort-merge join runs with ZERO shuffle exchanges —
      // the co-located-join story for repeated joins on the cell prefix.
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle; plan:\n$plan")
      assert(joined.count() == pages.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS pages_bkt")
      spark.sql("DROP TABLE IF EXISTS stats_bkt")
    }
  }

  test("pages table is deterministic across partitionings") {
    val a = Pages.pages(spark, sfDir).select("page_id", "lat", "lng")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val b = Pages.pages(spark, sfDir).repartition(13)
      .select("page_id", "lat", "lng")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }
}

/** Empirical validation of the kNN completeness bound against worst-case
  * grid distortion, globally sampled. */
class KnnBoundSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.h3.{H3, Tables}

  /** Worst-case distance check: every boundary VERTEX of the origin cell
    * (a query point can sit arbitrarily close to a vertex) against every
    * boundary vertex of the (ring+1) shell — the closest points outside
    * disk(ring). */
  private def checkCell(cell: Long, res: Int, ring: Int): Unit = {
    val safe = graft.engine.Knn.safeRadiusM(res, ring)
    val ob = H3.cellToBoundary(cell)
    H3.gridRing(cell, ring + 1).foreach { outside =>
      val b = H3.cellToBoundary(outside)
      var i = 0
      while (i < b.length / 2) {
        var j = 0
        while (j < ob.length / 2) {
          val d = H3.greatCircleDistanceM(
            ob(2 * j), ob(2 * j + 1), b(2 * i), b(2 * i + 1))
          assert(d >= safe,
            s"res=$res ring=$ring cell=${cell.toHexString} d=$d safe=$safe")
          j += 1
        }
        i += 1
      }
    }
  }

  test("safeRadius bounds hold at every pentagon neighborhood (max distortion)") {
    for (res <- 1 to 9; bc <- 0 until 122 if Tables.isPentagonBase(bc)) {
      val pent = H3.cellToCenterChild(H3.setBaseCell(H3.DefaultCellIndex, bc), res)
      for (c <- H3.gridDisk(pent, 1)) checkCell(c, res, 2)
    }
  }

  test("res 0 settlement is rejected (ring-2 shell can touch the origin)") {
    intercept[IllegalArgumentException] {
      graft.engine.Knn.safeRadiusM(0, 2)
    }
  }

  test("safeRadius bounds hold on a global random sample, rings 2..3") {
    val r = new scala.util.Random(99)
    for (_ <- 0 until 400) {
      val res = 3 + r.nextInt(8)
      val ring = 2 + r.nextInt(2)
      val cell = H3.latLngToCell(
        r.nextDouble() * 170 - 85, r.nextDouble() * 360 - 180, res)
      checkCell(cell, res, ring)
    }
  }

  test("rings below 2 are rejected") {
    intercept[IllegalArgumentException] {
      graft.engine.Knn.safeRadiusM(7, 1)
    }
  }

  test("kNN shuffle-join fallback (tiny broadcast cap) equals broadcast path") {
    val spark = SparkTestBase.spark
    val sfDir = "/root/testdata/sf0.001"
    val pages = graft.engine.Pages.pages(spark, sfDir)
    val points = pages.select(col("page_id").as("id"), col("lat"), col("lng"))
    val queries = pages.filter(col("page_id") % 101 === 0)
      .select(col("page_id").as("qid"), col("lat"), col("lng"))
    def run(cap: Long) = {
      val df = graft.engine.Knn.knnJoin(spark, points, queries, k = 3, res = 7,
        broadcastMaxDisks = cap)
      val out = df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
      df.unpersist(blocking = false) // caller owns the eager cache
      out
    }
    val viaShuffle = run(1) // cap below any query set -> shuffle join path
    val viaBroadcast = run(Long.MaxValue)
    assert(viaShuffle == viaBroadcast && viaShuffle.nonEmpty)
  }
}

/** Transmeridian dissolve round-trip. */
class TransmeridianDissolveSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("dissolve of a disk straddling the antimeridian re-tiles exactly") {
    val cell = graft.h3.H3.latLngToCell(-16.9, 179.9995, 7)
    val disk = graft.h3.H3.gridDisk(cell, 2)
    // The disk genuinely straddles the antimeridian.
    val lngs = disk.map(graft.h3.H3.cellToLng)
    assert(lngs.exists(_ > 179) && lngs.exists(_ < -179))
    val json = graft.h3.Dissolve.dissolveToGeoJson(disk)
    val polys = graft.h3.Geo.parseGeoJson(json)
    val recovered = graft.h3.Geo.polygonToCells(polys, 7, graft.h3.Geo.ContainsCentroid)
    assert(recovered.toSet == disk.toSet)
  }
}

/** Append-only manifest segments + incremental reads. */
class IceliteManifestSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("manifest entries are written exactly once across segments (O(n) I/O)") {
    val root = java.nio.file.Files.createTempDirectory("icelite-seg").toString
    val df = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
      .withColumn("bucket", pmod(col("page_id"), lit(23)))
    graft.engine.Icelite.writeResumable(spark, df, root, "bucket")
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(root, "manifest"))
      .iterator()
    val segFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(segs).asScala
      .filter(_.getFileName.toString.startsWith("seg-")).toSeq
    // Total entries across ALL segment files equals the bucket count: no
    // entry is ever rewritten (inline-entry snapshots would hold n*(n+1)/2).
    val totalEntries = segFiles.map { p =>
      val s = new String(java.nio.file.Files.readAllBytes(p))
      "\"value\"".r.findAllIn(s).size
    }.sum
    assert(totalEntries == 23, s"entries across segments = $totalEntries")
    assert(graft.engine.Icelite.completedPartitions(root).size == 23)
  }

  test("readIncremental returns only partitions committed after a snapshot") {
    val root = java.nio.file.Files.createTempDirectory("icelite-incr").toString
    val df = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
      .withColumn("bucket", pmod(col("page_id"), lit(6)))
    // First run dies after 3 buckets -> snapshot with 3 partitions.
    intercept[RuntimeException] {
      graft.engine.Icelite.writeResumable(spark, df, root, "bucket", failAfter = 3)
    }
    val firstId = graft.engine.Icelite.currentSnapshot(root).get.id
    val firstVals = graft.engine.Icelite.completedPartitions(root)
    assert(firstVals.size == 3)
    // Resume completes the remaining 3.
    graft.engine.Icelite.writeResumable(spark, df, root, "bucket")
    val incr = graft.engine.Icelite.readIncremental(spark, root, firstId)
      .select("bucket").distinct().collect().map(_.get(0).toString).toSet
    assert(incr.size == 3 && incr.intersect(firstVals).isEmpty, incr.toString)
    // Incremental + old = full table.
    val full = graft.engine.Icelite.read(spark, root).count()
    val old = graft.engine.Icelite.readWhere(spark, root, firstVals).count()
    val inc = graft.engine.Icelite.readIncremental(spark, root, firstId).count()
    assert(old + inc == full)
  }

  test("readAsOf time-travels to a historical snapshot (immutable buckets)") {
    val root = java.nio.file.Files.createTempDirectory("icelite-asof").toString
    val df = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
      .withColumn("bucket", pmod(col("page_id"), lit(6)))
    graft.engine.Icelite.writeResumable(spark,
      df.filter(col("bucket") < 3), root, "bucket")
    val oldId = graft.engine.Icelite.currentSnapshot(root).get.id
    val oldRows = graft.engine.Icelite.read(spark, root).count()
    val oldChecksums = graft.engine.Icelite.currentSnapshot(root).get.entries
      .map(e => e.value -> e.checksum).toMap
    graft.engine.Icelite.writeResumable(spark, df, root, "bucket")
    assert(graft.engine.Icelite.currentSnapshot(root).get.id > oldId)
    // The as-of read sees exactly the old snapshot's buckets and rows.
    val asOf = graft.engine.Icelite.readAsOf(spark, root, oldId)
    assert(asOf.count() == oldRows)
    assert(asOf.select("bucket").distinct().collect()
      .map(_.get(0).toString).toSet == Set("0", "1", "2"))
    assert(graft.engine.Icelite.read(spark, root).count() > oldRows)
    // Historical soundness: the later write never rewrote committed
    // buckets (manifest checksums unchanged for the old partitions).
    val now = graft.engine.Icelite.currentSnapshot(root).get.entries
      .map(e => e.value -> e.checksum).toMap
    oldChecksums.foreach { case (v, c) => assert(now(v) == c, v) }
    graft.engine.Icelite.drop(root)
  }
}

/** Appends, compaction, vacuum: the table-maintenance surface. */
class IceliteMaintenanceSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def base = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    .withColumn("bucket", pmod(col("page_id"), lit(5)))

  test("append adds rows as new files; metrics equal a from-scratch recompute") {
    val root = java.nio.file.Files.createTempDirectory("icelite-app").toString
    val first = base.filter(col("page_id") % 2 === 0)
    val second = base.filter(col("page_id") % 2 === 1)
    graft.engine.Icelite.writeResumable(spark, first, root, "bucket")
    val preId = graft.engine.Icelite.currentSnapshot(root).get.id
    graft.engine.Icelite.appendResumable(spark, second, root, "bucket", runId = "app-1")

    // Content equals the union.
    val got = graft.engine.Icelite.read(spark, root).select("page_id")
      .collect().map(_.getLong(0)).sorted
    val want = base.select("page_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)

    // Composed manifest metrics == metrics of a fresh write of the union
    // (rows add; the xxhash64-xor checksum is order-independent).
    val root2 = java.nio.file.Files.createTempDirectory("icelite-app2").toString
    graft.engine.Icelite.writeResumable(spark, base, root2, "bucket")
    def metrics(r: String) = graft.engine.Icelite.currentSnapshot(r).get.entries
      .map(e => e.value -> (e.rows, e.checksum)).toMap
    assert(metrics(root) == metrics(root2))

    // Appended buckets hold 2 files (write + append), never rewritten.
    val files = graft.engine.Icelite.currentSnapshot(root).get.entries
    assert(files.forall(_.files.size == 2), files.map(_.files.size).toString)

    // Time travel: the pre-append snapshot still reads exactly `first`.
    val asOf = graft.engine.Icelite.readAsOf(spark, root, preId)
      .select("page_id").collect().map(_.getLong(0)).sorted
    assert(asOf.toSeq == first.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)

    // Incremental read since the pre-append snapshot = exactly the delta.
    val incr = graft.engine.Icelite.readIncremental(spark, root, preId)
      .select("page_id").collect().map(_.getLong(0)).sorted
    assert(incr.toSeq == second.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)

    graft.engine.Icelite.drop(root); graft.engine.Icelite.drop(root2)
  }

  test("append resumes by runId: crash mid-append never double-appends") {
    val root = java.nio.file.Files.createTempDirectory("icelite-appres").toString
    graft.engine.Icelite.writeResumable(spark,
      base.filter(col("page_id") % 2 === 0), root, "bucket")
    val delta = base.filter(col("page_id") % 2 === 1)
    intercept[RuntimeException] {
      graft.engine.Icelite.appendResumable(spark, delta, root, "bucket",
        runId = "app-x", failAfter = 2)
    }
    // Resume with the SAME runId completes only the remaining buckets...
    val resumed = graft.engine.Icelite.appendResumable(spark, delta, root, "bucket",
      runId = "app-x")
    assert(resumed == 3, s"resumed $resumed buckets")
    // ...and the table equals the union exactly (no duplicated rows).
    val got = graft.engine.Icelite.read(spark, root).select("page_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == base.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)
    graft.engine.Icelite.drop(root)
  }

  test("column-stats range pruning opens only intersecting buckets; stats compose") {
    val root = java.nio.file.Files.createTempDirectory("icelite-stats").toString
    val df = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    graft.engine.Icelite.writeResumable(spark,
      df.filter(col("page_id") % 2 === 0), root, "cell_p")
    graft.engine.Icelite.appendResumable(spark,
      df.filter(col("page_id") % 2 === 1), root, "cell_p", runId = "s1")
    val snap = graft.engine.Icelite.currentSnapshot(root).get
    assert(snap.entries.forall(_.colStats.contains("cell9")))
    // Composed stats equal a from-scratch per-bucket min/max of the union.
    val want = df.groupBy(col("cell_p").cast("string").as("v"))
      .agg(min("cell9"), max("cell9")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    snap.entries.foreach(e => assert(e.colStats("cell9") == want(e.value), e.value))
    // Range pruning: the busiest bucket's own range opens ONLY buckets
    // whose range intersects; res-3 prefixes give disjoint cell9 ranges,
    // so exactly one bucket (plus any stats-less, of which there are
    // none) survives.
    val (lo, hi) = snap.entries.maxBy(_.rows).colStats("cell9")
    val pruned = graft.engine.Icelite.readWhereRange(spark, root, "cell9", lo, hi)
    assert(pruned.select("cell_p").distinct().count() == 1)
    // Exactness: pruned + exact filter == full scan + exact filter.
    val a = pruned.filter(col("cell9").between(lo, hi)).count()
    val b = graft.engine.Icelite.read(spark, root)
      .filter(col("cell9").between(lo, hi)).count()
    assert(a == b && a > 0)
    graft.engine.Icelite.drop(root)
  }

  test("compaction rewrites multi-file buckets content-verified; vacuum reclaims") {
    val root = java.nio.file.Files.createTempDirectory("icelite-comp").toString
    graft.engine.Icelite.writeResumable(spark,
      base.filter(col("page_id") % 3 === 0), root, "bucket")
    graft.engine.Icelite.appendResumable(spark,
      base.filter(col("page_id") % 3 === 1), root, "bucket", runId = "a1")
    val preCompactId = graft.engine.Icelite.currentSnapshot(root).get.id
    graft.engine.Icelite.appendResumable(spark,
      base.filter(col("page_id") % 3 === 2), root, "bucket", runId = "a2")
    val pre = graft.engine.Icelite.currentSnapshot(root).get.entries
      .map(e => e.value -> (e.rows, e.checksum)).toMap
    assert(graft.engine.Icelite.currentSnapshot(root).get.entries
      .forall(_.files.size == 3))

    val n = graft.engine.Icelite.compactBuckets(spark, root)
    assert(n == 5, s"compacted $n")
    val post = graft.engine.Icelite.currentSnapshot(root).get.entries
    assert(post.forall(_.files.size == 1))
    assert(post.map(e => e.value -> (e.rows, e.checksum)).toMap == pre)
    val got = graft.engine.Icelite.read(spark, root).select("page_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == base.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)

    // Historical snapshots still readable BEFORE vacuum (old files kept)...
    val asOf = graft.engine.Icelite.readAsOf(spark, root, preCompactId)
    assert(asOf.count() == base.filter(col("page_id") % 3 < 2).count())
    // ...vacuum reclaims the superseded files; the current read is intact.
    val removed = graft.engine.Icelite.vacuum(root)
    assert(removed == 15, s"removed $removed") // 3 old files x 5 buckets
    assert(graft.engine.Icelite.read(spark, root).count() == base.count())
    // Idempotent; compacting again is a no-op.
    assert(graft.engine.Icelite.vacuum(root) == 0)
    assert(graft.engine.Icelite.compactBuckets(spark, root) == 0)
    graft.engine.Icelite.drop(root)
  }
}

/** Optimistic-concurrency commits: two LIVE writers must never interleave
  * manifest segments silently — the snapshot-claim CAS serializes them and
  * the loser re-derives its entries against the winner's snapshot. */
class IceliteConcurrencySpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def base = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    .withColumn("bucket", pmod(col("page_id"), lit(5)))

  test("two concurrent appenders compose to the serial result") {
    val root = java.nio.file.Files.createTempDirectory("icelite-conc").toString
    val first = base.filter(col("page_id") % 3 === 0)
    val a = base.filter(col("page_id") % 3 === 1)
    val b = base.filter(col("page_id") % 3 === 2)
    graft.engine.Icelite.writeResumable(spark, first, root, "bucket")
    // Two live appenders over the SAME buckets, racing promote + commit.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(graft.engine.Icelite.appendResumable(spark, a, root, "bucket", runId = "conc-a"))
    val fb = Future(graft.engine.Icelite.appendResumable(spark, b, root, "bucket", runId = "conc-b"))
    Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    // Final table = serial union, rows and composed checksums identical
    // to a from-scratch write (no lost update on any bucket).
    val got = graft.engine.Icelite.read(spark, root).select("page_id")
      .collect().map(_.getLong(0)).sorted
    val want = base.select("page_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)
    val root2 = java.nio.file.Files.createTempDirectory("icelite-conc2").toString
    graft.engine.Icelite.writeResumable(spark, base, root2, "bucket")
    def metrics(r: String) = graft.engine.Icelite.currentSnapshot(r).get.entries
      .map(e => e.value -> (e.rows, e.checksum)).toMap
    assert(metrics(root) == metrics(root2))
    graft.engine.Icelite.drop(root); graft.engine.Icelite.drop(root2)
  }

  test("commit point is the snapshot file: a stale CURRENT hint is probed past") {
    val root = java.nio.file.Files.createTempDirectory("icelite-hint").toString
    graft.engine.Icelite.writeResumable(spark, base.filter(col("bucket") === 0),
      root, "bucket")
    val snap0 = graft.engine.Icelite.currentSnapshot(root).get
    assert(snap0.id == 0)
    // Simulate a writer that committed snapshot-1 (atomic create succeeded)
    // but crashed before updating the CURRENT hint: readers and the next
    // writer must honor it anyway.
    val man = java.nio.file.Paths.get(root, "manifest")
    val s0 = new String(java.nio.file.Files.readAllBytes(man.resolve("snapshot-000000.json")))
    java.nio.file.Files.write(man.resolve("snapshot-000001.json"),
      s0.replace("\"id\":0", "\"id\":1").getBytes)
    assert(graft.engine.Icelite.currentSnapshot(root).get.id == 1)
    // The next commit claims id 2 (not 1), chaining from the probed state.
    graft.engine.Icelite.appendResumable(spark, base.filter(col("bucket") === 1),
      root, "bucket", runId = "after-hint")
    val cur = graft.engine.Icelite.currentSnapshot(root).get
    assert(cur.id == 2, s"id=${cur.id}")
    assert(cur.entries.map(_.value).toSet == Set("0", "1"))
    graft.engine.Icelite.drop(root)
  }
}

/** Crash inside an uncommitted manifest batch: resume must re-stage the
  * promoted-but-uncommitted buckets and converge to the full table. */
class IceliteBatchCrashSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("mid-batch crash (batchSize > 1) resumes to an identical table") {
    val spark = SparkTestBase.spark
    val root = java.nio.file.Files.createTempDirectory("icelite-crash").toString
    val df = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
      .withColumn("bucket", pmod(col("page_id"), lit(200)))
    // 200 buckets -> batchSize = 3: failing at 100 leaves 1-2 promoted
    // buckets uncommitted (the open batch).
    intercept[RuntimeException] {
      graft.engine.Icelite.writeResumable(spark, df, root, "bucket", failAfter = 100)
    }
    val committed = graft.engine.Icelite.completedPartitions(root).size
    assert(committed <= 100 && committed >= 98, s"committed=$committed")
    val resumed = graft.engine.Icelite.writeResumable(spark, df, root, "bucket")
    assert(committed + resumed == 200)
    val back = graft.engine.Icelite.read(spark, root).select("page_id")
      .collect().map(_.getLong(0)).sorted
    assert(back.toSeq == df.select("page_id").collect().map(_.getLong(0)).sorted.toSeq)
  }
}

/** Polygon-TABLE PIP join (distributed covers + memoized exact PIP). */
class PolygonTableJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def shapeJson(name: String): String = {
    val url = getClass.getResource(s"/h3/shapes/$name.geojson")
    scala.io.Source.fromURL(url).mkString
  }

  test("polygon-table join equals the broadcast Seq[Poly] join") {
    import spark.implicits._
    val pts = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    val names = Seq("Paris", "SanFranciscoHole", "Rabi")
    val polyTable = names.zipWithIndex
      .map { case (n, i) => ((i + 1).toLong, shapeJson(n)) }
      .toDF("poly_id", "geojson")
    val viaTable = graft.engine.SpatialJoin
      .pipJoinPolygonTable(spark, pts, polyTable, res = 9)
      .select("poly_id", "page_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val polys = names.zipWithIndex.map { case (n, i) =>
      graft.engine.SpatialJoin.Poly((i + 1).toLong,
        graft.h3.Geo.parseGeoJson(shapeJson(n))(0)) }
    val viaSeq = graft.engine.SpatialJoin.pipJoin(spark, pts, polys, res = 9)
      .select("poly_id", "page_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaTable == viaSeq && viaTable.nonEmpty)
  }

  test("probe ladder prunes to the cover resolutions present in the table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def generates(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case g: GenerateExec if g.output.exists(_.name == "__anc") => n += 1
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      n
    }
    val pts = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    // h3_cover_res (size hint only) must agree with the resolution the
    // annotated-cover generator actually emits, per polygon — the pruning
    // is only sound if the two apply one policy.
    val polyTable = Seq("Paris", "SanFranciscoHole", "Rabi").zipWithIndex
      .map { case (n2, i) => ((i + 1).toLong, shapeJson(n2)) }
      .toDF("poly_id", "geojson")
    val byFn = polyTable
      .select($"poly_id", expr("h3_cover_res(geojson, 9)").as("r"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val byGen = polyTable
      .select($"poly_id", expr("h3_polygon_to_cells_annotated(geojson, 9)"))
      .select($"poly_id", expr("h3_get_resolution(cell)").as("r"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(byFn == byGen, s"policy divergence: fn=$byFn gen=$byGen")
    // All three shapes cover at ONE resolution -> no Generate node at all:
    // the probe is a single bit-op ancestor column, 1 candidate row per
    // point instead of |ladder| = 4.
    assert(byFn.map(_._2).size == 1)
    val single = graft.engine.SpatialJoin
      .pipJoinPolygonTable(spark, pts, polyTable, res = 9)
    assert(generates(single) == 0, "single-res table must not explode the probe")
    // The ancestor ladder itself lives on the shuffle path.
    assert(generates(graft.engine.SpatialJoin.pipJoinPolygonTable(spark, pts, polyTable,
      res = 9, broadcastPolygons = false)) == 0, "single-res shuffle path must not explode the probe")
    val seqPolys = Seq("Paris", "SanFranciscoHole", "Rabi").zipWithIndex.map { case (n2, i) =>
      SpatialJoin.Poly(i + 1L, Geo.parseGeoJson(shapeJson(n2))(0))
    }
    assert(generates(SpatialJoin.pipJoin(spark, pts, seqPolys, res = 9,
      broadcastCover = false)) == 0, "single-res Seq shuffle path must not explode the probe")
    single.limit(1).collect() // plan executes
  }

  test("broadcast path scans the polygon table exactly once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-polytable").toString
    Seq("Paris", "SanFranciscoHole", "Rabi").zipWithIndex
      .map { case (n, i) => ((i + 1).toLong, shapeJson(n)) }
      .toDF("poly_id", "geojson").write.mode("overwrite").parquet(dir)
    val polyTable = spark.read.parquet(dir)
    val pts = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val df = try {
      val d = graft.engine.SpatialJoin
        .pipJoinPolygonTable(spark, pts, polyTable, res = 9)
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
      d
    } finally spark.sparkContext.removeSparkListener(l)
    // Construction runs exactly ONE Spark job: the single cheap pass that
    // collects (poly_id, geojson, cover_res) together. The ladder, the
    // geometry relation and the covers build all derive from it — no
    // extra scans (tiling runs at broadcast build over an RDD rebuild).
    assert(jobs.get == 1,
      s"expected exactly one polygon-table scan job, got ${jobs.get}")
    // Executing the join must not rescan the table either: its file path
    // appears nowhere in the executed plan (covers + geometry are local
    // relations built from the collected pass).
    df.limit(5).collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(dir), "polygon table re-scanned at execution")
  }

  test("candidate join carries ids only; geometry joins back for boundary rows") {
    import spark.implicits._
    val pts = graft.engine.Pages.indexedPages(spark, "/root/testdata/sf0.001")
    val polyTable = Seq((1L, shapeJson("Paris"))).toDF("poly_id", "geojson")
    val df = graft.engine.SpatialJoin
      .pipJoinPolygonTable(spark, pts, polyTable, res = 9)
    // No shuffle exchange may carry the geojson payload (the geometry side
    // is broadcast or joined after candidate dedup).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: ShuffleExchangeExec => buf += s.output.map(_.name).toSeq
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    buf.filter(_.exists(_ == "cell")).foreach { cols =>
      assert(!cols.contains("geojson"), cols.toString)
    }
  }
}

/** Regression: coarse covers must join on GEOMETRIC cells. Two points
  * found by differencing join paths over 48M rows — one lost, one falsely
  * accepted under the old bit-ancestor key (children protrude beyond
  * parents). Holes gets a coarse adaptive cover (res 5), exercising the
  * hazard. */
class CoarseCoverExactnessSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("pipJoin with a coarse-cover polygon matches brute PIP around the failing points") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    graft.spark.H3Functions.register(spark)
    val holes = graft.h3.Geo.parseGeoJson(scala.io.Source.fromURL(
      getClass.getResource("/h3/shapes/Holes.geojson")).mkString)
    val polys = Seq(graft.engine.SpatialJoin.Poly(3L, holes(0)))
    assert(graft.engine.SpatialJoin.coverResFor(holes(0), 9) < 9) // coarse cover engaged
    // Dense grid around the historical false-positive, plus the point itself.
    val base = (-15.078076617705328, -46.52550704777241)
    val grid = for {
      i <- -40 to 40; j <- -40 to 40
    } yield (i.toLong * 81 + j + 10000, base._1 + i * 0.004, base._2 + j * 0.004)
    val pts = grid.toDF("page_id", "lat", "lng")
      .withColumn("cell9", org.apache.spark.sql.functions.expr(
        "h3_latlng_to_cell(lat, lng, 9)"))
    val joined = graft.engine.SpatialJoin.pipJoin(spark, pts, polys, res = 9)
      .select("page_id").collect().map(_.getLong(0)).toSet
    val brute = grid.filter { case (_, lat, lng) =>
      holes(0).containsCentroid(Math.toRadians(lat), Math.toRadians(lng))
    }.map(_._1).toSet
    assert(joined == brute, s"diff=${(joined diff brute) ++ (brute diff joined)}")
    assert(brute.nonEmpty && brute.size < grid.size)
  }
}
