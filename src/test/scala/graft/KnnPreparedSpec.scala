package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Icelite, Knn, Pages}

/** The bucketed prepared-corpus kNN path: file-precise scan pruning for
  * localized query batches, stats-driven fallback to the full scan, and
  * exact agreement with the one-shot path in every planning regime. */
class KnnPreparedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def points = Pages.pages(spark, sfDir)
    .select(col("page_id").as("id"), col("lat"), col("lng"))

  private def oneShot(queries: org.apache.spark.sql.DataFrame, k: Int) = {
    val df = Knn.knnJoin(spark, points, queries, k = k, res = 7)
    val out = df.select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    df.unpersist(blocking = false)
    out
  }

  private def prepared(corpus: Knn.PreparedCorpus,
                       queries: org.apache.spark.sql.DataFrame, k: Int) = {
    val df = Knn.knnJoinPrepared(spark, corpus, queries, k = k)
    val out = df.select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    df.unpersist(blocking = false)
    out
  }

  test("localized batch prunes the corpus scan to few files and stays exact") {
    import spark.implicits._
    val corpus = Knn.prepareCorpus(spark, points, res = 7)
    try {
      val totalFiles = corpus.store.get.filesByBucket.valuesIterator.sum
      assert(totalFiles > 8, s"need a multi-bucket table, got $totalFiles files")
      // All queries inside the Paris cluster: their ring-2 disks at res 7
      // truncate to one or two res-1 buckets.
      val qs = Seq((1L, 48.8566, 2.3522), (2L, 48.8666, 2.3622),
        (3L, 48.8466, 2.3422)).toDF("qid", "lat", "lng")
      val got = prepared(corpus, qs, k = 4)
      val scan = Knn.lastRounds.flatMap(_.scan).lastOption
      assert(scan.exists(_._1 == "pruned"), s"expected pruned scan, got $scan")
      val files = scan.get._2
      assert(files > 0 && files <= totalFiles / 4,
        s"expected <= ${totalFiles / 4} files scanned, got $files of $totalFiles")
      assert(got == oneShot(qs, k = 4))
    } finally corpus.release()
  }

  test("batch over most of the corpus keeps the full scan (row-mass planning)") {
    // pruneMaxRowFraction = 0 forces the full-scan plan for ANY batch;
    // results must not depend on the plan chosen.
    val corpus = Knn.prepareCorpus(spark, points, res = 7,
      pruneMaxRowFraction = 0.0)
    try {
      val qs = points.filter(col("id") % 101 === 0)
        .select(col("id").as("qid"), col("lat"), col("lng"))
      val got = prepared(corpus, qs, k = 3)
      assert(Knn.lastRounds.flatMap(_.scan).lastOption.exists(_._1 == "full"))
      assert(got == oneShot(qs, k = 3))
    } finally corpus.release()
  }

  test("ocean batch (no bucket matches) escalates through the empty pruned scan") {
    import spark.implicits._
    val corpus = Knn.prepareCorpus(spark, points, res = 7)
    try {
      // Mid-Pacific: the round-0 disk buckets hold no corpus points, so
      // the pruned scan is empty and the ladder must escalate to settle.
      val qs = Seq((9002L, -43.2, -140.5)).toDF("qid", "lat", "lng")
      val got = prepared(corpus, qs, k = 3)
      assert(got == oneShot(qs, k = 3))
      assert(got.size == 3)
    } finally corpus.release()
  }

  test("empty corpus prepares without a store and yields no rows") {
    import spark.implicits._
    val empty = points.filter(lit(false))
    val corpus = Knn.prepareCorpus(spark, empty, res = 7)
    try {
      assert(corpus.store.isEmpty)
      val qs = Seq((1L, 48.85, 2.35)).toDF("qid", "lat", "lng")
      assert(prepared(corpus, qs, k = 2).isEmpty)
    } finally corpus.release()
  }

  private def brute(qs: Seq[(Long, Double, Double)], k: Int) = {
    val raw = points.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    qs.flatMap { case (qid, qlat, qlng) =>
      raw.map { case (id, lat, lng) =>
        (id, graft.h3.H3.greatCircleDistanceM(qlat, qlng, lat, lng))
      }.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex.map {
        case ((id, _), i) => (qid, id, i + 1)
      }
    }.toSet
  }

  test("batches over the broadcast cap equal the under-cap result, with a mid-ladder hand-off") {
    import spark.implicits._
    val corpus = Knn.prepareCorpus(spark, points, res = 7)
    def run(qs: org.apache.spark.sql.DataFrame, k: Int, cap: Long) = {
      val df = Knn.knnJoinPrepared(spark, corpus, qs, k = k, broadcastMaxDisks = cap)
      val out = df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
      df.unpersist(blocking = false) // distributed rounds leave a cached share
      (out, Knn.lastRounds)
    }
    try {
      // Cap 1 holds no query on the driver: every round runs distributed.
      val many = points.filter(col("id") % 101 === 0)
        .select(col("id").as("qid"), col("lat"), col("lng"))
      val (under, underRounds) = run(many, 3, Long.MaxValue)
      val (over, overRounds) = run(many, 3, 1)
      assert(underRounds.forall(_.driver) && !overRounds.exists(_.driver),
        s"$underRounds / $overRounds")
      assert(over == under && under.nonEmpty)
      // Queries on corpus points of the densest res-7 cell settle in
      // round 0; the mid-Pacific one cannot. A cap of one ring-2 disk
      // keeps round 0 distributed and lets the one-query remainder move
      // to the driver.
      val dense = points.withColumn("c", expr("h3_latlng_to_cell(lat, lng, 7)"))
        .groupBy("c").count().orderBy(desc("count"), col("c")).first().getLong(0)
      val local = points.filter(expr(s"h3_latlng_to_cell(lat, lng, 7) = $dense"))
        .orderBy("id").limit(4).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val qs = (local :+ ((9002L, -43.2, -140.5))).toDF("qid", "lat", "lng")
      val (handOff, handOffRounds) = run(qs, 3, graft.h3.H3.maxGridDiskSize(2))
      assert(handOffRounds.take(2).map(_.driver) == Vector(false, true), s"$handOffRounds")
      assert(handOff == run(qs, 3, Long.MaxValue)._1 && handOff.size == 15)
    } finally corpus.release()
  }

  test("brute-force guard (maxRounds = 1) matches brute haversine top-k") {
    import spark.implicits._
    // The ocean query's res-7 disk is empty, so with a one-level ladder
    // only the brute-force guard can answer it.
    val q = Seq((9002L, -43.2, -140.5), (9003L, 40.7, -74.0))
    val qs = q.toDF("qid", "lat", "lng")
    val want = brute(q, 3)
    val df = Knn.knnJoin(spark, points, qs, k = 3, res = 7, maxRounds = 1)
    assert(df.select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet == want)
    assert(Knn.lastRounds.length == 2, s"${Knn.lastRounds}") // round 0 + guard
    val corpus = Knn.prepareCorpus(spark, points, res = 7, maxRounds = 1)
    try {
      assert(prepared(corpus, qs, k = 3) == want)
      assert(Knn.lastRounds.length == 2, s"${Knn.lastRounds}")
    } finally corpus.release()
  }

  test("a batch whose top-k rows exceed the driver bound runs distributed") {
    import spark.implicits._
    // k = 60000 lets the driver hold at most one query's top-k rows, so
    // the two-query batch never moves to the driver; the corpus is smaller
    // than k, so no round settles and the guard returns every point.
    val q = Seq((1L, 48.8566, 2.3522), (2L, 40.7, -74.0))
    val df = Knn.knnJoin(spark, points, q.toDF("qid", "lat", "lng"), k = 60000, res = 7)
    val got = df.select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    val rounds = Knn.lastRounds
    df.unpersist(blocking = false)
    assert(rounds.nonEmpty && !rounds.exists(_.driver), s"$rounds")
    assert(got == brute(q, 60000))
  }

  test("a localized prepared batch runs at most 4 Spark jobs per ladder round") {
    import spark.implicits._
    val corpus = Knn.prepareCorpus(spark, points, res = 7)
    try {
      val qs = Seq((1L, 48.8566, 2.3522), (2L, 48.8666, 2.3622),
        (3L, 48.8466, 2.3422)).toDF("qid", "lat", "lng")
      val (rows, jobs) = SparkTestBase.jobsDuring(spark)(
        Knn.knnJoinPrepared(spark, corpus, qs, k = 4).collect())
      val rounds = Knn.lastRounds
      assert(rows.length == 12 && rounds.nonEmpty && rounds.forall(_.driver), s"$rounds")
      assert(jobs <= 4 * rounds.length, s"$jobs jobs for ${rounds.length} rounds")
    } finally corpus.release()
  }

  test("re-preparing over a caller-provided root resumes instead of rewriting") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-knn-resume").toString
    try {
      val c1 = Knn.prepareCorpus(spark, points, res = 7, root = root)
      val snap1 = Icelite.currentSnapshot(root).get
      c1.release() // root is caller-owned: the table must survive
      assert(Icelite.currentSnapshot(root).isDefined)
      val c2 = Knn.prepareCorpus(spark, points, res = 7, root = root)
      try {
        // Resume skipped every bucket: same snapshot content, no new files.
        val snap2 = Icelite.currentSnapshot(root).get
        assert(snap2.entries.map(e => e.value -> e.files).toMap ==
          snap1.entries.map(e => e.value -> e.files).toMap)
        import spark.implicits._
        val qs = Seq((1L, 48.8566, 2.3522)).toDF("qid", "lat", "lng")
        assert(prepared(c2, qs, k = 3) == oneShot(qs, k = 3))
      } finally c2.release()
    } finally Icelite.drop(root)
  }
}
