package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Knn, Pages}

/** `knn_service`: a prepared corpus serving closed-loop query batches.
  *
  * Each set-up builds the corpus once with `Knn.prepareCorpus` (the only
  * bulk Icelite write; timed as `build_s` in the run record). One op is a
  * batch of 200 queries, k = 10, through `Knn.knnJoinPrepared`, collected.
  * Three batches in four are localized: all queries within 0.1 degrees of
  * one city outside the Paris cluster, drawn from the seed per batch, so
  * the scan is pruned to a few buckets read from parquet files. One in
  * four is dispersed over every city that holds corpus points and takes
  * the full scan of the cached corpus. */
final class KnnService extends Workload {
  val CorpusIds: Long = 250000L
  val Corpus: Long = CorpusIds / 100 * 80
  /** Cities whose cluster holds corpus points. The generator sends
    * clustered ids with id % 5 >= 2 to city id % 40 and the rest to the
    * Paris cluster (cities 0-3), so outside Paris only cities with
    * c % 5 >= 2 have points. */
  val LocalCities: Array[Int] = (4 until 40).filter(_ % 5 >= 2).toArray
  val PopulatedCities: Array[Int] = (0 until 4).toArray ++ LocalCities
  val Queries = 200
  val K = 10
  val Res = 8
  /** Localized batches must find every neighbour within this distance of
    * its query: the queries sit inside a city cluster, so a larger
    * distance means the scan selected rows outside the intended region. */
  val LocalMaxDistM = 20000.0

  private var corpus: Knn.PreparedCorpus = _
  private var corpusRoot: Path = _
  private var corpusLocal: Array[(Long, Double, Double)] = _
  private var seed = 0L
  private var rounds = 0
  val buildS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val firstOfKind = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Array[(Long, Long, Double, Long)])]

  def batchItems: Long = Queries

  private def corpusFrom: Long = Synth.slot(seed) + 30L * 1000 * 1000

  /** The generator's city-cluster points (ids with id % 100 < 80): a
    * corpus of places in cities. `Corpus` of them, from `CorpusIds` ids. */
  private def corpusPoints(ctx: Ctx): DataFrame =
    Synth.points(ctx.spark, corpusFrom, CorpusIds)
      .filter(col("page_id") % 100 < 80)
      .select(col("page_id").as("id"), col("lat"), col("lng"))

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    rounds += 1
    corpusRoot = ctx.runDir.resolve(s"knn-corpus-$rounds")
    val pts = corpusPoints(ctx)
    val t0 = System.nanoTime()
    corpus = ctx.span("knn.prepare_corpus") {
      Knn.prepareCorpus(ctx.spark, pts, res = Res, maxRounds = 3,
        root = corpusRoot.toString)
    }
    buildS += (System.nanoTime() - t0) / 1e9
    // Warm-up: one untraced batch of each kind; the dispersed one, last,
    // fills the cache of the full corpus scan.
    ctx.untraced { op(ctx, -4); op(ctx, -3) }
  }

  /** Batch kind: op 1 of every 4 is dispersed, the rest localized. Input 1
    * comes early so that even a short traced run (which runs each input
    * twice) times both sides of the prune decision. */
  private def kind(i: Int): String = if (Math.floorMod(i, 4) == 1) "dispersed" else "local"

  private def queries(ctx: Ctx, i: Int): (DataFrame, Int) = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
    val city = LocalCities(rnd.nextInt(LocalCities.length))
    val rows = (0 until Queries).map { q =>
      val c = if (kind(i) == "local") city
              else PopulatedCities(rnd.nextInt(PopulatedCities.length))
      (q.toLong, Pages.CityLat(c) + (rnd.nextDouble() - 0.5) * 0.2,
        Pages.CityLng(c) + (rnd.nextDouble() - 0.5) * 0.2)
    }
    val spark = ctx.spark
    import spark.implicits._
    (rows.toDF("qid", "lat", "lng"), city)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val (qs, city) = queries(ctx, i)
    val rows = ctx.span("knn.batch") {
      val r = Knn.knnJoinPrepared(ctx.spark, corpus, qs, k = K)
      try r.select("qid", "id", "dist_m", "rank").collect()
      finally r.unpersist(blocking = false)
    }
    val res = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val k = kind(i)
    if (i >= 0 && !firstOfKind.contains(k)) firstOfKind(k) = (i, res)
    val check = () =>
      if (res.length != Queries * K)
        Some(s"knn op $i: ${res.length} rows, expected ${Queries * K}")
      else if (k == "local" && res.exists(_._3 > LocalMaxDistM))
        Some(s"knn op $i: localized batch around city $city selected a neighbour " +
          f"${res.map(_._3).max}%.0f m away")
      else None
    OpResult(Queries, k, Synth.digestRows(rows.toSeq), check)
  }

  /** Brute-force haversine top-10 over the whole corpus (ties by id) for
    * 10 sampled queries of the first batch of each kind. */
  def verify(ctx: Ctx, i: Int, r: OpResult): Seq[String] = {
    if (corpusLocal == null)
      corpusLocal = corpusPoints(ctx).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    firstOfKind.toSeq.flatMap { case (k, (op, res)) =>
      val (qs, _) = queries(ctx, op)
      val qrows = qs.collect().map(q => (q.getLong(0), q.getDouble(1), q.getDouble(2)))
      val byQ = res.groupBy(_._1)
      qrows.take(10).flatMap { case (qid, lat, lng) =>
        val want = KnnService.bruteTopK(corpusLocal, lat, lng, K)
        val got = byQ.getOrElse(qid, Array.empty).sortBy(_._4).map(x => (x._2, x._3))
        KnnService.compare(got, want).map(m => s"knn $k op $op query $qid: $m")
      }
    }
  }

  def info(ctx: Ctx): Map[String, Any] = {
    val files = Files.walk(corpusRoot).filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[Path])
    Map("corpus_points" -> Corpus, "queries_per_batch" -> Queries, "k" -> K, "res" -> Res,
      "build_s" -> buildS, "corpus_files" -> files.length,
      "corpus_bytes" -> files.map(Files.size).sum)
  }

  def teardown(ctx: Ctx): Unit = {
    if (corpus != null) corpus.release()
    if (corpusRoot != null) graft.engine.Icelite.drop(corpusRoot.toString)
  }
}

object KnnService {
  val EarthRadiusM = 6371007.180918475

  def haversineM(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val p1 = Math.toRadians(lat1)
    val p2 = Math.toRadians(lat2)
    val dp = Math.sin((p2 - p1) / 2)
    val dl = Math.sin(Math.toRadians(lng2 - lng1) / 2)
    val a = dp * dp + Math.cos(p1) * Math.cos(p2) * dl * dl
    2 * EarthRadiusM * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }

  /** Exact top-(k + 1) (id, metres), nearest first, ties by smaller id. */
  def bruteTopK(pts: Array[(Long, Double, Double)], lat: Double, lng: Double,
                k: Int): Array[(Long, Double)] = {
    val n = k + 1
    val best = new Array[(Long, Double)](n)
    var size = 0
    def before(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
    pts.foreach { p =>
      val c = (p._1, haversineM(lat, lng, p._2, p._3))
      if (size < n || before(c, best(size - 1))) {
        var j = if (size < n) size else n - 1
        while (j > 0 && before(c, best(j - 1))) { best(j) = best(j - 1); j -= 1 }
        best(j) = c
        if (size < n) size += 1
      }
    }
    best.take(size)
  }

  /** Distances must agree rank by rank within 1 mm; ids must agree except
    * where two candidates lie within 1 mm of each other (a tie the two
    * distance formulas may order differently). `want` holds k + 1 entries
    * so a tie at the k-th place is visible. */
  def compare(got: Array[(Long, Double)], want: Array[(Long, Double)]): Option[String] = {
    val k = want.length - 1
    if (got.length != k) return Some(s"${got.length} neighbours, expected $k")
    val tol = 1e-3
    for (j <- 0 until k) {
      if (Math.abs(got(j)._2 - want(j)._2) > tol)
        return Some(f"rank ${j + 1}: ${got(j)._2}%.4f m, brute force ${want(j)._2}%.4f m")
      val tied = want.exists(w => w._1 != want(j)._1 && Math.abs(w._2 - want(j)._2) <= tol)
      if (!tied && got(j)._1 != want(j)._1)
        return Some(s"rank ${j + 1}: id ${got(j)._1}, brute force ${want(j)._1}")
    }
    None
  }
}
