package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.engine.{BoundedCollect, CoverIndex, Pages, SpatialJoin}
import graft.spark.GeoCache
import graft.SparkTestBase.jobsDuring

/** The prepared cover index behind both broadcast PIP joins, the cover
  * memo it tiles through, and the polygon-table broadcast budget. */
class CoverIndexSpec extends AnyFunSuite {
  private def spark: SparkSession = SparkTestBase.spark

  /** A lat/lng box as GeoJSON (degrees). */
  private def box(lat: Double, lng: Double, half: Double): String = {
    val (a, b, c, d) = (lng - half, lat - half, lng + half, lat + half)
    s"""{"type":"Polygon","coordinates":[[[$a,$b],[$c,$b],[$c,$d],[$a,$d],[$a,$b]]]}"""
  }

  /** 200 overlapping boxes around the 40 cities (the geofence shape of
    * the benchmark); `half` makes each spec's content its own. */
  private def fences(half: Double): Seq[(Long, String)] = (0 until 200).map { i =>
    (i.toLong, box(Pages.CityLat(i % 40) + (i / 40) * 0.02,
      Pages.CityLng(i % 40) + (i / 40) * 0.02, half))
  }

  /** 20k city-clustered points at res 9 (the library's geotag formulas). */
  private def points(s: SparkSession): DataFrame =
    s.range(0, 20000, 1, 4).selectExpr("id AS page_id",
      Pages.latSql("id", duck = false) + " AS lat",
      Pages.lngSql("id", duck = false) + " AS lng")
      .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))

  private def polys(shapes: Seq[(Long, String)]): Seq[SpatialJoin.Poly] =
    shapes.map { case (id, js) => SpatialJoin.Poly(id, graft.h3.Geo.parseGeoJson(js)(0)) }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("poly_id", "page_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def brute(pts: DataFrame, shapes: Seq[(Long, String)]): Set[(Long, Long)] =
    pairs(pts.crossJoin(broadcast(table(pts.sparkSession, shapes)))
      .filter(expr("h3_point_in_polygon(lat, lng, geojson)")))

  private def table(s: SparkSession, shapes: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    shapes.toDF("poly_id", "geojson")
  }

  test("cover memo tiles 200 geometries once across two passes") {
    val shapes = fences(0.0271)
    val df = table(spark, shapes)
    val distinct = shapes.map(_._2).distinct.size // co-located cities share a box
    val before = GeoCache.coverBuilds.get
    def tile(): Long = df.select(expr("h3_polygon_to_cells_annotated(geojson, 9)")).count()
    val first = tile()
    assert(GeoCache.coverBuilds.get - before == distinct)
    assert(tile() == first)
    assert(GeoCache.coverBuilds.get - before == distinct, "second pass re-tiled")
  }

  test("a second call on identical content runs no tiling and builds no index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coverindex").toString
    table(spark, fences(0.0333)).write.mode("overwrite").parquet(dir)
    val polyTable = spark.read.parquet(dir)
    val pts = points(spark)
    val b0 = CoverIndex.builds.get
    val first = pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, polyTable, res = 9))
    assert(CoverIndex.builds.get - b0 == 1)
    val (b1, c1) = (CoverIndex.builds.get, GeoCache.coverBuilds.get)
    val (again, jobs) = jobsDuring(spark) {
      SpatialJoin.pipJoinPolygonTable(spark, pts, polyTable, res = 9)
    }
    assert(jobs == 1, s"expected only the polygon-table scan job, got $jobs")
    assert(CoverIndex.builds.get == b1 && GeoCache.coverBuilds.get == c1)
    assert(pairs(again) == first && first.nonEmpty)

    val shapes = Seq(7L -> box(48.86, 2.35, 0.0417), 8L -> box(37.77, -122.42, 0.0417))
    val viaSeq = pairs(SpatialJoin.pipJoin(spark, pts, polys(shapes), res = 9))
    val b2 = CoverIndex.builds.get
    // Equal content in new objects is the same key.
    val (seqAgain, seqJobs) = jobsDuring(spark)(SpatialJoin.pipJoin(spark, pts, polys(shapes), res = 9))
    assert(seqJobs == 0 && CoverIndex.builds.get == b2)
    assert(pairs(seqAgain) == viaSeq && viaSeq.nonEmpty)
  }

  test("editing one polygon's GeoJSON rebuilds the index and equals brute force") {
    val pts = points(spark)
    val v1 = fences(0.0389)
    val v2 = v1.updated(7, (7L, box(Pages.CityLat(7) + 0.031, Pages.CityLng(7) - 0.017, 0.0611)))
    assert(pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, table(spark, v1), res = 9)) == brute(pts, v1))
    val (b0, c0) = (CoverIndex.builds.get, GeoCache.coverBuilds.get)
    val edited = pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, table(spark, v2), res = 9))
    assert(CoverIndex.builds.get - b0 == 1, "edited content must rebuild the index")
    assert(GeoCache.coverBuilds.get - c0 == 1, "only the edited polygon is re-tiled")
    assert(edited == brute(pts, v2))
    assert(edited.exists(_._1 == 7L))
  }

  test("overlapping polygons give the same rows as brute force and as the shuffle path") {
    val pts = points(spark)
    val shapes = fences(0.0457)
    val expected = brute(pts, shapes)
    // Overlap is exercised: some point lies in several polygons.
    assert(expected.groupBy(_._2).exists(_._2.size > 1))
    val geo = polys(shapes)
    assert(pairs(SpatialJoin.pipJoin(spark, pts, geo, res = 9)) == expected)
    assert(pairs(SpatialJoin.pipJoin(spark, pts, geo, res = 9, broadcastCover = false)) == expected)
    val t = table(spark, shapes)
    assert(pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9)) == expected)
    assert(pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9,
      broadcastPolygons = false)) == expected)
  }

  test("a row without a coordinate joins no polygon on any of the four paths") {
    val s = spark
    import s.implicits._
    val js = scala.io.Source.fromURL(getClass.getResource("/h3/shapes/Paris.geojson")).mkString
    val paris = polys(Seq(1L -> js))
    // A res-9 cell under a full cover cell: the full-cell accept needs no
    // coordinate, so only the null rule keeps rows 2-4 out.
    val full = SpatialJoin.cover(paris, 9).collectFirst { case (_, c, _, true) => c }.get
    val cell = graft.h3.H3.cellToCenterChild(full, 9)
    val Array(lat, lng) = graft.h3.H3.cellToLatLng(cell)
    val pts = Seq[(Long, Option[Double], Option[Double], Long)]((1L, Some(lat), Some(lng), cell),
      (2L, None, None, cell), (3L, None, Some(lng), cell), (4L, Some(lat), None, cell))
      .toDF("page_id", "lat", "lng", "cell9")
    val t = table(spark, Seq(1L -> js))
    val wrong = Seq(
        "broadcast" -> SpatialJoin.pipJoin(spark, pts, paris, res = 9),
        "shuffle" -> SpatialJoin.pipJoin(spark, pts, paris, res = 9, broadcastCover = false),
        "table" -> SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9),
        "table shuffle" -> SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9,
          broadcastPolygons = false))
      .map { case (path, df) => path -> pairs(df) }.filter(_._2 != Set(1L -> 1L))
    assert(wrong.isEmpty)
  }

  test("the shuffle path joins against the index a broadcast call prepared") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    def localScans(p: SparkPlan): Int = (p match {
      case a: AdaptiveSparkPlanExec => localScans(a.executedPlan)
      case q: QueryStageExec => localScans(q.plan)
      case _: LocalTableScanExec => 1
      case _ => 0
    }) + p.children.map(localScans).sum
    val pts = points(spark)
    val geo = polys(fences(0.0593).take(40))
    val viaIndex = pairs(SpatialJoin.pipJoin(spark, pts, geo, res = 9))
    val b0 = CoverIndex.builds.get
    val shuffled = SpatialJoin.pipJoin(spark, pts, geo, res = 9, broadcastCover = false)
    assert(pairs(shuffled) == viaIndex && viaIndex.nonEmpty)
    assert(CoverIndex.builds.get == b0, "the shuffle call built an index")
    assert(localScans(shuffled.queryExecution.executedPlan) == 0, "cover rows shipped from the driver")
  }

  /** Every node of an executed plan, through adaptive stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => Seq(p)
  }) ++ p.children.flatMap(nodes)

  test("the salted shuffle path sort-merge joins at the default broadcast threshold") {
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold == 10L * 1024 * 1024)
    val pts = points(spark)
    val geo = polys(fences(0.0719).take(40))
    val shuffled = SpatialJoin.pipJoin(spark, pts, geo, res = 9, broadcastCover = false)
    val rows = shuffled.collect()
      .map(r => (r.getAs[Long]("poly_id"), r.getAs[Long]("page_id"))).toSet
    val plan = shuffled.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val joins = nodes(plan)
    assert(joins.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !joins.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan.toString)
    assert(rows.nonEmpty && rows == pairs(SpatialJoin.pipJoin(spark, pts, geo, res = 9)))
  }

  test("the table shuffle path sort-merge joins both joins at the default broadcast threshold") {
    assert(spark.sessionState.conf.autoBroadcastJoinThreshold == 10L * 1024 * 1024)
    val pts = points(spark)
    val t = table(spark, fences(0.0833).take(40))
    val shuffled = SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9, broadcastPolygons = false)
    val rows = shuffled.collect()
      .map(r => (r.getAs[Long]("poly_id"), r.getAs[Long]("page_id"))).toSet
    val plan = shuffled.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val joins = nodes(plan)
    // The cover join, then the geometry join-back of the boundary rows.
    assert(joins.count(_.isInstanceOf[SortMergeJoinExec]) >= 2 &&
      !joins.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan.toString)
    assert(rows.nonEmpty && rows == pairs(SpatialJoin.pipJoinPolygonTable(spark, pts, t, res = 9)))
  }

  test("a polygon table past the broadcast budget takes the shuffle path with equal rows") {
    def probesIndex(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("h3_cover_probe")
    val pts = points(spark)
    val shapes = fences(0.0503)
    val t = table(spark, shapes)
    val bytes = shapes.map(s => CoverIndex.driverBytes(
      org.apache.spark.unsafe.types.UTF8String.fromString(s._2), 9)).sum
    val atCap = SpatialJoin.polygonTableJoin(spark, pts, t, 9, "cell9", maxBroadcastBytes = bytes)
    val pastCap = SpatialJoin.polygonTableJoin(spark, pts, t, 9, "cell9", maxBroadcastBytes = bytes - 1)
    assert(probesIndex(atCap) && !probesIndex(pastCap))
    assert(pairs(pastCap) == pairs(atCap) && pairs(atCap).nonEmpty)
  }

  test("the bounded collect keeps at most budget rows over all partitions") {
    val df = spark.range(0, 40, 1, 8).toDF("id") // 8 partitions of 5 rows
    val (over, jobs) = jobsDuring(spark)(BoundedCollect.rows(df, 10)(_ => 1L))
    assert(over.isEmpty && jobs == 1)
    assert(BoundedCollect.keptPeak <= 11, s"driver kept ${BoundedCollect.keptPeak} rows")
    assert(BoundedCollect.rows(df, 39)(_ => 1L).isEmpty)
    assert(BoundedCollect.rows(df, 40)(_ => 1L).map(_.map(_.getLong(0)).sorted.toSeq)
      .contains((0L until 40L).toSeq))
  }

  test("the polygon-table budget stays within the session's driver result limit") {
    val limit = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    assert(limit > 0)
    assert(CoverIndex.maxDriverBytes(spark) <= limit / 2,
      s"budget ${CoverIndex.maxDriverBytes(spark)} vs maxResultSize $limit")
  }

  test("stopping and restarting the SparkSession never serves a stale broadcast") {
    val shapes = fences(0.0547)
    val geo = polys(shapes.take(40))
    val before = spark
    val viaTable = pairs(SpatialJoin.pipJoinPolygonTable(before, points(before),
      table(before, shapes), res = 9))
    val viaSeq = pairs(SpatialJoin.pipJoin(before, points(before), geo, res = 9))
    before.stop()
    val after = spark
    assert(after.sparkContext ne before.sparkContext)
    val b0 = CoverIndex.builds.get
    assert(pairs(SpatialJoin.pipJoinPolygonTable(after, points(after),
      table(after, shapes), res = 9)) == viaTable)
    assert(pairs(SpatialJoin.pipJoin(after, points(after), geo, res = 9)) == viaSeq)
    assert(CoverIndex.builds.get - b0 == 2, "each index is rebuilt in the new context")
    SpatialJoin.pipJoin(after, points(after), geo, res = 9)
    assert(CoverIndex.builds.get - b0 == 2, "and then reused there")
  }
}
