package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.h3.{Geo, H3}
import graft.spark.H3Functions

/** H3-bucketed point-in-polygon spatial join.
  *
  * Polygons are tiled into an annotated cover: fully contained cells and
  * boundary cells, at each polygon's adaptive cover resolution. A probe
  * row matches a cover cell through its cell's bit-ancestor at each cover
  * resolution. Rows on a fully contained cell are accepted outright; rows
  * on a boundary cell take the exact ray cast. A row without `lat` or
  * `lng` joins no polygon.
  *
  * One prepared index: a polygon set that reaches the driver (a
  * `Seq[Poly]`, or a polygon table within [[CoverIndex.maxDriverBytes]])
  * is tiled ONCE into a [[CoverIndex]] (sorted cover cells, flags,
  * geometry) and broadcast once; later calls on the same content in the
  * same SparkContext reuse it, with no tiling and no new broadcast. It is
  * reached in one of two ways:
  *  - a map-side probe (the default): the binary-search probe, the explode
  *    of its matches and the exact filter run in the probe side's own
  *    codegen stage ([[CoverIndex.join]]);
  *  - a salted shuffle (`pipJoin(..., broadcastCover = false)`): each
  *    probe row takes one of `saltBuckets` salts and the index entries are
  *    replicated per salt, so a hot cell spreads over that many reducers;
  *    AQE's skew join handles residual imbalance ([[CoverIndex.shuffleJoin]]).
  *
  * The distributed table path (`pipJoinPolygonTable(...,
  * broadcastPolygons = false)`, also taken for a table too large for the
  * driver) tiles the table on executors and never collects it.
  */
object SpatialJoin {

  /** One polygon with an id; rings in radians. */
  final case class Poly(id: Long, geo: Geo.GeoPolygon)

  /** Maximum cells we allow in one polygon's (uncompacted) cover — the
    * single sizing policy shared with the polygon-TABLE path
    * ([[Geo.DefaultMaxCoverCells]]): the cover resolution per polygon
    * adapts so this bound holds, keeping the broadcast small regardless of
    * polygon size. Boundary cells at a coarser cover resolution simply
    * shift more rows to the exact-PIP filter, which stays correct. */
  def MaxCoverCells: Long = Geo.DefaultMaxCoverCells

  /** Cover resolution for one polygon: the finest ladder res <= pointRes
    * whose size estimate stays under [[MaxCoverCells]] — the same policy
    * ([[Geo.adaptiveCoverRes]]) the distributed polygon-table generator
    * applies, so broadcast and table paths pick identical covers. */
  def coverResFor(poly: Geo.GeoPolygon, pointRes: Int): Int =
    Geo.adaptiveCoverRes(Array(poly), pointRes)

  /** Annotated cover rows (polyId, cell, cellRes, full) for a set of
    * polygons, each polygon's cover at a single resolution (its adaptive
    * coverRes): the entries a [[CoverIndex]] of `polys` holds, as rows. */
  def cover(polys: Seq[Poly], res: Int): Seq[(Long, Long, Int, Boolean)] =
    polys.flatMap { p =>
      // Buffered + eroded cover so the cheap bit-parent probe key stays
      // exact under child protrusion (see Geo.bufferedAnnotatedCover).
      val (cells, flags) = Geo.adaptiveAnnotatedCover(Array(p.geo), res)
      cells.indices.map(i => (p.id, cells(i), H3.getResolution(cells(i)), flags(i)))
    }

  /** PIP join: returns `points` columns + `poly_id`, one row per
    * (point, containing polygon) pair.
    *
    * @param points    probe side; must contain `lat`, `lng` (degrees) and a
    *                  `cell` column at resolution `res`.
    * @param polys     polygon set.
    * @param res       probe/boundary cell resolution.
    * @param broadcastCover true (default) probes the broadcast
    *                  [[CoverIndex]] of `polys` map-side; false shuffle-joins
    *                  the points to it, salted into `saltBuckets`.
    */
  def pipJoin(spark: SparkSession, points: DataFrame, polys: Seq[Poly],
              res: Int, cellCol: String = "cell9",
              broadcastCover: Boolean = true,
              saltBuckets: Int = 8): DataFrame = {
    H3Functions.register(spark)
    val index = CoverIndex.forPolys(spark, polys, res)
    if (broadcastCover) CoverIndex.join(points, index, cellCol)
    else CoverIndex.shuffleJoin(points, index, cellCol, res, saltBuckets)
  }

  /** Loads the reference shape fixtures as polygons (degrees GeoJSON). */
  def loadShape(path: String): Array[Geo.GeoPolygon] =
    Geo.parseGeoJson(scala.io.Source.fromFile(path).mkString)

  /** PIP join against a polygon TABLE — the shape for thousands/millions
    * of geofences, where a driver-side Seq[Poly] cannot hold them.
    * Returns `poly_id` + `points` columns, one row per (point, containing
    * polygon) pair.
    *
    * Broadcast path: ONE scan ([[BoundedCollect.rows]]) collects
    * (poly_id, geojson) while the polygons' estimated driver bytes
    * (GeoJSON plus cover size hints, [[CoverIndex.driverBytes]]) stay
    * within [[CoverIndex.maxDriverBytes]]. Their [[CoverIndex]] is prepared from
    * the rows (tiled on the driver's cores through the per-JVM cover memo,
    * or reused as is when the content is unchanged) and probed in the
    * points' own stage; an index over [[CoverIndex.MaxRegistryCells]] is
    * rebuilt on every call. Past the budget, and for
    * `broadcastPolygons = false`, the shuffle path: covers are computed ON
    * EXECUTORS by the annotated generator; the candidate join carries
    * (poly_id, cell, full) ids only; rows on fully contained cells are
    * accepted outright, and the geometry string joins back exactly once —
    * only for boundary-cell rows — before the exact ray-cast filter
    * (memoized parse per executor).
    *
    * @param polygons columns: poly_id (long), geojson (string) */
  def pipJoinPolygonTable(spark: SparkSession, points: DataFrame,
                          polygons: DataFrame, res: Int,
                          cellCol: String = "cell9",
                          broadcastPolygons: Boolean = true): DataFrame =
    polygonTableJoin(spark, points, polygons, res, cellCol,
      if (broadcastPolygons) CoverIndex.maxDriverBytes(spark) else -1L)

  /** [[pipJoinPolygonTable]] with the broadcast budget (summed
    * [[CoverIndex.driverBytes]]) as a parameter; a negative budget always
    * shuffles. */
  private[graft] def polygonTableJoin(spark: SparkSession, points: DataFrame,
                                      polygons: DataFrame, res: Int, cellCol: String,
                                      maxBroadcastBytes: Long): DataFrame = {
    H3Functions.register(spark)
    BoundedCollect.rows(polygons
        .filter(col("poly_id").isNotNull && col("geojson").isNotNull)
        .select("poly_id", "geojson"), maxBroadcastBytes)(
        r => CoverIndex.driverBytes(r.getUTF8String(1), res)) match {
      case Some(rs) =>
        val index = CoverIndex.forGeoJson(spark,
          rs.map(r => (r.getLong(0), r.getUTF8String(1).toString)).toSeq, res)
        return CoverIndex.join(points, index, cellCol, idFirst = true)
      case None =>
    }
    // Huge polygon tables (too big to collect/broadcast): distributed
    // covers via the generator, shuffled id-only candidate join, full
    // cells accepted outright, geometry shuffled onto boundary rows
    // only. The ladder probe is a separate size-hint-only scan
    // (h3_cover_res, no tiling) — 3 passes over the table total, the
    // price of never materializing it on the driver. Each polygon adapts
    // its cover resolution down Geo.coverLadder(res), emitting a
    // protrusion-robust cover so the probe can use cheap bit-parent keys
    // at every ladder resolution; cell values at different resolutions
    // never collide (the res nibble differs), so one join key column
    // serves the whole ladder.
    // Both joins are hinted `shuffle_merge`: at Spark's default
    // auto-broadcast threshold the planner would otherwise broadcast the
    // covers and the geometries, and this path would shuffle nothing.
    val covers = polygons
      .select(col("poly_id"),
        expr(s"h3_polygon_to_cells_annotated(geojson, $res)"))
      .select("poly_id", "cell", "full")
      .hint("shuffle_merge")
    val ladder = polygons
      .filter(col("geojson").isNotNull)
      .select(expr(s"h3_cover_res(geojson, $res)").as("r"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (ladder.isEmpty)
      return points.limit(0).withColumn("poly_id", lit(0L))
    val probe = CoverIndex.ancestors(points, cellCol, res, ladder)
    val geo = polygons.select(col("poly_id"), col("geojson")).hint("shuffle_merge")
    val cand = probe.join(covers, col("__anc") === covers("cell"))
    val fullHits = cand.filter(col("full")).drop("__anc", "cell", "full")
    val boundary = cand.filter(!col("full"))
      .join(geo, "poly_id")
      .filter(expr("h3_point_in_polygon(lat, lng, geojson)"))
      .drop("__anc", "cell", "full", "geojson")
    fullHits.unionByName(boundary)
  }
}

/** Exact ray-cast test of a point against one polygon of a set. The joins
  * test through [[CoverIndex.accept]]; this is the kernel that perfbench's
  * `h3.pip_raycast_ns` times, so it stays as the measured layer. */
final class PipTester(polys: Map[Long, Geo.GeoPolygon]) extends Serializable {
  private val ids: Array[Long] = polys.keys.toArray.sorted
  private val geos: Array[Geo.GeoPolygon] = ids.map(polys)

  def test(polyId: Long, latDeg: Double, lngDeg: Double): Boolean = {
    val idx = java.util.Arrays.binarySearch(ids, polyId)
    if (idx < 0) false
    else geos(idx).containsCentroid(
      Math.toRadians(latDeg), Math.toRadians(lngDeg))
  }
}
