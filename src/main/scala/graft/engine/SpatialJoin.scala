package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

import graft.h3.{Geo, H3}
import graft.spark.H3Functions

/** H3-bucketed point-in-polygon spatial join.
  *
  * Strategy: polygons are tiled into an annotated cover (fully-contained
  * cells and boundary cells, at each polygon's adaptive cover resolution).
  * A probe row matches a cover cell through its cell's bit-ancestor at
  * each cover resolution. Rows landing on a fully-contained cover cell are
  * accepted without further work; rows on boundary cells pass through an
  * exact ray-cast PIP filter.
  *
  * Broadcast paths (the default for both call shapes): the polygon set is
  * tiled ONCE into a prepared [[CoverIndex]] (sorted cover cells probed
  * by binary search, flags, geometry) and broadcast once; later calls on
  * the same content in the same SparkContext reuse it, with no tiling and
  * no new broadcast. The probe, the explode of its matches and the exact
  * filter all run in the probe side's own codegen stage.
  *
  * Shuffle paths, for covers too large to broadcast: `pipJoin(...,
  * broadcastCover = false)` shuffles both sides on the cover cell, salting
  * each probe row into one of `saltBuckets` buckets (the cover side is
  * replicated per bucket) so a hot cell spreads over that many reducers;
  * AQE's skew join handles residual imbalance.
  * `pipJoinPolygonTable(..., broadcastPolygons = false)` — also taken for
  * a table too large for the driver ([[CoverIndex.maxDriverBytes]]) —
  * tiles the table on executors.
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
    * coverRes), so the probe side computes one ancestor per distinct
    * coverRes. */
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
    *                  [[CoverIndex]] of `polys`; false shuffles both sides
    *                  on the cover cell, salted into `saltBuckets`.
    */
  def pipJoin(spark: SparkSession, points: DataFrame, polys: Seq[Poly],
              res: Int, cellCol: String = "cell9",
              broadcastCover: Boolean = true,
              saltBuckets: Int = 8): DataFrame = {
    H3Functions.register(spark)
    if (broadcastCover)
      return CoverIndex.join(points, CoverIndex.forPolys(spark, polys, res), cellCol)
    import spark.implicits._

    val coverRows = cover(polys, res)
    val coverResolutions = coverRows.map(_._3).distinct.sorted

    val coverDf = coverRows.toDF("poly_id", "cover_cell", "cover_res", "full")

    // Probe ancestors, one cheap bit-parent per distinct cover resolution.
    //
    // CORRECTNESS: H3 children protrude beyond their parents, so a point's
    // bit-ancestor can differ from its geometric cell at a coarse cover
    // resolution (observed ~1 per 10^6 matched rows as a lost inside point
    // and a falsely full-accepted outside point). Rather than computing
    // geometric cells per point (a full latLngToCell per cover resolution
    // on the hot path), coarse covers are BUFFERED by one ring for
    // completeness and their full flags ERODED by one ring for sound
    // acceptance (Geo.bufferedAnnotatedCover) — the probe stays a 3-bit-op
    // parent truncation. The broadcast CoverIndex probes the same keys.
    // Single cover resolution (the common case — all polygons fit the cap
    // at one ladder res): no Generate node, the probe key is one bit-op
    // column.
    val probe =
      if (coverResolutions.size == 1) {
        points.withColumn("__anc",
          expr(s"h3_cell_to_parent($cellCol, ${coverResolutions.head})"))
      } else {
        val ancestors = array(coverResolutions.map { r =>
          expr(s"h3_cell_to_parent($cellCol, $r)")
        }: _*)
        points.withColumn("__anc", explode(ancestors))
      }

    // Hot probe cells (city-cluster skew) are salted: the cover side is
    // replicated per salt bucket, the probe side picks a deterministic
    // per-row salt, so one hot cover cell spreads over `saltBuckets`
    // reducers. AQE's skew-join is the backstop for residual imbalance.
    val saltedCover = coverDf.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    val saltedProbe = probe.withColumn("__salt",
      pmod(xxhash64(col(cellCol), col("lat"), col("lng")),
        lit(saltBuckets)).cast("int"))
    val joined = saltedProbe.join(saltedCover,
      saltedProbe("__anc") === saltedCover("cover_cell") &&
        saltedProbe("__salt") === saltedCover("__salt"))
      .drop("__salt")

    val polyMap = polys.map(p => p.id -> p.geo).toMap
    val pip = org.apache.spark.sql.GraftBridge.column(PointInPolygonSet(
      org.apache.spark.sql.GraftBridge.expression(col("poly_id")),
      org.apache.spark.sql.GraftBridge.expression(col("lat")),
      org.apache.spark.sql.GraftBridge.expression(col("lng")),
      polyMap))

    joined
      .filter(col("full") || pip)
      .drop("__anc", "cover_cell", "cover_res", "full")
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
    val covers = polygons
      .select(col("poly_id"),
        expr(s"h3_polygon_to_cells_annotated(geojson, $res)"))
      .select("poly_id", "cell", "full")
    val ladder = polygons
      .filter(col("geojson").isNotNull)
      .select(expr(s"h3_cover_res(geojson, $res)").as("r"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (ladder.isEmpty)
      return points.limit(0).withColumn("poly_id", lit(0L))
    def ancAt(r: Int): Column =
      if (r == res) col(cellCol) else expr(s"h3_cell_to_parent($cellCol, $r)")
    // Single present resolution (the common case): one bit-op column, no
    // Generate node.
    val probe =
      if (ladder.size == 1) points.withColumn("__anc", ancAt(ladder.head))
      else points.withColumn("__anc", explode(array(ladder.map(ancAt): _*)))
    val geo = polygons.select(col("poly_id"), col("geojson"))
    val cand = probe.join(covers, col("__anc") === covers("cell"))
    val fullHits = cand.filter(col("full")).drop("__anc", "cell", "full")
    val boundary = cand.filter(!col("full"))
      .join(geo, "poly_id")
      .filter(expr("h3_point_in_polygon(lat, lng, geojson)"))
      .drop("__anc", "cell", "full", "geojson")
    fullHits.unionByName(boundary)
  }
}

/** Serializable PIP tester shipped into generated code via a plan
  * reference object (keeps whole-stage codegen intact). */
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

/** Exact ray-cast point-in-polygon test against a broadcast polygon map.
  * Only evaluated for probe rows landing on boundary cover cells; fully
  * codegen-compatible so the join stage stays inside WSCG. */
case class PointInPolygonSet(polyId: Expression, lat: Expression, lng: Expression,
                             polys: Map[Long, Geo.GeoPolygon])
    extends TernaryExpression {
  override def first: Expression = polyId
  override def second: Expression = lat
  override def third: Expression = lng
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3_point_in_polygon"

  @transient private lazy val tester = new PipTester(polys)

  override protected def nullSafeEval(id: Any, la: Any, ln: Any): Any =
    tester.test(id.asInstanceOf[Long], la.asInstanceOf[Double], ln.asInstanceOf[Double])

  override def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                         ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("pipTester", new PipTester(polys),
      classOf[PipTester].getName)
    nullSafeCodeGen(ctx, ev, (id, la, ln) =>
      s"${ev.value} = $ref.test($id, $la, $ln);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(polyId = f, lat = s, lng = t)
}
