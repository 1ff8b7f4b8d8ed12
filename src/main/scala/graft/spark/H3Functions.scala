package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Registration of the H3 function family into Spark's FunctionRegistry so
  * every function is usable from SQL, the Column DSL (via call_function),
  * and benefits from whole-stage codegen. */
object H3Functions {
  import SqlFunctions._
  import NullIf._

  type Builder = SqlFunctions.Builder

  private val LatLng = struct("lat" -> DoubleType, "lng" -> DoubleType)

  val all: Seq[(String, Builder)] = Seq(
    kernel("h3_latlng_to_cell", "graft.h3.H3.latLngToCell", LongType, Zero)(dbl, dbl, int),
    kernel("h3_cell_to_parent", "graft.h3.H3.cellToParent", LongType, Zero)(lng, int),
    kernel("h3_cell_to_center_child", "graft.h3.H3.cellToCenterChild", LongType, Zero)(lng, int),
    kernel("h3_cell_to_children_size", "graft.h3.H3.cellToChildrenSize", LongType)(lng, int),
    kernel("h3_cell_to_child_pos", "graft.h3.H3.cellToChildPos", LongType, Negative)(lng, int),
    kernel("h3_child_pos_to_cell", "graft.spark.SparkKernel.childPosToCell", LongType, Zero)(lng, lng, int),
    kernel("h3_get_resolution", "graft.h3.H3.getResolution", IntegerType)(lng),
    kernel("h3_get_base_cell", "graft.h3.H3.getBaseCell", IntegerType)(lng),
    kernel("h3_is_valid_cell", "graft.h3.H3.isValidCell", BooleanType)(lng),
    kernel("h3_is_pentagon", "graft.h3.H3.isPentagon", BooleanType)(lng),
    kernel("h3_cell_to_latlng", "graft.spark.SparkKernel.cellToLatLngRow", LatLng)(lng),
    kernel("h3_cell_to_lat", "graft.h3.H3.cellToLat", DoubleType)(lng),
    kernel("h3_cell_to_lng", "graft.h3.H3.cellToLng", DoubleType)(lng),
    kernel("h3_cell_to_boundary", "graft.spark.SparkKernel.boundaryArray", arr(LatLng))(lng),
    kernel("h3_cell_area_rads2", "graft.h3.H3.cellAreaRads2", DoubleType)(lng),
    kernel("h3_cell_area_km2", "graft.h3.H3.cellAreaKm2", DoubleType)(lng),
    kernel("h3_grid_distance", "graft.h3.H3.gridDistance", LongType, Negative)(lng, lng),
    kernel("h3_are_neighbor_cells", "graft.h3.H3.areNeighborCells", BooleanType)(lng, lng),
    kernel("h3_great_circle_distance_m", "graft.h3.H3.greatCircleDistanceM", DoubleType)(dbl, dbl, dbl, dbl),
    kernel("h3_great_circle_distance_km", "graft.h3.H3.greatCircleDistanceKm", DoubleType)(dbl, dbl, dbl, dbl),
    kernel("h3_great_circle_distance_rads", "graft.h3.H3.greatCircleDistanceRads", DoubleType)(dbl, dbl, dbl, dbl),
    kernel("h3_get_hexagon_area_avg_rads2", "graft.spark.EdgeKernel.hexAreaAvgRads2", DoubleType)(int),
    kernel("h3_res0_cell_count", "graft.spark.EdgeKernel.res0CellCount", LongType)(int),
    kernel("h3_to_string", "graft.spark.SparkKernel.cellToString", StringType)(lng),
    kernel("h3_from_string", "graft.spark.SparkKernel.stringToCell", LongType, Zero)(str),
    kernel("h3_compact_cells", "graft.spark.SparkKernel.compact", arr(LongType))(lngArr),
    kernel("h3_uncompact_cells", "graft.spark.SparkKernel.uncompact", arr(LongType))(lngArr, int),
    fn("h3_grid_disk", lng, int)(es => GridDiskGen(es(0), es(1))),
    fn("h3_grid_disk_distances", lng, int)(es => GridDiskDistancesGen(es(0), es(1))),
    fn("h3_grid_ring", lng, int)(es => GridRingGen(es(0), es(1))),
    fn("h3_cell_to_children", lng, int)(es => CellToChildrenGen(es(0), es(1))),
    fn("h3_grid_path_cells", lng, lng)(es => GridPathCellsGen(es(0), es(1))),
    fn("h3_polygon_to_cells", str, int, int)(es => PolygonToCellsGen(es(0), es(1), es(2))),
    fn("h3_polygon_to_cells_annotated", str, int)(es => PolygonToCellsAnnotatedGen(es(0), es(1))),
    // Cover resolution the annotated cover picks for a geometry at probe
    // res: a size hint, no tiling.
    kernel("h3_cover_res", "graft.spark.GeoCache.coverRes", IntegerType)(str, int),
    // Exact ray-cast point-in-polygon over a GeoJSON column (geometry
    // parse memoized per executor).
    kernel("h3_point_in_polygon", "graft.spark.GeoCache.contains", BooleanType)(dbl, dbl, str),
    // Directed edges.
    kernel("h3_cells_to_directed_edge", "graft.h3.Edges.cellsToDirectedEdge", LongType, Zero)(lng, lng),
    fn("h3_origin_to_directed_edges", lng)(es => OriginToEdgesGen(es(0))),
    fn("h3_cell_boundary_edges", lng, int)(es => CellBoundaryEdgesGen(es(0), es(1))),
    kernel("h3_get_directed_edge_origin", "graft.h3.Edges.edgeOrigin", LongType, Zero)(lng),
    kernel("h3_get_directed_edge_destination", "graft.h3.Edges.edgeDestination", LongType, Zero)(lng),
    kernel("h3_directed_edge_reverse", "graft.h3.Edges.edgeReverse", LongType, Zero)(lng),
    kernel("h3_is_valid_directed_edge", "graft.h3.Edges.isValidDirectedEdge", BooleanType)(lng),
    kernel("h3_directed_edge_to_boundary", "graft.spark.EdgeKernel.edgeBoundaryArray", arr(LatLng))(lng),
    kernel("h3_directed_edge_to_cells", "graft.spark.EdgeKernel.edgeCellsArray", arr(LongType))(lng),
    kernel("h3_edge_length_rads", "graft.h3.Edges.edgeLengthRads", DoubleType)(lng),
    kernel("h3_edge_length_km", "graft.h3.Edges.edgeLengthKm", DoubleType)(lng),
    kernel("h3_edge_length_m", "graft.h3.Edges.edgeLengthM", DoubleType)(lng),
    // Vertexes.
    kernel("h3_cell_to_vertex", "graft.h3.Edges.cellToVertex", LongType, Zero)(lng, int),
    fn("h3_cell_to_vertexes", lng)(es => CellToVertexesGen(es(0))),
    kernel("h3_vertex_to_latlng", "graft.spark.EdgeKernel.vertexLatLngRow", LatLng)(lng),
    kernel("h3_get_vertex_owner", "graft.h3.Edges.vertexOwner", LongType, Zero)(lng),
    kernel("h3_is_valid_vertex", "graft.h3.Edges.isValidVertex", BooleanType)(lng),
    kernel("h3_is_valid_index", "graft.h3.Edges.isValidIndex", BooleanType)(lng),
    // Misc / inspection / tables.
    kernel("h3_cell_area_m2", "graft.h3.H3.cellAreaM2", DoubleType)(lng),
    kernel("h3_get_index_digit", "graft.spark.EdgeKernel.indexDigit", IntegerType, Negative)(lng, int),
    kernel("h3_get_num_cells", "graft.spark.EdgeKernel.numCells", LongType)(int),
    kernel("h3_get_hexagon_area_avg_km2", "graft.spark.EdgeKernel.hexAreaAvgKm2", DoubleType)(int),
    kernel("h3_get_hexagon_edge_length_avg_km", "graft.spark.EdgeKernel.edgeLengthAvgKm", DoubleType)(int),
    kernel("h3_is_res_class_iii", "graft.spark.EdgeKernel.isResClass3", BooleanType)(int),
    kernel("h3_max_grid_disk_size", "graft.h3.H3.maxGridDiskSize", LongType)(int),
    kernel("h3_max_grid_ring_size", "graft.spark.EdgeKernel.maxGridRingSize", LongType)(int),
    kernel("h3_pentagon_count", "graft.spark.EdgeKernel.pentagonCount", LongType)(int),
    kernel("h3_grid_path_cells_size", "graft.spark.EdgeKernel.gridPathSize", LongType, Negative)(lng, lng),
    kernel("h3_uncompact_size", "graft.spark.EdgeKernel.uncompactSize", LongType)(lngArr, int),
    fn("h3_get_res0_cells")(_ => Res0CellsGen()),
    fn("h3_get_pentagons", int)(es => PentagonsGen(es(0))),
    kernel("h3_cell_to_local_ij", "graft.spark.EdgeKernel.localIj",
      struct("i" -> IntegerType, "j" -> IntegerType), NullRef)(lng, lng),
    kernel("h3_cell_to_local_ij_anchored", "graft.spark.EdgeKernel.localIjAnchored",
      struct("anchor" -> LongType, "i" -> IntegerType, "j" -> IntegerType), NullRef)(lng, lng),
    kernel("h3_local_ij_to_cell", "graft.h3.Edges.localIjToCell", LongType, Zero)(lng, int, int),
    kernel("h3_get_icosahedron_faces", "graft.spark.EdgeKernel.icosahedronFacesArr", arr(IntegerType))(lng),
    kernel("h3_max_face_count", "graft.h3.Edges.maxFaceCount", IntegerType)(lng),
    // Dissolve a same-resolution cell array into a GeoJSON MultiPolygon
    // outline; link pre-cancelled boundary edges into one (the final,
    // O(perimeter) stage of the distributed dissolve).
    kernel("h3_cells_to_multi_polygon", "graft.spark.EdgeKernel.dissolveJson", StringType)(lngArr),
    kernel("h3_dissolve_edges", "graft.spark.EdgeKernel.dissolveEdgesJson", StringType)(lngArr),
    fn("h3_line_to_cells", str, int)(es => LineToCellsGen(es(0), es(1))),
    kernel("h3_get_hexagon_area_avg_m2", "graft.spark.EdgeKernel.hexAreaAvgM2", DoubleType)(int),
    kernel("h3_get_hexagon_edge_length_avg_m", "graft.spark.EdgeKernel.edgeLengthAvgM", DoubleType)(int))

  /** Session-scoped registration (idempotent). */
  def register(spark: SparkSession): Unit = {
    SqlFunctions.register(spark, "graft.h3.functions.registered", all)
    // Idempotent optimizer-rule injection (experimental methods allow
    // post-session registration; dedup by reference).
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(H3OptimizerRule))
      spark.experimental.extraOptimizations = extra :+ H3OptimizerRule
  }

  /** Column DSL (requires register(spark) once per session). */
  object dsl {
    def h3_latlng_to_cell(lat: Column, lng: Column, res: Column): Column =
      call_function("h3_latlng_to_cell", lat, lng, res)
    def h3_cell_to_parent(cell: Column, res: Column): Column =
      call_function("h3_cell_to_parent", cell, res)
    def h3_get_resolution(cell: Column): Column =
      call_function("h3_get_resolution", cell)
    def h3_is_valid_cell(cell: Column): Column =
      call_function("h3_is_valid_cell", cell)
    def h3_is_pentagon(cell: Column): Column =
      call_function("h3_is_pentagon", cell)
    def h3_cell_to_lat(cell: Column): Column = call_function("h3_cell_to_lat", cell)
    def h3_cell_to_lng(cell: Column): Column = call_function("h3_cell_to_lng", cell)
    def h3_cell_to_boundary(cell: Column): Column =
      call_function("h3_cell_to_boundary", cell)
    def h3_grid_disk(cell: Column, k: Column): Column =
      call_function("h3_grid_disk", cell, k)
    def h3_grid_disk_distances(cell: Column, k: Column): Column =
      call_function("h3_grid_disk_distances", cell, k)
    def h3_grid_distance(a: Column, b: Column): Column =
      call_function("h3_grid_distance", a, b)
    def h3_great_circle_distance_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column =
      call_function("h3_great_circle_distance_m", lat1, lng1, lat2, lng2)
    def h3_cell_to_children(cell: Column, res: Column): Column =
      call_function("h3_cell_to_children", cell, res)
    def h3_compact_cells(cells: Column): Column =
      call_function("h3_compact_cells", cells)
    def h3_uncompact_cells(cells: Column, res: Column): Column =
      call_function("h3_uncompact_cells", cells, res)
    def h3_polygon_to_cells(geojson: Column, res: Column, mode: Column): Column =
      call_function("h3_polygon_to_cells", geojson, res, mode)
    def h3_cells_to_directed_edge(a: Column, b: Column): Column =
      call_function("h3_cells_to_directed_edge", a, b)
    def h3_origin_to_directed_edges(cell: Column): Column =
      call_function("h3_origin_to_directed_edges", cell)
    def h3_get_directed_edge_origin(e: Column): Column =
      call_function("h3_get_directed_edge_origin", e)
    def h3_get_directed_edge_destination(e: Column): Column =
      call_function("h3_get_directed_edge_destination", e)
    def h3_edge_length_m(e: Column): Column = call_function("h3_edge_length_m", e)
    def h3_cell_to_vertex(cell: Column, v: Column): Column =
      call_function("h3_cell_to_vertex", cell, v)
    def h3_cell_to_vertexes(cell: Column): Column =
      call_function("h3_cell_to_vertexes", cell)
    def h3_vertex_to_latlng(v: Column): Column =
      call_function("h3_vertex_to_latlng", v)
    def h3_cells_to_multi_polygon(cells: Column): Column =
      call_function("h3_cells_to_multi_polygon", cells)
    def h3_cell_to_local_ij(anchor: Column, cell: Column): Column =
      call_function("h3_cell_to_local_ij", anchor, cell)
    def h3_local_ij_to_cell(anchor: Column, i: Column, j: Column): Column =
      call_function("h3_local_ij_to_cell", anchor, i, j)
    def h3_grid_ring(cell: Column, k: Column): Column =
      call_function("h3_grid_ring", cell, k)
    def h3_grid_path_cells(a: Column, b: Column): Column =
      call_function("h3_grid_path_cells", a, b)
    def h3_cell_area_km2(cell: Column): Column =
      call_function("h3_cell_area_km2", cell)
    def h3_cell_to_child_pos(cell: Column, res: Column): Column =
      call_function("h3_cell_to_child_pos", cell, res)
    def h3_child_pos_to_cell(pos: Column, cell: Column, res: Column): Column =
      call_function("h3_child_pos_to_cell", pos, cell, res)
    def h3_are_neighbor_cells(a: Column, b: Column): Column =
      call_function("h3_are_neighbor_cells", a, b)
    def h3_to_string(cell: Column): Column = call_function("h3_to_string", cell)
    def h3_from_string(s: Column): Column = call_function("h3_from_string", s)
  }
}

/** spark.sql.extensions entry point: injects every H3 function plus the
  * H3-aware optimizer rewrites. */
class H3Extensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    (H3Functions.all ++ graft.ops.OpsFunctions.all).foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.spark.H3Expressions", name),
        builder))
    }
    extensions.injectOptimizerRule(_ => H3OptimizerRule)
  }
}
