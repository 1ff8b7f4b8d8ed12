package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Registration of the H3 function family into Spark's FunctionRegistry so
  * every function is usable from SQL, the Column DSL (via call_function),
  * and benefits from whole-stage codegen. */
object H3Functions {

  type Builder = Seq[Expression] => Expression

  // Explicit input coercion (redundant casts are elided by Catalyst).
  private def lng(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)
  private def int(e: Expression): Expression =
    if (e.dataType == IntegerType) e else Cast(e, IntegerType)
  private def dbl(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  private def str(e: Expression): Expression =
    if (e.dataType == StringType) e else Cast(e, StringType)
  private def lngArr(e: Expression): Expression = e.dataType match {
    case ArrayType(LongType, _) => e
    case _ => Cast(e, ArrayType(LongType))
  }

  val all: Seq[(String, Builder)] = Seq(
    "h3_latlng_to_cell" -> (es => LatLngToCell(dbl(es(0)), dbl(es(1)), int(es(2)))),
    "h3_cell_to_parent" -> (es => CellToParent(lng(es(0)), int(es(1)))),
    "h3_cell_to_center_child" -> (es => CellToCenterChild(lng(es(0)), int(es(1)))),
    "h3_cell_to_children_size" -> (es => CellToChildrenSize(lng(es(0)), int(es(1)))),
    "h3_cell_to_child_pos" -> (es => CellToChildPos(lng(es(0)), int(es(1)))),
    "h3_child_pos_to_cell" -> (es => ChildPosToCell(lng(es(0)), lng(es(1)), int(es(2)))),
    "h3_get_resolution" -> (es => CellResolution(lng(es(0)))),
    "h3_get_base_cell" -> (es => CellBaseCell(lng(es(0)))),
    "h3_is_valid_cell" -> (es => IsValidCell(lng(es(0)))),
    "h3_is_pentagon" -> (es => IsPentagon(lng(es(0)))),
    "h3_cell_to_latlng" -> (es => CellToLatLngExpr(lng(es(0)))),
    "h3_cell_to_lat" -> (es => CellToLat(lng(es(0)))),
    "h3_cell_to_lng" -> (es => CellToLng(lng(es(0)))),
    "h3_cell_to_boundary" -> (es => CellToBoundaryExpr(lng(es(0)))),
    "h3_cell_area_rads2" -> (es => CellAreaRads2(lng(es(0)))),
    "h3_cell_area_km2" -> (es => CellAreaKm2(lng(es(0)))),
    "h3_grid_distance" -> (es => GridDistanceExpr(lng(es(0)), lng(es(1)))),
    "h3_are_neighbor_cells" -> (es => AreNeighborCells(lng(es(0)), lng(es(1)))),
    "h3_great_circle_distance_m" -> (es => GreatCircleDistanceM(es.map(dbl))),
    "h3_great_circle_distance_km" -> (es => GreatCircleDistanceM(es.map(dbl), "greatCircleDistanceKm")),
    "h3_great_circle_distance_rads" -> (es => GreatCircleDistanceM(es.map(dbl), "greatCircleDistanceRads")),
    "h3_get_hexagon_area_avg_rads2" -> (es => H3ResCall("hexAreaAvgRads2", int(es(0)), DoubleType)),
    "h3_res0_cell_count" -> (es => H3ResCall("res0CellCount", int(es(0)), LongType)),
    "h3_to_string" -> (es => CellToStringExpr(lng(es(0)))),
    "h3_from_string" -> (es => StringToCellExpr(str(es(0)))),
    "h3_compact_cells" -> (es => CompactCellsExpr(lngArr(es(0)))),
    "h3_uncompact_cells" -> (es => UncompactCellsExpr(lngArr(es(0)), int(es(1)))),
    "h3_grid_disk" -> (es => GridDiskGen(lng(es(0)), int(es(1)))),
    "h3_grid_disk_distances" -> (es => GridDiskDistancesGen(lng(es(0)), int(es(1)))),
    "h3_grid_ring" -> (es => GridRingGen(lng(es(0)), int(es(1)))),
    "h3_cell_to_children" -> (es => CellToChildrenGen(lng(es(0)), int(es(1)))),
    "h3_grid_path_cells" -> (es => GridPathCellsGen(lng(es(0)), lng(es(1)))),
    "h3_polygon_to_cells" -> (es => PolygonToCellsGen(str(es(0)), int(es(1)), int(es(2)))),
    "h3_polygon_to_cells_annotated" -> (es => PolygonToCellsAnnotatedGen(str(es(0)), int(es(1)))),
    "h3_cover_res" -> (es => CoverResExpr(str(es(0)), int(es(1)))),
    "h3_point_in_polygon" -> (es => PointInPolygonExpr(dbl(es(0)), dbl(es(1)), str(es(2)))),
    // Directed edges.
    "h3_cells_to_directed_edge" -> (es => CellsToEdge(lng(es(0)), lng(es(1)))),
    "h3_origin_to_directed_edges" -> (es => OriginToEdgesGen(lng(es(0)))),
    "h3_cell_boundary_edges" -> (es => CellBoundaryEdgesGen(lng(es(0)), int(es(1)))),
    "h3_get_directed_edge_origin" -> (es => H3EdgeCall1("edgeOrigin", lng(es(0)), LongType, sentinelNull = true)),
    "h3_get_directed_edge_destination" -> (es => H3EdgeCall1("edgeDestination", lng(es(0)), LongType, sentinelNull = true)),
    "h3_directed_edge_reverse" -> (es => H3EdgeCall1("edgeReverse", lng(es(0)), LongType, sentinelNull = true)),
    "h3_is_valid_directed_edge" -> (es => H3EdgeCall1("isValidEdge", lng(es(0)), BooleanType, sentinelNull = false)),
    "h3_directed_edge_to_boundary" -> (es => H3EdgeCall1("edgeBoundaryArray", lng(es(0)),
      ArrayType(StructType(Seq(StructField("lat", DoubleType, false), StructField("lng", DoubleType, false))), containsNull = false),
      sentinelNull = false)),
    "h3_directed_edge_to_cells" -> (es => H3EdgeCall1("edgeCellsArray", lng(es(0)),
      ArrayType(LongType, containsNull = false), sentinelNull = false)),
    "h3_edge_length_rads" -> (es => H3EdgeCall1("edgeLengthRads", lng(es(0)), DoubleType, sentinelNull = false)),
    "h3_edge_length_km" -> (es => H3EdgeCall1("edgeLengthKm", lng(es(0)), DoubleType, sentinelNull = false)),
    "h3_edge_length_m" -> (es => H3EdgeCall1("edgeLengthM", lng(es(0)), DoubleType, sentinelNull = false)),
    // Vertexes.
    "h3_cell_to_vertex" -> (es => CellToVertexExpr(lng(es(0)), int(es(1)))),
    "h3_cell_to_vertexes" -> (es => CellToVertexesGen(lng(es(0)))),
    "h3_vertex_to_latlng" -> (es => H3EdgeCall1("vertexLatLngRow", lng(es(0)),
      StructType(Seq(StructField("lat", DoubleType, false), StructField("lng", DoubleType, false))), sentinelNull = false)),
    "h3_get_vertex_owner" -> (es => H3EdgeCall1("vertexOwner", lng(es(0)), LongType, sentinelNull = true)),
    "h3_is_valid_vertex" -> (es => H3EdgeCall1("isValidVertex", lng(es(0)), BooleanType, sentinelNull = false)),
    "h3_is_valid_index" -> (es => H3EdgeCall1("isValidIndex", lng(es(0)), BooleanType, sentinelNull = false)),
    // Misc / inspection / tables.
    "h3_cell_area_m2" -> (es => H3EdgeCall1("cellAreaM2", lng(es(0)), DoubleType, sentinelNull = false)),
    "h3_get_index_digit" -> (es => IndexDigitExpr(lng(es(0)), int(es(1)))),
    "h3_get_num_cells" -> (es => H3ResCall("numCells", int(es(0)), LongType)),
    "h3_get_hexagon_area_avg_km2" -> (es => H3ResCall("hexAreaAvgKm2", int(es(0)), DoubleType)),
    "h3_get_hexagon_edge_length_avg_km" -> (es => H3ResCall("edgeLengthAvgKm", int(es(0)), DoubleType)),
    "h3_is_res_class_iii" -> (es => H3ResCall("isResClass3", int(es(0)), BooleanType)),
    "h3_max_grid_disk_size" -> (es => H3ResCall("maxGridDiskSize", int(es(0)), LongType)),
    "h3_max_grid_ring_size" -> (es => H3ResCall("maxGridRingSize", int(es(0)), LongType)),
    "h3_pentagon_count" -> (es => H3ResCall("pentagonCount", int(es(0)), LongType)),
    "h3_grid_path_cells_size" -> (es => GridPathSizeExpr(lng(es(0)), lng(es(1)))),
    "h3_uncompact_size" -> (es => UncompactSizeExpr(lngArr(es(0)), int(es(1)))),
    "h3_get_res0_cells" -> (_ => Res0CellsGen()),
    "h3_get_pentagons" -> (es => PentagonsGen(int(es(0)))),
    "h3_cell_to_local_ij" -> (es => CellToLocalIjExpr(lng(es(0)), lng(es(1)))),
    "h3_cell_to_local_ij_anchored" -> (es => CellToLocalIjAnchoredExpr(lng(es(0)), lng(es(1)))),
    "h3_local_ij_to_cell" -> (es => LocalIjToCellExpr(lng(es(0)), int(es(1)), int(es(2)))),
    "h3_get_icosahedron_faces" -> (es => H3EdgeCall1("icosahedronFacesArr", lng(es(0)),
      ArrayType(IntegerType, containsNull = false), sentinelNull = false)),
    "h3_max_face_count" -> (es => H3EdgeCall1("maxFaceCount", lng(es(0)), IntegerType, sentinelNull = false)),
    "h3_cells_to_multi_polygon" -> (es => CellsToMultiPolygonExpr(lngArr(es(0)))),
    "h3_dissolve_edges" -> (es => EdgesToMultiPolygonExpr(lngArr(es(0)))),
    "h3_line_to_cells" -> (es => LineToCellsGen(str(es(0)), int(es(1)))),
    "h3_get_hexagon_area_avg_m2" -> (es => H3ResCall("hexAreaAvgM2", int(es(0)), DoubleType)),
    "h3_get_hexagon_edge_length_avg_m" -> (es => H3ResCall("edgeLengthAvgM", int(es(0)), DoubleType)))

  private val RegisteredKey = "graft.h3.functions.registered"

  /** Session-scoped registration (idempotent). */
  def register(spark: SparkSession): Unit = {
    // Session-conf marker instead of functionExists: the registry is
    // pre-seeded with all Spark built-ins, so an existence check would
    // silently skip installing our kernel on a name collision (losing
    // createOrReplace semantics). One createOrReplace per session keeps
    // replace semantics without the per-call WARN spam.
    if (spark.conf.getOption(RegisteredKey).isEmpty) {
      val registry = spark.sessionState.functionRegistry
      all.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
      spark.conf.set(RegisteredKey, "true")
    }
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
