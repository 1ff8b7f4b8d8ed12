package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.h3.{Edges, H3, Tables}

/** Uniform static kernel facade for the edge/vertex/misc function family;
  * every method is callable from generated code. Sentinel convention:
  * 0 = null for Long-typed results, NaN = null for doubles. */
object EdgeKernel {
  // Long -> Long
  def edgeOrigin(e: Long): Long = Edges.edgeOrigin(e)
  def edgeDestination(e: Long): Long = Edges.edgeDestination(e)
  def edgeReverse(e: Long): Long = Edges.edgeReverse(e)
  def vertexOwner(v: Long): Long = Edges.vertexOwner(v)

  // (Long, Long) -> Long
  def cellsToEdge(a: Long, b: Long): Long = Edges.cellsToDirectedEdge(a, b)

  // (Long, Int) -> Long
  def cellToVertex(c: Long, v: Int): Long = Edges.cellToVertex(c, v)

  // Long -> Boolean
  def isValidEdge(e: Long): Boolean = Edges.isValidDirectedEdge(e)
  def isValidVertex(v: Long): Boolean = Edges.isValidVertex(v)
  def isValidIndex(v: Long): Boolean = Edges.isValidIndex(v)

  // Long -> Double
  def edgeLengthRads(e: Long): Double = Edges.edgeLengthRads(e)
  def edgeLengthKm(e: Long): Double = Edges.edgeLengthKm(e)
  def edgeLengthM(e: Long): Double = Edges.edgeLengthM(e)
  def cellAreaM2(c: Long): Double = H3.cellAreaM2(c)

  // (Long, Int) -> Int (direction digit at res; -1 sentinel)
  def indexDigit(c: Long, res: Int): Int = {
    if (res < 1 || res > H3.getResolution(c)) -1
    else H3.getDirection(c, res)
  }

  // Int (res) -> Long / Double table lookups.
  def numCells(res: Int): Long =
    if (res < 0 || res > 15) 0L else Tables.CellCount(res)
  def hexAreaAvgKm2(res: Int): Double =
    if (res < 0 || res > 15) Double.NaN
    else Tables.AreaRads2(res) * H3.EarthRadiusKm * H3.EarthRadiusKm
  def edgeLengthAvgKm(res: Int): Double =
    if (res < 0 || res > 15) Double.NaN
    else Tables.EdgeLengthRads(res) * H3.EarthRadiusKm
  def hexAreaAvgM2(res: Int): Double = hexAreaAvgKm2(res) * 1e6
  def edgeLengthAvgM(res: Int): Double = edgeLengthAvgKm(res) * 1000.0
  def isResClass3(res: Int): Boolean = (res & 1) == 1
  def maxGridDiskSize(k: Int): Long = H3.maxGridDiskSize(k)
  def maxGridRingSize(k: Int): Long = if (k <= 0) 1L else 6L * k
  def pentagonCount(res: Int): Long = if (res < 0 || res > 15) 0L else 12L
  def res0CellCount(res: Int): Long = 122L
  def hexAreaAvgRads2(res: Int): Double =
    if (res < 0 || res > 15) Double.NaN else Tables.AreaRads2(res)

  /** Grid path length = grid distance + 1; -1 sentinel on failure. */
  def gridPathSize(a: Long, b: Long): Long = {
    val d = graft.h3.H3.gridDistance(a, b)
    if (d < 0L) -1L else d + 1L
  }

  /** Total child count of an array of cells at `res` (uncompactCellsSize). */
  def uncompactSize(arr: org.apache.spark.sql.catalyst.util.ArrayData, res: Int): Long = {
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      total += H3.cellToChildrenSize(arr.getLong(i), res)
      i += 1
    }
    total
  }

  /** Origin and destination cells of a directed edge (reference
    * src/index/edge.rs:169-180 `cells()`). */
  def edgeCellsArray(e: Long): org.apache.spark.sql.catalyst.util.ArrayData =
    new GenericArrayData(Array[Any](Edges.edgeOrigin(e), Edges.edgeDestination(e)))

  def icosahedronFacesArr(c: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val mask = Edges.icosahedronFaces(c)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var f = 0
    while (f < 20) { if ((mask & (1 << f)) != 0) out += f; f += 1 }
    new GenericArrayData(out.result().map(_.asInstanceOf[Any]))
  }

  def maxFaceCount(c: Long): Int = Edges.maxFaceCount(c)

  def dissolveJson(arr: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.unsafe.types.UTF8String = {
    val cells = new Array[Long](arr.numElements())
    var i = 0
    while (i < cells.length) { cells(i) = arr.getLong(i); i += 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.h3.Dissolve.dissolveToGeoJson(cells))
  }

  /** Final stage of the distributed dissolve: link pre-cancelled boundary
    * edges into a MultiPolygon (O(perimeter) input). */
  def dissolveEdgesJson(arr: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.unsafe.types.UTF8String = {
    val edges = new Array[Long](arr.numElements())
    var i = 0
    while (i < edges.length) { edges(i) = arr.getLong(i); i += 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.h3.Dissolve.edgesToGeoJson(edges))
  }

  def vertexLatLngRow(v: Long): InternalRow = {
    val ll = Edges.vertexToLatLng(v)
    InternalRow(ll(0), ll(1))
  }

  def edgeBoundaryArray(e: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = Edges.directedEdgeToBoundary(e)
    val rows = new Array[Any](b.length / 2)
    var i = 0
    while (i < rows.length) { rows(i) = InternalRow(b(2 * i), b(2 * i + 1)); i += 1 }
    new GenericArrayData(rows)
  }
}

/** Generic unary Long-input kernel call (compact registration). */
case class H3EdgeCall1(fn: String, child: Expression, dataType: DataType,
                       sentinelNull: Boolean) extends UnaryExpression {
  override def nullable: Boolean = sentinelNull || child.nullable
  override def prettyName: String = fn

  override def nullSafeEval(c: Any): Any = {
    val v = c.asInstanceOf[Long]
    val r: Any = fn match {
      case "edgeOrigin" => EdgeKernel.edgeOrigin(v)
      case "edgeDestination" => EdgeKernel.edgeDestination(v)
      case "edgeReverse" => EdgeKernel.edgeReverse(v)
      case "vertexOwner" => EdgeKernel.vertexOwner(v)
      case "isValidEdge" => EdgeKernel.isValidEdge(v)
      case "isValidVertex" => EdgeKernel.isValidVertex(v)
      case "isValidIndex" => EdgeKernel.isValidIndex(v)
      case "edgeLengthRads" => EdgeKernel.edgeLengthRads(v)
      case "edgeLengthKm" => EdgeKernel.edgeLengthKm(v)
      case "edgeLengthM" => EdgeKernel.edgeLengthM(v)
      case "cellAreaM2" => EdgeKernel.cellAreaM2(v)
      case "vertexLatLngRow" => EdgeKernel.vertexLatLngRow(v)
      case "edgeBoundaryArray" => EdgeKernel.edgeBoundaryArray(v)
      case "edgeCellsArray" => EdgeKernel.edgeCellsArray(v)
      case "icosahedronFacesArr" => EdgeKernel.icosahedronFacesArr(v)
      case "maxFaceCount" => EdgeKernel.maxFaceCount(v)
    }
    if (sentinelNull && r == 0L) null else r
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (sentinelNull)
        s"""${ev.value} = graft.spark.EdgeKernel.$fn($c);
            if (${ev.value} == 0L) { ${ev.isNull} = true; }"""
      else s"${ev.value} = graft.spark.EdgeKernel.$fn($c);")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** Generic unary Int-input kernel call (per-resolution tables). */
case class H3ResCall(fn: String, child: Expression, dataType: DataType)
    extends UnaryExpression {
  override def prettyName: String = fn
  override def nullSafeEval(c: Any): Any = {
    val v = c.asInstanceOf[Int]
    fn match {
      case "numCells" => EdgeKernel.numCells(v)
      case "hexAreaAvgKm2" => EdgeKernel.hexAreaAvgKm2(v)
      case "hexAreaAvgM2" => EdgeKernel.hexAreaAvgM2(v)
      case "edgeLengthAvgKm" => EdgeKernel.edgeLengthAvgKm(v)
      case "edgeLengthAvgM" => EdgeKernel.edgeLengthAvgM(v)
      case "isResClass3" => EdgeKernel.isResClass3(v)
      case "maxGridDiskSize" => EdgeKernel.maxGridDiskSize(v)
      case "maxGridRingSize" => EdgeKernel.maxGridRingSize(v)
      case "pentagonCount" => EdgeKernel.pentagonCount(v)
      case "res0CellCount" => EdgeKernel.res0CellCount(v)
      case "hexAreaAvgRads2" => EdgeKernel.hexAreaAvgRads2(v)
    }
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.EdgeKernel.$fn($c)")
  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** Grid path length (gridPathCellsSize): distance + 1, null on failure. */
case class GridPathSizeExpr(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_grid_path_cells_size"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val r = EdgeKernel.gridPathSize(x.asInstanceOf[Long], y.asInstanceOf[Long])
    if (r < 0L) null else r
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = graft.spark.EdgeKernel.gridPathSize($x, $y);
      if (${ev.value} < 0L) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** Total uncompacted cell count (uncompactCellsSize). */
case class UncompactSizeExpr(cells: Expression, res: Expression) extends BinaryExpression {
  override def left: Expression = cells
  override def right: Expression = res
  override def dataType: DataType = LongType
  override def prettyName: String = "h3_uncompact_size"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    EdgeKernel.uncompactSize(
      x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], y.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.spark.EdgeKernel.uncompactSize($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cells = l, res = r)
}

case class CellsToEdge(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cells_to_directed_edge"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val r = EdgeKernel.cellsToEdge(x.asInstanceOf[Long], y.asInstanceOf[Long])
    if (r == 0L) null else r
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = graft.spark.EdgeKernel.cellsToEdge($x, $y);
      if (${ev.value} == 0L) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

case class CellToVertexExpr(cell: Expression, v: Expression) extends BinaryExpression {
  override def left: Expression = cell
  override def right: Expression = v
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_to_vertex"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val r = EdgeKernel.cellToVertex(x.asInstanceOf[Long], y.asInstanceOf[Int])
    if (r == 0L) null else r
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = graft.spark.EdgeKernel.cellToVertex($x, $y);
      if (${ev.value} == 0L) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, v = r)
}

case class CellToLocalIjExpr(anchor: Expression, cell: Expression)
    extends BinaryExpression {
  override def left: Expression = anchor
  override def right: Expression = cell
  override def dataType: DataType =
    StructType(Seq(StructField("i", IntegerType, false), StructField("j", IntegerType, false)))
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_to_local_ij"
  override protected def nullSafeEval(o: Any, c: Any): Any = {
    val packed = Edges.cellToLocalIj(o.asInstanceOf[Long], c.asInstanceOf[Long])
    if (packed == Long.MinValue) null
    else InternalRow((packed >> 32).toInt, packed.toInt)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (o, c) => s"""
      long packed = graft.h3.Edges.cellToLocalIj($o, $c);
      if (packed == Long.MIN_VALUE) { ${ev.isNull} = true; }
      else {
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[] { (int)(packed >> 32), (int)packed });
      }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(anchor = l, cell = r)
}

/** Anchored LocalIJ value — the reference's `LocalIJ` shape (anchor +
  * coord, /root/reference/src/coord/localij.rs:31-36) as one struct, so a
  * column of local coordinates stays self-describing (the bare (i,j)
  * variant requires the caller to carry the anchor out of band). */
case class CellToLocalIjAnchoredExpr(anchor: Expression, cell: Expression)
    extends BinaryExpression {
  override def left: Expression = anchor
  override def right: Expression = cell
  override def dataType: DataType =
    StructType(Seq(StructField("anchor", LongType, false),
      StructField("i", IntegerType, false), StructField("j", IntegerType, false)))
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cell_to_local_ij_anchored"
  override protected def nullSafeEval(o: Any, c: Any): Any = {
    val packed = Edges.cellToLocalIj(o.asInstanceOf[Long], c.asInstanceOf[Long])
    if (packed == Long.MinValue) null
    else InternalRow(o.asInstanceOf[Long], (packed >> 32).toInt, packed.toInt)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (o, c) => s"""
      long packed = graft.h3.Edges.cellToLocalIj($o, $c);
      if (packed == Long.MIN_VALUE) { ${ev.isNull} = true; }
      else {
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[] { $o, (int)(packed >> 32), (int)packed });
      }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(anchor = l, cell = r)
}

case class LocalIjToCellExpr(anchor: Expression, i: Expression, j: Expression)
    extends TernaryExpression {
  override def first: Expression = anchor
  override def second: Expression = i
  override def third: Expression = j
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_local_ij_to_cell"
  override protected def nullSafeEval(o: Any, x: Any, y: Any): Any = {
    val r = Edges.localIjToCell(o.asInstanceOf[Long], x.asInstanceOf[Int], y.asInstanceOf[Int])
    if (r == 0L) null else r
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (o, x, y) => s"""
      ${ev.value} = graft.h3.Edges.localIjToCell($o, $x, $y);
      if (${ev.value} == 0L) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(anchor = f, i = s, j = t)
}

case class IndexDigitExpr(cell: Expression, res: Expression) extends BinaryExpression {
  override def left: Expression = cell
  override def right: Expression = res
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "h3_get_index_digit"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val r = EdgeKernel.indexDigit(x.asInstanceOf[Long], y.asInstanceOf[Int])
    if (r < 0) null else r
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = graft.spark.EdgeKernel.indexDigit($x, $y);
      if (${ev.value} < 0) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, res = r)
}

/** Dissolve an array of same-resolution cells into a GeoJSON
  * MultiPolygon outline (h3SetToLinkedGeo / cellsToMultiPolygon). */
case class CellsToMultiPolygonExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "h3_cells_to_multi_polygon"
  override def nullSafeEval(c: Any): Any = {
    val arr = c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val cells = new Array[Long](arr.numElements())
    var i = 0
    while (i < cells.length) { cells(i) = arr.getLong(i); i += 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.h3.Dissolve.dissolveToGeoJson(cells))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.EdgeKernel.dissolveJson($c)")
  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** Link pre-cancelled directed boundary edges into a GeoJSON MultiPolygon
  * (final, O(perimeter) stage of the distributed dissolve). */
case class EdgesToMultiPolygonExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "h3_dissolve_edges"
  override def nullSafeEval(c: Any): Any =
    EdgeKernel.dissolveEdgesJson(c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.EdgeKernel.dissolveEdgesJson($c)")
  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** Per-executor memoized GeoJSON parsing for row-level polygon predicates
  * (a polygon-table join evaluates the same geometry against many points;
  * parsing once per executor per polygon keeps the predicate cheap). */
object GeoCache {
  private final val MaxEntries = 1024
  // Lock-free shared cache (no LRU bookkeeping: a get must not take a
  // global lock — the predicate runs per candidate row on every core).
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.unsafe.types.UTF8String, Array[graft.h3.Geo.GeoPolygon]]()
  // Per-thread last-entry memo: candidate rows arrive runs-of-same-polygon,
  // so most lookups resolve with one equals() and no shared-map access.
  private val last = new ThreadLocal[
    (org.apache.spark.unsafe.types.UTF8String, Array[graft.h3.Geo.GeoPolygon])]()

  def parse(geojson: org.apache.spark.unsafe.types.UTF8String): Array[graft.h3.Geo.GeoPolygon] = {
    val memo = last.get()
    if (memo != null && memo._1.equals(geojson)) return memo._2
    var parsed = cache.get(geojson)
    if (parsed == null) {
      parsed = graft.h3.Geo.parseGeoJson(geojson.toString)
      if (cache.size() > MaxEntries) cache.clear()
      cache.put(geojson.clone(), parsed)
    }
    last.set((geojson.clone(), parsed))
    parsed
  }

  // Memoized annotated covers keyed by (geometry, point res): computing a
  // cover costs ~ms (tiling + buffering) and a polygon table is tiled once
  // per polygon per EXECUTION (or per index build), so the memo amortizes
  // it to once per executor. Bounded by total cached cover cells — the
  // worst case of 64 adaptive covers, each at most ~3 x the cap after the
  // one-ring buffer — and evicted oldest first, so a table of many small
  // polygons (200 city geofences are ~0.2M cells) stays memoized whole.
  private[graft] final val MaxCoverCells: Long = 64L * 3 * graft.h3.Geo.DefaultMaxCoverCells
  private val coverCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.unsafe.types.UTF8String, Int), (Array[Long], Array[Boolean])]()
  // Insertion order of the memo's keys and their total cell count, both
  // guarded by `coverOrder` (only a miss takes the lock).
  private val coverOrder = new java.util.ArrayDeque[(org.apache.spark.unsafe.types.UTF8String, Int)]()
  private var coverCells = 0L
  // Miss locks, striped by key hash: two threads missing on one geometry
  // tile it once, while distinct geometries tile in parallel.
  private val missLocks = Array.fill(64)(new Object)
  /** Covers computed (memo misses) since start; for specs. */
  private[graft] val coverBuilds = new java.util.concurrent.atomic.AtomicLong()

  /** Adaptive protrusion-robust annotated cover of a geometry at `res`
    * ([[graft.h3.Geo.adaptiveAnnotatedCover]]), memoized per executor. */
  def annotatedCover(geojson: org.apache.spark.unsafe.types.UTF8String,
                     res: Int): (Array[Long], Array[Boolean]) = {
    val c = coverCache.get((geojson, res))
    if (c != null) c
    else missLocks((geojson.hashCode * 31 + res) & 63).synchronized {
      val again = coverCache.get((geojson, res))
      if (again != null) again else tileAndKeep(geojson, res)
    }
  }

  private def tileAndKeep(geojson: org.apache.spark.unsafe.types.UTF8String,
                          res: Int): (Array[Long], Array[Boolean]) = {
    val built = graft.h3.Geo.adaptiveAnnotatedCover(parse(geojson), res)
    coverBuilds.incrementAndGet()
    val key = (geojson.clone(), res)
    val n = built._1.length.toLong
    coverOrder.synchronized {
      if (n <= MaxCoverCells && coverCache.putIfAbsent(key, built) == null) {
        coverOrder.addLast(key)
        coverCells += n
        while (coverCells > MaxCoverCells)
          coverCells -= coverCache.remove(coverOrder.removeFirst())._1.length
      }
    }
    built
  }

  /** The adaptive cover resolution [[annotatedCover]] will pick for this
    * geometry at probe resolution `res` — a size-hint computation only
    * (no tiling), so the probe side can discover the distinct cover
    * resolutions of a whole polygon table with one cheap scan. */
  def coverRes(geojson: org.apache.spark.unsafe.types.UTF8String, res: Int): Int =
    graft.h3.Geo.adaptiveCoverRes(parse(geojson), res)

  /** Size hint (cells) of the cover [[annotatedCover]] builds for this
    * geometry at probe resolution `res`: the hint at its adaptive cover
    * resolution, no tiling. */
  def coverSizeHint(geojson: org.apache.spark.unsafe.types.UTF8String, res: Int): Long = {
    val polys = parse(geojson)
    val r = graft.h3.Geo.adaptiveCoverRes(polys, res)
    polys.iterator.map(graft.h3.Geo.coverageSizeHint(_, r)).sum
  }

  /** Exact ray-cast point-in-polygon over the (cached) geometry. */
  def contains(latDeg: Double, lngDeg: Double,
               geojson: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    val polys = parse(geojson)
    val lat = Math.toRadians(latDeg)
    val lng = Math.toRadians(lngDeg)
    var i = 0
    while (i < polys.length) {
      if (polys(i).containsCentroid(lat, lng)) return true
      i += 1
    }
    false
  }
}

/** Exact point-in-polygon predicate over a GeoJSON column (ray cast with
  * the engine's transmeridian handling; geometry parse memoized per
  * executor). */
case class PointInPolygonExpr(lat: Expression, lng: Expression, geojson: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lng
  override def third: Expression = geojson
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3_point_in_polygon"
  override protected def nullSafeEval(a: Any, b: Any, g: Any): Any =
    GeoCache.contains(a.asInstanceOf[Double], b.asInstanceOf[Double],
      g.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, g) => s"graft.spark.GeoCache.contains($a, $b, $g)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(lat = f, lng = s, geojson = t)
}

/** Cover resolution the annotated-cover generator ([[PolygonToCellsAnnotatedGen]])
  * will pick for a geometry at probe res — size-hint only, no tiling.
  * Lets pipJoinPolygonTable explode probe points by the resolutions
  * actually present in the table instead of the full cover ladder. */
case class CoverResExpr(geojson: Expression, res: Expression)
    extends BinaryExpression {
  override def left: Expression = geojson
  override def right: Expression = res
  override def dataType: DataType = IntegerType
  override def prettyName: String = "h3_cover_res"
  override protected def nullSafeEval(g: Any, r: Any): Any =
    GeoCache.coverRes(g.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r) => s"graft.spark.GeoCache.coverRes($g, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(geojson = l, res = r)
}

/** Generator: annotated polygon cover — (cell, full) rows where `full`
  * cells are strictly inside the geometry (no per-point test needed) and
  * partial cells intersect its boundary. Runs on executors, so covers for
  * a polygon TABLE are computed fully distributed; each polygon adapts its
  * cover resolution down Geo.coverLadder(res) so one continental geometry
  * cannot blow the cover up (the probe side joins on the geometric cell
  * at every ladder resolution). */
case class PolygonToCellsAnnotatedGen(geojson: Expression, res: Expression)
    extends Generator with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(geojson, res)
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", LongType, nullable = false),
      StructField("full", BooleanType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val g = geojson.eval(input)
    val r = res.eval(input)
    if (g == null || r == null) Iterator.empty
    else {
      val (cells, full) = GeoCache.annotatedCover(
        g.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        r.asInstanceOf[Int])
      cells.indices.iterator.map(i => InternalRow(cells(i), full(i)))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(geojson = cs(0), res = cs(1))
  override def prettyName: String = "h3_polygon_to_cells_annotated"
}

/** Generator: directed edges of the origin cell. */
case class OriginToEdgesGen(cell: Expression) extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(cell)
  override def elementSchema: StructType =
    StructType(Seq(StructField("edge", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    if (c == null) Iterator.empty
    else Edges.originToDirectedEdges(c.asInstanceOf[Long]).iterator
      .map(e => InternalRow(e))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0))
  override def prettyName: String = "h3_origin_to_directed_edges"
}

/** Generator: directed boundary edges of one cell's region at a target
  * resolution (mixed-res distributed dissolve — each cell of a compacted
  * set emits O(perimeter x depth) finest-res edges; twins cancel in the
  * shuffle). */
case class CellBoundaryEdgesGen(cell: Expression, res: Expression)
    extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(cell, res)
  override def elementSchema: StructType =
    StructType(Seq(StructField("edge", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    val r = res.eval(input)
    if (c == null || r == null) Iterator.empty
    else graft.h3.Dissolve.cellBoundaryEdges(c.asInstanceOf[Long],
      r.asInstanceOf[Int]).iterator.map(e => InternalRow(e))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0), res = cs(1))
  override def prettyName: String = "h3_cell_boundary_edges"
}

/** Generator: canonical vertexes of a cell. */
case class CellToVertexesGen(cell: Expression) extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(cell)
  override def elementSchema: StructType =
    StructType(Seq(StructField("vertex", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    if (c == null) Iterator.empty
    else Edges.cellToVertexes(c.asInstanceOf[Long]).iterator
      .filter(_ != 0L).map(v => InternalRow(v))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0))
  override def prettyName: String = "h3_cell_to_vertexes"
}

/** Generator: polyline (GeoJSON LineString/MultiLineString) to cells. */
case class LineToCellsGen(geojson: Expression, res: Expression) extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(geojson, res)
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val g = geojson.eval(input)
    val r = res.eval(input)
    if (g == null || r == null) Iterator.empty
    else {
      val lines = graft.h3.Geo.parseGeoJsonLines(g.toString)
      lines.iterator.flatMap { case (lats, lngs) =>
        graft.h3.Geo.lineToCells(lats, lngs, r.asInstanceOf[Int]).iterator
      }.map(c => InternalRow(c))
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(geojson = cs(0), res = cs(1))
  override def prettyName: String = "h3_line_to_cells"
}

/** Generator: the 122 resolution-0 base cells. */
case class Res0CellsGen() extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Nil
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    (0 until 122).iterator.map(bc =>
      InternalRow(H3.setBaseCell(H3.DefaultCellIndex, bc)))
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = this
  override def prettyName: String = "h3_get_res0_cells"
}

/** Generator: the 12 pentagons at a resolution. */
case class PentagonsGen(res: Expression) extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(res)
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val r = res.eval(input)
    if (r == null) Iterator.empty
    else {
      val rr = r.asInstanceOf[Int]
      (0 until 122).iterator.filter(Tables.isPentagonBase).map { bc =>
        val base = H3.setBaseCell(H3.DefaultCellIndex, bc)
        InternalRow(H3.cellToCenterChild(base, rr))
      }
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(res = cs(0))
  override def prettyName: String = "h3_get_pentagons"
}
