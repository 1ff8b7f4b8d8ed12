package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h3.{Edges, H3, Tables}

/** Static kernels of the edge/vertex/misc SQL functions that are more than
  * one `Edges`/`H3` call; every method is callable from generated code
  * ([[KernelCall]]). */
object EdgeKernel {
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
  def maxGridRingSize(k: Int): Long = if (k <= 0) 1L else 6L * k
  def pentagonCount(res: Int): Long = if (res < 0 || res > 15) 0L else 12L
  def res0CellCount(res: Int): Long = 122L
  def hexAreaAvgRads2(res: Int): Double =
    if (res < 0 || res > 15) Double.NaN else Tables.AreaRads2(res)

  /** Grid path length = grid distance + 1; -1 sentinel on failure. */
  def gridPathSize(a: Long, b: Long): Long = {
    val d = H3.gridDistance(a, b)
    if (d < 0L) -1L else d + 1L
  }

  /** Total child count of an array of cells at `res` (uncompactCellsSize). */
  def uncompactSize(arr: ArrayData, res: Int): Long = {
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
  def edgeCellsArray(e: Long): ArrayData =
    new GenericArrayData(Array[Any](Edges.edgeOrigin(e), Edges.edgeDestination(e)))

  def icosahedronFacesArr(c: Long): ArrayData = {
    val mask = Edges.icosahedronFaces(c)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var f = 0
    while (f < 20) { if ((mask & (1 << f)) != 0) out += f; f += 1 }
    new GenericArrayData(out.result().map(_.asInstanceOf[Any]))
  }

  def dissolveJson(cells: ArrayData): UTF8String =
    UTF8String.fromString(graft.h3.Dissolve.dissolveToGeoJson(cells.toLongArray()))

  /** Final stage of the distributed dissolve: link pre-cancelled boundary
    * edges into a MultiPolygon (O(perimeter) input). */
  def dissolveEdgesJson(edges: ArrayData): UTF8String =
    UTF8String.fromString(graft.h3.Dissolve.edgesToGeoJson(edges.toLongArray()))

  /** Local (i, j) of `cell` around `anchor`, or null when it has none. */
  def localIj(anchor: Long, cell: Long): InternalRow = {
    val packed = Edges.cellToLocalIj(anchor, cell)
    if (packed == Long.MinValue) null else InternalRow((packed >> 32).toInt, packed.toInt)
  }

  /** Anchored LocalIJ value — the reference's `LocalIJ` shape (anchor +
    * coord, src/coord/localij.rs:31-36) as one struct, so a column of local
    * coordinates stays self-describing; null when `cell` has no local IJ. */
  def localIjAnchored(anchor: Long, cell: Long): InternalRow = {
    val packed = Edges.cellToLocalIj(anchor, cell)
    if (packed == Long.MinValue) null
    else InternalRow(anchor, (packed >> 32).toInt, packed.toInt)
  }

  def vertexLatLngRow(v: Long): InternalRow = {
    val ll = Edges.vertexToLatLng(v)
    InternalRow(ll(0), ll(1))
  }

  def edgeBoundaryArray(e: Long): ArrayData = {
    val b = Edges.directedEdgeToBoundary(e)
    val rows = new Array[Any](b.length / 2)
    var i = 0
    while (i < rows.length) { rows(i) = InternalRow(b(2 * i), b(2 * i + 1)); i += 1 }
    new GenericArrayData(rows)
  }
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
