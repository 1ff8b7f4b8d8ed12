package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h3.{Geo, H3}

/** Catalyst-facing helpers that return Catalyst container types; called from
  * both interpreted eval and generated code. */
object SparkKernel {
  def cellToLatLngRow(cell: Long): InternalRow = {
    val c = H3.cellToLatLng(cell)
    InternalRow(c(0), c(1))
  }

  def boundaryArray(cell: Long): ArrayData = {
    val b = H3.cellToBoundary(cell)
    val rows = new Array[Any](b.length / 2)
    var i = 0
    while (i < rows.length) {
      rows(i) = InternalRow(b(2 * i), b(2 * i + 1))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def compact(cells: ArrayData): ArrayData = {
    val distinct = cells.toLongArray().distinct
    // Reference semantics: heterogeneous input is an error
    // (CompactionError::HeterogeneousResolution); duplicates are treated as
    // set input (deduplicated) since SQL arrays carry no uniqueness.
    if (distinct.map(H3.getResolution).distinct.length > 1)
      throw new IllegalArgumentException(
        "h3_compact_cells: heterogeneous resolutions in input")
    val sorted = distinct.sortBy(H3.orderKey)
    new GenericArrayData(H3.compactSorted(sorted))
  }

  def uncompact(cells: ArrayData, res: Int): ArrayData =
    new GenericArrayData(H3.uncompact(cells.toLongArray(), res))

  def stringToCell(s: UTF8String): Long = H3.stringToCell(s.toString)

  /** `h3_child_pos_to_cell(pos, cell, res)` in SQL argument order. */
  def childPosToCell(pos: Long, cell: Long, res: Int): Long =
    H3.childPosToCell(cell, pos, res)

  def cellToString(cell: Long): UTF8String =
    UTF8String.fromString(H3.cellToString(cell))

  /** geojson -> cover cells (used by the generator). The parsed polygon is
    * memoized per thread (covers the common constant-geojson-per-query
    * case without repeated parsing). */
  private val parseCache =
    new ThreadLocal[(String, Array[Geo.GeoPolygon])] {
      override def initialValue(): (String, Array[Geo.GeoPolygon]) = ("", Array.empty)
    }

  def polygonToCells(geojson: UTF8String, res: Int, mode: Int): Array[Long] = {
    val text = geojson.toString
    val cached = parseCache.get()
    val polys =
      if (cached._1 == text) cached._2
      else {
        val parsed = Geo.parseGeoJson(text)
        parseCache.set((text, parsed))
        parsed
      }
    Geo.polygonToCells(polys, res, mode)
  }
}

// ---------------------------------------------------------------------
// Generators (one row in -> many rows out).

abstract class H3CellsGenerator extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", LongType, nullable = false)))

  protected def emit(cells: Array[Long]): IterableOnce[InternalRow] =
    cells.iterator.map(c => InternalRow(c))
}

case class GridDiskGen(cell: Expression, k: Expression) extends H3CellsGenerator {
  override def children: Seq[Expression] = Seq(cell, k)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    val kk = k.eval(input)
    if (c == null || kk == null) Iterator.empty
    else emit(H3.gridDisk(c.asInstanceOf[Long], kk.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0), k = cs(1))
  override def prettyName: String = "h3_grid_disk"
}

case class GridDiskDistancesGen(cell: Expression, k: Expression) extends Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(cell, k)
  override def elementSchema: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("distance", IntegerType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    val kk = k.eval(input)
    if (c == null || kk == null) Iterator.empty
    else {
      val packed = H3.gridDiskDistances(c.asInstanceOf[Long], kk.asInstanceOf[Int])
      (0 until packed.length / 2).iterator.map { i =>
        InternalRow(packed(2 * i), packed(2 * i + 1).toInt)
      }
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0), k = cs(1))
  override def prettyName: String = "h3_grid_disk_distances"
}

case class GridRingGen(cell: Expression, k: Expression) extends H3CellsGenerator {
  override def children: Seq[Expression] = Seq(cell, k)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    val kk = k.eval(input)
    if (c == null || kk == null) Iterator.empty
    else emit(H3.gridRing(c.asInstanceOf[Long], kk.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0), k = cs(1))
  override def prettyName: String = "h3_grid_ring"
}

case class CellToChildrenGen(cell: Expression, res: Expression) extends H3CellsGenerator {
  override def children: Seq[Expression] = Seq(cell, res)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val c = cell.eval(input)
    val r = res.eval(input)
    if (c == null || r == null) Iterator.empty
    else emit(H3.cellToChildren(c.asInstanceOf[Long], r.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(cell = cs(0), res = cs(1))
  override def prettyName: String = "h3_cell_to_children"
}

case class GridPathCellsGen(a: Expression, b: Expression) extends H3CellsGenerator {
  override def children: Seq[Expression] = Seq(a, b)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val x = a.eval(input)
    val y = b.eval(input)
    if (x == null || y == null) Iterator.empty
    else emit(H3.gridPathCells(x.asInstanceOf[Long], y.asInstanceOf[Long]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(a = cs(0), b = cs(1))
  override def prettyName: String = "h3_grid_path_cells"
}

/** polygon (GeoJSON string) -> cover cells at res under containment mode
  * (0=centroid, 1=contains, 2=intersects, 3=covers). */
case class PolygonToCellsGen(geojson: Expression, res: Expression, mode: Expression)
    extends H3CellsGenerator {
  override def children: Seq[Expression] = Seq(geojson, res, mode)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val g = geojson.eval(input)
    val r = res.eval(input)
    val m = mode.eval(input)
    if (g == null || r == null || m == null) Iterator.empty
    else emit(SparkKernel.polygonToCells(
      g.asInstanceOf[UTF8String], r.asInstanceOf[Int], m.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(geojson = cs(0), res = cs(1), mode = cs(2))
  override def prettyName: String = "h3_polygon_to_cells"
}
