package graft.engine

import java.util.Arrays

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, col, explode, expr, lit, pmod, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h3.{Geo, H3}
import graft.spark.GeoCache

/** Prepared cover index: the annotated covers of one polygon set at one
  * probe resolution, tiled once, held as sorted primitive arrays and
  * broadcast once — the build side of both broadcast PIP joins
  * ([[SpatialJoin.pipJoin]] and [[SpatialJoin.pipJoinPolygonTable]]) and
  * of the salted shuffle `pipJoin`.
  *
  * Entry `i` is cover cell `cells(i)` of polygon `slots(i)`, flagged
  * `full(i)` when every point whose bit-ancestor is that cell lies inside
  * the polygon. Entries are sorted by cell (ties in polygon order); cells
  * at different resolutions never collide (the resolution nibble differs),
  * so one array serves every cover resolution in `resolutions`. Polygon
  * `s` has id `ids(s)` and geometry `geoms(s)`: a point is inside when any
  * of its parts contains it.
  */
final class CoverIndex private (
    cells: Array[Long], slots: Array[Int], full: Array[Boolean],
    private[engine] val resolutions: Array[Int], ids: Array[Long],
    geoms: Array[Array[Geo.GeoPolygon]]) extends Serializable {

  def size: Int = cells.length

  /** Entries whose cover cell is the bit-ancestor of `cell` at one of the
    * cover resolutions (one binary search per resolution), or null when
    * there is none — the common case, which allocates nothing. */
  def probe(cell: Long): ArrayData = {
    var hits: Array[Int] = null
    var n = 0
    var r = 0
    while (r < resolutions.length) {
      val anc = H3.cellToParent(cell, resolutions(r))
      var lo = CoverIndex.lowerBound(cells, anc)
      while (lo < cells.length && cells(lo) == anc) {
        if (hits == null) hits = new Array[Int](4)
        else if (n == hits.length) hits = Arrays.copyOf(hits, 2 * n)
        hits(n) = lo
        n += 1
        lo += 1
      }
      r += 1
    }
    if (n == 0) null
    else UnsafeArrayData.fromPrimitiveArray(if (n == hits.length) hits else Arrays.copyOf(hits, n))
  }

  /** Whether a point (degrees) matched on `entry` is inside its polygon:
    * a full cell accepts outright, a boundary cell takes the exact ray
    * cast. */
  def accept(entry: Int, latDeg: Double, lngDeg: Double): Boolean =
    full(entry) || {
      val parts = geoms(slots(entry))
      val lat = Math.toRadians(latDeg)
      val lng = Math.toRadians(lngDeg)
      var i = 0
      while (i < parts.length && !parts(i).containsCentroid(lat, lng)) i += 1
      i < parts.length
    }

  def polyId(entry: Int): Long = ids(slots(entry))

  def cell(entry: Int): Long = cells(entry)
}

object CoverIndex {

  /** Cover cells the registry keeps broadcast across calls: the same
    * budget as the per-executor cover memo ([[GeoCache.MaxCoverCells]]).
    * A larger index is built and used, but not kept. */
  private[graft] final val MaxRegistryCells: Long = GeoCache.MaxCoverCells

  /** Driver bytes per cover cell while an index is built: the index's
    * cell, slot and flag (13) plus the tiled cover (9) and the sort's run
    * counter (4). */
  private final val BuildBytesPerCell = 26L

  /** Driver bytes a polygon table may bring onto the broadcast path, by
    * size hint: half the heap, and at most half the session's
    * `spark.driver.maxResultSize` (0 = unlimited), so the collect never
    * aborts on Spark's result limit. The hints bound real covers from
    * above (about 4x above for 0.1-degree city boxes at res 9), so a real
    * build stays near an eighth of the heap, and its index (half of
    * [[BuildBytesPerCell]]) fits the driver's storage memory (by Spark's
    * defaults half of 0.6 of the heap). Measured on 0.1-degree boxes with
    * a 4 GB driver: even at 10^4 boxes the index path beats the shuffle
    * path. */
  private[graft] def maxDriverBytes(spark: SparkSession): Long = {
    val heap = Runtime.getRuntime.maxMemory / 2
    val limit = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (limit <= 0) heap else math.min(heap, limit / 2)
  }

  /** Estimated driver bytes of one polygon on the broadcast path: its
    * GeoJSON text plus its cover's size hint at [[BuildBytesPerCell]]. */
  private[graft] def driverBytes(geojson: UTF8String, res: Int): Long =
    geojson.numBytes + BuildBytesPerCell * GeoCache.coverSizeHint(geojson, res)

  /** Indexes built since start; for specs. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong()

  /** Content key: the probe resolution, the polygon ids in order and one
    * shape per polygon (GeoJSON text, or its rings' coordinate arrays).
    * Equal only on equal content: the hash just selects the bucket. */
  private final class Key(val res: Int, val ids: Array[Long], val shapes: Array[AnyRef]) {
    override val hashCode: Int =
      (res * 31 + Arrays.hashCode(ids)) * 31 + Arrays.deepHashCode(shapes)
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.hashCode == hashCode && k.res == res &&
        Arrays.equals(k.ids, ids) && Arrays.deepEquals(k.shapes, shapes)
      case _ => false
    }
  }

  private final class Entry(val sc: SparkContext, val bc: Broadcast[CoverIndex],
                            val cells: Long)

  // Kept indexes, least recently used first, with their total cell count;
  // guarded by the object's lock.
  private val registry = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var registryCells = 0L

  /** The broadcast index for `key` in the session's SparkContext, built
    * with `make` on a miss. An entry of another (stopped) context is
    * never served: it is dropped. An evicted index is unpersisted, never
    * destroyed — lazy frames may still reference its broadcast, which
    * then re-ships from the driver. */
  private def prepared(spark: SparkSession, key: Key)(make: => CoverIndex)
      : Broadcast[CoverIndex] = synchronized {
    val sc = spark.sparkContext
    val hit = registry.get(key)
    if (hit != null && (hit.sc eq sc)) return hit.bc
    val stale = registry.values.iterator
    while (stale.hasNext) {
      val e = stale.next()
      if (e.sc ne sc) { registryCells -= e.cells; stale.remove() }
    }
    val index = make
    builds.incrementAndGet()
    val bc = sc.broadcast(index)
    if (index.size <= MaxRegistryCells) {
      registry.put(key, new Entry(sc, bc, index.size))
      registryCells += index.size
      val lru = registry.values.iterator
      while (registryCells > MaxRegistryCells) {
        val e = lru.next()
        registryCells -= e.cells
        lru.remove()
        e.bc.unpersist(blocking = false)
      }
    }
    bc
  }

  /** First index of `a` (sorted) holding a value >= `key`. */
  private[engine] def lowerBound(a: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** `tile(i)` for i in [0, n), on the driver's cores (the common
    * fork-join pool): a cache miss tiles a polygon set in parallel, as the
    * executors would. */
  private def tileAll(n: Int)(tile: Int => (Array[Long], Array[Boolean]))
      : Array[(Array[Long], Array[Boolean])] = {
    val out = new Array[(Array[Long], Array[Boolean])](n)
    Arrays.parallelSetAll[(Array[Long], Array[Boolean])](out, i => tile(i))
    out
  }

  /** Entries of per-polygon covers, sorted by cell (stable: ties keep
    * polygon order), with primitive sorts only. */
  private def build(ids: Array[Long], geoms: Array[Array[Geo.GeoPolygon]],
                    covers: Array[(Array[Long], Array[Boolean])]): CoverIndex = {
    var n = 0
    for (c <- covers) n += c._1.length
    val cells = new Array[Long](n)
    var k = 0
    for (c <- covers) {
      System.arraycopy(c._1, 0, cells, k, c._1.length)
      k += c._1.length
    }
    Arrays.sort(cells)
    // Entry order: each entry takes the next free place in its cell's run.
    val slots = new Array[Int](n)
    val full = new Array[Boolean](n)
    val taken = new Array[Int](n)
    for (s <- covers.indices; i <- covers(s)._1.indices) {
      val run = lowerBound(cells, covers(s)._1(i))
      val at = run + taken(run)
      taken(run) += 1
      slots(at) = s
      full(at) = covers(s)._2(i)
    }
    // Sorted cells group by resolution (the res nibble sits above every
    // digit bit and below bits that are equal for all cells).
    val resolutions = Array.newBuilder[Int]
    var last = -1
    k = 0
    while (k < n) {
      val r = H3.getResolution(cells(k))
      if (r != last) { resolutions += r; last = r }
      k += 1
    }
    new CoverIndex(cells, slots, full, resolutions.result(), ids, geoms)
  }

  /** The index of a `Seq[Poly]` at probe resolution `res`. */
  def forPolys(spark: SparkSession, polys: Seq[SpatialJoin.Poly], res: Int)
      : Broadcast[CoverIndex] = {
    def rings(g: Geo.GeoPolygon): Array[AnyRef] = (g.exterior +: g.holes.toSeq)
      .flatMap(r => Seq(r.lats, r.lngs, Boolean.box(r.shifted))).toArray
    val key = new Key(res, polys.map(_.id).toArray, polys.map(p => rings(p.geo)).toArray[AnyRef])
    prepared(spark, key) {
      val geoms = polys.map(p => Array(p.geo)).toArray
      build(polys.map(_.id).toArray, geoms,
        tileAll(geoms.length)(i => Geo.adaptiveAnnotatedCover(geoms(i), res)))
    }
  }

  /** The index of (poly_id, GeoJSON) rows at probe resolution `res`, tiled
    * on the driver's cores through the cover memo. */
  def forGeoJson(spark: SparkSession, rows: Seq[(Long, String)], res: Int)
      : Broadcast[CoverIndex] = {
    val sorted = rows.sorted.toArray
    val key = new Key(res, sorted.map(_._1), sorted.map[AnyRef](_._2))
    prepared(spark, key) {
      val texts = sorted.map(r => UTF8String.fromString(r._2))
      build(sorted.map(_._1), texts.map(GeoCache.parse),
        tileAll(texts.length)(i => GeoCache.annotatedCover(texts(i), res)))
    }
  }

  /** `points` (with `lat`, `lng` in degrees and the probe cell column)
    * joined to the indexed polygons containing them: one row per
    * (point, polygon) pair, `points` columns and `poly_id` (first when
    * `idFirst`). Every step — the ancestor probe, the explode of its
    * matches, the full-or-ray-cast filter — runs in the points' own
    * codegen stage; nothing shuffles. */
  def join(points: DataFrame, index: Broadcast[CoverIndex], cellCol: String,
           idFirst: Boolean = false): DataFrame = {
    val id = GraftBridge.column(CoverPolyId(e(col("__cover")), index)).as("poly_id")
    points.withColumn("__cover", explode(GraftBridge.column(CoverProbe(e(col(cellCol)), index))))
      .filter(accepted(index))
      .select((if (idFirst) Seq(id, col("*")) else Seq(col("*"), id)): _*)
      .drop("__cover")
  }

  /** [[join]] as a shuffle join, for hot probe cells: each probe row
    * takes a deterministic salt in [0, `saltBuckets`), and every entry is
    * replicated once per salt, so one hot cover cell spreads over
    * `saltBuckets` reducers (AQE's skew join is the backstop). The entry
    * side is generated from the broadcast index on the executors; the
    * join is on (ancestor, salt), then the same full-or-ray-cast filter.
    * Same rows and columns as [[join]]. */
  def shuffleJoin(points: DataFrame, index: Broadcast[CoverIndex], cellCol: String,
                  res: Int, saltBuckets: Int): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be at least 1, got $saltBuckets")
    val entries = points.sparkSession.range(index.value.size.toLong * saltBuckets)
      .select(expr(s"CAST(id DIV $saltBuckets AS INT)").as("__cover"),
        expr(s"CAST(id % $saltBuckets AS INT)").as("__cover_salt"))
      .withColumn("__cover_cell", GraftBridge.column(CoverCell(e(col("__cover")), index)))
    val probe = ancestors(points, cellCol, res, index.value.resolutions.toSeq)
      .withColumn("__salt", pmod(xxhash64(col(cellCol), col("lat"), col("lng")),
        lit(saltBuckets)).cast("int"))
    probe.join(entries, col("__anc") === col("__cover_cell") &&
        col("__salt") === col("__cover_salt"))
      .filter(accepted(index))
      .select(col("*"), GraftBridge.column(CoverPolyId(e(col("__cover")), index)).as("poly_id"))
      .drop("__anc", "__salt", "__cover", "__cover_salt", "__cover_cell")
  }

  /** The probe rows of a shuffle join: rows with both coordinates (a row
    * without one joins no polygon, on every path), each with `__anc`, its
    * cell's bit-ancestor at each cover resolution in `ress`. One
    * resolution (the common case) is one bit-op column, or the cell
    * itself at the probe resolution `res`, with no Generate node. */
  private[engine] def ancestors(points: DataFrame, cellCol: String, res: Int,
                                ress: Seq[Int]): DataFrame = {
    def at(r: Int): Column =
      if (r == res) col(cellCol) else expr(s"h3_cell_to_parent($cellCol, $r)")
    val located = points.filter(col("lat").isNotNull && col("lng").isNotNull)
    if (ress.size == 1) located.withColumn("__anc", at(ress.head))
    else located.withColumn("__anc", explode(array(ress.map(at): _*)))
  }

  private def e(c: Column): Expression = GraftBridge.expression(c)

  /** Full cell or exact ray cast for the matched entry `__cover`. */
  private def accepted(index: Broadcast[CoverIndex]): Column =
    GraftBridge.column(CoverAccept(e(col("__cover")), e(col("lat")), e(col("lng")), index))
}

/** Cover entries matching a probe cell (see [[CoverIndex.probe]]). */
case class CoverProbe(cell: Expression, index: Broadcast[CoverIndex])
    extends UnaryExpression {
  override def child: Expression = cell
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "h3_cover_probe"
  override protected def nullSafeEval(c: Any): Any = index.value.probe(c.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coverIndex", index, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ((graft.engine.CoverIndex) $ref.value()).probe($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(cell = c)
}

/** Full cell or exact ray cast for a matched entry (see
  * [[CoverIndex.accept]]); null (no match) for a null coordinate. */
case class CoverAccept(entry: Expression, lat: Expression, lng: Expression,
                       index: Broadcast[CoverIndex])
    extends TernaryExpression {
  override def first: Expression = entry
  override def second: Expression = lat
  override def third: Expression = lng
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3_cover_accept"
  override protected def nullSafeEval(i: Any, la: Any, ln: Any): Any =
    index.value.accept(i.asInstanceOf[Int], la.asInstanceOf[Double], ln.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coverIndex", index, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (i, la, ln) =>
      s"((graft.engine.CoverIndex) $ref.value()).accept($i, $la, $ln)")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(entry = f, lat = s, lng = t)
}

/** Polygon id of a matched entry. */
case class CoverPolyId(entry: Expression, index: Broadcast[CoverIndex])
    extends UnaryExpression {
  override def child: Expression = entry
  override def dataType: DataType = LongType
  override def prettyName: String = "h3_cover_poly_id"
  override protected def nullSafeEval(i: Any): Any = index.value.polyId(i.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coverIndex", index, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, i => s"((graft.engine.CoverIndex) $ref.value()).polyId($i)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(entry = c)
}

/** Cover cell of an entry. */
case class CoverCell(entry: Expression, index: Broadcast[CoverIndex])
    extends UnaryExpression {
  override def child: Expression = entry
  override def dataType: DataType = LongType
  override def prettyName: String = "h3_cover_cell"
  override protected def nullSafeEval(i: Any): Any = index.value.cell(i.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coverIndex", index, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, i => s"((graft.engine.CoverIndex) $ref.value()).cell($i)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(entry = c)
}
