package graft.h3

import scala.collection.mutable

/** Minimal computational geometry for the spatial engine: rings, ray-cast
  * point-in-polygon, transmeridian handling, and the polygon-to-cells tiler
  * (outline trace + inward flood fill, re-derived from the reference
  * algorithm at /root/reference/src/geom/tiler.rs:198-340,569-673).
  *
  * All coordinates are radians. Transmeridian rings (any segment spanning
  * more than pi in longitude) are normalized by shifting negative longitudes
  * by +2pi; query points are shifted into the same frame before testing.
  */
object Geo {
  final val TwoPi = 2.0 * Math.PI

  /** A closed ring; `lats`/`lngs` exclude the duplicated closing vertex.
    * `shifted` marks the +2pi transmeridian normalization. */
  final class Ring(val lats: Array[Double], val lngs: Array[Double],
                   val shifted: Boolean) extends Serializable {
    val n: Int = lats.length
    var minLat: Double = Double.PositiveInfinity
    var maxLat: Double = Double.NegativeInfinity
    var minLng: Double = Double.PositiveInfinity
    var maxLng: Double = Double.NegativeInfinity
    locally {
      var i = 0
      while (i < n) {
        if (lats(i) < minLat) minLat = lats(i)
        if (lats(i) > maxLat) maxLat = lats(i)
        if (lngs(i) < minLng) minLng = lngs(i)
        if (lngs(i) > maxLng) maxLng = lngs(i)
        i += 1
      }
    }

    @inline def shiftLng(lng: Double): Double =
      if (shifted && lng < 0) lng + TwoPi else lng

    /** 0 = outside, 1 = inside, 2 = on boundary (even-odd ray cast). */
    def position(lat: Double, lng0: Double): Int = {
      val lng = shiftLng(lng0)
      if (lat < minLat || lat > maxLat || lng < minLng || lng > maxLng) return 0
      var inside = false
      var i = 0
      var j = n - 1
      while (i < n) {
        val yi = lats(i); val xi = lngs(i)
        val yj = lats(j); val xj = lngs(j)
        // On-segment check (collinear within the segment's bbox).
        val cross = (xj - xi) * (lat - yi) - (lng - xi) * (yj - yi)
        if (cross == 0.0 &&
            lng >= Math.min(xi, xj) && lng <= Math.max(xi, xj) &&
            lat >= Math.min(yi, yj) && lat <= Math.max(yi, yj)) return 2
        if ((yi > lat) != (yj > lat)) {
          val xInt = (xj - xi) * (lat - yi) / (yj - yi) + xi
          if (lng < xInt) inside = !inside
        }
        j = i
        i += 1
      }
      if (inside) 1 else 0
    }

    /** Centroid-mode containment: boundary points are nudged north. */
    def containsCentroid(lat: Double, lng: Double): Boolean =
      position(lat, lng) match {
        case 1 => true
        case 0 => false
        case _ => position(lat + Math.ulp(1.0), lng) == 1
      }
  }

  final class GeoPolygon(val exterior: Ring, val holes: Array[Ring])
      extends Serializable {
    def containsCentroid(lat: Double, lng: Double): Boolean = {
      if (!exterior.containsCentroid(lat, lng)) return false
      var h = 0
      while (h < holes.length) {
        if (holes(h).containsCentroid(lat, lng)) return false
        h += 1
      }
      true
    }
  }

  /** Builds a ring from degree coordinates (closing vertex optional). */
  def ringFromDegrees(latsDeg: Array[Double], lngsDeg: Array[Double]): Ring = {
    var n = latsDeg.length
    if (n > 1 && latsDeg(0) == latsDeg(n - 1) && lngsDeg(0) == lngsDeg(n - 1))
      n -= 1
    val lats = new Array[Double](n)
    val lngs = new Array[Double](n)
    var i = 0
    while (i < n) {
      lats(i) = Math.toRadians(latsDeg(i))
      lngs(i) = Math.toRadians(lngsDeg(i))
      i += 1
    }
    // Transmeridian detection: any arc wider than pi.
    var shifted = false
    i = 0
    var j = n - 1
    while (i < n && !shifted) {
      if (Math.abs(lngs(i) - lngs(j)) > Math.PI) shifted = true
      j = i
      i += 1
    }
    if (shifted) {
      i = 0
      while (i < n) {
        if (lngs(i) < 0) lngs(i) += TwoPi
        i += 1
      }
    }
    new Ring(lats, lngs, shifted)
  }

  // -------------------------------------------------------------------
  // Containment modes.

  final val ContainsCentroid = 0
  final val ContainsBoundary = 1
  final val IntersectsBoundary = 2
  final val Covers = 3

  /** Cell cover of a set of polygons at `res` under the given mode.
    * Returns sorted distinct cells. */
  def polygonToCells(polys: Array[GeoPolygon], res: Int, mode: Int): Array[Long] =
    polygonToCellsAnnotated(polys, res, mode)._1

  /** Like [[polygonToCells]] but also returns per-cell full-containment
    * flags, harvested from the tiler itself (outline/outermost carry the
    * predicate verdict; inward flood cells are fully contained by
    * construction). Returns (sortedCells, flags aligned BEFORE sorting is
    * not meaningful — use the parallel arrays), so: (cells, fullFlags)
    * where fullFlags(i) corresponds to cells(i). */
  def polygonToCellsAnnotated(polys: Array[GeoPolygon], res: Int,
                              mode: Int): (Array[Long], Array[Boolean]) = {
    val seen = new mutable.HashSet[Long]
    val out = new mutable.ArrayBuffer[(Long, Boolean)]
    val outSet = new mutable.HashSet[Long]

    // 1. Trace ring outlines: sample each segment every pentagon diameter.
    val traced = new mutable.ArrayBuffer[Long]
    val traceSeen = new mutable.HashSet[Long]
    for (poly <- polys; ring <- Iterator(poly.exterior) ++ poly.holes.iterator) {
      var i = 0
      while (i < ring.n) {
        val j = (i + 1) % ring.n
        val lat0 = ring.lats(i); val lng0 = ring.lngs(i)
        val lat1 = ring.lats(j); val lng1 = ring.lngs(j)
        val d = H3.distanceRads(lat0, lng0, lat1, lng1)
        var count = Math.ceil(d / Tables.PentDiameterRads(res)).toLong
        if (count < 1) count = 1
        var s = 0L
        while (s < count) {
          val invCount = 1.0 / count
          val lat = Math.fma(lat0 * (count - s), invCount, lat1 * s * invCount)
          val lng = Math.fma(lng0 * (count - s), invCount, lng1 * s * invCount)
          // lng may exceed pi in the shifted frame; wrap for indexing.
          val lngW = if (lng > Math.PI) lng - TwoPi else lng
          val cell = Proj.latLngToCell(lat, lngW, res)
          if (traceSeen.add(cell)) traced += cell
          s += 1
        }
        i += 1
      }
    }

    @inline def predicate(cell: Long): (Boolean, Boolean) = mode match {
      case ContainsCentroid =>
        val c = Proj.cellCenter(cell)
        var m = false
        var p = 0
        while (p < polys.length && !m) {
          if (polys(p).containsCentroid(c(0), c(1))) m = true
          p += 1
        }
        (m, true)
      case _ =>
        cellRelate(polys, cell)
    }

    // 2. Buffer the traced outline with immediate neighbors; PIP-test each.
    val outline = new mutable.ArrayBuffer[(Long, Boolean)]
    for (cell <- traced) {
      val nb = H3.gridDisk(cell, 1)
      var i = 0
      while (i < nb.length) {
        val c = nb(i)
        if (seen.add(c)) {
          val (isMatch, full) = predicate(c)
          if (isMatch) outline += ((c, full))
        }
        i += 1
      }
    }

    if (outline.isEmpty && mode == Covers && polys.nonEmpty) {
      // Geometry fully inside one cell: return the covering cell.
      val ring = polys(0).exterior
      var lat = 0.0; var lng = 0.0
      var i = 0
      while (i < ring.n) { lat += ring.lats(i); lng += ring.lngs(i); i += 1 }
      lat /= ring.n
      var lngC = lng / ring.n
      if (lngC > Math.PI) lngC -= TwoPi
      return (Array(Proj.latLngToCell(lat, lngC, res)), Array(false))
    }

    // 3. Outermost inner layer: PIP-tested neighbors of the outline.
    var candidates = new mutable.ArrayBuffer[(Long, Boolean)]
    for ((cell, _) <- outline) {
      val nb = H3.gridDisk(cell, 1)
      var i = 0
      while (i < nb.length) {
        val c = nb(i)
        if (seen.add(c)) {
          val (isMatch, full) = predicate(c)
          if (isMatch) candidates += ((c, full))
        }
        i += 1
      }
    }

    var emitOutline = outline
    if (mode == ContainsBoundary) {
      emitOutline = outline.filter(_._2)
      candidates = candidates.filter(_._2)
    }
    for ((c, full) <- emitOutline) if (outSet.add(c)) out += ((c, full))

    // 4. Inward flood fill; bounded by the seen outline buffer, no PIP
    // needed — every flood cell is fully contained by construction.
    while (candidates.nonEmpty) {
      val nextGen = new mutable.ArrayBuffer[(Long, Boolean)]
      for ((cell, full) <- candidates) {
        if (outSet.add(cell)) out += ((cell, full))
        val nb = H3.gridDisk(cell, 1)
        var i = 0
        while (i < nb.length) {
          val c = nb(i)
          if (seen.add(c)) nextGen += ((c, true))
          i += 1
        }
      }
      candidates = nextGen
    }

    val sorted = out.sortBy(_._1).toArray
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Complete cover (IntersectsBoundary) split into fully-contained cells
    * (compacted to mixed resolutions) and boundary cells (kept at `res`,
    * requiring an exact PIP test at join time). */
  def annotatedCover(polys: Array[GeoPolygon], res: Int): (Array[Long], Array[Long]) = {
    val (cells, flags) = polygonToCellsAnnotated(polys, res, IntersectsBoundary)
    val full = new mutable.ArrayBuilder.ofLong
    val partial = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < cells.length) {
      if (flags(i)) full += cells(i) else partial += cells(i)
      i += 1
    }
    val sorted = full.result().sortBy(H3.orderKey)
    (H3.compactSorted(sorted), partial.result())
  }

  /** Upper-bound estimate of a polygon's cover size at `res` (pentagon-area
    * heuristic over the bbox, mirroring the reference's size hint). */
  /** Cap used by adaptive covers (see [[adaptiveCoverRes]]). */
  final val DefaultMaxCoverCells = 16384L

  /** Resolutions a distributed polygon-table join probes: a fixed ladder
    * (step 3 down from the point res) bounds the probe-side explosion to
    * <= 4 candidate cells per point while letting each polygon pick a
    * cover resolution that keeps its cover under the cap. */
  def coverLadder(res: Int): Seq[Int] =
    (res to 0 by -3).toSeq

  /** Finest ladder resolution whose size hint stays under `maxCells`
    * (falls back to the coarsest step). */
  def adaptiveCoverRes(polys: Array[GeoPolygon], res: Int,
                       maxCells: Long = DefaultMaxCoverCells): Int = {
    val ladder = coverLadder(res)
    ladder.find(r => polys.map(coverageSizeHint(_, r)).sum <= maxCells)
      .getOrElse(ladder.last)
  }

  /** Protrusion-robust annotated cover for joins keyed on BIT-ancestors of
    * finer cells: H3 children protrude beyond their parents, so a point's
    * bit-ancestor can differ (by at most one ring) from its geometric cell
    * at this resolution. To keep the cheap bit-parent probe exact:
    *
    *  - the cover is BUFFERED by one ring (any inside point's bit-ancestor
    *    is the geometric cell or one of its neighbors, so it lands in the
    *    buffered cover — completeness);
    *  - `full` flags are ERODED by one ring (a cell is accept-without-PIP
    *    only if its entire neighborhood is fully inside, so even a point
    *    protruding out of the cell stays inside the polygon — soundness);
    *    every other cell is verified by the exact ray cast.
    */
  def bufferedAnnotatedCover(polys: Array[GeoPolygon], res: Int)
      : (Array[Long], Array[Boolean]) = {
    val (cells, flags) = polygonToCellsAnnotated(polys, res, IntersectsBoundary)
    val fullSet = new java.util.HashSet[Long](cells.length * 2)
    var i = 0
    while (i < cells.length) { if (flags(i)) fullSet.add(cells(i)); i += 1 }
    val out = new java.util.LinkedHashMap[Long, Boolean](cells.length * 3)
    i = 0
    while (i < cells.length) {
      val c = cells(i)
      var safe = flags(i)
      if (safe) {
        val nb = H3.gridDisk(c, 1)
        var j = 0
        while (safe && j < nb.length) {
          if (!fullSet.contains(nb(j))) safe = false
          j += 1
        }
      }
      out.put(c, safe)
      i += 1
    }
    // Buffer ring: neighbors of every cover cell join as partial entries.
    i = 0
    while (i < cells.length) {
      val nb = H3.gridDisk(cells(i), 1)
      var j = 0
      while (j < nb.length) {
        if (!out.containsKey(nb(j))) out.put(nb(j), false)
        j += 1
      }
      i += 1
    }
    val outCells = new Array[Long](out.size)
    val outFlags = new Array[Boolean](out.size)
    val it = out.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      outCells(i) = e.getKey
      outFlags(i) = e.getValue
      i += 1
    }
    (outCells, outFlags)
  }

  /** The PIP join cover of a geometry for probe resolution `res`: tiled at
    * its [[adaptiveCoverRes]], protrusion-robust when that is coarser than
    * `res` (at `res` itself the plain annotated cover is already exact).
    * Returns (cells, fullFlags), all cells at one resolution. */
  def adaptiveAnnotatedCover(polys: Array[GeoPolygon], res: Int)
      : (Array[Long], Array[Boolean]) = {
    val coverRes = adaptiveCoverRes(polys, res)
    if (coverRes == res) polygonToCellsAnnotated(polys, coverRes, IntersectsBoundary)
    else bufferedAnnotatedCover(polys, coverRes)
  }

  def coverageSizeHint(poly: GeoPolygon, res: Int): Long = {
    val r = poly.exterior
    val d1 = math.abs(r.maxLng - r.minLng)
    val d2 = math.abs(r.maxLat - r.minLat)
    val diagonal = H3.distanceRads(r.minLat, r.minLng, r.maxLat, r.maxLng)
    val (width, length) = if (d1 < d2) (d1, d2) else (d2, d1)
    if (width <= 0) return 1L
    val area = (diagonal * diagonal) / (length / width)
    math.max(1L, math.ceil(area / Tables.PentAreaRads2(res)).toLong)
  }

  /** Cells tracing a polyline (Plotter): grid paths between consecutive
    * vertex cells, with a sampling fallback where the path is undefined
    * (pentagon distortion). Order-preserving, consecutive-dedup. */
  def lineToCells(latsDeg: Array[Double], lngsDeg: Array[Double], res: Int): Array[Long] = {
    val out = new mutable.ArrayBuilder.ofLong
    var last = 0L
    var i = 0
    while (i < latsDeg.length - 1) {
      val a = H3.latLngToCell(latsDeg(i), lngsDeg(i), res)
      val b = H3.latLngToCell(latsDeg(i + 1), lngsDeg(i + 1), res)
      val path = H3.gridPathCells(a, b)
      val cells =
        if (path.nonEmpty) path
        else {
          // Pentagon/unfold failure: fall back to dense segment sampling.
          val lat0 = Math.toRadians(latsDeg(i)); val lng0 = Math.toRadians(lngsDeg(i))
          val lat1 = Math.toRadians(latsDeg(i + 1)); val lng1 = Math.toRadians(lngsDeg(i + 1))
          val d = H3.distanceRads(lat0, lng0, lat1, lng1)
          val count = Math.max(1, Math.ceil(d / Tables.PentDiameterRads(res)).toInt)
          Array.tabulate(count + 1) { s =>
            val t = s.toDouble / count
            Proj.latLngToCell(lat0 + (lat1 - lat0) * t, lng0 + (lng1 - lng0) * t, res)
          }
        }
      var c = 0
      while (c < cells.length) {
        if (cells(c) != last) { out += cells(c); last = cells(c) }
        c += 1
      }
      i += 1
    }
    if (latsDeg.length == 1) out += H3.latLngToCell(latsDeg(0), lngsDeg(0), res)
    out.result()
  }

  /** Parses GeoJSON LineString / MultiLineString into (lats, lngs) arrays. */
  def parseGeoJsonLines(text: String): Array[(Array[Double], Array[Double])] = {
    val value = Json.parse(text)
    val lines = new mutable.ArrayBuffer[(Array[Double], Array[Double])]
    def coordsToArrays(coords: List[Any]): (Array[Double], Array[Double]) = {
      val pts = coords.map(_.asInstanceOf[List[Any]])
      (pts.map(p => anyToDouble(p(1))).toArray, pts.map(p => anyToDouble(p.head)).toArray)
    }
    def handleGeometry(g: Map[String, Any]): Unit = g.getOrElse("type", "") match {
      case "LineString" =>
        lines += coordsToArrays(g("coordinates").asInstanceOf[List[Any]])
      case "MultiLineString" =>
        for (l <- g("coordinates").asInstanceOf[List[Any]])
          lines += coordsToArrays(l.asInstanceOf[List[Any]])
      case _ =>
    }
    value match {
      case m: Map[_, _] =>
        val obj = m.asInstanceOf[Map[String, Any]]
        obj.getOrElse("type", "") match {
          case "Feature" => obj.get("geometry").foreach {
            case g: Map[_, _] => handleGeometry(g.asInstanceOf[Map[String, Any]])
            case _ =>
          }
          case "FeatureCollection" =>
            for (f <- obj.getOrElse("features", List.empty).asInstanceOf[List[Any]])
              f match {
                case fm: Map[_, _] =>
                  fm.asInstanceOf[Map[String, Any]].get("geometry").foreach {
                    case g: Map[_, _] => handleGeometry(g.asInstanceOf[Map[String, Any]])
                    case _ =>
                  }
                case _ =>
              }
          case _ => handleGeometry(obj)
        }
      case _ =>
    }
    lines.toArray
  }

  /** Relation of a cell's boundary polygon to the polygon set:
    * (intersects, fullyContained). Planar tests in radian lng/lat space,
    * aligned to each polygon's transmeridian frame. */
  def cellRelate(polys: Array[GeoPolygon], cell: Long): (Boolean, Boolean) = {
    val b = Proj.cellBoundary(cell) // [lat,lng,...] radians
    val nv = b.length / 2
    var intersects = false
    var fully = false
    var p = 0
    while (p < polys.length && !fully) {
      val poly = polys(p)
      val shifted = poly.exterior.shifted
      // Cell vertices in the polygon's longitude frame.
      val cb = new Array[Double](b.length)
      var i = 0
      var cellSpansMeridian = false
      while (i < nv) {
        cb(2 * i) = b(2 * i)
        var lng = b(2 * i + 1)
        if (shifted && lng < 0) lng += TwoPi
        cb(2 * i + 1) = lng
        i += 1
      }
      // Detect cell-spanning-antimeridian in unshifted frame: if the polygon
      // is not shifted but the cell is transmeridian, tests stay approximate;
      // such cells only matter for transmeridian polygons (shifted=true).
      i = 0
      while (i < nv && !cellSpansMeridian) {
        val j = (i + 1) % nv
        if (Math.abs(cb(2 * i + 1) - cb(2 * j + 1)) > Math.PI)
          cellSpansMeridian = true
        i += 1
      }
      if (!shifted && cellSpansMeridian) {
        // Shift the cell frame locally for the test.
        i = 0
        while (i < nv) {
          if (cb(2 * i + 1) < 0) cb(2 * i + 1) += TwoPi
          i += 1
        }
      }

      var in = 0
      var onEdgeOrOut = 0
      i = 0
      while (i < nv) {
        val pos = positionInPolygon(poly, cb(2 * i), cb(2 * i + 1))
        if (pos == 1) in += 1
        else onEdgeOrOut += 1
        i += 1
      }

      var crossing = false
      // Segment-crossing test between cell edges and every ring.
      val rings = Iterator(poly.exterior) ++ poly.holes.iterator
      for (ring <- rings if !crossing) {
        var ii = 0
        while (ii < nv && !crossing) {
          val jj = (ii + 1) % nv
          val ax = cb(2 * ii + 1); val ay = cb(2 * ii)
          val bx = cb(2 * jj + 1); val by = cb(2 * jj)
          var ri = 0
          var rj = ring.n - 1
          while (ri < ring.n && !crossing) {
            val cx = ring.lngs(rj); val cy = ring.lats(rj)
            val dx = ring.lngs(ri); val dy = ring.lats(ri)
            if (segmentsCross(ax, ay, bx, by, cx, cy, dx, dy)) crossing = true
            rj = ri
            ri += 1
          }
          ii += 1
        }
      }

      // Any polygon vertex inside the cell? (cell smaller than ring case)
      var polyVertexInCell = false
      if (!crossing && in == 0) {
        val cellRing = new Ring(
          Array.tabulate(nv)(v => cb(2 * v)),
          Array.tabulate(nv)(v => cb(2 * v + 1)), false)
        val ext = poly.exterior
        var v = 0
        while (v < ext.n && !polyVertexInCell) {
          if (cellRing.position(ext.lats(v), ext.lngs(v)) == 1)
            polyVertexInCell = true
          v += 1
        }
      }

      val thisIntersects = crossing || in > 0 || polyVertexInCell
      var thisFully = !crossing && in == nv
      if (thisFully) {
        // A hole lying entirely inside the cell breaks full containment.
        var h = 0
        val cellRing = new Ring(
          Array.tabulate(nv)(v => cb(2 * v)),
          Array.tabulate(nv)(v => cb(2 * v + 1)), false)
        while (h < poly.holes.length && thisFully) {
          val hr = poly.holes(h)
          var v = 0
          var anyIn = false
          while (v < hr.n && !anyIn) {
            if (cellRing.position(hr.lats(v), hr.lngs(v)) == 1) anyIn = true
            v += 1
          }
          if (anyIn) thisFully = false
          h += 1
        }
      }
      intersects ||= thisIntersects
      fully ||= thisFully
      p += 1
    }
    (intersects, fully)
  }

  /** 0 outside, 1 inside, 2 boundary for a polygon with holes. */
  private def positionInPolygon(poly: GeoPolygon, lat: Double, lng: Double): Int = {
    val ext = poly.exterior.position(lat, lng)
    if (ext == 0) return 0
    if (ext == 2) return 2
    var h = 0
    while (h < poly.holes.length) {
      val pos = poly.holes(h).position(lat, lng)
      if (pos == 1) return 0
      if (pos == 2) return 2
      h += 1
    }
    1
  }

  /** Proper segment crossing (shared endpoints / touching don't count). */
  @inline private def segmentsCross(ax: Double, ay: Double, bx: Double, by: Double,
                                    cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    @inline def orient(px: Double, py: Double, qx: Double, qy: Double,
                       rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    (o1 * o2 < 0) && (o3 * o4 < 0)
  }

  // -------------------------------------------------------------------
  // GeoJSON parsing (Polygon / MultiPolygon features; degree coordinates).

  /** Parses a GeoJSON document into polygons (handles Feature /
    * FeatureCollection / bare geometry with Polygon or MultiPolygon). */
  def parseGeoJson(text: String): Array[GeoPolygon] = {
    val value = Json.parse(text)
    val polys = new mutable.ArrayBuffer[GeoPolygon]

    def handleGeometry(g: Map[String, Any]): Unit = {
      g.getOrElse("type", "") match {
        case "Polygon" =>
          polys += polygonFromCoords(g("coordinates").asInstanceOf[List[Any]])
        case "MultiPolygon" =>
          for (p <- g("coordinates").asInstanceOf[List[Any]])
            polys += polygonFromCoords(p.asInstanceOf[List[Any]])
        case "GeometryCollection" =>
          for (sub <- g.getOrElse("geometries", List.empty).asInstanceOf[List[Any]])
            handleGeometry(sub.asInstanceOf[Map[String, Any]])
        case _ =>
      }
    }

    def handle(v: Any): Unit = v match {
      case m: Map[_, _] =>
        val obj = m.asInstanceOf[Map[String, Any]]
        obj.getOrElse("type", "") match {
          case "FeatureCollection" =>
            for (f <- obj.getOrElse("features", List.empty).asInstanceOf[List[Any]])
              handle(f)
          case "Feature" =>
            obj.get("geometry").foreach {
              case g: Map[_, _] => handleGeometry(g.asInstanceOf[Map[String, Any]])
              case _ =>
            }
          case _ => handleGeometry(obj)
        }
      case _ =>
    }

    handle(value)
    polys.toArray
  }

  private def polygonFromCoords(rings: List[Any]): GeoPolygon = {
    def ring(coords: List[Any]): Ring = {
      val pts = coords.map(_.asInstanceOf[List[Any]])
      val lngs = pts.map(p => anyToDouble(p.head)).toArray
      val lats = pts.map(p => anyToDouble(p(1))).toArray
      ringFromDegrees(lats, lngs)
    }
    val all = rings.map(r => ring(r.asInstanceOf[List[Any]]))
    new GeoPolygon(all.head, all.tail.toArray)
  }

  @inline private def anyToDouble(a: Any): Double = a match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => other.toString.toDouble
  }

  /** Tiny recursive-descent JSON parser (objects -> Map, arrays -> List,
    * numbers -> Double/Long, plus strings, booleans, null). */
  object Json {
    def parse(s: String): Any = {
      val p = new Parser(s)
      val v = p.parseValue()
      v
    }

    private final class Parser(s: String) {
      private var pos = 0

      def parseValue(): Any = {
        skipWs()
        s.charAt(pos) match {
          case '{' => parseObject()
          case '[' => parseArray()
          case '"' => parseString()
          case 't' => pos += 4; true
          case 'f' => pos += 5; false
          case 'n' => pos += 4; null
          case _ => parseNumber()
        }
      }

      private def parseObject(): Map[String, Any] = {
        val m = Map.newBuilder[String, Any]
        pos += 1 // {
        skipWs()
        if (s.charAt(pos) == '}') { pos += 1; return m.result() }
        var done = false
        while (!done) {
          skipWs()
          val key = parseString()
          skipWs()
          pos += 1 // :
          val value = parseValue()
          m += (key -> value)
          skipWs()
          if (s.charAt(pos) == ',') pos += 1
          else { pos += 1; done = true } // }
        }
        m.result()
      }

      private def parseArray(): List[Any] = {
        val b = List.newBuilder[Any]
        pos += 1 // [
        skipWs()
        if (s.charAt(pos) == ']') { pos += 1; return b.result() }
        var done = false
        while (!done) {
          b += parseValue()
          skipWs()
          if (s.charAt(pos) == ',') pos += 1
          else { pos += 1; done = true } // ]
        }
        b.result()
      }

      private def parseString(): String = {
        pos += 1 // "
        val sb = new StringBuilder
        while (s.charAt(pos) != '"') {
          val c = s.charAt(pos)
          if (c == '\\') {
            pos += 1
            s.charAt(pos) match {
              case 'n' => sb.append('\n')
              case 't' => sb.append('\t')
              case 'r' => sb.append('\r')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'u' =>
                sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
                pos += 4
              case other => sb.append(other)
            }
          } else sb.append(c)
          pos += 1
        }
        pos += 1 // closing "
        sb.toString
      }

      private def parseNumber(): Any = {
        val start = pos
        while (pos < s.length && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0)
          pos += 1
        val str = s.substring(start, pos)
        if (str.exists(c => c == '.' || c == 'e' || c == 'E')) str.toDouble
        else str.toLong
      }

      private def skipWs(): Unit =
        while (pos < s.length && Character.isWhitespace(s.charAt(pos))) pos += 1
    }
  }
}
