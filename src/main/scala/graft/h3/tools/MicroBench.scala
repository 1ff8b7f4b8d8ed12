package graft.h3.tools

import graft.h3.{Geo, H3}

/** Single-threaded kernel micro-benchmarks (ns/op), comparable to the
  * reference's criterion benches. No Spark involved. */
object MicroBench {
  def timeNs(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    var i = 0
    while (i < n) { sink += f(i); i += 1 } // warmup
    val t0 = System.nanoTime()
    i = 0
    while (i < n) { sink += f(i); i += 1 }
    val dt = (System.nanoTime() - t0).toDouble / n
    if (sink == 42) println("")
    dt
  }

  def main(args: Array[String]): Unit = {
    val n = 2000000
    // Deterministic scattered points.
    val lats = Array.tabulate(4096)(i => (graft.ops.TextKernel.mix64(i) % 1600000) / 10000.0)
    val lngs = Array.tabulate(4096)(i => (graft.ops.TextKernel.mix64(i + 7) % 3600000) / 10000.0)
    val cells = Array.tabulate(4096)(i => H3.latLngToCell(lats(i) / 2, lngs(i) / 2, 9))

    println(f"latLngToCell(res 9):  ${timeNs(n)(i => H3.latLngToCell(lats(i & 4095) / 2, lngs(i & 4095) / 2, 9))}%.0f ns/op")
    println(f"latLngToCell(res 15): ${timeNs(n)(i => H3.latLngToCell(lats(i & 4095) / 2, lngs(i & 4095) / 2, 15))}%.0f ns/op")
    println(f"cellToLatLng:         ${timeNs(n)(i => H3.cellToLatLng(cells(i & 4095))(0).toLong)}%.0f ns/op")
    println(f"cellToBoundary:       ${timeNs(n / 2)(i => H3.cellToBoundary(cells(i & 4095)).length.toLong)}%.0f ns/op")
    println(f"cellToParent:         ${timeNs(n)(i => H3.cellToParent(cells(i & 4095), 5))}%.0f ns/op")
    println(f"isValidCell:          ${timeNs(n)(i => if (H3.isValidCell(cells(i & 4095))) 1L else 0L)}%.0f ns/op")
    println(f"gridDisk(k=1):        ${timeNs(n / 4)(i => H3.gridDisk(cells(i & 4095), 1).length.toLong)}%.0f ns/op")
    println(f"gridDisk(k=5):        ${timeNs(n / 20)(i => H3.gridDisk(cells(i & 4095), 5).length.toLong)}%.0f ns/op")
    println(f"cellsToChildren(+2):  ${timeNs(n / 20)(i => H3.cellToChildren(H3.cellToParent(cells(i & 4095), 7), 9).length.toLong)}%.0f ns/op")

    import graft.h3.{Dissolve, Edges, Traverse}
    // Pre-resolved targets so only the function under test is timed.
    val far5 = Array.tabulate(4096)(i => H3.gridDisk(cells(i), 5)(18))
    val near2 = Array.tabulate(4096)(i => H3.gridDisk(cells(i), 2)(6))
    val adj = Array.tabulate(4096)(i => H3.gridDisk(cells(i), 1)(1))
    val edges0 = Array.tabulate(4096)(i => Edges.originToDirectedEdges(cells(i))(0))
    val verts0 = Array.tabulate(4096)(i => Edges.cellToVertex(cells(i), 0))
    val path30 = Array.tabulate(4096)(i => H3.gridDisk(cells(i), 5)(30))
    println(f"gridDistance(d=5):    ${timeNs(n / 4)(i => Traverse.gridDistance(cells(i & 4095), far5(i & 4095)).toLong)}%.0f ns/op")
    println(f"cellToLocalIj:        ${timeNs(n / 2)(i => Edges.cellToLocalIj(cells(i & 4095), near2(i & 4095)))}%.0f ns/op")
    println(f"cellsToDirectedEdge:  ${timeNs(n / 2)(i => Edges.cellsToDirectedEdge(cells(i & 4095), adj(i & 4095)))}%.0f ns/op")
    println(f"edgeLengthM:          ${timeNs(n / 4)(i => Edges.edgeLengthM(edges0(i & 4095)).toLong)}%.0f ns/op")
    println(f"cellToVertexes:       ${timeNs(n / 2)(i => Edges.cellToVertexes(cells(i & 4095)).length.toLong)}%.0f ns/op")
    println(f"vertexToLatLng:       ${timeNs(n / 2)(i => Edges.vertexToLatLng(verts0(i & 4095))(0).toLong)}%.0f ns/op")
    println(f"cellAreaM2:           ${timeNs(n / 4)(i => H3.cellAreaM2(cells(i & 4095)).toLong)}%.0f ns/op")
    println(f"gridPathCells(d=5):   ${timeNs(n / 20)(i => H3.gridPathCells(cells(i & 4095), path30(i & 4095)).length.toLong)}%.0f ns/op")
    locally {
      val sets = Array.tabulate(64)(i => H3.gridDisk(cells(i), 2).flatMap(c => H3.cellToChildren(c, 11)).sortBy(H3.orderKey))
      println(f"compact(931 cells):   ${timeNs(n / 200)(i => H3.compactSorted(sets(i & 63)).length.toLong)}%.0f ns/op")
      val disks = Array.tabulate(64)(i => H3.gridDisk(cells(i), 3))
      println(f"dissolve(disk3):      ${timeNs(n / 100)(i => Dissolve.dissolveToRings(disks(i & 63))._1.length.toLong)}%.0f ns/op")
    }
    locally {
      val texts = Array.tabulate(64)(i => (0 until 100).map(w => "word" + ((i * 131 + w * 7) % 997)).mkString(" "))
      println(f"minHash(100 words):   ${timeNs(n / 200)(i => graft.ops.TextKernel.minHash(texts(i & 63), 3, 64)(0))}%.0f ns/op")
      println(f"simHash(100 words):   ${timeNs(n / 200)(i => graft.ops.TextKernel.simHash(texts(i & 63)))}%.0f ns/op")
      println(f"shingleFps(100 words):${timeNs(n / 200)(i => graft.ops.TextKernel.shingleFps(texts(i & 63), 3)(0))}%.0f ns/op")
    }
    locally {
      // Boundary edges of one coarse cell at +depth (mixed-res dissolve
      // generator): cost tracks the perimeter, not the 7^depth area.
      val coarse = Array.tabulate(64)(i => H3.cellToParent(cells(i), 6))
      for (depth <- Seq(1, 2, 3)) {
        val nn = n / (50 * depth * depth)
        println(f"cellBoundaryEdges(+$depth): ${timeNs(nn)(i =>
          Dissolve.cellBoundaryEdges(coarse(i & 63), 6 + depth).length.toLong)}%.0f ns/op")
      }
    }

    // Paris from the checkout's shapes (run from the repository root).
    val paris = Array(graft.Bench.headlinePolys().head.geo)
    for (res <- Seq(8, 9, 10)) {
      val t0 = System.nanoTime()
      var reps = 0
      var cellsOut = 0
      while (System.nanoTime() - t0 < 2e9) {
        cellsOut = Geo.polygonToCells(paris, res, Geo.ContainsCentroid).length
        reps += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6 / reps
      println(f"polygonToCells(Paris res $res, $cellsOut cells): $ms%.2f ms")
    }
  }
}
