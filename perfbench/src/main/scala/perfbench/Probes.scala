package perfbench

import org.apache.spark.sql.functions._

import graft.engine.{PipTester, SpatialJoin}
import graft.h3.H3

/** Layer probes of the traced run, outside the timed loop and identical
  * for every workload:
  *  - `h3`: kernel calls, single-threaded on the driver, over a fixed
  *    sample of the seeded points every geo workload draws from;
  *  - `spark`: noop-sink writes of one batch with and without the res-9
  *    index expression; their difference is the expression's cost.
  * Each figure is the median of several rounds after a warm-up round. */
object Probes {
  val Sample = 20000
  val Rounds = 7
  val NoopBatch = 400000L
  /** Keeps the kernel loops' results live so the JIT cannot drop them. */
  @volatile var blackhole = 0L

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Median over rounds of `body`'s seconds; one untimed warm-up round. */
  private def timed(rounds: Int)(body: => Unit): Double = {
    body
    median((0 until rounds).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val pts = Synth.pointsLocal(spark, Synth.slot(ctx.seed), Sample)
    val lats = pts.map(_._2)
    val lngs = pts.map(_._3)
    val polys = Synth.shapes(ctx).map { case (id, js) => SpatialJoin.Poly(id, Synth.polygon(js)) }
    var sink = 0L
    val toCell = timed(Rounds) {
      var i = 0
      while (i < Sample) { sink += H3.latLngToCell(lats(i), lngs(i), 9); i += 1 }
    }
    val tester = new PipTester(polys.map(p => p.id -> p.geo).toMap)
    val pip = timed(Rounds) {
      var i = 0
      while (i < Sample) {
        var id = 1L
        while (id <= 3L) { if (tester.test(id, lats(i), lngs(i))) sink += 1; id += 1 }
        i += 1
      }
    }
    val cells8 = pts.map(p => H3.latLngToCell(p._2, p._3, 8))
    val disk = timed(Rounds) {
      var i = 0
      while (i < Sample) { sink += H3.gridDisk(cells8(i), 2).length; i += 1 }
    }
    val cover = timed(Rounds) { sink += SpatialJoin.cover(polys, 9).length }
    def noop(withIndex: Boolean): Double = timed(3) {
      val df = Synth.points(spark, Synth.slot(ctx.seed), NoopBatch)
      (if (withIndex) df.withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)")) else df)
        .write.format("noop").mode("overwrite").save()
    }
    val synthNoop = noop(withIndex = false)
    val indexNoop = noop(withIndex = true)
    blackhole = sink
    Map(
      "h3.latlng_to_cell_ns" -> toCell / Sample * 1e9,
      "h3.pip_raycast_ns" -> pip / (Sample * 3) * 1e9,
      "h3.grid_disk_k2_ns" -> disk / Sample * 1e9,
      "h3.cover_build_ms" -> cover * 1e3,
      "spark.synth_noop_s" -> synthNoop,
      "spark.index_noop_s" -> indexNoop,
      "spark.index_expr_s" -> (indexNoop - synthNoop),
      "spark.noop_batch_docs" -> NoopBatch.toDouble)
  }
}
