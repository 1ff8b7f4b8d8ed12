package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Pages, SpatialJoin, TileRollup}

/** `geojoin`: the paper's north-rule pipeline on a fresh batch per op.
  *
  * One op: `Batch` synthesized points -> res-9 cells -> broadcast-cover
  * `SpatialJoin.pipJoin` against Paris / SanFrancisco / Holes ->
  * `TileRollup.pyramid` 9 -> 7 -> 5 -> 3 (the res-5 level is the tile
  * assignment), collected. The first twentieth of the batch also runs
  * `pipJoinPolygonTable` against 200 city geofences, and the second
  * twentieth the shuffle-path `pipJoin` with half its points inside one
  * res-9 cell. Ids are offset by seed and op index, so no op reuses
  * another's input. */
final class GeoJoin extends Workload {
  val Batch: Long = 300000L
  val Slice: Long = Batch / 20
  val Res = 9
  val Levels = Seq(7, 5, 3)

  private var polys: Seq[SpatialJoin.Poly] = Nil
  private var polyJson: Seq[(Long, String)] = Nil
  private var geofences: DataFrame = _
  private var seed = 0L
  private var joinLog = Vector.empty[Map[String, Any]]

  def batchItems: Long = Batch

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    polyJson = Synth.shapes(ctx)
    polys = polyJson.map { case (id, js) => SpatialJoin.Poly(id, Synth.polygon(js)) }
    geofences = Synth.frame(ctx.spark,
      StructType(Seq(StructField("poly_id", LongType, false),
        StructField("geojson", StringType, false))),
      GeoJoin.geofenceRows)
    // Warm-up: JIT and codegen caches over two full untraced ops.
    ctx.untraced { op(ctx, -2); op(ctx, -1) }
  }

  private def from(i: Int): Long = Synth.slot(seed) + (i + 2) * Batch

  private def cells(df: DataFrame): DataFrame =
    df.withColumn("cell9", expr(s"h3_latlng_to_cell(lat, lng, $Res)"))

  /** Shuffle-path slice: even ids sit inside one res-9 cell in Paris. */
  private def hotSlice(ctx: Ctx, i: Int): DataFrame = {
    val f = from(i) + Slice
    Synth.ids(ctx.spark, f, Slice).selectExpr(
      "id AS page_id",
      "CASE WHEN id % 2 = 0 THEN 48.8566 + cast(id % 1000 AS double) * 1e-7 " +
        s"ELSE ${Pages.latSql("id", duck = false)} END AS lat",
      "CASE WHEN id % 2 = 0 THEN 2.3522 + cast(id % 997 AS double) * 1e-7 " +
        s"ELSE ${Pages.lngSql("id", duck = false)} END AS lng")
  }

  private def tileRows(levels: Map[Int, DataFrame]): Array[Row] =
    Levels.map(levels).reduce(_ unionByName _)
      .select("res", "cell", "cnt", "v").collect()

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val pts = cells(Synth.points(spark, from(i), Batch))
      .withColumn("v", col("page_id") % 97)
    // One span around the fused join -> pyramid plan, traced or not. The
    // join and the rollup are told apart by stage (see perfbench/metrics.py).
    val tiles = ctx.span("spatial_join.bcast+tile_rollup") {
      val joined = SpatialJoin.pipJoin(spark, pts, polys, res = Res)
      tileRows(TileRollup.pyramid(spark, joined, "cell9", Res, Levels, Seq("v")))
    }
    val table = ctx.span("spatial_join.table") {
      Synth.digestRows(SpatialJoin.pipJoinPolygonTable(spark,
        cells(Synth.points(spark, from(i), Slice)), geofences, res = Res)
        .select("page_id", "poly_id").collect().toSeq)
    }
    val shuffle = ctx.span("spatial_join.shuffle") {
      // Auto-broadcast off for this call only: below the threshold Spark
      // would plan a broadcast join and there would be no skewed shuffle.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Synth.digestRows(SpatialJoin.pipJoin(spark, cells(hotSlice(ctx, i)), polys,
          res = Res, broadcastCover = false).select("page_id", "poly_id").collect().toSeq)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    if (ctx.tracer.enabled) {
      val (cand, bcastRows) = ctx.span("bench.candidates") {
        (candidates(ctx, i), SpatialJoin.pipJoin(spark, pts, polys, res = Res).count())
      }
      def rows(d: String): Long = d.takeWhile(_ != ':').toLong
      joinLog :+= Map("op" -> ctx.tracer.opId,
        "bcast" -> Map("candidates" -> cand("bcast"), "joined" -> bcastRows),
        "table" -> Map("candidates" -> cand("table"), "joined" -> rows(table)),
        "shuffle" -> Map("candidates" -> cand("shuffle"), "joined" -> rows(shuffle)))
    }
    OpResult(Batch, "batch",
      s"tiles=${Synth.digestRows(tiles.toSeq)} table=$table shuffle=$shuffle")
  }

  /** Candidate rows of each join shape, counted by the benchmark with the
    * same public covers the joins use (traced runs only; the broadcast
    * join's output rows are counted beside them): probe rows whose
    * ancestor at a cover resolution hits a cover cell. */
  private def candidates(ctx: Ctx, i: Int): Map[String, Long] = {
    val spark = ctx.spark
    import spark.implicits._
    val cov = SpatialJoin.cover(polys, Res)
    val covDf = cov.map(c => (c._2, c._3)).toDF("cover_cell", "cover_res")
    def probe(df: DataFrame, ress: Seq[Int], cover: DataFrame): Long =
      df.withColumn("__anc", explode(array(ress.map(r =>
          expr(s"h3_cell_to_parent(cell9, $r)")): _*)))
        .join(broadcast(cover), col("__anc") === col("cover_cell")).count()
    val ress = cov.map(_._3).distinct
    val bcast = probe(cells(Synth.points(spark, from(i), Batch)), ress, covDf)
    val shuffle = probe(cells(hotSlice(ctx, i)), ress, covDf)
    val tableCov = geofences.select(expr(s"h3_polygon_to_cells_annotated(geojson, $Res)"))
      .select(col("cell").as("cover_cell"))
    val tableRes = geofences.select(expr(s"h3_cover_res(geojson, $Res)"))
      .distinct().as[Int].collect().toSeq
    val table = probe(cells(Synth.points(spark, from(i), Slice)), tableRes, tableCov)
    Map("bcast" -> bcast, "table" -> table, "shuffle" -> shuffle)
  }

  /** Cover-free brute force: every point against every polygon with
    * `h3_point_in_polygon`, then a direct per-level group-by for the
    * tiles. */
  def verify(ctx: Ctx, i: Int, r: OpResult): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val shapes = polyJson.toDF("poly_id", "geojson")
    def brute(pts: DataFrame, polygons: DataFrame): DataFrame =
      pts.crossJoin(broadcast(polygons))
        .filter(expr("h3_point_in_polygon(lat, lng, geojson)"))
        .drop("geojson")
    val pairs = brute(cells(Synth.points(spark, from(i), Batch))
      .withColumn("v", col("page_id") % 97), shapes).cache()
    val tiles = Levels.map { l =>
      pairs.groupBy(expr(s"h3_cell_to_parent(cell9, $l)").as("cell"))
        .agg(count(lit(1)).as("cnt"), sum("v").as("v"))
        .select(lit(l).as("res"), col("cell"), col("cnt"), col("v"))
    }.reduce(_ unionByName _).collect()
    pairs.unpersist(blocking = false)
    val table = Synth.digestRows(brute(cells(Synth.points(spark, from(i), Slice)),
      geofences).select("page_id", "poly_id").collect().toSeq)
    val shuffle = Synth.digestRows(brute(cells(hotSlice(ctx, i)), shapes)
      .select("page_id", "poly_id").collect().toSeq)
    val expected = s"tiles=${Synth.digestRows(tiles.toSeq)} table=$table shuffle=$shuffle"
    if (expected == r.digest) Nil
    else Seq(s"geojoin op $i: engine ${r.digest} != brute force $expected")
  }

  def info(ctx: Ctx): Map[String, Any] = Map(
    "batch_docs" -> Batch, "table_slice_docs" -> Slice, "shuffle_slice_docs" -> Slice,
    "polygons" -> polyJson.length, "geofences" -> GeoJoin.geofenceRows.length,
    "joins" -> joinLog)

  def teardown(ctx: Ctx): Unit = ()
}

object GeoJoin {
  /** 200 0.1-degree geofences around the 40 cities (the shape of
    * `graft.Bench`'s polygon-table phase). */
  val geofenceRows: Seq[Row] = (0 until 200).map { i =>
    val cLat = Pages.CityLat(i % 40) + (i / 40) * 0.02
    val cLng = Pages.CityLng(i % 40) + (i / 40) * 0.02
    val (a, b, c, d) = (cLng - 0.05, cLat - 0.05, cLng + 0.05, cLat + 0.05)
    Row(i.toLong,
      s"""{"type":"Polygon","coordinates":[[[$a,$b],[$c,$b],[$c,$d],[$a,$d],[$a,$b]]]}""")
  }
}
