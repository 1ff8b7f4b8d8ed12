package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Pages

/** Seeded inputs shared by the workloads. Point ids index the library's
  * own geotag formulas ([[Pages.latSql]] / [[Pages.lngSql]]): 80% of
  * points sit within 0.2 degrees of 40 cities, the 4-city Paris cluster
  * holding about a third of all points, so hot res-9 cells exist. */
object Synth {
  /** Ids per seed slot: ops and corpora of one seed never overlap, and
    * every id stays below 2^31 so the formulas' int64 products cannot
    * overflow. */
  val SlotIds: Long = 40L * 1000 * 1000
  def slot(seed: Long): Long = Math.floorMod(seed, 50L) * SlotIds

  /** Ids [from, from + n) as column `id`, 2 tasks per core. The offset
    * arrives as data (a one-row broadcast), not as a literal: a literal
    * would change the generated code of every batch and recompile each
    * stage per op, a cost of the input generator rather than of the
    * program. */
  def ids(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, Main.Cpus * 2)
      .crossJoin(broadcast(Seq(from).toDF("__off")))
      .selectExpr("id + __off AS id")
  }

  /** Points `page_id, lat, lng` for ids [from, from + n). */
  def points(spark: SparkSession, from: Long, n: Long): DataFrame =
    ids(spark, from, n).selectExpr(
      "id AS page_id",
      Pages.latSql("id", duck = false) + " AS lat",
      Pages.lngSql("id", duck = false) + " AS lng")

  /** The same points computed on the driver (for probes and reference
    * paths). */
  def pointsLocal(spark: SparkSession, from: Long, n: Int): Array[(Long, Double, Double)] =
    points(spark, from, n).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))

  /** The join polygons (id, GeoJSON): the in-repo Paris, SanFrancisco and
    * Holes shapes. */
  def shapes(ctx: Ctx): Seq[(Long, String)] =
    Seq(1L -> "Paris", 2L -> "SanFrancisco", 3L -> "Holes").map { case (id, n) =>
      id -> new String(java.nio.file.Files.readAllBytes(
        ctx.repoFile(s"src/test/resources/h3/shapes/$n.geojson")), "UTF-8")
    }

  def polygon(geojson: String): graft.h3.Geo.GeoPolygon =
    graft.h3.Geo.parseGeoJson(geojson)(0)

  /** Order-independent digest of a frame: row count plus xor and mod-P sum
    * of per-row xxhash64 over all columns. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L)))).head()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Order-independent digest of collected rows. */
  def digestRows(rows: Seq[Row]): String = {
    val sorted = rows.map(_.toSeq.mkString("|")).sorted
    s"${sorted.length}:${java.lang.Integer.toHexString(sorted.hashCode)}"
  }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
