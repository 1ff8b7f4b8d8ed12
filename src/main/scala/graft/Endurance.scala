package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Icelite, SpatialJoin}

/** sf1-equivalent endurance run: the headline pipeline at ~1.9B synthetic
  * docs, the Icelite table layer at the production-shaped res-3 partition
  * layout (tens of thousands of buckets) including a mid-run KILL and
  * resume, manifest-pruning ratio at that layout, and the curation text
  * path at ~100M docs. Emits one JSON line; the companion
  * `scripts/run-endurance.sh` wraps it via spark-submit and pairs it with
  * `graft.Scaling` at two parallelism levels for the sf1 scaling datum.
  *
  *   sbt "runMain graft.Endurance <cores> <sfDir> <mult>"
  *
  * mult scales the events row count (sf0.1 events = 100k rows, so
  * mult=19200 is the 1.92B-doc sf1 stand-in).
  */
object Endurance {

  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mult = if (args.length > 2) args(2).toInt else 19200

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.spark.H3Functions.register(spark)
    graft.ops.OpsFunctions.register(spark)

    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nDocs = nEvents * mult
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    var out = Vector.empty[(String, Double)]

    // Warm-up.
    Bench.synthPoints(spark, 100000)
      .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c").count()

    // Phase 1 — headline pipeline at the full sf1 volume (index at res 9,
    // PIP join against the polygon covers, res-5 tile aggregation).
    val polys = Bench.headlinePolys()
    var joined = 0L
    val (_, tHeadline) = time {
      val pts = Bench.synthPoints(spark, nDocs)
        .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
      val rows = SpatialJoin.pipJoin(spark, pts, polys, res = 9)
        .withColumn("tile", expr("h3_cell_to_parent(cell9, 5)"))
        .groupBy("poly_id", "tile").agg(count(lit(1)))
        .agg(count(lit(1)).as("tiles"), sum("count(1)").as("docs_joined")).collect()
      joined = rows(0).getLong(1)
    }
    out :+= "headline_sec" -> tHeadline
    out :+= "headline_docs_per_sec" -> nDocs / tHeadline

    // Phase 2 — Icelite at the res-3 layout (the production ~41k-bucket
    // shape; the synthetic mix is 15% uniform-sphere so buckets span the
    // globe). nDocs/10 rows, one mid-run kill after ~half the buckets,
    // then resume; the manifest must converge to exactly the full table.
    val iceRows = nDocs / 10
    val iceRoot = java.nio.file.Files.createTempDirectory("graft-endurance").toString
    val icePts = Bench.synthPoints(spark, iceRows).selectExpr(
      "page_id", "lat", "lng",
      "h3_latlng_to_cell(lat, lng, 9) AS cell9",
      "h3_cell_to_parent(h3_latlng_to_cell(lat, lng, 9), 3) AS cell_p")
    val nBuckets = icePts.select(countDistinct("cell_p")).collect()(0).getLong(0)
    val killAfter = (nBuckets / 2).toInt
    val (_, tWrite1) = time {
      var killed = false
      try Icelite.writeResumable(spark, icePts, iceRoot, "cell_p", failAfter = killAfter)
      catch {
        // ONLY the injected kill is expected; anything else (a genuine
        // write failure) must fail the endurance run, not masquerade as
        // the kill.
        case e: RuntimeException if e.getMessage != null &&
            e.getMessage.contains("injected failure") => killed = true
      }
      require(killed, "injected kill did not fire")
    }
    val committedAtKill = Icelite.completedPartitions(iceRoot).size
    val (resumed, tWrite2) = time {
      Icelite.writeResumable(spark, icePts, iceRoot, "cell_p")
    }
    require(committedAtKill + resumed == nBuckets,
      s"resume mismatch: $committedAtKill + $resumed != $nBuckets")
    val backRows = Icelite.read(spark, iceRoot).count()
    require(backRows == iceRows, s"row mismatch after resume: $backRows != $iceRows")
    out :+= "icelite_buckets" -> nBuckets.toDouble
    out :+= "icelite_rows" -> iceRows.toDouble
    out :+= "icelite_write_to_kill_sec" -> tWrite1
    out :+= "icelite_resume_sec" -> tWrite2
    out :+= "icelite_committed_at_kill" -> committedAtKill.toDouble

    // Phase 3 — manifest pruning ratio at the 41k-bucket layout: Paris
    // res-3 neighborhood vs the full table.
    val parisP3 = graft.h3.H3.latLngToCell(
      Math.toRadians(48.8566), Math.toRadians(2.3522), 3)
    val cover = graft.h3.H3.gridDisk(parisP3, 1).map(_.toString).toSet
    // Tiny smoke runs may not have populated the Paris neighborhood;
    // prune to whatever subset is present (first bucket as a floor).
    val present = Icelite.completedPartitions(iceRoot)
    val sel = {
      val c = cover.intersect(present)
      if (c.nonEmpty) c else Set(present.head)
    }
    val (_, tFull) = time {
      Icelite.read(spark, iceRoot).agg(count(lit(1)), sum("page_id")).collect()
    }
    val (_, tPruned) = time {
      Icelite.readWhere(spark, iceRoot, sel.contains)
        .agg(count(lit(1)), sum("page_id")).collect()
    }
    out :+= "icelite_scan_full_sec" -> tFull
    out :+= "icelite_scan_pruned_sec" -> tPruned
    deleteDir(java.nio.file.Paths.get(iceRoot))

    // Phase 4 — curation text path at sf1 volume/20 (~100M lined docs)
    // through the broadcast-boiler lineDedup fast path + the one-pass
    // repetition kernel.
    val nText = nDocs / 20
    val nTable = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val (_, tCuration) = time {
      val lined = Bench.synthLinedDocs(spark, sfDir, nText, nTable)
      graft.ops.Ops.lineDedup(spark, lined,
          minDocs = math.max(2, (nText * 15 / nTable).toInt))
        .agg(count(lit(1)), sum("n_kept")).collect()
    }
    out :+= "curation_docs" -> nText.toDouble
    out :+= "curation_sec" -> tCuration
    out :+= "curation_docs_per_sec" -> nText / tCuration

    val fields = out.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"endurance_sf1","cores":$cores,"docs":$nDocs,"joined":$joined,$fields,"sf":"$sfDir"}""")
    spark.stop()
  }

  private def deleteDir(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList.foreach(deleteDir) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
