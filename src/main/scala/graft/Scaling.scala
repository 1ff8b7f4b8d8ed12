package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.SpatialJoin

/** Scaling-efficiency evidence for the north rule: the same spatial-join
  * job at two parallelism levels (local[8] vs local[32], standing in for N
  * vs 4N executors). Efficiency = (throughput@32 / throughput@8) / 4.
  *
  * One JVM per measurement (session reuse skews timings):
  *   sbt "runMain graft.Scaling 8  [sfDir] [mult]"
  *   sbt "runMain graft.Scaling 32 [sfDir] [mult]"
  * Each prints one JSON line with docs/sec; combine externally.
  */
object Scaling {

  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 8
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = if (args.length > 2) args(2).toInt else 200

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.spark.H3Functions.register(spark)

    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nDocs = nEvents * mult

    // Warm-up (JIT + codegen).
    Bench.synthPoints(spark, 100000)
      .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c").count()

    val polys = Bench.headlinePolys()

    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALING_MODE", "join")

    // "curation" measures the text path (boilerplate line dedup — two
    // id-only shuffles + one payload shuffle) instead of the spatial join;
    // workload is nDocs/20 multi-line docs.
    val workDocs =
      if (mode == "curation") nDocs / 20
      else if (mode == "lm") nDocs / 100
      else if (mode == "temporal") nDocs / 4
      else nDocs
    lazy val nTable = spark.read.parquet(s"$sfDir/documents.parquet").count()

    def once(): Double = {
      val t0 = System.nanoTime()
      if (mode == "index") {
        Bench.synthPoints(spark, nDocs)
          .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c")
          .agg(count(lit(1)), min("c")).collect()
      } else if (mode == "curation") {
        // Multiply before dividing: workDocs/nTable*15 floors the
        // duplication factor first and collapses to 0 below one full
        // duplication, turning the threshold into "everything".
        graft.ops.Ops.lineDedup(spark,
            Bench.synthLinedDocs(spark, sfDir, workDocs),
            minDocs = math.max(2, (workDocs * 15 / nTable).toInt))
          .agg(count(lit(1)), sum("n_kept")).collect()
      } else if (mode == "temporal") {
        // Temporal path: sessionization = one user_id sort-shuffle of
        // the whole log + two window passes + the co-partitioned
        // per-session aggregation.
        graft.ops.Temporal.sessionize(spark,
            Bench.synthEvents(spark, workDocs))
          .agg(count(lit(1)), sum("n_events"),
            sum(col("duration_us") / 1000000L)).collect()
      } else if (mode == "lm") {
        // Corpus-model path: Stupid-Backoff scoring (count aggregation +
        // broadcast-dictionary kernel scan) over multi-line docs.
        graft.ops.Ops.lmScore(spark,
            Bench.synthLinedDocs(spark, sfDir, workDocs),
            col("doc_id") % 3 =!= 0)
          .agg(count(lit(1)), sum("score_fp")).collect()
      } else {
        val pts = Bench.synthPoints(spark, nDocs)
          .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
        SpatialJoin.pipJoin(spark, pts, polys, res = 9)
          .withColumn("tile", expr("h3_cell_to_parent(cell9, 5)"))
          .groupBy("poly_id", "tile").agg(count(lit(1)))
          .agg(count(lit(1))).collect()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Task-level metrics: distinguish engine time from machine noise.
    val taskRunTime = new java.util.concurrent.atomic.AtomicLong
    val taskGcTime = new java.util.concurrent.atomic.AtomicLong
    val taskCpuTime = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null) {
          taskRunTime.addAndGet(e.taskMetrics.executorRunTime)
          taskGcTime.addAndGet(e.taskMetrics.jvmGCTime)
          taskCpuTime.addAndGet(e.taskMetrics.executorCpuTime / 1000000)
        }
      }
    })

    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "5").toInt
    val runs = (0 until reps).map { _ =>
      taskRunTime.set(0); taskGcTime.set(0); taskCpuTime.set(0)
      val s = once()
      (s, taskRunTime.get / 1000.0, taskGcTime.get / 1000.0, taskCpuTime.get / 1000.0)
    }
    val (sec, runT, gcT, cpuT) = runs.minBy(_._1)
    val tput = workDocs / sec
    val allSecs = runs.map(_._1).mkString("[", ",", "]")
    println(s"""{"metric":"scaling_run","mode":"$mode","cores":$cores,"docs":$workDocs,"sec":$sec,"docs_per_sec":$tput,"task_run_sec":$runT,"task_gc_sec":$gcT,"task_cpu_sec":$cpuT,"all_runs":$allSecs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
