package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Knn, SpatialJoin}
import graft.ops.Ops

/** Auxiliary measurement main (guide §1.4): isolates the expensive bench
  * phases' sub-steps with the noop sink so optimization targets the right
  * stage. NOT part of the frozen driver contract — `graft.Bench` is the
  * only harness the driver reads; this one exists so OPTIMIZATION_r06.md
  * can cite where the seconds actually go.
  *
  * Emits one JSON line {"extra":{phase:sec,...},"sf":...} (min of reps).
  */
object BenchExtra {

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cpusN = cpus.toInt
    val mult = sys.env.get("SPARK_GRAFT_BENCH_MULT").map(_.toInt)
      .getOrElse(math.min(2000, cpusN * 60))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_EXTRA_ONLY").map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.spark.H3Functions.register(spark)
    graft.ops.OpsFunctions.register(spark)

    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nDocs = nEvents * mult
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocsTable = docs.count()
    def lined(n: Long): DataFrame = Bench.synthLinedDocs(spark, sfDir, n, nDocsTable)

    var out = Vector.empty[(String, Double)]
    def measure(name: String)(body: => Unit): Unit =
      if (only.forall(_.contains(name))) {
        spark.sparkContext.setJobDescription(s"extra: $name")
        val ts = (1 to reps).map(_ => time(body))
        out :+= name -> ts.min
        println(s"## $name: ${ts.map(t => f"$t%.2f").mkString(", ")}")
      }

    // Warm up codegen/JIT.
    Bench.synthPoints(spark, 50000)
      .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c").count()
    noop(lined(10000))

    // --- headline/index decomposition ---
    measure("synth_points_noop") { noop(Bench.synthPoints(spark, nDocs)) }
    measure("synth_cell_noop") {
      noop(Bench.synthPoints(spark, nDocs)
        .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c"))
    }
    measure("index_like_agg") {
      Bench.synthPoints(spark, nDocs)
        .selectExpr("h3_latlng_to_cell(lat, lng, 9) AS c")
        .agg(count(lit(1)), min("c")).collect()
    }

    // --- lined-corpus synthesis cost at the divisors the bench uses ---
    measure("lined_20_noop") { noop(lined(nDocs / 20)) }
    measure("lined_100_noop") { noop(lined(nDocs / 100)) }

    // --- word counting: regex split vs kernel ---
    measure("split_count_20") {
      lined(nDocs / 20).select(
        expr("CASE WHEN text IS NULL OR trim(text) = '' THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) END").as("n"))
        .agg(sum("n")).collect()
    }
    measure("kernel_count_20") {
      lined(nDocs / 20).select(
        expr("coalesce(CAST(word_count(text) AS BIGINT), 0L)").as("n"))
        .agg(sum("n")).collect()
    }

    // --- dedup_spans decomposition: explode-only, then counts-only ---
    measure("spans_occ_noop") {
      val w = 20
      noop(lined(nDocs / 100).select(
        col("doc_id"),
        expr("word_count(text)").as("n_words"),
        posexplode(expr(s"shingle_fps_pos(text, $w)")).as(Seq("pos", "fp"))))
    }
    measure("spans_fp_groupby") {
      val w = 20
      lined(nDocs / 100).select(
        posexplode(expr(s"shingle_fps_pos(text, $w)")).as(Seq("pos", "fp")))
        .groupBy("fp").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .agg(count(lit(1))).collect()
    }

    // --- knn_prepare decomposition ---
    val knnPts = Bench.synthPoints(spark, nDocs / 10)
      .select(col("page_id").as("id"), col("lat"), col("lng"))
    measure("knn_frame_noop") {
      // corpusFrame equivalent: cell at res 8 + parents + bucket col
      noop(knnPts
        .withColumn("__pcell8", expr("h3_latlng_to_cell(lat, lng, 8)"))
        .withColumn("__pcell4", expr("h3_cell_to_parent(__pcell8, 4)"))
        .withColumn("__pcell1", expr("h3_cell_to_parent(__pcell8, 1)"))
        .filter(col("__pcell8").isNotNull)
        .withColumn("__bucket", expr("h3_cell_to_parent(__pcell8, 1)")))
    }
    measure("knn_prepare_full") {
      val c = Knn.prepareCorpus(spark, knnPts, res = 8, maxRounds = 3)
      c.release()
    }
    // Bucket-granularity experiment: coarser directories (res 0: 122
    // dirs vs the default res 1: 842) trade per-file write/stats
    // overhead against directory-level prune granularity; the localized
    // query batch measures whether row-group pruning compensates.
    def knnLocalProbe(bRes: Int): Unit = {
      // `measure` runs each body `reps` times: every rep's corpus is kept
      // and released, the last one serving the query probe.
      val corpora = scala.collection.mutable.ArrayBuffer.empty[Knn.PreparedCorpus]
      try {
        measure(s"knn_prepare_b$bRes") {
          corpora += Knn.prepareCorpus(spark, knnPts, res = 8, maxRounds = 3,
            bucketRes = bRes)
        }
        measure(s"knn_local_b$bRes") {
          val qs = spark.range(0, 200, 1, 4).selectExpr(
            "id AS qid",
            "48.8566 + cast(id % 97 as double) * 2e-3 AS lat",
            "2.3522 + cast(id % 89 as double) * 2e-3 AS lng")
          Knn.knnJoinPrepared(spark, corpora.last, qs, k = 10)
            .agg(count(lit(1))).collect()
        }
      } finally corpora.foreach(_.release())
    }
    knnLocalProbe(0)
    knnLocalProbe(1)

    // --- icelite_write staging vs stats (same frame as the bench phase) ---
    val icePts = Bench.synthPoints(spark, nDocs / 20).selectExpr(
      "page_id", "lat", "lng",
      "h3_latlng_to_cell(lat, lng, 9) AS cell9",
      "h3_cell_to_parent(h3_latlng_to_cell(lat, lng, 9), 1) AS cell_p")
    measure("ice_stage_job") {
      val staging = java.nio.file.Files.createTempDirectory("graft-extra-stage")
      icePts.withColumn("__part", col("cell_p").cast("string"))
        .repartition(col("__part"))
        .write.mode("overwrite").partitionBy("__part")
        .parquet(staging.toString)
      deleteDir(staging)
    }
    measure("ice_write_full") {
      val r = java.nio.file.Files.createTempDirectory("graft-extra-icelite")
      graft.engine.Icelite.writeResumable(spark, icePts, r.toString, "cell_p")
      deleteDir(r)
    }
    // Staging decomposition: synthesis alone, plain parquet write (no
    // partitioning machinery), rebalance+partitionBy write (the staging
    // job's real shape), and the stats aggregation over a staged read.
    measure("ice_synth_noop") { noop(icePts) }
    measure("ice_plain_write") {
      val d = java.nio.file.Files.createTempDirectory("graft-extra-plain")
      icePts.write.mode("overwrite").parquet(d.toString)
      deleteDir(d)
    }
    measure("ice_rebalance_write") {
      val d = java.nio.file.Files.createTempDirectory("graft-extra-rebal")
      icePts.withColumn("__part", col("cell_p").cast("string"))
        .hint("rebalance", col("__part"))
        .write.mode("overwrite").partitionBy("__part")
        .parquet(d.toString)
      deleteDir(d)
    }
    locally {
      val d = java.nio.file.Files.createTempDirectory("graft-extra-stats")
      icePts.withColumn("__part", col("cell_p").cast("string"))
        .hint("rebalance", col("__part"))
        .write.mode("overwrite").partitionBy("__part")
        .parquet(d.toString)
      measure("ice_stats_job") {
        spark.read.parquet(d.toString)
          .groupBy("__part")
          .agg(count(lit(1)).as("rows"),
            expr("bit_xor(xxhash64(struct(page_id,lat,lng,cell9,cell_p)))"),
            min("cell9"), max("cell9"), min("cell_p"), max("cell_p"))
          .collect()
      }
      deleteDir(d)
    }

    // --- temporal ---
    measure("events_noop") { noop(Bench.synthEvents(spark, nDocs / 4)) }

    // --- lm counts: three-union scan (as shipped r5) ---
    measure("lm_counts_scan") {
      val train = lined(nDocs / 200).where(col("doc_id") % 3 =!= 0)
      def grams(k: Int): DataFrame = {
        val fps =
          if (k == 1) expr("shingle_fps_pos(text, 1)")
          else expr(s"CASE WHEN word_count(text) >= $k THEN shingle_fps_pos(text, $k) " +
            "ELSE CAST(array() AS ARRAY<BIGINT>) END")
        train.select(explode(fps).as("fp")).withColumn("kind", lit(k))
      }
      grams(1).unionByName(grams(2)).unionByName(grams(3))
        .groupBy("kind", "fp").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1))).collect()
    }

    // --- lr feature extraction (the pre-cache scan) ---
    measure("lr_features_scan") {
      val n = nDocs / 1000
      noop(lined(n).select(
        expr(s"CAST(floor((${Ops.qualitySql}) * 1000000) AS BIGINT) >= 750000").as("y"),
        expr("(CAST((size(filter(split(lower(trim(text)), '\\\\s+'), w -> array_contains(array('the','a','of'), w))) / greatest(size(split(trim(text), '\\\\s+')), 1)) AS DOUBLE) * 10.0)").as("x1")))
    }

    // --- text_signals kernel (the whole phase is one kernel pass) ---
    measure("text_repetition_noop") {
      noop(lined(nDocs / 20).selectExpr("doc_id", "text_repetition(text) AS r"))
    }

    // --- sessionize decomposition: shuffle+windows+agg vs synthesis ---
    measure("sess_full") {
      graft.ops.Temporal.sessionize(spark, Bench.synthEvents(spark, nDocs / 4))
        .agg(count(lit(1)), sum("n_events")).collect()
    }

    // --- lm counts: NEW single-pass kernel (one scan, packed (kind<<32)|fp) ---
    measure("lm_counts_kernel") {
      val train = lined(nDocs / 200).where(col("doc_id") % 3 =!= 0)
      train.select(explode(expr("lm_gram_fps(text)")).as("p"))
        .select(shiftright(col("p"), 32).cast("int").as("kind"),
          col("p").bitwiseAND(lit(4294967295L)).as("fp"))
        .groupBy("kind", "fp").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1))).collect()
    }

    // --- bpe decomposition: dict scan vs encode scan ---
    measure("bpe_dict_scan") {
      lined(nDocs / 20)
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(1 << 16)
        .collect()
    }
    // NEW dict path: per-doc pre-aggregated (word, cnt) pairs through the
    // hash aggregate instead of one row per word occurrence.
    measure("bpe_dict_kernel") {
      lined(nDocs / 20)
        .selectExpr("inline(word_count_pairs(text))")
        .groupBy("word").agg(sum("cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(1 << 16)
        .collect()
    }
    measure("bpe_encode_full") {
      Ops.bpeEncode(spark, lined(nDocs / 20), nMerges = 32)
        .agg(count(lit(1)), sum("n_tokens"), sum("token_fp")).collect()
    }

    val js = out.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    println(s"""{"extra":$js,"sf":"$sfDir","docs":$nDocs}""")
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
