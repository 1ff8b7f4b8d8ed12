package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.BoundedCollect
import graft.ops.Ops

/** The one bounded collect behind every broadcast-or-shuffle choice, and
  * each ops probe that goes through it, at a forced cap. */
class BoundedCollectSpec extends AnyFunSuite {
  private def spark: SparkSession = SparkTestBase.spark

  /** One Spark job: whether it collects (its last stage is a result
    * stage, not one of AQE's map-stage jobs) and how many stages it ran
    * (skipped stages excluded). */
  private final case class Job(collects: Boolean, stagesRun: Int)

  /** The jobs `f` ran, in order, and how many RDDs it unpersisted. */
  private def jobsOf[T](s: SparkSession)(f: => T): (T, Seq[Job], Int) = {
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, (Set[Int], Boolean)]
    val ran = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val unpersisted = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit = {
        unpersisted.incrementAndGet(); ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = stages.synchronized {
        stages(j.jobId) = (j.stageInfos.map(_.stageId).toSet,
          !j.stageInfos.forall(org.apache.spark.sql.GraftBridge.isShuffleMapStage))
      }
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit = stages.synchronized {
        stages.filter(_._2._1.contains(st.stageInfo.stageId)).keys.maxOption
          .foreach(j => ran(j) += 1)
      }
    }
    s.sparkContext.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.sql.GraftBridge.waitListenerBus(s.sparkContext)
      (out, stages.synchronized(stages.toSeq.map { case (j, (_, c)) => Job(c, ran(j)) }),
        unpersisted.get)
    } finally s.sparkContext.removeSparkListener(l)
  }

  private def collecting(jobs: Seq[Job]): Seq[Job] = jobs.filter(_.collects)

  test("a set within the budget but skewed into one partition runs two jobs, the second one stage") {
    // 40 rows hashed into one of 4 partitions (a repartition by number is
    // never coalesced by AQE): the hot partition passes its share of 10.
    val df = spark.range(0, 40, 1, 8).repartition(4, lit(0)).toDF("id")
    val (out, jobs, _) = jobsOf(spark)(BoundedCollect.sortedLongs(df, 40))
    assert(out.map(_.toSeq).contains((0L until 40L).toSeq))
    val c = collecting(jobs)
    assert(c.size == 2, jobs.toString)
    assert(c(1).stagesRun == 1, s"the fetch re-ran a map stage: $jobs")
    assert(BoundedCollect.sortedLongs(df, 39).isEmpty)
  }

  test("an over-budget set ships at most budget + P rows to the driver") {
    // 8 partitions of 5 rows, budget 36: each share is ceil(36 / 8) = 5,
    // so every partition fits its share and ships its rows, 40 <= 36 + 8.
    // With 8 rows per partition every task passes its share and ships
    // only its weight.
    val df = spark.range(0, 40, 1, 8).toDF("id")
    val (over, jobs, _) = jobsOf(spark)(BoundedCollect.sortedLongs(df, 36))
    assert(over.isEmpty && collecting(jobs).size == 1, jobs.toString)
    assert(BoundedCollect.keptPeak <= 36 + 8, s"driver got ${BoundedCollect.keptPeak} rows")
    assert(BoundedCollect.sortedLongs(spark.range(0, 64, 1, 8).toDF("id"), 36).isEmpty)
    assert(BoundedCollect.keptPeak == 0)
    assert(BoundedCollect.sortedLongs(df, -1).isEmpty && BoundedCollect.keptPeak == 0)
  }

  /** One adaptive ops probe: the keys it collects (counted here from the
    * kernels, independently of the operator), the operator at a cap, and
    * the fast-path kernel its plan holds under the cap. */
  private final case class Probe(name: String, keys: () => Long,
                                 run: Int => DataFrame, kernel: String)

  /** The five probes over `docs` (loaded once: reading parquet runs a
    * schema job of its own). */
  private def probes(docs: DataFrame): Seq[Probe] = {
    val lined = docs.selectExpr("doc_id", Ops.relineSql(2) + " AS text")
    val withDomain = lined.withColumn("domain", concat(lit("d"), col("doc_id") % 3))
    val eval = docs.filter(col("doc_id") % 23 === 0)
    def dfKeys(frame: DataFrame, salt: String, minDocs: Int): Long =
      frame.select(col("doc_id"), explode(expr(s"line_fps(text, $salt)")).as("k"))
        .distinct().groupBy("k").count().filter(col("count") >= minDocs).count()
    Seq(
      Probe("lineDedup", () => dfKeys(lined, "-1", 5),
        cap => Ops.lineDedup(spark, lined, minDocs = 5, broadcastMaxFps = cap),
        "drop_boiler_lines"),
      Probe("lineDedupByDomain", () => dfKeys(withDomain, "doc_fingerprint(domain)", 3),
        cap => Ops.lineDedupByDomain(spark, withDomain, minDocs = 3, broadcastMaxFps = cap),
        "drop_boiler_lines"),
      Probe("dedupSpans",
        () => docs.select(explode(expr("shingle_fps_pos(text, 4)")).as("fp"))
          .groupBy("fp").count().filter(col("count") >= 2).count(),
        cap => Ops.dedupSpans(spark, docs, window = 4, broadcastMaxFps = cap),
        "span_merge"),
      Probe("lmScore",
        () => docs.where(col("doc_id") % 3 =!= 0)
          .select(explode(expr("lm_gram_fps(text)"))).distinct().count(),
        cap => Ops.lmScore(spark, docs, col("doc_id") % 3 =!= 0, broadcastMaxCounts = cap),
        "lm_score_doc"),
      Probe("decontaminate",
        () => eval.select(explode(expr("shingle_fps(text, 5)"))).distinct().count(),
        cap => Ops.decontaminate(spark, docs, eval, broadcastMaxFps = cap),
        "shingle_hits"))
  }

  test("every ops probe takes its fast path at cap = n and its fallback at n - 1, with equal rows") {
    def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (p <- probes(docs)) {
      val n = p.keys()
      assert(n > 1 && n < Int.MaxValue, s"${p.name}: $n keys")
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val (under, jobs, unpersisted) = jobsOf(spark)(p.run(Int.MaxValue))
      assert(collecting(jobs).size == 1, s"${p.name} under the cap: $jobs")
      assert(BoundedCollect.keptPeak == n, s"${p.name}: collected ${BoundedCollect.keptPeak} of $n")
      val (atCap, _, u1) = jobsOf(spark)(p.run(n.toInt))
      val (pastCap, _, u2) = jobsOf(spark)(p.run(n.toInt - 1))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted && unpersisted + u1 + u2 == 0,
        s"${p.name} persisted")
      assert(plan(under).contains(p.kernel) && plan(atCap).contains(p.kernel),
        s"${p.name} at cap = n: ${plan(atCap)}")
      assert(!plan(pastCap).contains(p.kernel), s"${p.name} at cap = n - 1: ${plan(pastCap)}")
      assert(rows(atCap) == rows(pastCap), s"${p.name}: fast and fallback rows differ")
    }
  }
}
