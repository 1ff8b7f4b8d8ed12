package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one op produced: input items, a result digest (printed so two
  * commits run on one seed can be compared) and an output check run after
  * the op's timing stops (None = pass). */
final case class OpResult(items: Long, kind: String, digest: String,
                          check: () => Option[String] = () => None)

/** Shared state of one benchmark process. */
final class Ctx(val root: Path, val runDir: Path, val seed: Long,
                val tracer: Tracer) {
  var spark: SparkSession = _
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  def untraced[A](body: => A): A = tracer.off(body)

  /** A repository file that must exist; fails fast naming its path. */
  def repoFile(rel: String): Path = {
    val p = root.resolve(rel)
    if (!Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(s"benchmark input missing: $p")
    p
  }
}

/** One named workload. Each op is issued only after the previous one
  * completed (closed loop, one client). */
trait Workload {
  /** Input items (docs or queries) of one op. */
  def batchItems: Long
  /** Inputs, indexes and warm-up on a fresh session; re-run per set-up. */
  def setup(ctx: Ctx): Unit
  def op(ctx: Ctx, i: Int): OpResult
  /** Checks op `i`'s output against a reference path, outside the timed
    * loop; returns the mismatches (empty = pass). */
  def verify(ctx: Ctx, i: Int, r: OpResult): Seq[String]
  /** Sizes and facts recorded beside the metrics. */
  def info(ctx: Ctx): Map[String, Any]
  /** Releases what [[setup]] built, before its session stops. */
  def teardown(ctx: Ctx): Unit
}

/** Benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout> --out <raw.json>`.
  *
  * Sets up the workload twice (fresh session each time), runs the
  * closed loop for the given seconds, verifies the first timed op against
  * its reference path, and writes every raw sample to `--out`; perfbench/
  * run.py turns them into metrics. With `--trace 1` each input runs
  * untraced, then traced, and the kernel and expression probes follow. */
object Main {
  val SetupRounds = 2
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath.normalize
    val out = Paths.get(a("out"))
    val runDir = out.getParent
    val tracer = new Tracer
    val ctx = new Ctx(root, runDir, seed, tracer)
    val wl: Workload = name match {
      case "geojoin" => new GeoJoin
      case "knn_service" => new KnnService
      case "curation" => new Curation
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

    // Set-up, more than once: the first from process start (JVM, session,
    // inputs, warm-up), the next from a stopped session onwards.
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      if (ctx.spark != null) {
        wl.teardown(ctx)
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ctx.spark = session(runDir)
      if (traced) tracer.attach(ctx.spark)
      tracer.enabled = traced
      tracer.opId = -1 - k
      tracer.span("setup")(wl.setup(ctx))
      tracer.enabled = false
      setupS +=
        (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
         else (System.nanoTime() - t0) / 1e9)
    }

    final case class Op(id: Int, phase: String, kind: String, items: Long,
                        t0Ns: Long, t1Ns: Long, ok: Boolean, error: String,
                        digest: String)
    val ops = mutable.ArrayBuffer.empty[Op]
    val results = mutable.HashMap.empty[Int, OpResult]
    var next = 0
    // With tracing, every input runs twice, untraced then traced, so the
    // overhead is the difference of paired ops. Record r runs input input(r).
    def input(r: Int): Int = if (traced) r / 2 else r
    def phaseOf(r: Int): String =
      if (!traced) "timed" else if (r % 2 == 0) "untraced" else "traced"
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end || (traced && next % 2 == 1)) {
      val r = next
      next += 1
      val phase = phaseOf(r)
      tracer.enabled = phase == "traced"
      tracer.opId = r
      val t0 = System.nanoTime()
      val res = try Right(tracer.span("op")(wl.op(ctx, input(r))))
                catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      tracer.enabled = false
      val op = res match {
        case Right(out) =>
          results(r) = out
          val bad = try out.check() catch { case e: Exception => Some(e.toString) }
          Op(r, phase, out.kind, out.items, t0, t1, bad.isEmpty, bad.orNull, out.digest)
        case Left(e) =>
          Op(r, phase, "", wl.batchItems, t0, t1, ok = false, e.toString, "")
      }
      println(s"digest op=${op.id} phase=$phase kind=${op.kind} items=${op.items} " +
        s"ok=${op.ok} ${op.digest}")
      ops += op
    }

    // Output verification of the first op, outside the timed loop; a
    // mismatch fails that op.
    val first = ops.head
    val tVerify = System.nanoTime()
    val verify: Seq[String] =
      if (!first.ok) Seq(s"op ${first.id} failed: ${first.error}")
      else try wl.verify(ctx, input(first.id), results(first.id))
           catch { case e: Exception => Seq(s"verification threw: $e") }
    if (verify.nonEmpty)
      ops(0) = first.copy(ok = false, error = "verification: " + verify.mkString("; "))

    val verifyS = (System.nanoTime() - tVerify) / 1e9
    val tProbes = System.nanoTime()
    val probes = if (traced) Probes.run(ctx) else Map.empty[String, Double]
    val probesS = (System.nanoTime() - tProbes) / 1e9
    val info = wl.info(ctx)
    val storageBytes = ctx.spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

    val spanRecs = tracer.spans.map { s =>
      val g = tracer.groupOf(s)
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "t0_ns" -> s.t0Ns, "t1_ns" -> s.t1Ns, "compiles" -> s.compiles,
        "jobs" -> tracer.jobsOf(g).map(j => Seq(
          j.startMs * 1000000L + tracer.nanoAtEpoch,
          j.endMs * 1000000L + tracer.nanoAtEpoch)),
        "tasks" -> tracer.tasksOf(g).map(t => Seq(t.durMs, t.runMs, t.gcMs, t.delayMs,
          t.shufReadB, t.shufWriteB, t.spillB, t.resultB, if (t.failed) 1L else 0L,
          t.stageId.toLong, t.finishMs * 1000000L + tracer.nanoAtEpoch)),
        "plans" -> tracer.plansOf(g).map(p => Seq(p.nodes.toLong, p.scanRows,
          p.filesRead, p.fileScans.toLong)))
    }
    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "cpus" -> Cpus, "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "load_avg_start" -> loadAvg, "batch_items" -> wl.batchItems,
      "setup_s" -> setupS, "storage_memory_bytes" -> storageBytes,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(o => Map("id" -> o.id, "phase" -> o.phase, "kind" -> o.kind,
        "items" -> o.items, "t0_ns" -> o.t0Ns, "t1_ns" -> o.t1Ns, "ok" -> o.ok,
        "error" -> o.error, "digest" -> o.digest)),
      "verify" -> verify, "verify_s" -> verifyS, "info" -> info, "probes" -> probes,
      "probes_s" -> probesS,
      "task_fields" -> Seq("dur_ms", "run_ms", "gc_ms", "sched_delay_ms",
        "shuffle_read_b", "shuffle_write_b", "spill_b", "result_b", "failed",
        "stage", "end_ns"),
      "plan_fields" -> Seq("nodes", "scan_rows", "files_read", "file_scans"),
      "spans" -> spanRecs)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(out, json.writeValueAsBytes(record))
    wl.teardown(ctx)
    ctx.spark.stop()
  }

  def session(runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.spark.H3Functions.register(s)
    graft.ops.OpsFunctions.register(s)
    s
  }

  /** Peak resident set of this JVM (VmHWM), or -1 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }
}
