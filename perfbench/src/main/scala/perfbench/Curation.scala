package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Ops

/** `curation`: the text-curation path, with no H3 code in it.
  *
  * Inputs have the shape of `graft.Bench.synthLinedDocs`: the `BaseDocs`
  * documents of `perfbench/data/documents-1000.parquet` (the first 1000
  * rows of the `documents` test table), re-segmented into 2-word lines by
  * `Ops.relineSql(2)` and broadcast-joined onto fresh doc ids. One op runs
  * four calls over one batch, each with its own action: `Ops.lineDedup` ->
  * `Ops.dedupSpans` (window 20) -> `Ops.lmScore` (train on 2/3) ->
  * `Ops.decontaminate` against an eval slice of the base table chosen by
  * the seed. */
final class Curation extends Workload {
  val Batch: Long = 5000L
  /** Each base text appears Batch / BaseDocs = 5 times per batch, so the
    * dedup calls find duplicated lines and spans. */
  val BaseDocs = 1000
  val EvalDocs = 40
  val Sample = "perfbench/data/documents-1000.parquet"

  private var base: DataFrame = _
  private var eval: DataFrame = _
  private var seed = 0L
  private def evalFrom: Int = Math.floorMod(seed, (BaseDocs / EvalDocs).toLong).toInt * EvalDocs

  def batchItems: Long = Batch

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    val texts = ctx.spark.read.parquet(ctx.repoFile(Sample).toString)
      .selectExpr("doc_id AS __k", Ops.relineSql(2) + " AS text")
      .orderBy("__k").collect().toSeq
    if (texts.map(_.getLong(0)) != (0 until BaseDocs).map(_.toLong))
      throw new IllegalStateException(s"$Sample must hold doc ids 0 to ${BaseDocs - 1}")
    val schema = StructType(Seq(StructField("__k", LongType, false),
      StructField("text", StringType, false)))
    base = Synth.frame(ctx.spark, schema, texts)
    eval = Synth.frame(ctx.spark, schema, texts.slice(evalFrom, evalFrom + EvalDocs))
      .select("text")
    // Warm-up: JIT and codegen caches over two full untraced ops.
    ctx.untraced { op(ctx, -2); op(ctx, -1) }
  }

  private def docs(ctx: Ctx, i: Int): DataFrame = {
    val from = Synth.slot(seed) + (i + 2) * Batch
    Synth.ids(ctx.spark, from, Batch).selectExpr("id AS doc_id", s"id % $BaseDocs AS __k")
      .join(broadcast(base), "__k").select("doc_id", "text")
  }

  /** The boilerplate threshold scales with the duplication factor, as in
    * `graft.Bench`, so a mix of lines survives. */
  private def minDocs: Int = math.max(2, (Batch * 15 / BaseDocs).toInt)
  private val train = col("doc_id") % 3 =!= 0

  /** The four calls, fast paths (`ref = false`) or forced fallbacks. */
  private def calls(ctx: Ctx, d: DataFrame, ref: Boolean): Seq[(String, () => DataFrame)] = {
    val s = ctx.spark
    Seq(
      "ops.line_dedup" -> (() =>
        if (ref) Ops.lineDedupShuffle(s, d, minDocs) else Ops.lineDedup(s, d, minDocs)),
      "ops.dedup_spans" -> (() =>
        Ops.dedupSpans(s, d, window = 20,
          broadcastMaxFps = if (ref) -1 else 4 << 20)),
      "ops.lm_score" -> (() =>
        if (ref) Ops.lmScoreShuffle(s, d, train) else Ops.lmScore(s, d, train)),
      "ops.decontaminate" -> (() =>
        if (ref) Ops.decontaminateShuffle(s, d, eval) else Ops.decontaminate(s, d, eval)))
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val d = docs(ctx, i)
    val digests = calls(ctx, d, ref = false).map { case (name, f) =>
      ctx.span(name)(Synth.digest(f()))
    }
    OpResult(Batch, "batch", digests.mkString(" "))
  }

  /** Each call's output must equal its forced-fallback reference path. */
  def verify(ctx: Ctx, i: Int, r: OpResult): Seq[String] = {
    val d = docs(ctx, i)
    val got = r.digest.split(" ")
    calls(ctx, d, ref = true).zip(got).flatMap { case ((name, f), g) =>
      val want = Synth.digest(f())
      if (want == g) None else Some(s"curation op $i $name: fast path $g != reference $want")
    }
  }

  def info(ctx: Ctx): Map[String, Any] = Map(
    "batch_docs" -> Batch, "base_docs" -> BaseDocs, "eval_docs" -> EvalDocs,
    "eval_from" -> evalFrom,
    "line_dedup_min_docs" -> minDocs)

  def teardown(ctx: Ctx): Unit = ()
}
