package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.H3Functions

/** Structured Streaming surface: continuous H3 indexing and windowed tile
  * roll-ups over a stream of geotagged events.
  *
  * The batch operators compose directly — `h3_latlng_to_cell` and
  * `h3_cell_to_parent` are ordinary codegen'd expressions, so the streaming
  * plan is readStream -> project -> watermark -> windowed groupBy, with
  * state keyed by (window, tile). Late data beyond the watermark is
  * dropped; output mode `update` emits refined tile counts per trigger.
  */
object StreamingTiles {

  /** @param events streaming DataFrame with `ts` (timestamp), `lat`, `lng`.
    * @return windowed tile counts at `tileRes`. */
  def windowedTileCounts(spark: SparkSession, events: DataFrame,
                         pointRes: Int = 9, tileRes: Int = 5,
                         windowDuration: String = "10 minutes",
                         watermark: String = "5 minutes"): DataFrame = {
    H3Functions.register(spark)
    events
      .withColumn("cell", expr(s"h3_latlng_to_cell(lat, lng, $pointRes)"))
      .withColumn("tile", expr(s"h3_cell_to_parent(cell, $tileRes)"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("tile"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming geofence (PIP) join: a stream of geotagged events against a
    * static polygon set — the batch H3-bucketed join composes directly as
    * a STREAM-STATIC inner join (the annotated cover is a static broadcast
    * side; rows on fully-contained cover cells pass with zero per-row
    * work, boundary rows run the codegen'd ray cast), so per-trigger cost
    * is one narrow pass over the micro-batch and no streaming state at
    * all. Emits the event columns + poly_id per containment hit. */
  def streamingGeofenceJoin(spark: SparkSession, events: DataFrame,
                            polys: Seq[SpatialJoin.Poly],
                            res: Int = 9): DataFrame = {
    H3Functions.register(spark)
    val pts = events.withColumn("cell9",
      expr(s"h3_latlng_to_cell(lat, lng, $res)"))
    SpatialJoin.pipJoin(spark, pts, polys, res).drop("cell9")
  }

  /** Streaming near-duplicate suppression for a document stream: the first
    * arrival of each normalized-text fingerprint within the watermark
    * survives, later duplicates are dropped; state is evicted past the
    * watermark so it stays bounded on an unbounded stream. */
  def streamingDedup(spark: SparkSession, docs: DataFrame,
                     watermark: String = "10 minutes"): DataFrame = {
    graft.ops.OpsFunctions.register(spark)
    docs
      .withColumn("fingerprint", expr("doc_fingerprint(text)"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Streaming benchmark decontamination: flag documents in-flight
    * against a STATIC eval set. The eval n-gram dictionary is collected
    * once at query-construction time into a sorted broadcast array and
    * probed per row by the same codegen kernel as the batch fast path —
    * completely stateless (no watermark, no streaming state), so the
    * per-trigger cost is one narrow pass over the micro-batch. Output =
    * input columns + (n_hits, contaminated); filter on !contaminated to
    * gate an ingest stream.
    *
    * @param docs streaming DataFrame with a `text` column.
    * @param eval STATIC (batch) DataFrame with a `text` column. */
  def streamingDecontaminate(spark: SparkSession, docs: DataFrame,
                             eval: DataFrame, shingle: Int = 5,
                             broadcastMaxFps: Int = 4000000): DataFrame = {
    val fps = graft.ops.Ops.evalFpDict(spark, eval, shingle, broadcastMaxFps)
      .getOrElse(throw new IllegalArgumentException(
        s"eval dictionary exceeds $broadcastMaxFps fps — the stateless " +
          "streaming probe requires a broadcastable eval set (decontaminate " +
          "the backlog in batch instead)"))
    docs
      .withColumn("n_hits", graft.ops.Ops.evalProbe(spark, fps, shingle))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Streaming LM scoring: the Stupid-Backoff n-gram model is trained in
    * BATCH over the `reference` corpus (same capped dictionary collect as
    * the batch fast path), then every streamed document is scored
    * statelessly by the broadcast-dictionary codegen kernel — no state
    * store, no shuffle, bit-equal to batch lmScore (parity spec). Output:
    * the input columns plus n_tokens/n_tri/n_bi/n_uni/n_oov/score_fp. */
  def streamingLmScore(spark: SparkSession, docs: DataFrame,
                       reference: DataFrame, alpha: Double = 0.4,
                       broadcastMaxCounts: Int = 2000000): DataFrame = {
    graft.ops.Ops.withLmScores(docs, docs.columns.toSeq.map(col),
      graft.ops.Ops.lmScoreCol(spark, reference, alpha, broadcastMaxCounts))
  }

  /** Streaming curation: the batch gates compose statelessly per row
    * (the repetition kernel and the quality score are pure codegen'd
    * expressions), duplicate suppression is watermark-bounded fingerprint
    * state, the content-hash split is per-row, and the per-split counts
    * are an ordinary windowed aggregation — two chained stateful
    * operators, both watermark-evicted, so state stays bounded on an
    * unbounded stream. Append mode: windows finalize once the watermark
    * passes their end.
    *
    * @param docs streaming DataFrame with `ts` (timestamp), `doc_id`,
    *             `text`. */
  def streamingCuration(spark: SparkSession, docs: DataFrame,
                        watermark: String = "10 minutes",
                        windowDuration: String = "10 minutes",
                        minQuality: Double = 0.5,
                        maxTopWordFrac: Double = 0.8,
                        trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    graft.ops.OpsFunctions.register(spark)
    docs
      .filter(expr("text_repetition(text)").getField("top_word_frac")
        <= maxTopWordFrac)
      .filter(expr(graft.ops.Ops.qualitySql) >= minQuality)
      .withColumn("fingerprint", expr("doc_fingerprint(text)"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
      .withColumn("split", expr(
        s"CASE WHEN fingerprint % 100 < $trainPct THEN 'train' " +
          s"WHEN fingerprint % 100 < ${trainPct + validPct} THEN 'valid' " +
          "ELSE 'test' END"))
      .groupBy(window(col("ts"), windowDuration), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(ceil(length(text) / 4.0) as bigint)")).as("tokens"))
  }

  /** Per-tile state is BOUNDED: a fixed 256-register HyperLogLog sketch
    * (256 bytes) instead of a distinct-cell set — a long-running stream over
    * fine-resolution cells would otherwise grow state without limit and
    * OOM the state store. */
  final case class TileState(total: Long, hll: Array[Byte])
  final case class TileUpdate(tile: Long, total: Long, distinct_cells: Long)

  private[graft] final val HllRegisters = 256 // 2^8; ~6.5% standard error

  private[graft] def hllAdd(regs: Array[Byte], value: Long): Unit = {
    val h = graft.ops.TextKernel.mix64(value)
    val idx = (h >>> 56).toInt // top 8 bits
    val rank = (java.lang.Long.numberOfLeadingZeros(h << 8 | 0xFFL) + 1).toByte
    if (rank > regs(idx)) regs(idx) = rank
  }

  private[graft] def hllEstimate(regs: Array[Byte]): Long = {
    val m = HllRegisters
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m) // HLL bias constant, m >= 128
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    math.round(corrected)
  }

  /** Custom-state streaming: per-tile running totals + approximate
    * distinct-cell cardinality via flatMapGroupsWithState (the
    * KeyValueGroupedDataset escape hatch for state Spark's windowed
    * aggregates can't express). */
  def tileVisitStats(spark: SparkSession, events: DataFrame,
                     pointRes: Int = 9, tileRes: Int = 5)
      : org.apache.spark.sql.Dataset[TileUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    H3Functions.register(spark)
    val keyed = events
      .withColumn("cell", expr(s"h3_latlng_to_cell(lat, lng, $pointRes)"))
      .withColumn("tile", expr(s"h3_cell_to_parent(cell, $tileRes)"))
      .select(col("tile").as[Long], col("cell").as[Long])
      .as[(Long, Long)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (tile: Long, rows: Iterator[(Long, Long)], state: GroupState[TileState]) =>
        val prev = state.getOption.getOrElse(
          TileState(0L, new Array[Byte](HllRegisters)))
        var total = prev.total
        val regs = prev.hll.clone()
        rows.foreach { case (_, cell) => total += 1; hllAdd(regs, cell) }
        state.update(TileState(total, regs))
        Iterator(TileUpdate(tile, total, hllEstimate(regs)))
    }
  }

  /** Streaming KMV distinct-count: per-group cardinality estimates over
    * an unbounded stream (distinct URLs per domain, distinct documents
    * per source) with BOUNDED state — one k-minimum-values sketch (at
    * most k longs) per group, updated in place by mapGroupsWithState
    * and re-emitted each trigger in update mode. The estimate is the
    * same arithmetic as the batch [[graft.ops.Ops.approxDistinct]]
    * (exact below k distinct, (k-1) * P^2 / h_k above it, identical
    * IEEE op order), so a drained stream's final emission is bit-equal
    * to the batch operator on the same rows (parity spec). */
  def streamingApproxDistinct(spark: SparkSession, rows: DataFrame,
                              k: Int = 256)
      : org.apache.spark.sql.Dataset[(String, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyed = rows
      .select(col("grp").cast("string").as[String],
        col("v").cast("string").as[String])
      .groupByKey(_._1)
    keyed.mapGroupsWithState(
      GroupStateTimeout.NoTimeout()) {
      (grp: String, it: Iterator[(String, String)],
       state: GroupState[Array[Long]]) =>
        val buf = new graft.ops.KmvBuf(k)
        state.getOption.foreach { hs =>
          var i = 0
          while (i < hs.length) { buf.hs(i) = hs(i); i += 1 }
          buf.size = hs.length
        }
        val P = graft.ops.TextKernel.P
        it.foreach { case (_, v) =>
          if (v != null) {
            val a = graft.ops.TextKernel.stringFp(v)
            val c = graft.ops.TextKernel.stringFp2(v)
            val m1 = (((a * 48271 + c) % P) * 48271 + a) % P
            val m2 = (((c * 16807 + a) % P) * 16807 + c) % P
            buf.add(m1 * P + m2 + 1)
          }
        }
        state.update(buf.hs.take(buf.size))
        val est =
          if (buf.size < k) buf.size.toLong
          else math.floor((k - 1).toDouble *
            (2147483647.0 * 2147483647.0) / buf.hs(k - 1).toDouble).toLong
        (grp, est)
    }.toDF("grp", "est_distinct").as[(String, Long)]
  }

  /** Streaming sessionization over an unbounded event log: Spark's
    * native `session_window` aggregation keyed by user, watermark-bounded
    * state (a user's open session closes — and emits exactly once in
    * append mode — when the watermark passes its end + gap). The gap
    * semantics are identical to the batch [[graft.ops.Temporal.sessionize]]
    * (>= gap starts a new session), so finalized streaming sessions are
    * bit-comparable to the batch summaries (parity spec); only the
    * per-user ordinal `session_idx` is batch-only (an unbounded stream
    * has no total per-user order to rank against).
    *
    * Scale design: state is one open session per active user (merged
    * in-place by the session-window state store), not buffered events;
    * late data beyond `watermark` is dropped rather than reopening
    * closed sessions. */
  def streamingSessionize(spark: SparkSession, events: DataFrame,
                          gapMinutes: Int = 30,
                          watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        min(struct(unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("event_id")))
          .getField("event_id").as("first_event_id"),
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .select(col("user_id"), col("first_event_id"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"))
}
