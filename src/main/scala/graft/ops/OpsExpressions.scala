package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst kernels for the pipeline operators (dedup / similarity / text). */
object OpsKernel {
  def minHash(text: UTF8String, k: Int, numHashes: Int): ArrayData =
    new GenericArrayData(TextKernel.minHash(text.toString, k, numHashes))

  def bandHashes(text: UTF8String, k: Int, numHashes: Int, bands: Int): ArrayData = {
    val sig = TextKernel.minHash(text.toString, k, numHashes)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = TextKernel.bandHash(sig, b, rows); b += 1 }
    new GenericArrayData(out)
  }

  def simHash(text: UTF8String): Long = TextKernel.simHash(text.toString)

  def fingerprint(text: UTF8String): Long = TextKernel.fingerprint(text.toString)

  /** Boilerplate-line removal in ONE per-row pass against a sorted key
    * array: lines = split(text, '\n'), a line is dropped iff its
    * [[lineKey]] under `salt` is in the set, survivors re-join with '\n'.
    * Output (n_lines, n_kept, clean_text) matches the shuffle formulation
    * in [[Ops.lineDedup]] exactly (all-dropped docs yield "" with
    * n_kept 0); the equivalence is spec-pinned and oracle-checked. */
  def dropBoilerLines(textU: UTF8String, salt: Long, fps: Array[Long]): InternalRow = {
    val text = textU.toString
    val lines = text.split("\n", -1)
    val sb = new java.lang.StringBuilder(text.length)
    var kept = 0L
    var i = 0
    while (i < lines.length) {
      val key = lineKey(salt, TextKernel.fingerprint(lines(i)))
      if (java.util.Arrays.binarySearch(fps, key) < 0) {
        if (kept > 0) sb.append('\n')
        sb.append(lines(i))
        kept += 1
      }
      i += 1
    }
    InternalRow(lines.length, kept, UTF8String.fromString(sb.toString))
  }

  /** The boilerplate key of line fingerprint `fp`: a negative `salt`
    * keeps the plain fingerprint; `salt >= 0` (a domain fingerprint)
    * gives the domain-scoped key (salt * 48271 + fp) mod P, so one
    * global array holds every domain's boilerplate. The mixing is
    * wrap-exact mod P (both factors < P < 2^31, product < 2^47) and is
    * mirrored verbatim by the driver oracle SQL. */
  private def lineKey(salt: Long, fp: Long): Long =
    if (salt >= 0) (salt * 48271L + fp) % TextKernel.P else fp

  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double =
    TextKernel.jaccard(a.toString, b.toString, k)

  def charNgrams(text: UTF8String, n: Int, max: Int): Array[String] =
    TextKernel.charNgrams(text.toString, n, max)

  /** Cosine similarity of two float vectors. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = Math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / Math.sqrt(na * nb)
  }

  /** Sign (+1/-1) of hyperplane component (seed, bit, dim): parity of a
    * double modular mix over the Mersenne prime — the same arithmetic is
    * expressible in DuckDB SQL for the driver oracle. Every multiply wraps
    * mod P (factors ~2^31 x ~2^7..2^17), which matters: a non-wrapping
    * affine form degenerates to parity(d) and collapses the LSH to two
    * buckets per table. `seed` must be non-negative. */
  @inline def planeSign(seed: Long, b: Int, d: Int): Double = {
    var h = (seed * 48271L + 11L) % TextKernel.P
    h = (h * (b * 131L + 1L) + b) % TextKernel.P
    h = (h * (d * 2L + 1L) + d) % TextKernel.P
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Deterministic Rademacher (+-1) hyperplane LSH signature (`bits` sign
    * bits) of a float vector. The dot product accumulates in index order in
    * double precision so DuckDB's left-fold reproduces it bit-for-bit. */
  def hyperplaneSig(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += planeSign(seed, b, i) * v.getFloat(i).toDouble
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Distinct word-shingle fingerprints of a text (the document's shingle
    * SET, for exact-Jaccard joins). */
  def shingleFpsDistinct(text: UTF8String, k: Int): ArrayData = {
    val fps = TextKernel.shingleFps(text.toString, k)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < fps.length) { seen.add(fps(i)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Count of the text's DISTINCT word-k-shingle fingerprints present in a
    * sorted fingerprint array (the broadcast eval dictionary of the
    * decontamination fast path). */
  def shingleHits(textU: UTF8String, k: Int, fps: Array[Long]): Long = {
    val all = TextKernel.shingleFps(textU.toString, k)
    val seen = new java.util.HashSet[java.lang.Long]()
    var hits = 0L
    var i = 0
    while (i < all.length) {
      if (java.util.Arrays.binarySearch(fps, all(i)) >= 0 && seen.add(all(i)))
        hits += 1L
      i += 1
    }
    hits
  }

  /** Ordered per-POSITION word-shingle fingerprints (window i = words
    * [i, i+k); fewer than k words yields one fingerprint of all words) —
    * span-level dedup needs positions, not the distinct set. */
  def shingleFpsPos(text: UTF8String, k: Int): ArrayData =
    new GenericArrayData(TextKernel.shingleFps(text.toString, k))

  /** One-pass Stupid-Backoff document score against a broadcast count
    * dictionary — see [[LmScoreDocExpr]] for the parity contract with
    * OracleDialect.sbmScoreCase/sbmLevelCase. */
  def lmScoreDoc(textU: UTF8String, d: LmDict, alpha: Double,
                 nt: Long): InternalRow = {
    val fps = TextKernel.lmProbeFps(textU.toString)
    val n = fps.length / 5
    var nTri = 0L; var nBi = 0L; var nUni = 0L; var nOov = 0L
    var score = 0L
    var j = 0
    while (j < n) {
      val o = 5 * j
      val c1 = d.cnt(1, fps(o))
      val c1x = if (fps(o + 1) >= 0) d.cnt(1, fps(o + 1)) else 0L
      val c2 = if (fps(o + 2) >= 0) d.cnt(2, fps(o + 2)) else 0L
      val c2x = if (fps(o + 3) >= 0) d.cnt(2, fps(o + 3)) else 0L
      val c3 = if (fps(o + 4) >= 0) d.cnt(3, fps(o + 4)) else 0L
      var s = 0.0
      if (c3 > 0 && c2x > 0) { s = c3.toDouble / c2x.toDouble; nTri += 1 }
      else if (j >= 2 && c2 > 0 && c1x > 0) {
        s = alpha * (c2.toDouble / c1x.toDouble); nBi += 1
      } else if (j == 1 && c2 > 0 && c1x > 0) {
        s = c2.toDouble / c1x.toDouble; nBi += 1
      } else if (j >= 2 && c1 > 0) {
        s = alpha * (alpha * (c1.toDouble / nt.toDouble)); nUni += 1
      } else if (j == 1 && c1 > 0) {
        s = alpha * (c1.toDouble / nt.toDouble); nUni += 1
      } else if (c1 > 0) { s = c1.toDouble / nt.toDouble; nUni += 1 }
      else nOov += 1
      score += math.floor(1000000.0 * s).toLong
      j += 1
    }
    InternalRow(n.toLong, nTri, nBi, nUni, nOov, score)
  }

  def wordCount(text: UTF8String): Long = TextKernel.wordCount(text.toString)

  def lmGramFps(text: UTF8String): ArrayData =
    new GenericArrayData(TextKernel.lmGramFps(text.toString))

  def splitWordCount(text: UTF8String): Long =
    TextKernel.splitWordCount(text.toString)

  /** Non-empty regex-\s tokens of the space-trimmed text, counted per
    * document, as an array of (word, cnt) rows (order: first occurrence;
    * irrelevant to the downstream aggregation). */
  def wordCountPairsArr(textU: UTF8String): ArrayData = {
    val s = textU.toString
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    var i = b
    while (i < e) {
      while (i < e && TextKernel.isSplitSpace(s.charAt(i))) i += 1
      if (i < e) {
        val ws = i
        while (i < e && !TextKernel.isSplitSpace(s.charAt(i))) i += 1
        val w = s.substring(ws, i)
        val prev = m.get(w)
        if (prev == null) m.put(w, Array(1L)) else prev(0) += 1L
      }
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val en = it.next()
      out(i) = InternalRow(UTF8String.fromString(en.getKey), en.getValue.apply(0))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-line boilerplate keys of a '\n'-lined document in one pass —
    * [[lineKey]] of TextKernel.fingerprint(line) per split(text,'\n')
    * segment (limit -1: trailing empty segments kept, exactly like
    * explode(split(...))). Feeds the boilerplate df aggregation without
    * exploding line STRINGS through a projection. */
  def lineFps(textU: UTF8String, salt: Long): ArrayData = {
    val text = textU.toString
    val n = text.length
    var count = 1
    var i = 0
    while (i < n) { if (text.charAt(i) == '\n') count += 1; i += 1 }
    val out = new Array[Long](count)
    var o = 0
    i = 0
    while (i <= n) {
      var j = i
      while (j < n && text.charAt(j) != '\n') j += 1
      out(o) = lineKey(salt, TextKernel.fingerprint(text.substring(i, j)))
      o += 1
      i = j + 1
    }
    new GenericArrayData(out)
  }

  /** Per-document maximal duplicated spans in ONE kernel pass against the
    * broadcast duplicated-fp set: window fingerprints stream in position
    * order, so the gaps-and-islands merge (break when pos > prevEnd + 1,
    * running max end, count) is a local scan — no doc_id shuffle, no
    * window sort. Rows equal [[Ops.dedupSpans]]'s relational span merge
    * exactly (spec-pinned): span_id 1-based per doc, start = first pos,
    * end = max w_end, n_windows = count. */
  def dedupSpansLocal(textU: UTF8String, window: Int,
                      fps: Array[Long]): ArrayData = {
    val text = textU.toString
    val wfps = TextKernel.shingleFps(text, window)
    if (wfps.isEmpty) return new GenericArrayData(Array.empty[Any])
    val nWords = TextKernel.wordCount(text)
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var spanId = 0L
    var start = -1L
    var end = -1L
    var cnt = 0L
    def flush(): Unit =
      if (spanId > 0) out += InternalRow(spanId, start, end, cnt)
    var i = 0
    while (i < wfps.length) {
      if (java.util.Arrays.binarySearch(fps, wfps(i)) >= 0) {
        val pos = i.toLong
        val wEnd = Math.min(pos + window - 1, nWords - 1)
        if (spanId == 0L || pos > end + 1) {
          flush()
          spanId += 1; start = pos; end = wEnd; cnt = 1
        } else {
          if (wEnd > end) end = wEnd
          cnt += 1
        }
      }
      i += 1
    }
    flush()
    new GenericArrayData(out.toArray)
  }

  /** The 19-entry stopword list shared with Ops.Stopwords (single source
    * of truth — the SQL array literal formulations derive from this). */
  val QualityStopwords: Seq[String] = Seq("the", "a", "an", "and", "or",
    "of", "to", "in", "is", "it", "for", "on", "with", "as", "at", "by",
    "from", "this", "that")
  private val qualityStopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    QualityStopwords.foreach(s.add)
    s
  }

  /** One-pass quality counts; `lower` parity with Spark's Lower
    * (UTF8String.toLowerCase), trim/split parity per
    * TextKernel.qualityCounts. */
  def qualityStats(text: UTF8String): InternalRow = {
    val a = TextKernel.qualityCounts(text.toString,
      text.toLowerCase.toString, qualityStopSet)
    InternalRow(a(0), a(1), a(2), a(3), a(4))
  }

  /** Distinct word-shingle overlap counts as a (n_inter, n_union) row. */
  def overlapRow(a: UTF8String, b: UTF8String, k: Int): InternalRow = {
    val (inter, union) = TextKernel.overlapCounts(a.toString, b.toString, k)
    InternalRow(inter, union)
  }

  /** Per-document repetition stats over '\n'-separated lines in ONE O(n)
    * JVM pass (the higher-order-function formulation pays ~200ns of
    * interpreter overhead per lambda step — 50x slower on real documents).
    * Semantics match these Spark SQL definitions exactly (pinned by the
    * OpsSpec equivalence test and the driver's DuckDB oracle):
    * {{{
    *   ls = split(text, '\n');  w = split(trim(text), '\\s+')
    *   bigrams = w[i] || ' ' || w[i+1]
    *   dup_line_frac   = 1.0 - distinct(ls)/size(ls)
    *   dup_char_frac   = sum(cnt*len over lines with cnt>1)
    *                       / greatest(length(replace(text,'\n','')), 1)
    *   top_word_frac   = maxFreq(w) / greatest(size(w), 1)
    *   top_bigram_frac = maxFreq(bigrams) / greatest(size(bigrams), 1)
    * }}}
    * BMP-only length parity (UTF-16 units vs codepoints), like the rest of
    * the text-kernel family. */
  /** Open-addressing (offset, len)-keyed substring counter — counts
    * duplicate lines/words without materializing a String or a boxed
    * map entry per token (the former HashMap[String, Int] formulation
    * spent most of the text_signals phase in regex split + per-token
    * allocation). Equality is exact char comparison on hash collision,
    * so counts match the String-keyed formulation exactly. */
  private final class SubstrCountMap(text: String, expected: Int) {
    private val cap = {
      var c = 4
      while (c < (expected + 1) * 2) c <<= 1
      c
    }
    private val offs = new Array[Int](cap)
    private val lens = new Array[Int](cap)
    private val cnts = new Array[Int](cap)
    java.util.Arrays.fill(lens, -1)
    var distinct = 0

    private def eqAt(slot: Int, off: Int, len: Int): Boolean = {
      var a = offs(slot)
      var b = off
      val e = off + len
      while (b < e) {
        if (text.charAt(a) != text.charAt(b)) return false
        a += 1; b += 1
      }
      true
    }

    /** Counts one occurrence; returns the (stable) slot id of the key. */
    def add(off: Int, len: Int): Int = {
      var h = 1
      var i = off
      val e = off + len
      while (i < e) { h = 31 * h + text.charAt(i); i += 1 }
      h = h ^ (h >>> 16)
      var slot = h & (cap - 1)
      while (true) {
        if (lens(slot) == -1) {
          offs(slot) = off; lens(slot) = len; cnts(slot) = 1
          distinct += 1
          return slot
        } else if (lens(slot) == len && eqAt(slot, off, len)) {
          cnts(slot) += 1
          return slot
        } else slot = (slot + 1) & (cap - 1)
      }
      0
    }

    def maxCount: Int = {
      var m = 0
      var i = 0
      while (i < cap) { if (lens(i) >= 0 && cnts(i) > m) m = cnts(i); i += 1 }
      m
    }

    /** Sum of cnt * len over keys with cnt > 1 (duplicate-line chars). */
    def dupChars: Long = {
      var s = 0L
      var i = 0
      while (i < cap) {
        if (lens(i) >= 0 && cnts(i) > 1) s += cnts(i).toLong * lens(i)
        i += 1
      }
      s
    }
  }

  /** Open-addressing long-key counter for bigram (slotA, slotB) pairs. */
  private final class LongCountMap(expected: Int) {
    private val cap = {
      var c = 4
      while (c < (expected + 1) * 2) c <<= 1
      c
    }
    private val keys = new Array[Long](cap)
    private val cnts = new Array[Int](cap)

    def add(key: Long): Unit = {
      var h = (key ^ (key >>> 32)).toInt
      h = h ^ (h >>> 16)
      var slot = h & (cap - 1)
      while (true) {
        if (cnts(slot) == 0) { keys(slot) = key; cnts(slot) = 1; return }
        else if (keys(slot) == key) { cnts(slot) += 1; return }
        else slot = (slot + 1) & (cap - 1)
      }
    }

    def maxCount: Int = {
      var m = 0
      var i = 0
      while (i < cap) { if (cnts(i) > m) m = cnts(i); i += 1 }
      m
    }
  }

  def repetitionStats(textU: UTF8String): InternalRow = {
    val text = textU.toString
    val n = text.length

    // ---- lines: split on '\n' with limit -1 semantics (all segments,
    // trailing empties kept; "" -> one empty line), counted in place.
    var nLines = 0
    var i = 0
    while (i <= n) { // one segment per '\n' + the final segment
      var j = i
      while (j < n && text.charAt(j) != '\n') j += 1
      nLines += 1
      i = j + 1
    }
    val lineMap = new SubstrCountMap(text, nLines)
    var nonNl = 0
    i = 0
    while (i <= n) {
      var j = i
      while (j < n && text.charAt(j) != '\n') j += 1
      lineMap.add(i, j - i)
      nonNl += j - i
      i = j + 1
    }

    // ---- words: split(trim(text), "\\s+") with limit -1 semantics —
    // Spark's trim strips spaces only; the regex-\s token walk keeps a
    // leading/trailing EMPTY token when a non-space separator survives
    // the trim (exact parity with the former String.split formulation,
    // spec-pinned against the HOF reference).
    var b = 0
    var e = n
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    // Count tokens first (sizes the maps; empty trimmed text -> [""]).
    var nWords = 0
    if (b == e) nWords = 1
    else {
      def isS(c: Char): Boolean =
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (isS(text.charAt(b))) nWords += 1
      if (isS(text.charAt(e - 1))) nWords += 1
      i = b
      while (i < e) {
        while (i < e && isS(text.charAt(i))) i += 1
        if (i < e) {
          nWords += 1
          while (i < e && !isS(text.charAt(i))) i += 1
        }
      }
    }
    val wordMap = new SubstrCountMap(text, nWords)
    val bgMap = new LongCountMap(Math.max(nWords - 1, 0))
    var prevSlot = -1
    if (b == e) { wordMap.add(0, 0); prevSlot = 0 }
    else {
      def isS(c: Char): Boolean =
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      def emit(off: Int, len: Int): Unit = {
        val slot = wordMap.add(off, len)
        if (prevSlot >= 0) bgMap.add((prevSlot.toLong << 32) | slot)
        prevSlot = slot
      }
      if (isS(text.charAt(b))) emit(b, 0) // leading "" token
      i = b
      while (i < e) {
        while (i < e && isS(text.charAt(i))) i += 1
        if (i < e) {
          val ws = i
          while (i < e && !isS(text.charAt(i))) i += 1
          emit(ws, i - ws)
        }
      }
      if (isS(text.charAt(e - 1))) emit(e, 0) // trailing "" token (limit -1)
    }
    val nBg = Math.max(nWords - 1, 0)

    InternalRow(
      nLines, nWords,
      1.0 - lineMap.distinct.toDouble / nLines,
      lineMap.dupChars.toDouble / Math.max(nonNl, 1),
      wordMap.maxCount.toDouble / Math.max(nWords, 1),
      bgMap.maxCount.toDouble / Math.max(nBg, 1))
  }
}

/** Per-row distinct-shingle hit count against a broadcast SORTED eval
  * fingerprint array — the zero-exchange decontamination probe. */
case class ShingleHitsExpr(text: Expression, shingle: Int,
                           fps: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = LongType
  override def prettyName: String = "shingle_hits"
  override protected def nullSafeEval(t: Any): Any =
    OpsKernel.shingleHits(t.asInstanceOf[UTF8String], shingle, fps.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("evalFps", fps,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, t =>
      s"graft.ops.OpsKernel.shingleHits($t, $shingle, (long[]) $ref.value())")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(text = c)
}

/** Per-document maximal duplicated spans against a broadcast SORTED
  * duplicated-fp array — see [[OpsKernel.dedupSpansLocal]]; the span
  * merge runs inside the scan stage, so the de-skewed dedupSpans
  * broadcast path carries NO exchange at all on the probe side. */
case class SpanMergeExpr(text: Expression, window: Int,
                         fps: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("span_id", LongType, nullable = false),
    StructField("start_tok", LongType, nullable = false),
    StructField("end_tok", LongType, nullable = false),
    StructField("n_windows", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "span_merge"
  override protected def nullSafeEval(t: Any): Any =
    OpsKernel.dedupSpansLocal(t.asInstanceOf[UTF8String], window, fps.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dupFps", fps,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, t =>
      s"graft.ops.OpsKernel.dedupSpansLocal($t, $window, (long[]) $ref.value())")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(text = c)
}

/** Broadcast-able centroid index for the IVF assignment: holds the cell
  * centroids (cid ascending) and answers "n nearest centroids by cosine"
  * in one map-side pass — the arithmetic (index-order left-fold dot
  * products, ties broken by smaller cid) mirrors `cosine_similarity` +
  * `ORDER BY csim DESC, cid` exactly, so replacing the old
  * crossJoin+Window assignment keeps the DuckDB oracle bit-identical. */
final class CentroidSet(val cids: Array[Long],
                        val vecs: Array[Array[Float]]) extends Serializable {
  require(cids.length == vecs.length)

  private def cosine(v: ArrayData, c: Array[Float]): Double = {
    val n = Math.min(v.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      val y = c(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / Math.sqrt(na * nb)
  }

  /** The `n` nearest centroid ids (cosine desc, cid asc). O(n * C) argmax
    * sweeps — n is tiny (nProbe/nAssign), C ~ sqrt(corpus). */
  def nearest(v: ArrayData, n: Int): ArrayData = {
    val c = cids.length
    val sims = new Array[Double](c)
    var j = 0
    while (j < c) { sims(j) = cosine(v, vecs(j)); j += 1 }
    val k = Math.min(n, c)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](c)
    var r = 0
    while (r < k) {
      var best = -1
      j = 0
      while (j < c) {
        // cids ascend, so strict > keeps the smaller cid on sim ties.
        if (!taken(j) && (best < 0 || sims(j) > sims(best))) best = j
        j += 1
      }
      taken(best) = true
      out(r) = cids(best)
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Broadcast-able product-quantization codebook: `m` subspaces x `k`
  * codewords over `sub`-dim subvectors (row-major [m][k][sub], doubles —
  * float codeword values widened exactly). Every float op below is an
  * index-order left fold in double precision, so the DuckDB oracle
  * re-derives encode/ADC bit-for-bit.
  *
  * Scale rationale: PQ codes are m bytes-ish per vector vs 4*dim raw —
  * at 10^12 x 64-dim float vectors that is ~8 TB of codes vs ~256 TB of
  * floats, and candidate scoring via the per-query lookup table costs m
  * adds per candidate instead of dim multiplies. */
final class PqCodebook(val m: Int, val k: Int, val sub: Int,
                       val cw: Array[Array[Array[Double]]]) extends Serializable {
  require(cw.length == m && cw.forall(_.length == k))

  /** |codeword|^2 table, flat [mi*k + ki] (index-order fold per codeword). */
  val cw2: Array[Double] = {
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        var s = 0.0
        var j = 0
        while (j < sub) { val x = cw(mi)(ki)(j); s += x * x; j += 1 }
        out(mi * k + ki) = s
        ki += 1
      }
      mi += 1
    }
    out
  }

  /** PQ codes of a vector: per subspace, the L2-nearest codeword
    * (squared distance as an index-order fold; ties -> smaller index,
    * mirroring ORDER BY d2, k). */
  def encode(v: ArrayData): ArrayData = {
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < k) {
        var d = 0.0
        var j = 0
        while (j < sub) {
          val x = v.getFloat(mi * sub + j).toDouble - cw(mi)(ki)(j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      out(mi) = best
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC lookup table: (dot(q_m, cw[m][k]) flat [m*k], |q|^2). */
  def queryTable(v: ArrayData): InternalRow = {
    val tbl = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        var d = 0.0
        var j = 0
        while (j < sub) { d += v.getFloat(mi * sub + j).toDouble * cw(mi)(ki)(j); j += 1 }
        tbl(mi * k + ki) = d
        ki += 1
      }
      mi += 1
    }
    var qn2 = 0.0
    var j = 0
    val n = v.numElements()
    while (j < n) { val x = v.getFloat(j).toDouble; qn2 += x * x; j += 1 }
    InternalRow(new GenericArrayData(tbl), qn2)
  }

  /** Approximate cosine of (query, coded vector): m table lookups summed in
    * subspace order over the reconstruction, normalized by the exact query
    * norm and the reconstructed vector norm. */
  def adcCosine(tbl: ArrayData, qn2: Double, codes: ArrayData): Double = {
    var dots = 0.0
    var xn2 = 0.0
    var mi = 0
    while (mi < m) {
      val idx = mi * k + codes.getInt(mi)
      dots += tbl.getDouble(idx)
      xn2 += cw2(idx)
      mi += 1
    }
    if (qn2 == 0 || xn2 <= 0) 0.0 else dots / (Math.sqrt(qn2) * Math.sqrt(xn2))
  }
}

/** PQ codes of a vector against a broadcast [[PqCodebook]]. */
case class PqEncodeExpr(vec: Expression,
                        cb: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends UnaryExpression {
  override def child: Expression = vec
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    cb.value.encode(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, v => s"((graft.ops.PqCodebook) $ref.value()).encode($v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(vec = c)
}

/** Per-query ADC lookup table (struct(tbl, qn2)) against a broadcast
  * [[PqCodebook]]. */
case class PqQueryTableExpr(vec: Expression,
                            cb: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends UnaryExpression {
  override def child: Expression = vec
  override def dataType: DataType = StructType(Seq(
    StructField("tbl", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("qn2", DoubleType, nullable = false)))
  override def prettyName: String = "pq_query_table"
  override protected def nullSafeEval(v: Any): Any =
    cb.value.queryTable(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, v => s"((graft.ops.PqCodebook) $ref.value()).queryTable($v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(vec = c)
}

/** Approximate cosine from a query ADC table and a candidate's PQ codes. */
case class PqAdcExpr(tbl: Expression, qn2: Expression, codes: Expression,
                     cb: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends TernaryExpression {
  override def first: Expression = tbl
  override def second: Expression = qn2
  override def third: Expression = codes
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_cosine"
  override protected def nullSafeEval(t: Any, q: Any, c: Any): Any =
    cb.value.adcCosine(t.asInstanceOf[ArrayData], q.asInstanceOf[Double],
      c.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCb", cb,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (t, q, c) =>
      s"((graft.ops.PqCodebook) $ref.value()).adcCosine($t, $q, $c)")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(tbl = f, qn2 = s, codes = t)
}

/** Per-row boilerplate-line removal against a broadcast sorted key set —
  * the zero-shuffle lineDedup fast path: the corpus text never moves,
  * only the (small) boilerplate set does. `salt` is the per-row line-key
  * salt of [[OpsKernel.dropBoilerLines]] (-1 for the global key, the
  * domain fingerprint for the domain-scoped one), so one broadcast serves
  * every domain at once. */
case class DropBoilerLinesExpr(text: Expression, salt: Expression,
                               fps: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = salt
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def prettyName: String = "drop_boiler_lines"
  override protected def nullSafeEval(t: Any, s: Any): Any =
    OpsKernel.dropBoilerLines(t.asInstanceOf[UTF8String], s.asInstanceOf[Long], fps.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boilerFps", fps,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, (t, s) =>
      s"graft.ops.OpsKernel.dropBoilerLines($t, $s, (long[]) $ref.value())")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(text = l, salt = r)
}

/** `n` nearest centroid ids of a vector against a broadcast [[CentroidSet]]
  * — the zero-shuffle IVF assignment (nothing moves but the result ids). */
case class NearestCentroidsExpr(vec: Expression, n: Int,
                                centroids: org.apache.spark.broadcast.Broadcast[CentroidSet])
    extends UnaryExpression {
  override def child: Expression = vec
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def nullSafeEval(v: Any): Any =
    centroids.value.nearest(v.asInstanceOf[ArrayData], n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidsBc", centroids,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev,
      v => s"((graft.ops.CentroidSet) $ref.value()).nearest($v, $n)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(vec = c)
}

/** Broadcast n-gram count dictionary for the Stupid-Backoff fast path:
  * per kind (1/2/3-gram), a sorted fp array with an aligned count array —
  * 16 bytes per distinct n-gram, probed by binary search. */
final class LmDict(val fps: Array[Array[Long]],
                   val cnts: Array[Array[Long]]) extends Serializable {
  require(fps.length == 3 && cnts.length == 3)
  def cnt(kind: Int, fp: Long): Long = {
    val f = fps(kind - 1)
    val i = java.util.Arrays.binarySearch(f, fp)
    if (i >= 0) cnts(kind - 1)(i) else 0L
  }
}

/** Whole-document Stupid-Backoff scoring against a broadcast [[LmDict]]:
  * one kernel pass per document (probe fps + 5 binary searches per
  * position), so the corpus crosses ZERO exchanges on the fast path. The
  * branch ladder and arithmetic mirror OracleDialect.sbmScoreCase /
  * sbmLevelCase operation-for-operation (same division/multiplication
  * order, same floor), keeping the fast path bit-equal to the shuffle
  * formulation and the DuckDB oracle. */
case class LmScoreDocExpr(text: Expression,
                          dict: org.apache.spark.broadcast.Broadcast[LmDict],
                          alpha: Double, nt: Long)
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_tri", LongType, nullable = false),
    StructField("n_bi", LongType, nullable = false),
    StructField("n_uni", LongType, nullable = false),
    StructField("n_oov", LongType, nullable = false),
    StructField("score_fp", LongType, nullable = false)))
  override def prettyName: String = "lm_score_doc"
  override protected def nullSafeEval(t: Any): Any =
    OpsKernel.lmScoreDoc(t.asInstanceOf[UTF8String], dict.value, alpha, nt)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmDict", dict,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val a = java.lang.Double.toString(alpha)
    defineCodeGen(ctx, ev, t =>
      s"graft.ops.OpsKernel.lmScoreDoc($t, (graft.ops.LmDict) $ref.value(), ${a}D, ${nt}L)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(text = c)
}

/** One-pass BPE encode against a broadcast merge table — see
  * [[graft.ops.Bpe.encodeDoc]] for the parity contract with
  * OracleDialect.bpeTrainCtes/bpeApplyExpr. Codegen'd scalar over the
  * corpus scan: the encode stage crosses zero exchanges. */
case class BpeEncodeExpr(text: Expression,
                         model: org.apache.spark.broadcast.Broadcast[BpeModel])
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("token_fp", LongType, nullable = false)))
  override def prettyName: String = "bpe_encode_doc"
  override protected def nullSafeEval(t: Any): Any =
    Bpe.encodeDoc(t.asInstanceOf[UTF8String], model.value)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, t =>
      s"graft.ops.Bpe.encodeDoc($t, (graft.ops.BpeModel) $ref.value())")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(text = c)
}

/** Per-word-position Stupid-Backoff probe rows (j, t1, t1x, t2, t2x, t3)
  * from one [[TextKernel.lmProbeFps]] pass — the n-gram fingerprints an LM
  * scorer must look up for position j (-1 marks an out-of-range context).
  * A Generator, so probe rows stream straight out of the scan with no
  * intermediate array column. */
case class LmProbesGen(text: Expression)
    extends Generator with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(text)
  override def elementSchema: StructType = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("t1", LongType, nullable = false),
    StructField("t1x", LongType, nullable = false),
    StructField("t2", LongType, nullable = false),
    StructField("t2x", LongType, nullable = false),
    StructField("t3", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) Iterator.empty
    else {
      val fps = TextKernel.lmProbeFps(t.asInstanceOf[UTF8String].toString)
      Iterator.tabulate(fps.length / 5) { j =>
        val o = 5 * j
        InternalRow(j, fps(o), fps(o + 1), fps(o + 2), fps(o + 3), fps(o + 4))
      }
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(text = cs(0))
  override def prettyName: String = "lm_probes"
}

/** Character n-gram generator (language-ID profiles). */
case class CharNgramsGen(text: Expression, n: Expression, max: Expression)
    extends Generator with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(text, n, max)
  override def elementSchema: StructType =
    StructType(Seq(StructField("ngram", StringType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    val nn = n.eval(input)
    val mm = max.eval(input)
    if (t == null || nn == null || mm == null) Iterator.empty
    else OpsKernel.charNgrams(t.asInstanceOf[UTF8String], nn.asInstanceOf[Int],
      mm.asInstanceOf[Int]).iterator.map(s => InternalRow(UTF8String.fromString(s)))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(text = cs(0), n = cs(1), max = cs(2))
  override def prettyName: String = "char_ngrams"
}
