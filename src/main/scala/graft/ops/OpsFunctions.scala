package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.spark.SqlFunctions

/** SQL registration for the pipeline-operator function family. */
object OpsFunctions {
  import SqlFunctions._

  type Builder = SqlFunctions.Builder

  val all: Seq[(String, Builder)] = Seq(
    kernel("minhash", "graft.ops.OpsKernel.minHash", arr(LongType))(str, int, int),
    kernel("minhash_band_hashes", "graft.ops.OpsKernel.bandHashes", arr(LongType))(str, int, int, int),
    kernel("simhash", "graft.ops.OpsKernel.simHash", LongType)(str),
    kernel("doc_fingerprint", "graft.ops.OpsKernel.fingerprint", LongType)(str),
    kernel("ngram_jaccard", "graft.ops.OpsKernel.jaccard", DoubleType)(str, str, int),
    kernel("shingle_fps", "graft.ops.OpsKernel.shingleFpsDistinct", arr(LongType))(str, int),
    kernel("shingle_fps_pos", "graft.ops.OpsKernel.shingleFpsPos", arr(LongType))(str, int),
    // Whitespace word count with TextKernel.wordBounds parity (the engine's
    // shingle/boilerplate word semantics: Character.isWhitespace, not the
    // regex-\s of `split`).
    kernel("word_count", "graft.ops.OpsKernel.wordCount", LongType)(str),
    // (n_inter, n_union) of distinct word-shingle fingerprint sets: integer
    // outputs so the DuckDB oracle can hash-match them exactly.
    kernel("ngram_overlap", "graft.ops.OpsKernel.overlapRow",
      struct("n_inter" -> IntegerType, "n_union" -> IntegerType))(str, str, int),
    kernel("text_repetition", "graft.ops.OpsKernel.repetitionStats",
      struct("n_lines" -> IntegerType, "n_words" -> IntegerType,
        "dup_line_frac" -> DoubleType, "dup_char_frac" -> DoubleType,
        "top_word_frac" -> DoubleType, "top_bigram_frac" -> DoubleType))(str),
    kernel("hamming64", "graft.ops.TextKernel.hamming", IntegerType)(lng, lng),
    kernel("cosine_similarity", "graft.ops.OpsKernel.cosineF", DoubleType)(asIs, asIs),
    kernel("hyperplane_lsh", "graft.ops.OpsKernel.hyperplaneSig", LongType)(asIs, int, lng),
    fn("char_ngrams", str, int, int)(es => CharNgramsGen(es(0), es(1), es(2))),
    fn("lm_probes", str)(es => LmProbesGen(es(0))),
    // Packed (kind << 32 | fp) 1/2/3-gram fingerprints in one kernel pass:
    // the single-scan LM count-table source.
    kernel("lm_gram_fps", "graft.ops.OpsKernel.lmGramFps", arr(LongType))(str),
    // Exact `size(split(trim(text), '\\s+'))` (regex-\s, limit -1; NOT the
    // Character.isWhitespace semantics of word_count), without the regex
    // split and array per row.
    kernel("split_word_count", "graft.ops.OpsKernel.splitWordCount", LongType)(str),
    kernel("word_count_pairs", "graft.ops.OpsKernel.wordCountPairsArr",
      arr(struct("word" -> StringType, "cnt" -> LongType)))(str),
    // One-pass surface-quality counts with exact split/regexp_replace/length
    // parity (see TextKernel.qualityCounts).
    kernel("text_quality_stats", "graft.ops.OpsKernel.qualityStats",
      struct("n_chars" -> LongType, "n_words" -> LongType, "n_stop" -> LongType,
        "n_digit" -> LongType, "n_punct" -> LongType))(str),
    // Per-line boilerplate keys; salt -1 for plain line fps.
    kernel("line_fps", "graft.ops.OpsKernel.lineFps", arr(LongType))(str, lng))

  def register(spark: SparkSession): Unit =
    SqlFunctions.register(spark, "graft.ops.functions.registered", all)
}
