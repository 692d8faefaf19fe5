package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.sql.types.StringType

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, normalization, fingerprinting, quality scoring, shingling.
  *
  * All functions are pure Column expressions (codegen-friendly, stay inside
  * whole-stage codegen) — no UDFs in the hot path. The reference's only text
  * ops are lowercase renames and string concat (SURVEY §2.9); these extend
  * that surface per the BASELINE.json extension scope.
  *
  * PERF CONTRACT: higher-order functions (transform/aggregate/filter) are
  * CodegenFallback in Spark — any non-attribute expression captured by the
  * lambda is RE-EVALUATED per array element. So every HOF here takes an
  * already-materialized column (`.select(tokens(...).as("__toks"))` first,
  * then pass `col("__toks")`); measured 7-25× on the dedup/langid paths.
  * Multi-reference of the alias keeps CollapseProject from inlining it back.
  */
object TextOps {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Lowercase + collapse internal whitespace (canonical text form). */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Stable document fingerprint over the canonical form (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** CCNet-style hashing normalization (Wenzek et al. 2020 §3.2 — the
    * form text is put in BEFORE hashing for paragraph/document dedup, so
    * case, accents, digits, and spacing variants of the same content
    * collapse to one key): lowercase → NFD → strip combining marks
    * (accent removal) → every ASCII digit → '0' → collapse whitespace.
    * All five steps are codegen'd (graft_unicode_norm + regexp chains —
    * requires GraftFunctions.register on the session) and each is
    * replayable in DuckDB (`strip_accents(lower(..))` ≡ mark-stripped
    * NFD for Latin text; digits and whitespace are plain regexes), so
    * the key itself can sit in an oracle-checked output. Normalization
    * is for HASHING, not display — the kept document keeps its original
    * text. CCNet's unicode-punctuation→ASCII replacement table is
    * intentionally omitted (not expressible identically across engines;
    * its dedup effect at corpus scale is marginal next to case/accent/
    * digit folding). */
  def ccnetNormalize(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          graft.sql.GraftFunctions.unicodeNorm(lower(trim(text)), "NFD"),
          "\\p{Mn}", ""),
        "[0-9]", "0"),
      "\\s+", " ")

  /** Exact-dedup key over the CCNet-normalized form. */
  def ccnetFingerprint(text: Column): Column = md5(ccnetNormalize(text))

  /** BPE-ish token count: word runs + single non-word-non-space chars. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Word n-gram shingles over a token array; empty array when the document
    * is shorter than n. The building block for MinHash / Jaccard dedup.
    */
  def wordShingles(toks: Column, n: Int): Column =
    // Fused kernel (round 16, guide §4 — the CharNgramsF lesson applied
    // to word grams): the old HOF chain
    //   transform(sequence(1, size-n+1), i -> concat_ws(" ", slice(toks, i, n)))
    // is CodegenFallback — per position it paid an interpreted lambda
    // dispatch, a slice sub-array allocation and a concat_ws evaluation;
    // the round-16 q175 attribution (OPTIMIZATION_r16.md §4) put its
    // prepared stage on exactly this chain, and it sits on every shingle
    // consumer (MinHash/LSH, span dedup, incremental dedup, decontaminate,
    // repetition, streaming ingests).
    // WordShinglesF walks the array once inside whole-stage codegen;
    // value-identical incl. null-element skipping (WordShinglesFSpec).
    // The coalesce replays the old null-input → empty-array branch
    // (`when(size(null) >= n)` fell through to `otherwise`).
    coalesce(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.sql.WordShinglesF(
          org.apache.spark.sql.graft.ColumnBridge.expression(toks), n)),
      array().cast(ArrayType(StringType)))

  /** Sum of token lengths (for mean-token-length quality scoring). */
  def totalTokenLength(toks: Column): Column =
    aggregate(toks, lit(0), (acc, x) => acc + length(x))

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, x => x.isin(stopwords.map(lit(_)): _*))).cast("double") / size(toks)

  /** Type-token ratio (lexical diversity). */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Character n-grams over an already-materialized canonical text column
    * (language-ID features). `t` MUST be a bound column (see PERF CONTRACT):
    * the lambda evaluates `t.substr` once per position, so if `t` were the
    * normalizeText expression itself the regex would rerun per character.
    */
  def charNgrams(t: Column, n: Int): Column =
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
      .otherwise(array().cast(ArrayType(StringType)))
}
