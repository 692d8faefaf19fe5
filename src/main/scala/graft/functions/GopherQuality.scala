package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style document quality rules (Rae et al. 2021, appendix A —
  * the standard pre-training corpus filter battery, also the skeleton of
  * C4/Dolma/RefinedWeb filtering): word-count bounds, mean-word-length
  * bounds, symbol-to-word ratio, alphabetic-word ratio, bullet/ellipsis
  * line ratios, and a minimum stopword presence. Extension scope — no
  * reference counterpart.
  *
  * Every ratio rule is evaluated by INTEGER cross-multiplication
  * (e.g. mean length in [3,10] ⇔ 3·n ≤ totalLen ≤ 10·n), so `keep` is
  * bit-reproducible in any SQL engine — no float thresholds anywhere.
  *
  * Scale design: one pure-codegen projection per document — no shuffle,
  * no UDF, no aggregation, and `keepExpr` is a plain Filter predicate
  * that pushes down to the scan like any other. The per-document metrics
  * are emitted alongside `keep` so downstream reweighting/debugging reads
  * them without recomputation.
  */
object GopherQuality {

  /** Gopher's "must contain ≥2 of" stopword list (Rae et al. §A1.1). */
  val Stopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The eight metric names, in output order. */
  val MetricNames: Seq[String] = Seq("n_words", "total_len", "n_alpha",
    "n_sym", "n_lines", "n_bullet", "n_ellipsis", "n_stop")

  /** Named metric expressions over a raw text column — public so composed
    * operators (the classifier gate) can build pure single-pass filters
    * from the same definitions the rule battery uses. */
  def metricExprMap(text: Column): Map[String, Column] = metricExprs(text).toMap

  /** The eight metric expressions over a text column, in output order.
    * All integer-typed. Single-expression form (each subtree re-derives
    * its arrays from `text`) — the filter/pushdown-friendly shape; the
    * projection path ([[metrics]]) uses [[metricExprsOver]] on arrays
    * materialized once instead. */
  private def metricExprs(text: Column): Seq[(String, Column)] =
    metricExprsOver(TextOps.tokens(text), split(text, "\n"), text)

  /** The metric expressions over PRE-COMPUTED token/line arrays (round 15,
    * guide §2.3 "don't compute things twice" / §4 expression tier): the
    * metrics are higher-order functions (CodegenFallback — no codegen
    * subexpression elimination), so with inline array subtrees the
    * whitespace split re-ran once per referencing metric. Passing
    * attributes evaluates each array once per row. `n_stop` counts
    * distinct stopwords present via ONE `array_intersect` instead of a
    * filter over the stopword list whose lambda re-derived the lowered
    * token array per stopword (8 evaluations/row): the stopword list is
    * duplicate-free, so |stopwords ∩ set(lowerToks)| is the identical
    * count (pinned in GopherQualitySpec). */
  private def metricExprsOver(toks: Column, lines: Column,
      text: Column): Seq[(String, Column)] =
    Seq(
      "n_words" -> size(toks),
      "total_len" -> TextOps.totalTokenLength(toks),
      "n_alpha" -> size(filter(toks, x => x.rlike("[A-Za-z]"))),
      "n_sym" -> (regexp_count(text, lit("#")) +
        regexp_count(text, lit("\\.\\.\\."))).cast("int"),
      "n_lines" -> size(lines),
      "n_bullet" -> size(filter(lines, l => ltrim(l).rlike("^[-*•]"))),
      "n_ellipsis" -> size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$"))),
      "n_stop" -> size(array_intersect(
        array(Stopwords.map(lit(_)): _*),
        transform(toks, x => lower(x)))))

  private def keepFrom(m: Map[String, Column], minWords: Int, maxWords: Int,
      minStopwords: Int): Column =
    m("n_words") >= minWords && m("n_words") <= maxWords &&
      m("total_len") >= lit(3) * m("n_words") &&
      m("total_len") <= lit(10) * m("n_words") &&
      lit(10) * m("n_sym") <= m("n_words") &&
      lit(5) * m("n_alpha") >= lit(4) * m("n_words") &&
      lit(10) * m("n_bullet") <= lit(9) * m("n_lines") &&
      lit(10) * m("n_ellipsis") <= lit(3) * m("n_lines") &&
      m("n_stop") >= minStopwords

  /** Per-document metrics + `keep` under the Gopher defaults:
    * 50 ≤ words ≤ 100000, 3 ≤ mean word length ≤ 10, symbol/word ≤ 0.1
    * ('#' and '...'), alphabetic words ≥ 0.8, bullet lines ≤ 0.9,
    * ellipsis-ending lines ≤ 0.3, ≥ `minStopwords` distinct stopwords.
    * Ratio boundaries are INCLUSIVE (Rae et al. remove only documents
    * strictly above a threshold, so exact-boundary documents are kept). */
  def metrics(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    // two-projection form (round 15): the token and line arrays are
    // materialized ONCE in a lower projection and the metrics read the
    // attributes. CollapseProject keeps the layers apart because the
    // producers are non-cheap and referenced by several consumers, so the
    // runtime really evaluates one whitespace split + one line split per
    // row (vs ~11 splits/row with inline subtrees — HOFs get no codegen
    // subexpression elimination). Values are expression-identical.
    val base = docs.select(col(idCol), col(textCol).as("__g_text"),
      TextOps.tokens(col(textCol)).as("__g_toks"),
      split(col(textCol), "\n").as("__g_lines"))
    val exprs = metricExprsOver(col("__g_toks"), col("__g_lines"),
      col("__g_text"))
    base.select(col(idCol) +: exprs.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        keepFrom(exprs.map { case (n, _) => n -> col(n) }.toMap,
          minWords, maxWords, minStopwords))
  }

  /** The full keep predicate as ONE Column over the raw text — usable
    * directly in `.filter` so the rule battery rides predicate pushdown. */
  def keepExpr(text: Column, minWords: Int = 50, maxWords: Int = 100000,
      minStopwords: Int = 2): Column =
    keepFrom(metricExprs(text).toMap, minWords, maxWords, minStopwords)
}
