package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Character-n-gram language identification (extension scope; simplified
  * Cavnar–Trenkle profile matching). Fit builds the top-`profileSize`
  * most-frequent n-grams per language; predict scores each document by how
  * many of its n-gram occurrences fall in each language's profile and takes
  * the argmax. All-integer scoring → deterministic and exactly reproducible
  * in any SQL engine (no float log-prob summation-order hazards).
  *
  * Scale design: entirely dataflow, no driver-side model object.
  *  - fit: one shuffle (groupBy lang×ngram) + a per-language top-k window;
  *    the fitted profile is numLangs × profileSize rows — bounded by
  *    construction, safely broadcastable at any corpus size (the profile
  *    table can be persisted as parquet like Categorify dictionaries);
  *  - predict: document n-grams are pre-aggregated to (doc, ngram, count)
  *    BEFORE the profile join, so the join input is distinct-grams-per-doc,
  *    not occurrences × languages.
  */
object LangId {

  /** (keyCol, ngram) rows: canonical text is materialized as a column BEFORE
    * the n-gram kernel so the normalization regex runs once per document.
    * Gram extraction is the graft_char_ngrams codegen kernel (one O(L)
    * byte walk), not the TextOps.charNgrams HOF chain — the chain is
    * CodegenFallback AND its per-position `substr` rescans the string
    * from byte 0: O(L²) per doc on the q36 hot path (value parity with
    * the chain pinned by CharNgramsFSpec). */
  private[functions] def ngramRows(df: DataFrame, keyCol: Column, textCol: String, n: Int) = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    df.select(keyCol.as("__k"), TextOps.normalizeText(col(textCol)).as("__t"))
      .select(col("__k"),
        explode(graft.sql.GraftFunctions.charNgrams(col("__t"), n)).as("ngram"))
  }

  /** Predict: adds `outputCol` = argmax-score language (score desc, lang asc
    * tie-break); documents matching no profile n-gram get "und". */
  def predict(df: DataFrame, idCol: String, textCol: String, profiles: DataFrame,
      n: Int = 3, outputCol: String = "predicted_lang"): DataFrame = {
    val grams = ngramRows(df, col(idCol), textCol, n)
      .groupBy(col("__k").as(idCol), col("ngram")).agg(count(lit(1)).as("cnt"))
    predictFromGrams(df.select(col(idCol)), grams, idCol, profiles, outputCol)
  }

  private def predictFromGrams(ids: DataFrame, grams: DataFrame, idCol: String,
      profiles: DataFrame, outputCol: String): DataFrame = {
    val scores = grams.join(broadcast(profiles), Seq("ngram"))
      .groupBy(col(idCol), col("lang")).agg(sum(col("cnt")).as("score"))
    val pred = Relational.keepFirstPerKey(scores, Seq(idCol),
        Seq(col("score").desc, col("lang").asc))
      .select(col(idCol), col("lang").as(outputCol))
    ids.join(pred, Seq(idCol), "left")
      .withColumn(outputCol, coalesce(col(outputCol), lit("und")))
  }

  /** Fit + predict on the same labeled corpus in ONE n-gram pass: the
    * (doc, ngram, count) aggregation feeds both the per-language profile
    * counts (summed by the doc's label) and the per-document scoring —
    * versus fit-then-predict, which explodes and aggregates the gram stream
    * twice. Output: (idCol, labelCol, outputCol). */
  def fitPredict(df: DataFrame, idCol: String, textCol: String, labelCol: String,
      n: Int = 3, profileSize: Int = 300,
      outputCol: String = "predicted_lang"): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    val docGrams = df
      .select(col(idCol), col(labelCol),
        TextOps.normalizeText(col(textCol)).as("__t"))
      .select(col(idCol), col(labelCol),
        explode(graft.sql.GraftFunctions.charNgrams(col("__t"), n)).as("ngram"))
      .groupBy(col(idCol), col(labelCol), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
    val langCounts = docGrams
      .groupBy(col(labelCol).as("lang"), col("ngram"))
      .agg(sum(col("cnt")).as("c"))
    val profiles = Relational.topKPerGroup(langCounts, Seq("lang"),
        Seq(col("c").desc, col("ngram").asc), profileSize)
      .select(col("lang"), col("ngram"))
    val grams = docGrams.select(col(idCol), col("ngram"), col("cnt"))
    predictFromGrams(df.select(col(idCol), col(labelCol)), grams, idCol,
      profiles, outputCol)
  }

  /** The script classes [[scriptProfile]] counts, in tie-break priority
    * order: (output column, Java regex class, script name). Java spells
    * Unicode scripts `\p{IsXxx}`; RE2-family engines spell them
    * `\p{Xxx}` — same property, so an external oracle replays each count
    * with the Is-stripped pattern. BMP-only classes (no astral scripts),
    * so char-counting semantics agree across UTF-16/UTF-8 engines. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "\\p{IsLatin}",
    "cyrillic" -> "\\p{IsCyrillic}",
    "greek" -> "\\p{IsGreek}",
    "arabic" -> "\\p{IsArabic}",
    "han" -> "\\p{IsHan}",
    "hangul" -> "\\p{IsHangul}",
    "devanagari" -> "\\p{IsDevanagari}")

  /** Per-document Unicode-script census — the zero-model triage BEFORE
    * n-gram language-ID (a Cyrillic doc never needs the Latin profiles;
    * CJK has no n-gram profile at all): one `n_<script>` count per
    * [[ScriptClasses]] entry plus `n_digit` and `main_script` (the
    * highest-count script, ties to ScriptClasses order; 'none' when no
    * scripted character occurs). Pure codegen regexp_count projection —
    * zero shuffles, linear in bytes, trivially 100 TB-safe — and every
    * output is an integer or a CASE over integer equalities, so the whole
    * row sits on the oracle surface. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withScriptProfile(df.select(col(idCol), col(textCol)), textCol)
      .drop(textCol)

  /** APPEND form of [[scriptProfile]] (the row-local registry-stage shape:
    * keeps every existing column, adds the census columns) — a pure
    * projection, so it runs unchanged on a stream. */
  def withScriptProfile(df: DataFrame, textCol: String): DataFrame = {
    val counts = ScriptClasses.map { case (name, re) =>
      s"n_$name" -> regexp_count(col(textCol), lit(re)).cast("long")
    } :+ ("n_digit" -> regexp_count(col(textCol), lit("[0-9]")).cast("long"))
    val withCounts = counts.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    val best = greatest(ScriptClasses.map { case (n, _) => col(s"n_$n") }: _*)
    val main = ScriptClasses.foldRight(lit("none")) { case ((n, _), acc) =>
      when(col("__best") > 0 && col(s"n_$n") === col("__best"), lit(n))
        .otherwise(acc)
    }
    // fold-RIGHT so the first listed script wins ties (outermost when)
    withCounts.withColumn("__best", best)
      .withColumn("main_script", main)
      .drop("__best")
  }
}
