package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.Relational

class LangIdSpec extends SparkSpecBase {
  import spark.implicits._

  /** Synthetic corpus with genuinely distinct character distributions (the
    * driver fixture's `documents` table shares one vocabulary across its
    * lang labels, so it can only test determinism, not separability). */
  private def corpus = {
    val aa = Seq("alpha beta gamma delta", "beta gamma alpha", "delta alpha beta gamma")
    val bb = Seq("zorp quux zyzzyx wubble", "quux zyzzyx zorp", "wubble zorp quux zyzzyx")
    (aa.map(("aa", _)) ++ bb.map(("bb", _))).zipWithIndex
      .map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
  }

  test("predict recovers the language on a separable corpus (accuracy = 1.0)") {
    val profiles = LangIdSpec.fitProfiles(corpus, "text", "lang")
    val pred = LangId.predict(corpus, "doc_id", "text", profiles)
      .join(corpus.select($"doc_id", $"lang"), Seq("doc_id"))
    val acc = pred.filter($"predicted_lang" === $"lang").count().toDouble / pred.count()
    assert(acc == 1.0, s"accuracy was $acc")
  }

  test("profile size is bounded: numLangs x profileSize rows max") {
    val profiles = LangIdSpec.fitProfiles(tbl("documents"), "text", "lang", profileSize = 50)
    val langs = profiles.select("lang").distinct().count()
    assert(profiles.count() <= langs * 50)
    val perLang = profiles.groupBy("lang").count().agg(max("count")).as[Long].head()
    assert(perLang <= 50)
  }

  test("predict is deterministic and total (every doc gets a label)") {
    val docs = tbl("documents")
    val profiles = LangIdSpec.fitProfiles(docs, "text", "lang")
    val p1 = LangId.predict(docs, "doc_id", "text", profiles)
    val p2 = LangId.predict(docs, "doc_id", "text", profiles)
    assert(p1.exceptAll(p2).isEmpty)
    assert(p1.count() == docs.count())
    assert(p1.filter($"predicted_lang".isNull).count() == 0)
  }

  test("single-pass fitPredict equals fit-then-predict") {
    val docs = tbl("documents")
    val profiles = LangIdSpec.fitProfiles(docs, "text", "lang")
    val twoPass = LangId.predict(docs, "doc_id", "text", profiles)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .select($"doc_id", $"lang", $"predicted_lang")
    val onePass = LangId.fitPredict(docs, "doc_id", "text", "lang")
      .select($"doc_id", $"lang", $"predicted_lang")
    assert(onePass.exceptAll(twoPass).isEmpty && twoPass.exceptAll(onePass).isEmpty)
  }

  test("docs matching no profile n-gram fall back to 'und'") {
    val profiles = LangIdSpec.fitProfiles(corpus, "text", "lang")
    val strange = Seq((99L, "零一二三四五六七八九")).toDF("doc_id", "text")
    val out = LangId.predict(strange, "doc_id", "text", profiles)
    assert(out.select("predicted_lang").as[String].head() == "und")
  }

  test("scriptProfile counts per-script chars and picks the argmax script") {
    val docs = Seq(
      (1L, "hello world"),            // pure Latin
      (2L, "Привет мир"),             // Cyrillic
      (3L, "abc 你好你好你好"),         // Han outnumbers Latin
      (4L, "42 17 99"),               // digits only -> none
      (5L, "नमस्ते")                    // Devanagari incl. combining signs
    ).toDF("doc_id", "text")
    val p = LangId.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def m(id: Long) = p(id).getString(p(id).length - 1)
    assert(m(1L) === "latin")
    assert(m(2L) === "cyrillic")
    assert(m(3L) === "han")
    assert(m(4L) === "none")
    assert(m(5L) === "devanagari")
    val r2 = p(2L)
    assert(r2.getLong(r2.fieldIndex("n_cyrillic")) === 9L) // Привет + мир
    assert(r2.getLong(r2.fieldIndex("n_latin")) === 0L)
    val r5 = p(5L)
    assert(r5.getLong(r5.fieldIndex("n_devanagari")) === 6L)
    val r4 = p(4L)
    assert(r4.getLong(r4.fieldIndex("n_digit")) === 6L)
  }

  test("scriptProfile ties break on ScriptClasses order") {
    // one Latin + one Cyrillic char: tie -> latin (listed first)
    val docs = Seq((1L, "aб")).toDF("doc_id", "text")
    val r = LangId.scriptProfile(docs, "doc_id", "text").head
    assert(r.getString(r.fieldIndex("main_script")) === "latin")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object LangIdSpec {

  /** Fit: DataFrame[lang, ngram] — the top-`profileSize` n-grams per
    * language by frequency (count desc, ngram asc — deterministic). */
  def fitProfiles(df: DataFrame, textCol: String, labelCol: String,
      n: Int = 3, profileSize: Int = 300): DataFrame = {
    val counts = LangId.ngramRows(df, col(labelCol), textCol, n)
      .groupBy(col("__k").as("lang"), col("ngram")).agg(count(lit(1)).as("c"))
    Relational.topKPerGroup(counts, Seq("lang"),
        Seq(col("c").desc, col("ngram").asc), profileSize)
      .select(col("lang"), col("ngram"))
  }
}
