package graft.dedup

import graft.SparkSpecBase
import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class IncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val n = 4
  private def sh = TextOps.wordShingles(col("__toks"), n)

  private def withToks(rows: Seq[(Long, String)]) =
    rows.toDF("id", "text")
      .select(col("id"), TextOps.tokens(col("text")).as("__toks"))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("a new near-duplicate of an indexed doc is dropped; novel docs survive") {
    val old = withToks(Seq((1L, base), (2L, "one two three four five six seven")))
    val fresh = withToks(Seq(
      (10L, base + " lambda"),                       // near-dup of doc 1
      (11L, "completely unrelated words here truly novel content")))
    val idx = TextDedup.minhashSignatures(old, "id", sh, 16)
    val kept = TextDedup.dedupAgainstIndex(fresh, "id", sh, idx,
        numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select("id").as[Long].collect().toSeq
    assert(kept == Seq(11L))
  }

  test("identical text agrees on every permutation (estimator = 1.0)") {
    val a = TextDedup.minhashSignatures(withToks(Seq((1L, base))), "id", sh, 16)
    val b = TextDedup.minhashSignatures(withToks(Seq((2L, base))), "id", sh, 16)
    val agree = a.as("n").crossJoin(b.as("o"))
      .select(TextDedup.sigAgreement("n", "o", 16).as("a"))
      .head().getDouble(0)
    assert(agree == 1.0)
  }

  test("signature index round-trips through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_idx").toString
    val old = withToks(Seq((1L, base)))
    IncrementalDedupSpec.saveSignatureIndex(old, "id", sh, 16, s"$dir/sigs")
    val loaded = spark.read.parquet(s"$dir/sigs")
    val inline = TextDedup.minhashSignatures(old, "id", sh, 16)
    assert(loaded.columns.sorted.toSeq == inline.columns.sorted.toSeq)
    assert(loaded.exceptAll(inline).count() == 0 && inline.exceptAll(loaded).count() == 0)
    // and the loaded index drives the same dedup decision
    val fresh = withToks(Seq((10L, base + " tail")))
    val kept = TextDedup.dedupAgainstIndex(fresh, "id", sh, loaded, 16, 2, 0.5)
    assert(kept.count() == 0)
  }

  test("agreement below threshold keeps the doc even when buckets collide") {
    // docs sharing one rare shingle can be LSH candidates yet disagree on
    // most permutations — they must be kept at a high threshold
    val old = withToks(Seq((1L, base)))
    val idx = TextDedup.minhashSignatures(old, "id", sh, 16)
    val fresh = withToks(Seq((10L, "alpha beta gamma delta unrelated tail words continue onward")))
    val kept = TextDedup.dedupAgainstIndex(fresh, "id", sh, idx, 16, 2, threshold = 0.9)
    assert(kept.count() == 1)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object IncrementalDedupSpec {

  /** The signature index IS the artifact: one row per already-ingested doc,
    * (id, sig_0..sig_{k-1}) — linear in corpus size, constant per doc, and
    * appendable batch over batch. Bands are derived from sigs at query
    * time, so no second table to keep in sync. */
  def saveSignatureIndex(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int, path: String): Unit =
    TextDedup.minhashSignatures(df.filter(size(shingles) > 0), idCol, shingles, numHashes)
      .write.mode("overwrite").parquet(path)
}
