package graft.operators

import graft.SparkSpecBase
import graft.functions.{GopherQuality, Pii, TextOps}
import org.apache.spark.sql.functions._
import graft.dedup.TextDedup

class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def stages = Seq(
    CorpusPipeline.qualityGate("text", minStopwords = 1),
    CorpusPipeline.piiRedact("text"),
    CorpusPipeline.tokenCount("text"),
    CorpusPipeline.stage("project")(_.select($"doc_id", $"n_tokens")),
    CorpusPipeline.shuffleShards("doc_id", "s5", 2000L))

  private def handWired = {
    val counted = tbl("documents")
      .filter(GopherQuality.keepExpr(col("text"), minStopwords = 1))
      .select($"doc_id",
        size(TextOps.tokens(Pii.redact($"text"))).as("n_tokens"))
    CorpusShuffle.shuffledShards(counted, "doc_id", $"n_tokens", "s5", 2000L)
      .select($"doc_id", $"n_tokens", $"shuffle_key", $"shard_id")
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("the declared-stage registry composes the same pipeline as hand-wiring") {
    val p = CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
      stages, java.nio.file.Files.createTempDirectory("graft_cp").toString)
    val viaRegistry = CorpusPipeline.run(spark, p, "shuffle_shards")
      .select($"doc_id", $"n_tokens", $"shuffle_key", $"shard_id")
    assert(viaRegistry.orderBy($"doc_id").collect().toSeq ==
      handWired.orderBy($"doc_id").collect().toSeq)
    // lazily composed: the registry adds no materialization boundary, so
    // the shuffle count is the hand-wired plan's
    assert(exchanges(viaRegistry) == exchanges(handWired),
      "registry composition must not add exchanges")
  }

  test("a materialized stage persists once and later runs reuse the artifact") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cp_wh").toString
    val p = CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
      stages, wh, materialized = Set("pii_redact"))
    val first = CorpusPipeline.run(spark, p, "shuffle_shards")
      .orderBy($"doc_id").collect().toSeq
    val marker = new java.io.File(s"$wh/pii_redact.parquet/_SUCCESS")
    assert(marker.exists, "materialized stage must write its artifact")
    val stamp = marker.lastModified
    val second = CorpusPipeline.run(spark, p, "shuffle_shards")
      .orderBy($"doc_id").collect().toSeq
    assert(second == first, "materialized and lazy runs must agree")
    assert(marker.lastModified == stamp, "second run must reuse, not rebuild")
    // and the downstream plan actually reads the parquet artifact
    val plan = CorpusPipeline.run(spark, p, "shuffle_shards")
      .queryExecution.executedPlan.toString
    assert(plan.contains("pii_redact.parquet"),
      s"downstream stages must read the materialized artifact:\n$plan")
  }

  test("refresh of an upstream stage cascades to downstream artifacts") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cp_rf").toString
    val p = CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
      stages, wh, materialized = Set("pii_redact", "token_count"))
    CorpusPipeline.run(spark, p, "shuffle_shards").count()
    val down = new java.io.File(s"$wh/token_count.parquet/_SUCCESS")
    val stamp = down.lastModified
    Thread.sleep(1100) // _SUCCESS mtime granularity
    CorpusPipeline.run(spark, p, "shuffle_shards", refresh = Set("pii_redact")).count()
    assert(down.lastModified > stamp,
      "refreshing pii_redact must rebuild the downstream token_count artifact")
  }

  test("duplicate or unknown stage names are rejected at construction") {
    val dup = intercept[IllegalArgumentException] {
      CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
        Seq(CorpusPipeline.tokenCount("text"), CorpusPipeline.tokenCount("text")),
        "/tmp/unused")
    }
    assert(dup.getMessage.contains("duplicate"))
    val unk = intercept[IllegalArgumentException] {
      CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
        Seq(CorpusPipeline.tokenCount("text")), "/tmp/unused",
        materialized = Set("nope"))
    }
    assert(unk.getMessage.contains("unknown"))
  }

  test("the classifier gate is a pure per-row filter with no ml runtime") {
    val m = graft.features.QualityClassifier.Model(
      Seq("n_words", "n_sym"), Array(0.1, -0.5), -1.0)
    val p = CorpusPipeline.dag(s => graft.Tables.load(s, sfDir, "documents"),
      Seq(CorpusPipeline.classifierGate("text", m)), "/tmp/unused_cg")
    val gated = CorpusPipeline.run(spark, p, "classifier_gate")
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("ScalaUDF"),
      s"the gate must stay a codegen Filter:\n$plan")
    // and it matches scoring the featurized frame with the same model
    val feats = graft.features.QualityClassifier.featurize(
      tbl("documents"), "doc_id", "text")
    val expected = graft.features.QualityClassifier.score(feats, m)
      .filter($"keep").select($"doc_id").as[Long].collect().toSet
    val got = gated.select($"doc_id").as[Long].collect().toSet
    assert(got == expected, "gate decisions must equal featurize+score keep")
  }

  test("non-Gopher features are rejected at gate construction") {
    val m = graft.features.QualityClassifier.Model(
      Seq("n_words", "top_gram_frac"), Array(0.1, -2.0), 0.0)
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.classifierGate("text", m)
    }
    assert(e.getMessage.contains("top_gram_frac"))
  }

  test("audit reports per-stage row accounting") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta eps")
    ).toDF("doc_id", "text")
    val p = CorpusPipeline.dag(_ => docs,
      Seq(CorpusPipelineSpec.exactDedup("doc_id", "text"),
        CorpusPipeline.tokenCount("text")),
      "/tmp/unused_audit")
    val report = CorpusPipeline.audit(spark, p,
      Seq("source", "exact_dedup", "token_count"))
      .as[(String, Long)].collect().toSeq
    assert(report == Seq(("source", 3L), ("exact_dedup", 2L), ("token_count", 2L)))
  }

  test("the dedup tiers are selectable stages over the same contract") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unique text here now")).toDF("doc_id", "text")
    val p = CorpusPipeline.dag(_ => docs,
      Seq(CorpusPipelineSpec.exactDedup("doc_id", "text")),
      "/tmp/unused_dedup")
    val kept = CorpusPipeline.run(spark, p, "exact_dedup")
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 3L), "exact tier keeps min-id canonical + uniques")
  }

  test("dsir_select stage keeps exactly k target-like docs") {
    val target = Dsir.fit(
      Seq("alpha beta gamma delta epsilon").toDF("text")
        .select(split(trim($"text"), "\\s+").as("__toks")), $"__toks")
    val docs = ((0L until 20L).map(i => (i, "alpha beta gamma delta epsilon")) ++
      (20L until 40L).map(i => (i, "zz xx vv ww uu"))).toDF("doc_id", "text")
    val p = CorpusPipeline.dag(_ => docs,
      Seq(CorpusPipeline.dsirSelect("doc_id", "text", target, 10)),
      "/tmp/unused_dsir")
    val kept = CorpusPipeline.run(spark, p, "dsir_select")
      .select($"doc_id").as[Long].collect().toSeq
    assert(kept.size == 10)
    assert(kept.count(_ < 20L) >= 8, s"selection should tilt target-like: $kept")
    target.unpersist()
  }

  test("soft_dedup stage annotates every row with cluster size + weight") {
    val docs = Seq((1L, "same text"), (2L, "Same  TEXT"), (3L, "other"))
      .toDF("doc_id", "text")
    val p = CorpusPipeline.dag(_ => docs,
      Seq(CorpusPipelineSpec.softDedupAnnotate("doc_id", "text")),
      "/tmp/unused_soft")
    val out = CorpusPipeline.run(spark, p, "soft_dedup")
      .select($"doc_id", $"n_dups", $"weight").as[(Long, Long, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.size == 3, "soft dedup keeps every row")
    assert(out(1L) == ((2L, 0.5)), "case/space variants share a cluster")
    assert(out(3L) == ((1L, 1.0)))
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object CorpusPipelineSpec {

  /** Soft-dedup annotation stage (q125 operator): every row survives,
    * gaining `n_dups` (CCNet-normalized exact-dup cluster size) and
    * `weight` = 1/n_dups for loss reweighting — the keep-everything
    * alternative to the drop tiers. */
  def softDedupAnnotate(idCol: String, textCol: String): CorpusPipeline.Stage =
    CorpusPipeline.stage("soft_dedup") { df =>
      df.join(TextDedup.softDedupWeights(df, idCol,
          TextOps.ccnetFingerprint(col(textCol)))
        .select(col(idCol), col("n_dups"), col("weight")), Seq(idCol))
    }

  /** Exact-duplicate removal tier (q32 operator; min-id canonical). */
  def exactDedup(idCol: String, textCol: String): CorpusPipeline.Stage =
    CorpusPipeline.stage("exact_dedup")(graft.dedup.TextDedupSpec.dropExactDuplicatesBy(_, idCol, TextOps.fingerprint(col(textCol))))
}
