package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.TextDedup
import graft.functions.{GopherQuality, Pii, TextOps}
import graft.models.{Dag, DagModel}

/** Declared-stage corpus pipeline — the LLM-corpus counterpart of the
  * relational DAG registry (`models/Dag`, the dbt-style per-model
  * materialization walk). A user composes the standard pre-training data
  * path — quality gate → PII redaction → dedup tier → token count →
  * seeded shuffle/shard → example pack — as NAMED stages instead of
  * re-deriving the q99 wiring, and gets the registry's semantics for
  * free: any stage can be `materialized` to parquet and reused across
  * runs, refresh cascades downstream, and the default (nothing
  * materialized) composes lazily so Catalyst sees the whole chain and
  * prunes/pushes across stage boundaries.
  *
  * Scale notes: the registry adds NOTHING to the dataflow — each stage is
  * exactly the operator it names (same plan as calling it directly, pinned
  * by CorpusPipelineSpec's q99 parity test). Materialization boundaries
  * trade cross-stage pushdown for rerunnability, the same trade as
  * `StarDag.dag`; a 100 TB run materializes the expensive tiers (dedup)
  * and leaves the projections lazy.
  */
object CorpusPipeline {

  /** One named stage: a DataFrame transform over the previous stage's
    * output. `Stage(name)(df => ...)` for session-free transforms;
    * `Stage.withSession` when the transform needs the SparkSession. */
  final case class Stage(name: String)(val f: (SparkSession, DataFrame) => DataFrame)

  def stage(name: String)(f: DataFrame => DataFrame): Stage =
    Stage(name)((_, df) => f(df))

  // ---- the standard corpus stages, thin named wrappers over the
  // ---- already-oracle-checked operators

  /** HTML → text extraction (q108 operator) — the crawl-corpus entry
    * stage; replaces `htmlCol` with clean text and adds `title`. */
  def htmlExtract(htmlCol: String): Stage =
    stage("html_extract")(graft.functions.HtmlExtract.extract(_, htmlCol))

  /** Per-domain document cap (q116 operator) — the RefinedWeb-style
    * crawl-entry down-sample: at most `maxPerDomain` docs per URL host,
    * selected by the deterministic md5 rank; slots after `url_dedup`,
    * before extraction, so no single domain floods the corpus. */
  def domainCap(urlCol: String, idCol: String, maxPerDomain: Long): Stage =
    stage("domain_cap")(df => DataMix.capPerGroupConstant(
      df, graft.functions.UrlCanon.host(col(urlCol)), col(idCol), maxPerDomain))

  /** Gopher rule battery as a pushdown-friendly filter (q95 operator). */
  def qualityGate(textCol: String, minWords: Int = 50,
      maxWords: Int = 100000, minStopwords: Int = 2): Stage =
    stage("quality_gate")(_.filter(
      GopherQuality.keepExpr(col(textCol), minWords, maxWords, minStopwords)))

  /** In-place PII redaction of the text column (q92 operator). */
  def piiRedact(textCol: String): Stage =
    stage("pii_redact")(_.withColumn(textCol, Pii.redact(col(textCol))))

  /** Learned-classifier gate (q104 operator) as a PURE FILTER: the margin
    * is evaluated over the codegen Gopher metric expressions directly, so
    * the stage stays a pushdown-friendly per-row Filter like qualityGate.
    * The model must therefore use only the eight Gopher metrics —
    * aggregation-needing features (top_gram_frac, ll_mean) have no
    * single-pass expression form; score those via
    * [[graft.features.QualityClassifier.featurize]] + `score` instead. */
  def classifierGate(textCol: String,
      model: graft.features.QualityClassifier.Model): Stage = {
    val unsupported = model.featureNames.filterNot(GopherQuality.MetricNames.contains)
    require(unsupported.isEmpty,
      s"classifierGate supports Gopher-metric features only; got $unsupported")
    stage("classifier_gate")(df => df.filter(
      graft.features.QualityClassifier.marginOver(model,
        GopherQuality.metricExprMap(col(textCol))) > 0))
  }

  /** Two-pass learned-classifier gate (q114 operator) — the form that
    * supports AGGREGATION features: [[graft.features.QualityClassifier.featurize]]
    * computes per-doc feature aggregations a single-pass filter cannot
    * express (top_gram_frac needs the per-doc gram argmax; ll_mean two
    * broadcast joins + an agg), the codegen margin scores the feature
    * frame, and a left-semi join keeps the passing docs. Two passes over
    * `textCol` by construction — when the text is DERIVED (an upstream
    * extraction), materialize that upstream stage (the q109 inlining
    * lesson), or the derivation replays inside every feature
    * aggregation. For Gopher-only models prefer [[classifierGate]]: one
    * pass, pure Filter. */
  def classifierScore(idCol: String, textCol: String,
      model: graft.features.QualityClassifier.Model,
      lm: Option[graft.functions.NgramLm.Model] = None): Stage =
    stage("classifier_score") { df =>
      val feats = graft.features.QualityClassifier.featurize(df, idCol, textCol, lm)
      val kept = graft.features.QualityClassifier.score(feats, model)
        .filter(col("keep")).select(col(idCol))
      df.join(kept, Seq(idCol), "left_semi")
    }

  /** DSIR selection stage (q121/q122 operator): keep the `k` docs whose
    * hashed-n-gram distribution best matches the TARGET model (a fitted
    * artifact — parquet via Dsir.save/load, the Categorify philosophy),
    * Gumbel-top-k ∝ softmax(logw). The RAW model is fit on the incoming
    * frame itself (the DSIR contract: importance is target-vs-THIS-corpus),
    * one extra bounded-agg pass; uncached (fit-score-once, the NgramLm
    * precedent). Slots after the cheap gates so the fit pass runs on the
    * surviving slice. */
  def dsirSelect(idCol: String, textCol: String, target: Dsir.Model,
      k: Int, seed: String = "dsir"): Stage =
    stage("dsir_select") { df =>
      val toks = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      // one feature-hash pass for raw fit + scoring (round 15, guide §2.3
      // — the two-pass form md5-hashed every n-gram of the incoming frame
      // twice); value-identical by construction
      val (_, scored) = Dsir.fitRawAndScore(toks, idCol, col("__toks"), target)
      df.join(Dsir.gumbelTopK(scored, idCol, k, seed).select(col(idCol)),
        Seq(idCol), "left_semi")
    }

  /** Token counting — the weight column shuffle/pack stages consume. */
  def tokenCount(textCol: String, out: String = "n_tokens"): Stage =
    stage("token_count")(_.withColumn(out, size(TextOps.tokens(col(textCol)))))

  /** Seeded deterministic shuffle + token-budget shard packing (q97). */
  def shuffleShards(idCol: String, seed: String, budget: Long,
      weightCol: String = "n_tokens"): Stage =
    stage("shuffle_shards")(
      CorpusShuffle.shuffledShards(_, idCol, col(weightCol), seed, budget))

  /** Fixed-length example packing in seeded epoch order (q101/q103). */
  def packExamples(idCol: String, seed: String, exampleLen: Long,
      weightCol: String = "n_tokens"): Stage =
    stage("pack_examples")(df => ExamplePack.packExamples(
      df.withColumn("__k", CorpusShuffle.shuffleKey(seed, col(idCol))),
      idCol, col(weightCol), exampleLen, "__k", tieBreak = Seq(col(idCol))))

  /** Build the registry: a linear Dag `source → stages…` rooted at
    * `warehouseDir`. `materialized` names the stages persisted as parquet
    * and reused across runs (Dag's _SUCCESS-keyed reuse + cascading
    * refresh); everything else composes lazily. */
  def dag(source: SparkSession => DataFrame, stages: Seq[Stage],
      warehouseDir: String, materialized: Set[String] = Set.empty): Dag = {
    val names = stages.map(_.name)
    require(names.distinct == names, s"duplicate stage names: $names")
    val known = names.toSet + "source"
    require((materialized -- known).isEmpty,
      s"materialized names unknown: ${materialized -- known}")
    val src = DagModel("source", Nil, materialized("source"))((s, _) => source(s))
    val models = stages.zipWithIndex.map { case (st, i) =>
      val dep = if (i == 0) "source" else names(i - 1)
      DagModel(st.name, Seq(dep), materialized(st.name))((s, d) => st.f(s, d(dep)))
    }
    new Dag(src +: models, warehouseDir)
  }

  /** Resolve the final stage (the composed pipeline output). */
  def run(spark: SparkSession, pipeline: Dag, lastStage: String,
      refresh: Set[String] = Set.empty): DataFrame =
    pipeline.resolve(spark, lastStage, refresh)

  /** Per-stage row accounting — the Dolma-style corpus report (how many
    * documents each gate dropped). One shared resolution walk, then one
    * count per named stage. Lazy stages recompute their upstream chain
    * per count, so audit a MATERIALIZED pipeline when the corpus is big —
    * with the registry that is one `materialized` flag, and each count
    * becomes a parquet metadata read. */
  def audit(spark: SparkSession, pipeline: Dag,
      stageNames: Seq[String]): DataFrame = {
    import spark.implicits._
    val resolved = pipeline.runAll(spark)
    stageNames.map(n => (n, resolved(n).count())).toDF("stage", "rows")
  }
}
