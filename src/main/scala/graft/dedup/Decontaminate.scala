package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag/drop training documents that share word
  * n-grams with an evaluation/benchmark set, so held-out test data never
  * leaks into a training corpus. Extension scope (no reference counterpart;
  * the reference's nearest analog is its time-based train/test split,
  * my_merlin_flow.py:196-199 — leakage control by timestamp rather than by
  * content overlap).
  *
  * Scale notes (100 TB corpus vs MB..GB benchmark): the benchmark gram
  * vocabulary is distinct-collapsed and BROADCAST, so the corpus side is one
  * explode + one map-side hash join + one partial-aggregated shuffle of
  * (doc, counts) pairs — the raw text/grams of the corpus never shuffle.
  * Pass `broadcastBench = false` only when the benchmark itself is huge
  * (then it becomes a plain shuffle join on the gram).
  */
object Decontaminate {

  /** Distinct n-grams of the benchmark set: the probe vocabulary.
    * `grams` is an array column (e.g. TextOps.wordShingles over a
    * materialized token column — see the TextOps PERF CONTRACT). */
  def benchmarkGrams(bench: DataFrame, grams: Column): DataFrame =
    bench.select(explode(grams).as("g")).distinct()

  /** Per-document contamination report against a benchmark gram vocabulary:
    * `n_grams` distinct grams in the doc, `n_hits` of them occurring in the
    * benchmark, `contamination` = n_hits / n_grams (0.0 for gram-less docs —
    * a doc shorter than the shingle width cannot be contaminated).
    * Single pass: one explode, one left join to the (broadcast) vocabulary,
    * one count/count aggregation; docs with no grams are restored by a final
    * left join on the id.
    */
  def contamination(corpus: DataFrame, idCol: String, grams: Column,
      benchGrams: DataFrame, broadcastBench: Boolean = true): DataFrame =
    corpus.select(col(idCol))
      .join(stats(corpus, idCol, grams, benchGrams, broadcastBench), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_hits").cast("double") / col("n_grams"), lit(0.0))
          .as("contamination"))

  private def stats(corpus: DataFrame, idCol: String, grams: Column,
      benchGrams: DataFrame, broadcastBench: Boolean): DataFrame = {
    val vocab0 = benchGrams.select(col("g"), lit(1).as("__hit"))
    val vocab = if (broadcastBench) broadcast(vocab0) else vocab0
    corpus
      .select(col(idCol), explode(array_distinct(grams)).as("g"))
      .join(vocab, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hits"))
  }

  /** SEMANTIC decontamination report: per-corpus-row maximum cosine
    * against the benchmark's EMBEDDINGS — catches paraphrased/reformatted
    * benchmark leakage the n-gram probe misses (the embedding-similarity
    * contamination check of recent eval-hygiene practice). The benchmark
    * is broadcast (eval sets are MB-scale against a 100 TB corpus), so
    * the corpus streams through one broadcast nested-loop pass — no
    * shuffle, no all-pairs blowup; cost is |corpus|·|bench| dots of which
    * the corpus side is scanned once. Scoring is the repo's sequential-
    * fold cosine (graft.sql.DotF32-compatible), and MAX — unlike SUM — is
    * order-independent over doubles, so `max_cos` is exact and
    * oracle-checkable under any partitioning. Output: every corpus row
    * with `max_cos` (null if the bench is empty). */
  def semanticContamination(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchVecCol: String): DataFrame = {
    // codegen cosine (bit-identical to the HOF form — q131's oracle
    // replays the same fold): the |corpus|×|bench| score stream is the
    // hot loop here, and the interpreted HOF walked each pair three times
    graft.sql.GraftFunctions.register(corpus.sparkSession)
    val b = broadcast(bench.select(col(benchVecCol).as("__bv")))
    val scored = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .join(b)
      .groupBy(col(idCol))
      .agg(max(graft.sql.GraftFunctions.cosineF32(col("__cv"), col("__bv")))
        .as("max_cos"))
    corpus.select(col(idCol)).join(scored, Seq(idCol), "left")
  }
}
