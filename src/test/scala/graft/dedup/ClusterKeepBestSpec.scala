package graft.dedup

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.TextOps

class ClusterKeepBestSpec extends SparkSpecBase {
  import spark.implicits._

  // labels as ConnectedComponents.run emits them: (node, comp), linked
  // docs only, comp = min member id
  private def labels(pairs: (Long, Long)*) =
    ConnectedComponents.run(pairs.toDF("a", "b"))

  test("keeps the highest-quality member per cluster, ties to smallest id") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster {1,2,3}: 2 and 3 tie on quality
      (4L, 5L)                          // singleton
    ).toDF("doc_id", "quality")
    val kept = TextDedup.clusterKeepBest(docs, "doc_id",
        labels((1L, 2L), (2L, 3L)), col("quality"))
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L),
      "cluster keeps doc 2 (quality 30, smaller id than 3); singleton 4 survives")
  }

  test("a transitive chain collapses to ONE survivor (per-pair policy may keep 2)") {
    // a~b and b~c verified, a~c never bucketed together: q38's per-pair
    // drop-larger removes b and c; cluster policy keeps exactly one of 3
    val docs = Seq((1L, 1L), (2L, 9L), (3L, 5L)).toDF("doc_id", "quality")
    val kept = TextDedup.clusterKeepBest(docs, "doc_id",
        labels((1L, 2L), (2L, 3L)), col("quality"))
      .select($"doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(2L), "one cluster -> one survivor, the best one")
  }

  test("no pairs at all: everything survives") {
    val docs = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "quality")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val kept = TextDedup.clusterKeepBest(docs, "doc_id",
        ConnectedComponents.run(empty), col("quality"))
      .count()
    assert(kept == 2L)
  }

  test("singleton whose id equals another cluster's quality is unaffected (key domain)") {
    // comp labels are member min ids; a singleton coalesces to its OWN id,
    // which can never equal a cluster label it doesn't belong to
    val docs = Seq((1L, 1L), (2L, 2L), (7L, 100L)).toDF("doc_id", "quality")
    val kept = TextDedup.clusterKeepBest(docs, "doc_id",
        labels((1L, 2L)), col("quality"))
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 7L))
  }

  test("end-to-end dropNearDuplicatesKeepBest keeps best replica on real text") {
    // two verbatim replicas of one doc + an unrelated doc; quality = chars
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (3L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
      .withColumn("__toks", split(trim($"text"), "\\s+"))
    val kept = ClusterKeepBestSpec.dropNearDuplicatesKeepBest(
        docs, "doc_id", graft.functions.TextOps.wordShingles($"__toks", 3),
        length($"text"), numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L),
      "the LONGER near-dup replica survives (per-pair keep-smallest would keep 1)")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object ClusterKeepBestSpec {

  /** Cluster-consistent near-duplicate removal with a quality-priority
    * keep: discovery chain → connected components → best-per-cluster. */
  def dropNearDuplicatesKeepBest(df: DataFrame, idCol: String, shingles: Column,
      quality: Column, numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val pairs = TextDedup.nearDupPairs(df, idCol, shingles, numHashes, rowsPerBand, threshold)
    TextDedup.clusterKeepBest(df, idCol, ConnectedComponents.runAuto(pairs), quality)
  }
}
