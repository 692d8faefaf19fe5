package graft.dedup

import graft.SparkSpecBase
import graft.functions.TextOps
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpecBase {
  import spark.implicits._

  private def grams3 = TextOps.wordShingles(col("__toks"), 3)

  private def withToks(rows: Seq[(Long, String)]) =
    rows.toDF("id", "text")
      .select(col("id"), TextOps.tokens(col("text")).as("__toks"))

  test("contamination counts distinct shared grams per doc") {
    val bench = withToks(Seq((100L, "the quick brown fox jumps")))
    val corpus = withToks(Seq(
      (1L, "the quick brown fox sleeps"),         // shares 2 of its 3 grams
      (2L, "a completely different sentence entirely"), // 0 hits
      (3L, "the quick brown fox jumps high")))    // shares 3 of its 4 grams
    val vocab = Decontaminate.benchmarkGrams(bench, grams3)
    val rep = Decontaminate.contamination(corpus, "id", grams3, vocab)
      .orderBy("id").collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 3L, 2L), (2L, 3L, 0L), (3L, 4L, 3L)))
    assert(rep(2).getDouble(3) == 3.0 / 4.0)
  }

  test("gram-less docs are kept and report zero contamination") {
    val bench = withToks(Seq((100L, "a b c")))
    val corpus = withToks(Seq((1L, "a b"), (2L, "a b c")))
    val rep = Decontaminate.contamination(corpus, "id", grams3,
      Decontaminate.benchmarkGrams(bench, grams3)).orderBy("id").collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(1L, 2L), "the gram-less doc stays in the report")
    assert(rep(0).getLong(1) == 0L && rep(0).getDouble(3) == 0.0)
    assert(rep(1).getLong(2) == 1L)
  }

  test("benchmark vocabulary joins broadcast (the 100 TB plan shape)") {
    val bench = withToks(Seq((100L, "a b c d")))
    val corpus = withToks(Seq((1L, "a b c"), (2L, "b c d")))
    val plan = Decontaminate.contamination(corpus, "id", grams3,
      Decontaminate.benchmarkGrams(bench, grams3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected a broadcast join against the benchmark vocabulary:\n$plan")
  }

  test("report covers every corpus doc exactly once") {
    val docs = tbl("documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
    val vocab = Decontaminate.benchmarkGrams(docs.limit(5), grams3)
    val rep = Decontaminate.contamination(docs, "doc_id", grams3, vocab)
    assert(rep.count() == docs.count())
    assert(rep.select("doc_id").distinct().count() == docs.count())
  }

  test("semantic: a bench-identical vector scores max_cos 1, orthogonal 0") {
    import spark.implicits._
    val bench = Seq(Tuple1(Array(1f, 0f, 0f))).toDF("v")
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)), // identical
      (2L, Array(0f, 1f, 0f)), // orthogonal
      (3L, Array(1f, 1f, 0f))  // 45 degrees
    ).toDF("vec_id", "v")
    val m = Decontaminate.semanticContamination(corpus, "vec_id", "v", bench, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) === 1.0)
    assert(m(2L) === 0.0)
    assert(math.abs(m(3L) - 1.0 / math.sqrt(2.0)) < 1e-9)
  }

  test("semantic report is one broadcast pass, no shuffle of the corpus side") {
    val emb = tbl("embeddings")
    val plan = Decontaminate.semanticContamination(
        emb.filter(col("label") =!= 0), "vec_id", "embedding",
        emb.filter(col("label") === 0), "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bench side must broadcast:\n$plan")
  }
}
