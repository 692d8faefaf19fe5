package graft.sim

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.Budgets

class KnnSpec extends SparkSpecBase {
  import spark.implicits._

  test("multi-table SRP-LSH reaches recall@5 >= 0.5 vs the exact baseline (sf0.01)") {
    val emb = tbl("embeddings", sfDirMid)
    val queries = emb.filter($"vec_id" < 32)
    val exact = Knn.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
    val approx = Knn.lshTopK(emb, "vec_id", "embedding", dim = 64, bits = 4,
        k = 5, tables = 8)
      .filter($"query_id" < 32)
      .select($"query_id", $"neighbor_id")
    val hits = exact.intersect(approx).count().toDouble
    val recall = hits / exact.count()
    assert(recall >= 0.5, s"recall@5 was $recall")
  }

  test("LSH candidate generation prunes the pair space (not brute force in disguise)") {
    val emb = tbl("embeddings", sfDirMid)
    val n = emb.count()
    val signs = Knn.srpSigns(8 * 4, 64)
    // every table's bucketed pair space must be well below the full cross
    // product — the work a 100 TB run would actually shuffle per table
    (0 until 8).foreach { t =>
      val pairSpace = emb
        .select(Knn.srpBucket($"embedding", signs.slice(t * 4, (t + 1) * 4)).as("b"))
        .groupBy("b").count().agg(sum($"count" * $"count")).as[Long].head()
      assert(pairSpace < n * n / 4, s"table $t pair space $pairSpace vs ${n * n}")
    }
  }

  test("analytic first-table pair dedup equals the aggregation form") {
    val emb = tbl("embeddings", sfDirMid)
    val fast = Knn.lshTopK(emb, "vec_id", "embedding", dim = 64, bits = 4,
      k = 5, tables = 8)
    // reference formulation: collect every colliding (table, pair), dedup
    // with groupBy-max, then rank — the plan lshTopK replaced
    graft.sql.GraftFunctions.register(spark)
    val signs = Knn.srpSigns(8 * 4, 64)
    val withB = emb.select($"vec_id",
      graft.sql.GraftFunctions.l2NormalizeF32($"embedding").as("nv"),
      array((0 until 8).map(t =>
        Knn.srpBucket($"embedding", signs.slice(t * 4, (t + 1) * 4))): _*).as("bs"))
    val ex = withB.select($"vec_id", $"nv",
      posexplode($"bs").as(Seq("t", "bucket")))
    val q = ex.select($"t", $"bucket", $"vec_id".as("query_id"), $"nv".as("qn"))
    val c = ex.select($"t", $"bucket", $"vec_id".as("neighbor_id"), $"nv".as("cn"))
    val scored = q.join(c, Seq("t", "bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        graft.sql.GraftFunctions.dotF32($"qn", $"cn").as("cos"))
      .groupBy($"query_id", $"neighbor_id").agg(max($"cos").as("cos"))
    val naive = graft.operators.Relational.topKPerGroup(scored, Seq("query_id"),
      Seq($"cos".desc, $"neighbor_id".asc), 5)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("aggregate-path bruteForceTopK equals the window form row-for-row") {
    // round-10 dispatch: integral ids + float/double scores ride the
    // map-side TopKAggF heap; the emitted row-set must equal the
    // ROW_NUMBER window ranking exactly (same columns, ranks, doubles)
    val emb = tbl("embeddings")
    val queries = emb.filter($"vec_id" < 16)
    val agg = Knn.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("__qv"))
    val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("__cv"))
    val scored = broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        graft.sql.GraftFunctions.cosineF32($"__qv", $"__cv").as("cos"))
    val win = graft.operators.Relational.topKPerGroup(scored, Seq("query_id"),
      Seq($"cos".desc, $"neighbor_id".asc), 5)
    assert(agg.columns.toSeq == win.columns.toSeq)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect().map(_.toString).toSeq
    assert(dump(agg) == dump(win))
    // 16 queries sit under Budgets.knnMinQueries: the regime gate keeps the
    // broadcast join + heap (the collect/broadcast fixed cost is not
    // amortized — measured on q41, round 12)
    val planSmall = agg.queryExecution.executedPlan.toString
    assert(!planSmall.contains("graft_topk_dot_f32") && !planSmall.contains("Window"),
      s"expected the unfused heap plan for a small query set, got:\n$planSmall")
    // round-12 dispatch (verdict task 3): past the query-count gate the
    // same shape FUSES into the broadcast-catalog kernel — row-identical
    // (oracle q41/q143 hashes unchanged), and NO candidate join of any
    // kind below the float budget
    val fused = Budgets.scoped(_.copy(knnMinQueries = 1))(
      Knn.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    assert(dump(fused) == dump(agg), "fused/unfused dispatch diverged")
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("graft_topk_dot_f32") && !plan.contains("Window"),
      s"expected the fused kernel plan, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidate join leaked below the budget:\n$plan")
    // forcing the budget to 0 keeps the unfused candidate join even past
    // the query gate (the ANN handoff seam TwoTower.recommend documents)
    val unfused = Budgets.scoped(_.copy(catalogFloats = 0L, knnMinQueries = 1))(
      Knn.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    assert(dump(unfused) == dump(fused))
    assert(unfused.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("string ids ride the string-payload heap; non-dispatchable ids keep the window form") {
    // round 11: string ids route to graft_topk_str (same groups×k
    // exchange as the long heap) instead of falling back to the window
    val emb = tbl("embeddings").limit(40)
      .select(concat(lit("v"), $"vec_id").as("vec_id"), $"embedding")
    val out = Knn.bruteForceTopK(emb.limit(5), emb, "vec_id", "embedding", 3)
    assert(out.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.count() == 15)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_topk_str"),
      "string ids must take the string-heap aggregate form")
    // an id type neither heap carries (decimal) still gets the window form
    val embDec = tbl("embeddings").limit(40)
      .select($"vec_id".cast("decimal(20,0)").as("vec_id"), $"embedding")
    val outDec = Knn.bruteForceTopK(embDec.limit(5), embDec, "vec_id", "embedding", 3)
    assert(outDec.count() == 15)
    assert(outDec.queryExecution.executedPlan.toString.contains("Window"),
      "non-dispatchable ids must take the window form")
  }

  test("srpSigns is deterministic and balanced-ish") {
    val s1 = Knn.srpSigns(8, 64)
    val s2 = Knn.srpSigns(8, 64)
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    val pos = s1.flatten.count(_ > 0)
    assert(pos > 8 * 64 / 4 && pos < 8 * 64 * 3 / 4)
  }
}
