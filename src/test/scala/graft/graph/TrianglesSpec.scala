package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.Budgets

class TrianglesSpec extends SparkSpecBase {
  import spark.implicits._

  // square 1-2-3-4 with diagonal 1-3: triangles {1,2,3} and {1,3,4}
  private def square = Seq((1, 2), (2, 3), (3, 4), (4, 1), (1, 3))
    .toDF("src", "dst")

  test("hand graph: counts and clustering coefficients") {
    val m = Triangles.perNode(square, "src", "dst")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    assert(m(1) == (3L, 2L, 2.0 * 2 / (3 * 2)))
    assert(m(3) == (3L, 2L, 2.0 * 2 / (3 * 2)))
    assert(m(2) == (2L, 1L, 1.0))
    assert(m(4) == (2L, 1L, 1.0))
  }

  test("direction, duplicates, and self-loops do not change the census") {
    val noisy = square
      .union(square.select(col("dst"), col("src")))     // reversed copies
      .union(Seq((1, 2), (3, 3)).toDF("src", "dst"))    // dup + self-loop
    val a = Triangles.perNode(square, "src", "dst").collect().toSet
    val b = Triangles.perNode(noisy, "src", "dst").collect().toSet
    assert(a == b)
  }

  test("degree-below-2 nodes get NULL coefficient") {
    val g = Seq((1, 2)).toDF("src", "dst")
    val rows = Triangles.perNode(g, "src", "dst").collect()
    assert(rows.length == 2 && rows.forall(r => r.isNullAt(3)))
  }

  test("matches a brute-force census on a deterministic pseudo-random graph") {
    // 40 nodes, edge (i,j) present iff md5-ish hash parity — deterministic
    val n = 40
    val edges = for {
      i <- 0 until n; j <- i + 1 until n
      if java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))(0) % 4 == 0
    } yield (i, j)
    val adj = edges.foldLeft(Map.empty[Int, Set[Int]].withDefaultValue(Set.empty[Int])) {
      case (m, (a, b)) => m.updated(a, m(a) + b).updated(b, m(b) + a)
    }
    val brute = (0 until n).map { v =>
      val nb = adj(v).toSeq
      val tri = (for {
        x <- nb.indices; y <- x + 1 until nb.size
        if adj(nb(x)).contains(nb(y))
      } yield 1).size
      v -> (adj(v).size.toLong, tri.toLong)
    }.filter(_._2._1 > 0).toMap
    val got = Triangles.perNode(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == brute)
  }

  test("the wedge self-join shares one exchange (ReusedExchange) in the shuffled regime") {
    // pin the big-graph plan shape: broadcast gate off AND the optimizer's
    // size-based broadcast off (the checkpointed edge set carries accurate
    // stats, so a toy graph would otherwise broadcast the wedge join too —
    // which is the desired SMALL-graph plan, covered by the budget test)
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = Budgets.scoped(_.copy(triangleEdges = 0L))(
          Triangles.perNodeComposed(square, "src", "dst"))
        .queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), s"wedge join must reuse:\n$p")
    }
  }

  test("closing join broadcasts under the edge budget, shuffles past it — same census") {
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bcast = Triangles.perNodeComposed(square, "src", "dst")
      val shuf = Budgets.scoped(_.copy(triangleEdges = 0L))(
        Triangles.perNodeComposed(square, "src", "dst"))
      val pb = bcast.queryExecution.executedPlan.toString
      val ps = shuf.queryExecution.executedPlan.toString
      // the explicit gate, not the optimizer's size estimate, picks the form
      assert(pb.contains("BroadcastHashJoin"),
        s"under budget the wedge set must close map-side:\n$pb")
      assert(!ps.contains("BroadcastHashJoin"),
        s"past budget the closing join must not broadcast:\n$ps")
      assert(bcast.collect().toSet == shuf.collect().toSet)
    }
  }

  test("fused intersection kernel matches the composed plan row-for-row") {
    // the pseudo-random graph again, plus noise: reversed copies, dups,
    // a self-loop, and a degree-1 pendant
    val n = 40
    val edges = (for {
      i <- 0 until n; j <- i + 1 until n
      if java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))(0) % 4 == 0
    } yield (i, j)) ++ Seq((5, 5), (0, 99), (3, 2), (2, 3))
    val g = edges.toDF("src", "dst")
    val fused = Triangles.perNodeFused(g, "src", "dst")
    assert(fused.isDefined, "40-node graph must be under the default budget")
    val a = fused.get.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    val b = Triangles.perNodeComposed(g, "src", "dst").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(a == b)
    assert(fused.get.schema.map(f => (f.name, f.dataType))
      == Triangles.perNodeComposed(g, "src", "dst")
        .schema.map(f => (f.name, f.dataType)))
  }

  test("fused kernel refuses past the budget and on non-integral ids") {
    assert(Budgets.scoped(_.copy(triangleEdges = 2L))(
      Triangles.perNodeFused(square, "src", "dst")).isEmpty)
    val gs = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    assert(Triangles.perNodeFused(gs, "src", "dst").isEmpty)
    // the dispatcher still serves both through the composed plan
    assert(Budgets.scoped(_.copy(triangleEdges = 2L))(
      Triangles.perNode(square, "src", "dst").collect()).length == 4)
    val strTri = Triangles.perNode(gs, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(strTri == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("fused kernel's guarded collect caps the canonical edge count, not the raw rows") {
    // 12 raw rows (reversed copies, a duplicate, a self-loop) canonicalize
    // to the square's 5 edges: the shared guarded collect admits them at a
    // cap of 5 and refuses at 4, where the dispatcher serves the composed plan
    val noisy = square.union(square.select(col("dst"), col("src")))
      .union(Seq((1, 2), (3, 3)).toDF("src", "dst"))
    val want = Triangles.perNodeComposed(square, "src", "dst").collect().toSet
    val at5 = Budgets.scoped(_.copy(triangleEdges = 5L))(
      Triangles.perNodeFused(noisy, "src", "dst"))
    assert(at5.isDefined && at5.get.collect().toSet == want)
    assert(Budgets.scoped(_.copy(triangleEdges = 4L))(
      Triangles.perNodeFused(noisy, "src", "dst")).isEmpty)
    assert(Budgets.scoped(_.copy(triangleEdges = 4L))(
      Triangles.perNode(noisy, "src", "dst").collect().toSet) == want)
  }
}
