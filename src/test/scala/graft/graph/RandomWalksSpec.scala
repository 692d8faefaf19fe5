package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.Budgets

class RandomWalksSpec extends SparkSpecBase {
  import spark.implicits._

  test("walks replay the md5 choice against ranked adjacency, by hand") {
    // node 1 has neighbors {2, 3} (idx 0, 1); nodes 2, 3 loop to 1
    val g = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val trace = RandomWalks.walks(g, "src", "dst", numWalks = 1, length = 2, "s")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // driver-side replay for walk from node 1 (walk_id 1)
    def pick(wid: Long, t: Int, outdeg: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s|$wid|$t".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(6).map("%02x".format(_)).mkString, 16) % outdeg
    }
    val first = if (pick(1L, 1, 2L) == 0L) 2L else 3L
    assert(trace((1L, 0)) == 1L && trace((1L, 1)) == first)
    assert(trace((1L, 2)) == 1L, "both neighbors loop back")
  }

  test("every start node emits numWalks walks of full length on a complete graph") {
    val nodes = (1L to 5L)
    val g = (for { a <- nodes; b <- nodes if a != b } yield (a, b)).toDF("src", "dst")
    val trace = RandomWalks.walks(g, "src", "dst", numWalks = 3, length = 4, "s")
    assert(trace.count() == 5L * 3 * 5) // 15 walks × (length+1) rows
    val perWalk = trace.groupBy(col("walk_id")).agg(count(lit(1)).as("n"))
    assert(perWalk.filter(col("n") =!= 5).count() == 0)
  }

  test("dead-end nodes stop the walk instead of fabricating steps") {
    val g = Seq((1L, 2L)).toDF("src", "dst") // 2 has no out-edges
    val trace = RandomWalks.walks(g, "src", "dst", 1, 3, "s")
    // walk from 1: steps 0 (at 1) and 1 (at 2), then stops
    assert(trace.count() == 2L)
  }

  test("traces are a pure function of (graph, salt): rerun and repartition agree") {
    val g = tbl("lineitem").select(col("l_orderkey"), col("l_partkey"))
      .limit(2000)
      .as("a").join(tbl("lineitem").select(col("l_orderkey"), col("l_partkey"))
        .limit(2000).as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    val t1 = RandomWalks.walks(g, "src", "dst", 1, 3, "x").collect().toSet
    val t2 = RandomWalks.walks(g.repartition(9), "src", "dst", 1, 3, "x").collect().toSet
    val t3 = RandomWalks.walks(g, "src", "dst", 1, 3, "y").collect().toSet
    assert(t1 == t2)
    assert(t1 != t3, "salt must change the trace set")
  }

  test("fused broadcast walker is bit-identical to the join plan (dead ends, multi-walk)") {
    // chain with a dead end (4), a hub (1), and parallel-edge noise
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (2L, 4L), (3L, 1L),
      (3L, 2L), (1L, 2L)).toDF("src", "dst")
    val joined = RandomWalks.walks(g, "src", "dst", 2, 5, "fz")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fused = RandomWalks.walksFused(g, "src", "dst", 2, 5, "fz")
    assert(fused.isDefined)
    val fusedSet = fused.get
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fusedSet == joined)
    // names and types match the join plan (nullability is plan-dependent)
    assert(fused.get.schema.map(f => (f.name, f.dataType))
      == RandomWalks.walks(g, "src", "dst", 2, 5, "fz")
        .schema.map(f => (f.name, f.dataType)))
  }

  test("fused walker falls back past the edge budget and on non-rankable id types") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    assert(Budgets.scoped(_.copy(walkEdges = 2L))(
      RandomWalks.walksFused(g, "src", "dst", 1, 2, "s")).isEmpty)
    val gs = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    assert(RandomWalks.walksFused(gs, "src", "dst", 1, 2, "s").isEmpty,
      "string ids rank lexicographically — the long-keyed map must refuse")
    // walksAuto serves the join plan in both refusal cases
    assert(Budgets.scoped(_.copy(walkEdges = 2L))(
      RandomWalks.walksAuto(g, "src", "dst", 1, 2, "s").count()) > 0)
  }

  test("fused walker refuses null endpoints (join plan keeps them — round-12 advice)") {
    // a null dst ranks at idx 0 in the join plan's ascending window and
    // counts in outdeg; a null src node is a start — the long-keyed fused
    // map cannot hold either, so null-bearing graphs must fall back
    val nullDst = Seq((Option(1L), Option(2L)), (Option(1L), Option.empty[Long]),
      (Option(2L), Option(1L))).toDF("src", "dst")
    assert(RandomWalks.walksFused(nullDst, "src", "dst", 1, 3, "s").isEmpty,
      "null dst must refuse the fused form")
    val nullSrc = Seq((Option(1L), Option(2L)), (Option.empty[Long], Option(2L)),
      (Option(2L), Option(1L))).toDF("src", "dst")
    assert(RandomWalks.walksFused(nullSrc, "src", "dst", 1, 3, "s").isEmpty,
      "null src must refuse the fused form")
    // walksAuto serves null-bearing graphs through the join plan, and the
    // traces match the join plan's own (nulls included in its semantics)
    val auto = RandomWalks.walksAuto(nullDst, "src", "dst", 1, 3, "s")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).toSet
    val joined = RandomWalks.walks(nullDst, "src", "dst", 1, 3, "s")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).toSet
    assert(auto == joined)
  }

  test("walksAuto at integer id type preserves the join plan's column types") {
    val g = Seq((1, 2), (2, 1), (1, 3)).toDF("src", "dst") // IntegerType ids
    val auto = RandomWalks.walksAuto(g, "src", "dst", 1, 2, "s")
    val joined = RandomWalks.walks(g, "src", "dst", 1, 2, "s")
    assert(auto.schema.map(f => (f.name, f.dataType))
      == joined.schema.map(f => (f.name, f.dataType)))
    assert(auto.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      == joined.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet)
  }

  test("fused walker's guarded collect caps the deduplicated adjacency") {
    // 4 rows with one parallel edge rank 3 adjacency entries: the shared
    // guarded collect admits them at a cap of 3 and refuses at 2, where
    // walksAuto's join plan writes the same traces
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 2L)).toDF("src", "dst")
    val want = RandomWalks.walks(g, "src", "dst", 2, 3, "cap").collect().toSet
    val at3 = Budgets.scoped(_.copy(walkEdges = 3L))(
      RandomWalks.walksFused(g, "src", "dst", 2, 3, "cap"))
    assert(at3.isDefined && at3.get.collect().toSet == want)
    assert(Budgets.scoped(_.copy(walkEdges = 2L))(
      RandomWalks.walksFused(g, "src", "dst", 2, 3, "cap")).isEmpty)
    assert(Budgets.scoped(_.copy(walkEdges = 2L))(
      RandomWalks.walksAuto(g, "src", "dst", 2, 3, "cap").collect().toSet) == want)
  }
}
