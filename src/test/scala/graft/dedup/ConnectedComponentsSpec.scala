package graft.dedup

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.Budgets
import org.apache.spark.sql.DataFrame
import graft.operators.Budgets.integral

class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  private def labels(edges: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("a", "b"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("chains, stars and separate components label to the component minimum") {
    val out = labels(Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), // chain 1-2-3-4
      (10L, 11L), (10L, 12L), (10L, 13L), // star at 10
      (20L, 21L), (21L, 20L), (20L, 20L))) // dup edges + self-loop
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  /** Brute force: repeated min-label relaxation to fixpoint on the driver. */
  private def closure(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    var lab = nodes.map(n => n -> n).toMap
    var stable = false
    while (!stable) {
      stable = true
      edges.foreach { case (a, b) =>
        val m = math.min(lab(a), lab(b))
        if (lab(a) != m || lab(b) != m) { stable = false; lab += a -> m; lab += b -> m }
      }
    }
    lab
  }

  test("matches a brute-force transitive closure on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    assert(labels(edges) == closure(edges))
  }

  test("fails loudly instead of returning wrong labels when maxIter is too low") {
    // a path of length 12 needs several hash-min rounds
    val chain = (1L to 12L).sliding(2).map(s => (s(1), s.head)).toSeq
    assertThrows[IllegalArgumentException](labels(chain, maxIter = 1))
    assert(labels(chain, maxIter = 20).values.toSet == Set(1L))
  }

  test("pointer jumping converges a 2000-node path in O(log n) rounds") {
    val chain = (0L until 2000L).sliding(2).map(s => (s(1), s.head)).toSeq
    // jumping: diameter 2000 -> ~log2 rounds; 15 is generous headroom
    val out = ConnectedComponents.run(chain.toDF("a", "b"), maxIter = 15)
      .as[(Long, Long)].collect()
    assert(out.length === 2000 && out.forall(_._2 == 0L))
  }

  test("jumping and non-jumping agree on random graphs (same fixpoint)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      // the jumping plan reaches the plain hash-min fixpoint: the closure
      assert(labels(edges, maxIter = 30) === closure(edges), s"trial $trial")
    }
  }

  test("keepComponentRepresentatives keeps exactly one doc per duplicate cluster") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // clusters {1,2,3} (chain) and {5,6}; 4,7,8 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = ConnectedComponentsSpec
      .keepComponentRepresentatives(docs, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L),
      "component minima survive; chain member 3 dies even though (1,3) was never a pair")
  }

  test("fused union-find matches the iterative plan on random graphs and deep chains") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b")
    val fused = ConnectedComponents.runFused(df)
    assert(fused.isDefined)
    assert(fused.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == ConnectedComponents.run(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // a 5000-node path: past the iterative plan's default maxIter ABORT
    // territory (composed needs pointer jumping); union-find has no
    // diameter term at all
    val path = (0L until 4999L).map(i => (i, i + 1)).toDF("a", "b")
    val labs = ConnectedComponents.runFused(path).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.size == 5000 && labs.values.forall(_ == 0L))
  }

  test("fused refuses past the budget / string ids; runAuto falls back; null edges drop") {
    val df = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    assert(Budgets.scoped(_.copy(componentEdges = 1L))(
      ConnectedComponents.runFused(df)).isEmpty)
    assert(ConnectedComponents
      .runFused(Seq(("x", "y")).toDF("a", "b")).isEmpty)
    assert(Budgets.scoped(_.copy(componentEdges = 1L))(
        ConnectedComponents.runAuto(df).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // a null endpoint vanishes in BOTH plans (the x =!= y filter)
    val withNull = df.unionByName(
      Seq((Option.empty[Long], Option(9L))).toDF("a", "b"))
    assert(ConnectedComponents.runFused(withNull).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == ConnectedComponents.run(withNull).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("fused guarded collect caps the collected pair count; runAuto serves the joins past it") {
    // 5 rows, of which a self-loop and a null pair never reach the driver:
    // the shared guarded collect admits the 3 pairs at a cap of 3 and
    // refuses at 2
    val df = Seq((Option(1L), Option(2L)), (Option(2L), Option(3L)), (Option(5L), Option(6L)),
      (Option(7L), Option(7L)), (Option.empty[Long], Option(9L))).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    assert(Budgets.scoped(_.copy(componentEdges = 3L))(ConnectedComponents.runFused(df))
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    assert(Budgets.scoped(_.copy(componentEdges = 2L))(
      ConnectedComponents.runFused(df)).isEmpty)
    assert(Budgets.scoped(_.copy(componentEdges = 2L))(ConnectedComponents.runAuto(df)
      .collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object ConnectedComponentsSpec {

  /** Cluster-consistent near-duplicate removal: drop every node that is not
    * its component's minimum (one representative survives per duplicate
    * cluster, regardless of chain length). `dupPairs` is the verified pair
    * set (a, b); `df` the corpus. Rows never appearing in a pair are kept.
    */
  def keepComponentRepresentatives(df: DataFrame, idCol: String,
      dupPairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val comps = ConnectedComponents.run(dupPairs, maxIter)
    val drop = comps.filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
