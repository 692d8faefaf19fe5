package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

class KCoreSpec extends SparkSpecBase {
  import spark.implicits._

  // triangle {1,2,3} with a pendant path 3-4-5: the 2-core is the triangle
  private def g = Seq((1, 2), (2, 3), (1, 3), (3, 4), (4, 5)).toDF("src", "dst")

  test("2-core of a triangle-plus-tail is the triangle") {
    val out = KCore.run(g, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
  }

  test("peeling cascades: removing the tail lowers 4's degree below k") {
    // after round 1 (drop 5, deg 1), node 4 has degree 1 and falls in round 2
    val after1 = KCore.run(g, "src", "dst", k = 2, rounds = 1)
      .collect().map(_.getInt(0)).toSet
    assert(after1 == Set(1, 2, 3, 4), "round 1 only drops node 5")
    assert(KCoreSpec.converged(g, "src", "dst", k = 2, rounds = 2))
  }

  test("3-core of the fixture is empty") {
    assert(KCore.run(g, "src", "dst", k = 3, rounds = 3).isEmpty)
  }

  test("direction/duplicates/self-loops are canonicalized away") {
    val noisy = g.union(g.select(col("dst"), col("src")))
      .union(Seq((1, 1), (2, 3)).toDF("src", "dst"))
    val a = KCore.run(g, "src", "dst", 2, 3).collect().toSet
    val b = KCore.run(noisy, "src", "dst", 2, 3).collect().toSet
    assert(a == b)
  }

  test("recsys 45-core of the real user-item graph converges in 3 rounds") {
    val ev = tbl("events", sfDirMid).select(col("user_id").as("src"),
      (get_json_object(col("props"), "$.k").cast("int") + 1000000)
        .cast("long").as("dst"))
    val core = KCore.run(ev, "src", "dst", k = 45, rounds = 3)
    assert(KCoreSpec.converged(ev, "src", "dst", k = 45, rounds = 3))
    assert(core.count() == 219L) // cross-checked against a driver-side peel
    assert(core.filter(col("degree") < 45).count() == 0L)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object KCoreSpec {

  /** True when one more peel changes nothing — i.e. `rounds` reached the
    * fixpoint (every surviving degree >= k and no node would be cut). */
  def converged(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): Boolean = {
    val now = KCore.run(edges, srcCol, dstCol, k, rounds)
    now.filter(col("degree") < k).isEmpty
  }
}
