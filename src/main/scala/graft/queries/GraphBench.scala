package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Graph-kernel bench forms (round 15, verdict task 6): the
  * fused-vs-join PageRank crossover was measured only in one-off 10×
  * runs (SCALE.md, the round-12 second-half and round-14 graph-decade
  * bullets) — the official driver artifact never carried a row for it,
  * so a regression in either route between rounds would be invisible
  * to the claims lint. These two bench-only rows track both routes on the
  * SAME materialized edge fixture (the sf-scaled co-purchase graph, ~2.4M
  * edges at sf0.1 — comfortably inside the default session's resource guards
  * on the driver box), with the graph-build self-join paid ONCE in untimed
  * benchSetup: the r13graph lesson that a shared ~15 s build term inside both
  * rows biases every ratio toward 1.
  *
  * Correctness of both routes is oracle-adjudicated elsewhere (q134
  * copurchase rank rides PageRank; the fused/join bit-identity is
  * spec-pinned in PageRankSpec) — these rows carry only the wall.
  */
object GraphBench {
  import QueryHelpers.QueryFn

  // Round-16 (r15 verdict, "minor/latent"): the fixture was keyed on the
  // sf dir PATH alone and persists in java.io.tmpdir across runs — if
  // /root/testdata/sfX were regenerated in place, q185/q186 would read a
  // stale edge graph. The key now also carries a cheap content
  // fingerprint of the lineitem table (file names + lengths + mtimes —
  // one driver-side listing, no data read), so a regenerated input gets
  // a fresh fixture directory automatically.
  private def lineitemPrint(s: SparkSession, d: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/lineitem")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val acc =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).sortBy(_.getPath.getName).foldLeft(1125899906842597L) {
        (h, st) =>
          var x = h * 31 + st.getPath.getName.hashCode
          x = x * 31 + st.getLen
          x * 31 + st.getModificationTime
      }
    java.lang.Long.toHexString(acc)
  }

  private def root(s: SparkSession, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_bench_graph_" +
      s"${QueryHelpers.fixtureKey(d)}_${lineitemPrint(s, d)}"

  private def committed(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Untimed, idempotent (keyed on _SUCCESS like the q25 fixture): the
    * distinct directed co-purchase edge list, written once per sf dir. */
  def benchSetup(s: SparkSession, d: String): Unit = {
    val dir = s"${root(s, d)}/dedges"
    if (!committed(s, dir)) {
      val li = graft.Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      // shuffled-hash build, matching StarQueries.copurchaseJoin (round 15,
      // guide §3.1 — sort-merge paid two per-partition sorts for nothing)
      li.as("a").join(li.as("b").hint("shuffle_hash"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
        .write.mode("overwrite").parquet(dir)
    }
  }

  val benchDefs: Map[String, QueryFn] = Map(
    // the driver-CSR kernel, FORCED (a refusal is a row error, not a
    // silent fallback measuring the wrong plan)
    "q185_pagerank_fused_bench" -> { (s, d) =>
      val edges = s.read.parquet(s"${root(s, d)}/dedges")
      graft.graph.PageRank.runFused(edges, 3)
        .getOrElse(throw new IllegalStateException(
          "fused PageRank refused the bench fixture — session under-" +
            "provisioned for the sf-scaled co-purchase graph"))
    },
    // the BSP join plan on the identical fixture — the crossover's
    // other leg, same iteration count
    "q186_pagerank_join_bench" -> { (s, d) =>
      val edges = s.read.parquet(s"${root(s, d)}/dedges")
      graft.graph.PageRank.run(edges, 3)
    })
}
