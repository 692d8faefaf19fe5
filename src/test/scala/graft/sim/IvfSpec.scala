package graft.sim

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.VecCentroidAgg
import graft.operators.Relational
import graft.sql.GraftFunctions

class IvfSpec extends SparkSpecBase {
  import spark.implicits._

  test("IVF ANN reaches recall@5 >= 0.5 vs the exact baseline (sf0.01)") {
    val emb = tbl("embeddings", sfDirMid)
    val queries = emb.filter($"vec_id" < 32)
    val exact = Knn.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
    val approx = Ivf.topK(emb, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3)
      .filter($"query_id" < 32)
      .select($"query_id", $"neighbor_id")
    val hits = exact.intersect(approx).count().toDouble
    val recall = hits / exact.count()
    assert(recall >= 0.5, s"recall@5 was $recall")
  }

  test("IVF cells prune the pair space (probed work well below brute force)") {
    val emb = tbl("embeddings", sfDirMid)
    val n = emb.count()
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 8)
    val pairSpace = emb
      .select(Ivf.nearestCell($"embedding", centroids).as("cid"))
      .groupBy("cid").count().agg(sum($"count" * $"count")).as[Long].head()
    assert(pairSpace < n * n / 2, s"cell pair space $pairSpace vs ${n * n}")
  }

  test("cell assignment is deterministic and ties break on the lower cid") {
    val emb = tbl("embeddings", sfDirMid)
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 4)
    val a1 = emb.select($"vec_id", Ivf.nearestCell($"embedding", centroids).as("cid"))
    val a2 = emb.select($"vec_id", Ivf.nearestCell($"embedding", centroids).as("cid"))
    assert(a1.exceptAll(a2).isEmpty)
    // duplicated centroid -> every vector equidistant to both copies; the
    // argmin must always pick the lower cid
    val dup = Array(centroids(0), centroids(0))
    val cids = emb.select(Ivf.nearestCell($"embedding", dup).as("cid"))
      .distinct().as[Int].collect().toSet
    assert(cids == Set(0), s"tie-break must pick cid 0, got $cids")
  }

  test("IvfProbeF32 is bit-identical to the unrolled DotF32 + array_sort form") {
    import graft.sql.GraftFunctions
    GraftFunctions.register(spark)
    val emb = tbl("embeddings", sfDirMid)
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 8)
    // the pre-rewrite plan shape: nlist scored structs sorted in-plan
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val normSq = c.map(x => x.toDouble * x.toDouble).sum
      struct((lit(normSq) - lit(2.0) * GraftFunctions.dotF32($"embedding", lit(c))).as("d"),
        lit(i).as("cid"))
    }
    val unrolled = emb.select($"vec_id",
      transform(slice(array_sort(array(scored: _*)), 1, 3), x => x.getField("cid")).as("probes"))
    val fused = emb.select($"vec_id", Ivf.probeCells($"embedding", centroids, 3).as("probes"))
    assert(fused.exceptAll(unrolled).isEmpty && unrolled.exceptAll(fused).isEmpty)
  }

  test("nlist=1024 assignment runs with codegen fallback disabled (plan is O(1) in nlist)") {
    val emb = tbl("embeddings", sfDirMid)
    val dim = emb.select(size($"embedding")).as[Int].head()
    // deterministic synthetic matrix at production-ish nlist
    val centroids = Ivf.syntheticCentroids(1024, dim)
    withSQLConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val assigned = emb.select($"vec_id",
        Ivf.nearestCell($"embedding", centroids).as("cid"),
        Ivf.probeCells($"embedding", centroids, 4).as("probes"))
      val rows = assigned.collect()
      assert(rows.length == emb.count().toInt)
      assert(rows.forall { r =>
        val probes = r.getSeq[Int](2)
        probes.length == 4 && probes.head == r.getInt(1)
      })
      // spot-check one row against a driver-side argmin over all 1024 cells
      val v = emb.orderBy($"vec_id").select($"embedding").as[Seq[Float]].head().toArray
      val best = centroids.zipWithIndex.map { case (c, i) =>
        val norm = c.map(x => x.toDouble * x.toDouble).sum
        val dot = v.indices.map(j => v(j).toDouble * c(j).toDouble).sum
        (norm - 2.0 * dot, i)
      }.min._2
      val got = emb.orderBy($"vec_id")
        .select(Ivf.nearestCell($"embedding", centroids)).as[Int].head()
      assert(got == best)
    }
  }

  test("assignCellsJoin (broadcast-table form) agrees with the in-plan expression") {
    val emb = tbl("embeddings", sfDirMid)
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 8)
    val cdf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "vec").select($"cid", $"vec".cast("array<float>").as("vec"))
    val viaExpr = emb.select($"vec_id", Ivf.nearestCell($"embedding", centroids).as("cid"))
    val viaJoin = IvfSpec.assignCellsJoin(emb, "vec_id", "embedding", cdf)
    assert(viaExpr.exceptAll(viaJoin).isEmpty && viaJoin.exceptAll(viaExpr).isEmpty)
    // duplicated-centroid tie still resolves to the lower cid
    val dup = cdf.filter($"cid" === 0)
      .unionByName(cdf.filter($"cid" === 0).select(lit(1).as("cid"), $"vec"))
    val cids = IvfSpec.assignCellsJoin(emb, "vec_id", "embedding", dup)
      .select("cid").distinct().as[Int].collect().toSet
    assert(cids == Set(0), s"tie-break must pick cid 0, got $cids")
  }

  test("centroids persist and reload bit-identically; assignments agree") {
    val emb = tbl("embeddings", sfDirMid)
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ivf.saveCentroids(spark, centroids, dir)
    val reloaded = Ivf.loadCentroids(spark, dir)
    assert(reloaded.length == centroids.length)
    assert(centroids.zip(reloaded).forall { case (x, y) => x.sameElements(y) })
    val a1 = emb.select($"vec_id", Ivf.nearestCell($"embedding", centroids).as("cid"))
    val a2 = emb.select($"vec_id", Ivf.nearestCell($"embedding", reloaded).as("cid"))
    assert(a1.exceptAll(a2).isEmpty)
  }

  test("probeCells returns nprobe distinct cells led by the nearest") {
    val emb = tbl("embeddings", sfDirMid)
    val centroids = Ivf.fitCentroids(emb, "vec_id", "embedding", nlist = 8)
    val out = emb.select(
      Ivf.nearestCell($"embedding", centroids).as("c0"),
      Ivf.probeCells($"embedding", centroids, 3).as("probes"))
    assert(out.filter(element_at($"probes", 1) =!= $"c0").count() == 0)
    assert(out.filter(size(array_distinct($"probes")) =!= 3).count() == 0)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object IvfSpec {

  /** Cell assignment against a centroid TABLE (cid, vec) instead of a
    * plan-embedded matrix — the extreme-nlist form: IvfProbeF32 carries the
    * matrix inside the plan (right up to ~10⁴ cells / tens of MB); beyond
    * that the quantizer should be DATA, broadcast once per stage. The
    * broadcast join fans each row out to nlist scored copies IN-TASK, and
    * the argmin partial-aggregates back to one row per id before any
    * exchange (rows of one id never leave their partition), so the only
    * shuffle is the final tiny (id, cid) stream. Same distance + tie
    * semantics as nearestCell (asserted in IvfSpec).
    */
  def assignCellsJoin(df: DataFrame, idCol: String, vecCol: String,
      centroidsDf: DataFrame): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val c = centroidsDf.select(col("cid"),
      col("vec").as("__cv"),
      GraftFunctions.dotF32(col("vec"), col("vec")).as("__cn2"))
    df.select(col(idCol), col(vecCol))
      .join(broadcast(c))
      .select(col(idCol),
        struct(
          (col("__cn2") - lit(2.0) * GraftFunctions.dotF32(col(vecCol), col("__cv"))).as("d"),
          col("cid").as("cid")).as("__dc"))
      .groupBy(col(idCol))
      .agg(min(col("__dc")).getField("cid").as("cid"))
  }
}
