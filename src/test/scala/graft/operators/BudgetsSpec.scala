package graft.operators

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The regime gates hold the values the operators used to carry as
  * literal defaults, the scoped override narrows them for one block only,
  * and the driver-resource guard reads `spark.driver.maxResultSize` the
  * way the graph kernels always did. */
class BudgetsSpec extends AnyFunSuite {

  test("every gate equals its former literal default") {
    val b = Budgets.get
    assert(b.pageRankEdges == 100000000L && b.pageRankNodes == 16000000L)
    assert(b.ssspEdges == 16000000L && b.ssspNodes == 16000000L)
    assert(b.walkEdges == 16000000L && b.componentEdges == 16000000L)
    assert(b.triangleEdges == 8000000L)
    assert(b.catalogFloats == 64000000L && b.cellCatalogFloats == 64000000L)
    assert(b.knnMinQueries == 1024 && b.seenBroadcastRows == 32000000L)
    assert(b.cooccurModelRows == 4000000L && b.cooccurMinUsers == 4096L)
    assert(b.negativeBucketRows == 8000000L)
    assert(b.dictionaryDistinct == (2L << 20))
    assert(b.driverEmbedFloats == 300000000L)
  }

  test("the driver-held streaming state gate never binds before the session guard") {
    assert(Budgets.get.servedStateRows == Long.MaxValue)
    assert(Budgets.scoped(_.copy(servedStateRows = 0L))(Budgets.get.servedStateRows) == 0L)
  }

  test("scoped narrows the gates inside its block only, nesting on the current ones") {
    val outer = Budgets.scoped(_.copy(walkEdges = 2L)) {
      val inner = Budgets.scoped(_.copy(triangleEdges = 3L))(Budgets.get)
      assert(inner.walkEdges == 2L && inner.triangleEdges == 3L)
      Budgets.get
    }
    assert(outer.walkEdges == 2L && outer.triangleEdges == 8000000L)
    assert(Budgets.get == Budgets())
  }

  // (site, result bytes per row, heap bytes per row, rows at
  // maxResultSize 0 = unlimited, rows at the 1g default) on a 64 GiB heap
  private val sites = Seq(
    ("PageRank.runFused driver CSR", 16L, 64L, 429496729L, 60397977L),
    ("PageRank.runBroadcast node dictionary", 24L, 64L, 429496729L, 40265318L),
    ("ShortestPaths.runFused driver CSR", 24L, 192L, 143165576L, 40265318L),
    ("ShortestPaths.runBroadcast node dictionary", 24L, 64L, 429496729L, 40265318L),
    ("PageRank.personalizedFused seed set", 16L, 128L, 214748364L, 60397977L),
    ("Triangles.perNodeFused half-adjacency", 24L, 96L, 286331153L, 40265318L),
    ("ConnectedComponents.runFused pair graph", 16L, 96L, 286331153L, 60397977L),
    ("Cooccur.recommendFused neighbor model", 24L, 192L, 143165576L, 40265318L),
    ("RandomWalks.walksFused ranked adjacency", 24L, 128L, 214748364L, 40265318L),
    ("RecsTable streaming serve's driver-held state at dim 16", 112L, 224L, 122713351L, 8628282L),
    ("RecsTable streaming serve's driver-held state at dim 32", 176L, 352L, 78090314L, 5490725L),
    ("Retrieval.publishCatalog dense catalog at dim 16", 112L, 224L, 122713351L, 8628282L),
    ("Retrieval.publishCatalog dense catalog at dim 32", 176L, 352L, 78090314L, 5490725L),
    ("Retrieval.publishCellCatalog cell catalog at dim 16", 112L, 224L, 122713351L, 8628282L),
    ("Retrieval.publishCellCatalog cell catalog at dim 32", 176L, 352L, 78090314L, 5490725L))
  private val heap = 64L << 30

  private def conf(maxResultSize: Option[String]) = {
    val c = new SparkConf(false)
    maxResultSize.foreach(c.set("spark.driver.maxResultSize", _))
    c
  }

  for ((site, resultBytes, heapBytes, unlimited, atDefault) <- sites) {
    test(s"driverRows at $site's bytes per row: 0, unparsable, unset and 1g") {
      def rows(v: Option[String]) = Budgets.driverRows(conf(v), heap, resultBytes, heapBytes)
      assert(rows(Some("0")) == unlimited, "0 leaves only the 40 % heap share")
      assert(unlimited == heap * 2L / 5L / heapBytes)
      assert(rows(Some("1g")) == atDefault)
      assert(atDefault == (1L << 30) * 9L / 10L / resultBytes)
      assert(rows(Some("not-a-size")) == atDefault, "unparsable falls back to 1g")
      assert(rows(None) == atDefault, "unset is the 1g default")
    }
  }

  test("driverRows: the heap share binds on a small driver") {
    assert(Budgets.driverRows(conf(Some("0")), 1L << 30, 24L, 192L) == 2236962L)
    assert(Budgets.driverRows(conf(Some("8g")), 1L << 30, 16L, 64L) == 6710886L)
  }
}
