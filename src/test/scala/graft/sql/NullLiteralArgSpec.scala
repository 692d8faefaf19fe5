package graft.sql

import graft.SparkSpecBase

/** NULLs at the SQL surface of the catalog-literal functions: an array
  * literal argument read through `GraftFunctions.arrayLiteral` refuses a
  * NULL literal or a NULL element at any depth with a message naming the
  * function and the argument (not an NPE, and not a silent id or
  * coordinate 0), and a NULL `seen` element is skipped, not read as id 0. */
class NullLiteralArgSpec extends SparkSpecBase {

  private val vec = "CAST(array(1.0, 0.5) AS ARRAY<FLOAT>)"
  private val noSeen = "CAST(array() AS ARRAY<BIGINT>)"
  private val ids = "array(10L, 20L, 30L)"
  private val vectors =
    "CAST(array(array(1.0, 0.0), array(0.0, 1.0), array(0.5, 0.5)) AS ARRAY<ARRAY<FLOAT>>)"
  private val centroids =
    "CAST(array(array(1.0, 0.0), array(0.0, 1.0)) AS ARRAY<ARRAY<FLOAT>>)"

  private def topkDot(ids: String, vectors: String, seen: String = noSeen) =
    s"SELECT graft_topk_dot_f32($vec, $seen, $ids, $vectors, 2) AS r"
  private def probe(centroids: String) =
    s"SELECT graft_ivf_probe_f32($vec, $centroids, 1) AS r"

  // (case, function, argument, SQL)
  private val bad = Seq(
    ("ids NULL literal", GraftFunctions.TopKDotName, "ids",
      topkDot("CAST(NULL AS ARRAY<BIGINT>)", vectors)),
    ("ids NULL element", GraftFunctions.TopKDotName, "ids",
      topkDot("array(10L, NULL, 30L)", vectors)),
    ("vectors NULL literal", GraftFunctions.TopKDotName, "vectors",
      topkDot(ids, "CAST(NULL AS ARRAY<ARRAY<FLOAT>>)")),
    ("vectors NULL row", GraftFunctions.TopKDotName, "vectors",
      topkDot(ids, "CAST(array(array(1.0, 0.0), NULL, array(0.5, 0.5)) AS ARRAY<ARRAY<FLOAT>>)")),
    ("vectors NULL coordinate", GraftFunctions.TopKDotName, "vectors",
      topkDot(ids, "CAST(array(array(1.0, 0.0), array(NULL, 1.0), array(0.5, 0.5)) AS ARRAY<ARRAY<FLOAT>>)")),
    ("centroids NULL literal", GraftFunctions.IvfProbeName, "centroids",
      probe("CAST(NULL AS ARRAY<ARRAY<FLOAT>>)")),
    ("centroids NULL row", GraftFunctions.IvfProbeName, "centroids",
      probe("CAST(array(array(1.0, 0.0), NULL) AS ARRAY<ARRAY<FLOAT>>)")),
    ("centroids NULL coordinate", GraftFunctions.IvfProbeName, "centroids",
      probe("CAST(array(array(1.0, NULL), array(0.0, 1.0)) AS ARRAY<ARRAY<FLOAT>>)")))

  private def rows(sql: String) = {
    GraftFunctions.register(spark)
    spark.sql(sql).collect().toSeq
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("the well-formed literals of the table serve rows") {
    assert(rows(topkDot(ids, vectors)).head.getSeq[AnyRef](0).size == 2)
    assert(rows(probe(centroids)).head.getSeq[Int](0) == Seq(0))
  }

  for ((name, fn, arg, sql) <- bad) {
    test(s"$fn: $name fails naming $arg") {
      val e = intercept[Exception](rows(sql))
      val m = messages(e)
      assert(m.contains(s"$fn: $arg must be an array literal without NULL elements"),
        s"$name -> $m")
      assert(!e.isInstanceOf[NullPointerException], s"$name -> $e")
    }
  }

  test("a NULL seen element is skipped, not read as item 0") {
    // item 0 scores best; a NULL decoded as 0 would hide it
    val withZero = "array(0L, 10L, 20L)"
    val zeroBest =
      "CAST(array(array(2.0, 2.0), array(1.0, 0.0), array(0.0, 1.0)) AS ARRAY<ARRAY<FLOAT>>)"
    def top(seen: String) = rows(topkDot(withZero, zeroBest, seen)).head.getSeq[AnyRef](0)
      .map(_.asInstanceOf[org.apache.spark.sql.Row].getLong(0))
    assert(top(noSeen) == Seq(0L, 10L))
    assert(top("array(CAST(NULL AS BIGINT))") == Seq(0L, 10L))
    assert(top("array(10L, NULL)") == top("array(10L)"))
    assert(top("array(10L, NULL)") == Seq(0L, 20L))
  }
}
