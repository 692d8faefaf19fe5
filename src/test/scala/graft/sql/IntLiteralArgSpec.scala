package graft.sql

import graft.SparkSpecBase

/** Every registered SQL function that takes an integral literal argument
  * reads it through `GraftFunctions.intLiteral`: an INT and a BIGINT
  * within INT range build the same expression, and a NULL, non-integral
  * or out-of-range literal fails with a message naming the function and
  * the argument (not a ClassCastException, an NPE or a silent wrap). */
class IntLiteralArgSpec extends SparkSpecBase {

  // (function, argument name, SQL with %s where the literal goes)
  private val cases = Seq(
    (GraftFunctions.WordShinglesName, "n",
      "SELECT graft_word_shingles(array('a', 'b', 'c', 'd', 'e', 'f'), %s) AS r"),
    (GraftFunctions.CharNgramsName, "n",
      "SELECT graft_char_ngrams('abcdefg', %s) AS r"),
    (GraftFunctions.MinhashSigName, "numHashes",
      "SELECT graft_minhash_sig(array('a b c', 'b c d'), %s) AS r"),
    (GraftFunctions.RollingHashName, "k",
      "SELECT graft_rolling_hash('abcdefgh', %s) AS r"),
    (GraftFunctions.IvfProbeName, "nprobe",
      """SELECT graft_ivf_probe_f32(CAST(array(0.9, 0.1) AS ARRAY<FLOAT>),
        CAST(array(array(1.0, 0.0), array(0.0, 1.0), array(0.7, 0.7),
          array(-1.0, 0.0), array(0.0, -1.0)) AS ARRAY<ARRAY<FLOAT>>),
        %s) AS r"""),
    (GraftFunctions.TopKDotName, "k",
      """SELECT graft_topk_dot_f32(CAST(array(1.0, 0.5) AS ARRAY<FLOAT>),
        CAST(array() AS ARRAY<BIGINT>), array(10L, 20L, 30L, 40L, 50L),
        CAST(array(array(1.0, 0.0), array(0.0, 1.0), array(0.5, 0.5),
          array(2.0, 0.0), array(0.0, 2.0)) AS ARRAY<ARRAY<FLOAT>>),
        %s) AS r"""),
    (GraftFunctions.TopKName, "k",
      """SELECT graft_topk(CAST(s AS DOUBLE), CAST(i AS BIGINT), %s) AS r
        FROM VALUES (0.5, 1), (0.9, 2), (0.1, 3), (0.7, 4), (0.3, 5), (0.8, 6)
        AS t(s, i)"""),
    (GraftFunctions.TopKStrName, "k",
      """SELECT graft_topk_str(CAST(s AS DOUBLE), CAST(i AS STRING), %s) AS r
        FROM VALUES (0.5, 1), (0.9, 2), (0.1, 3), (0.7, 4), (0.3, 5), (0.8, 6)
        AS t(s, i)"""))

  private def rows(sql: String) = {
    GraftFunctions.register(spark)
    spark.sql(sql).collect().toSeq
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  for ((fn, arg, sql) <- cases) {
    test(s"$fn: an INT and a BIGINT literal give identical rows") {
      val asInt = rows(sql.format("4"))
      assert(asInt.nonEmpty && !asInt.head.isNullAt(0))
      assert(rows(sql.format("4L")) == asInt)
    }

    test(s"$fn: NULL, non-integral and out-of-range literals fail naming $arg") {
      for (bad <- Seq("NULL", "'x'", "3000000000L")) {
        val e = intercept[Exception](rows(sql.format(bad)))
        val m = messages(e)
        assert(m.contains(s"$fn: $arg must be an INT literal"), s"$bad -> $m")
        assert(!e.isInstanceOf[ClassCastException] &&
          !e.isInstanceOf[NullPointerException], s"$bad -> $e")
      }
    }
  }
}
