package graft.dedup

import graft.SparkSpecBase
import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class TextDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val shingleN = 8

  test("exact dedup groups whitespace/case variants; dropExactDuplicates is idempotent") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other doc")).toDF("doc_id", "text")
    val groups = TextDedup.exactDupGroups(df, "doc_id", "text")
    assert(groups.count() == 2)
    assert(groups.filter($"n_dups" === 2).select("canonical_id").as[Long].head() == 1L)
    val fp = TextOps.fingerprint($"text")
    val once = TextDedupSpec.dropExactDuplicatesBy(df, "doc_id", fp)
    val twice = TextDedupSpec.dropExactDuplicatesBy(once, "doc_id", fp)
    assert(once.count() == 2 && twice.count() == 2)
  }

  test("identical documents get identical minhash signatures and land in the same LSH bucket") {
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, text), (2L, text), (3L, (21 to 40).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sig = TextDedup.minhashSignatures(df, "doc_id",
      TextOps.wordShingles(TextOps.tokens(col("text")), shingleN), 16)
    val rows = sig.orderBy("doc_id").collect()
    assert(rows(0).toSeq.tail == rows(1).toSeq.tail, "identical docs, identical signatures")
    val cand = TextDedup.lshCandidatePairs(TextDedup.lshBands(sig, "doc_id", 16, 2), "doc_id")
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("dropNearDuplicates removes higher-id near-dups, keeps distinct docs, and is idempotent") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 18).map(i => s"tok$i") ++ Seq("x", "y")).mkString(" ")
    val other = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, other)).toDF("doc_id", "text")
      .select($"doc_id", graft.functions.TextOps.tokens($"text").as("__toks"))
      .filter(size($"__toks") >= shingleN)
    val sh = TextOps.wordShingles($"__toks", shingleN)
    val kept = TextDedup.dropNearDuplicates(df, "doc_id", sh, threshold = 0.5)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L),
      "exact dup (2) and near dup (3) drop; smallest id (1) and distinct (4) survive")
    val again = TextDedup.dropNearDuplicates(kept, "doc_id", sh, threshold = 0.5)
    assert(again.count() == kept.count(), "idempotent on a deduped corpus")
  }

  test("dropNearDuplicates keeps shingle-less docs and never cross-collides them") {
    // Short docs get all-null sigs; without lshBands' null guard they
    // would all hash to md5("") in every band → one giant bucket. The
    // guard must (a) keep every short doc (not near-dup-comparable),
    // (b) still drop real near-dups among the long docs. (An input
    // pre-filter would also do (a)+(b) but re-evaluates the HOF shingle
    // chain per row under predicate pushdown — measured 2.7× on q64.)
    val long1 = (1 to 20).map(i => s"tok$i").mkString(" ")
    val shorts = (10L to 29L).map(i => (i, s"short $i"))
    val df = (Seq((1L, long1), (2L, long1)) ++ shorts).toDF("doc_id", "text")
      .select($"doc_id", TextOps.tokens($"text").as("__toks"))
    val sh = TextOps.wordShingles($"__toks", shingleN)
    val kept = TextDedup.dropNearDuplicates(df, "doc_id", sh, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == (1L +: (10L to 29L)), "all 20 short docs kept, dup long doc 2 dropped")
    // the mechanism, directly: null-sig rows emit ZERO band rows
    val sig = TextDedup.minhashSignatures(df, "doc_id", sh, 16)
    val bands = TextDedup.lshBands(sig, "doc_id", 16, 2)
    assert(bands.filter($"doc_id" >= 10L).count() == 0,
      "shingle-less docs must produce no bands (no md5-of-empty bucket)")
    assert(bands.filter($"doc_id" < 10L).count() == 16, "2 long docs × 8 bands")
  }

  test("jaccardPairs maxDocFreq caps hot-shingle pair fan-out") {
    // Adversarial corpus: one shingle common to ALL docs (would propose
    // n*(n-1)/2 pairs), plus per-doc unique shingles. With the cap below n,
    // the hot shingle proposes nothing and only genuinely-overlapping pairs
    // survive.
    val n = 40
    val df = (1 to n).map { i =>
      // docs 1 and 2 additionally share "pair"; everyone shares "hot"
      val extra = if (i <= 2) Seq("pair") else Seq(s"solo$i")
      (i.toLong, Seq("hot") ++ extra ++ Seq(s"u${i}a", s"u${i}b"))
    }.toDF("doc_id", "shingles")
    val uncapped = TextDedup.jaccardPairs(df, "doc_id", $"shingles")
    assert(uncapped.count() == n.toLong * (n - 1) / 2, "hot shingle links every pair")
    val capped = TextDedup.jaccardPairs(df, "doc_id", $"shingles", maxDocFreq = 10)
    val rows = capped.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      "only the genuinely-overlapping pair survives the cap")
    // Jaccard is exact over the surviving vocabulary: {pair,u1a,u1b} vs
    // {pair,u2a,u2b} → 1/5.
    assert(math.abs(rows.head.getDouble(3) - 0.2) < 1e-12)
  }

  test("jaccardForPairs equals all-pairs jaccardPairs restricted to the candidate set") {
    val docs = tbl("documents").filter(size(TextOps.tokens(col("text"))) >= shingleN)
    val shingles = TextOps.wordShingles(TextOps.tokens(col("text")), shingleN)
    val all = TextDedup.jaccardPairs(docs, "doc_id", shingles)
    val cand = all.select("a", "b") // every co-shingled pair as candidates
    val restricted = TextDedup.jaccardForPairs(cand, docs, "doc_id", shingles)
    assert(restricted.exceptAll(all).isEmpty && all.exceptAll(restricted).isEmpty)
  }

  test("simhash64: duplicates at Hamming 0, perturbed docs near, disjoint docs far") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val perturbed = ((1 to 57).map(i => s"tok$i") ++ Seq("x", "y", "z")).mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, perturbed), (4L, other)).toDF("doc_id", "text")
    val sh = TextDedupSpec.simhash64(df, "doc_id", TextOps.tokens(col("text")))
    val m = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) == 0)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)),
      "perturbed doc must be closer than a disjoint doc")
  }

  test("simhashPortable is deterministic and flags duplicates") {
    val df = tbl("documents").limit(50)
    val a = TextDedup.simhashPortable(df, "doc_id", TextOps.tokens(col("text")))
    val b = TextDedup.simhashPortable(df, "doc_id", TextOps.tokens(col("text")))
    assert(a.exceptAll(b).isEmpty)
    val dup = Seq((1L, "same text here okay"), (2L, "same text here okay")).toDF("doc_id", "text")
    val s = TextDedup.simhashPortable(dup, "doc_id", TextOps.tokens(col("text")))
      .select("simhash").as[String].collect()
    assert(s(0) == s(1) && s(0).length == 64)
  }

  test("softDedupWeights: every row survives, weighted 1/cluster-size") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique one")).toDF("doc_id", "text")
    val w = TextDedup.softDedupWeights(df, "doc_id", TextOps.fingerprint(col("text")))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(w.size === 4, "soft dedup must keep every row")
    assert(w(1L) === ((3L, 1.0 / 3)))
    assert(w(2L) === ((3L, 1.0 / 3)))
    assert(w(4L) === ((1L, 1.0)))
  }

  test("softDedupWeights: total weight equals the distinct-content count") {
    val df = tbl("documents").limit(80)
    val w = TextDedup.softDedupWeights(df, "doc_id", TextOps.fingerprint(col("text")))
    val distinctFp = w.select("fp").distinct().count()
    val total = w.agg(sum(col("weight"))).head.getDouble(0)
    assert(math.abs(total - distinctFp) < 1e-9)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object TextDedupSpec {

  /** Keep one canonical row per key (min id wins). */
  def dropExactDuplicatesBy(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val keep = TextDedup.exactDupGroupsBy(df, idCol, key)
      .select(col("canonical_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash over a token multiset: per-token xxhash64, each bit
    * votes ±1, sign of the vote becomes the output bit. Near-duplicates
    * have small Hamming distance. Explode + 64 conditional sums — a single
    * shuffle on the id, all codegen'd. Engine-native hash → fastest path;
    * the engine-native form of
    * `TextDedup.simhashPortable`, whose md5 bits any engine replays.
    */
  def simhash64(df: DataFrame, idCol: String, toks: Column): DataFrame = {
    val t = df.select(col(idCol), explode(toks).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b_$j")
    }
    val summed = t.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    summed.select(col(idCol), sh.as("simhash"))
  }

}
