package graft.sql

import graft.SparkSpecBase
import graft.functions.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** WordShinglesF (via TextOps.wordShingles) ≡ the HOF chain it replaced
  * ([[WordShinglesFSpec.wordShinglesHof]]) — the exactness gate for the
  * round-16 fused shingle kernel that every shingle consumer (q31–q38,
  * q72/q74/q80/q94, q100/q131, q175, streaming ingests) now rides. */
class WordShinglesFSpec extends SparkSpecBase {
  import spark.implicits._

  test("identical to the HOF chain on real corpus text, n=4 and n=8") {
    val docs = tbl("documents").select($"doc_id", $"text").limit(150)
      .select($"doc_id", TextOps.tokens($"text").as("__toks"))
    for (n <- Seq(4, 8)) {
      val fused = docs.select($"doc_id", TextOps.wordShingles($"__toks", n).as("g"))
      val hof = docs.select($"doc_id", WordShinglesFSpec.wordShinglesHof($"__toks", n).as("g"))
      assert(fused.exceptAll(hof).isEmpty && hof.exceptAll(fused).isEmpty,
        s"kernel must reproduce the HOF chain exactly at n=$n")
    }
  }

  test("edge fixtures: short, exact-n, null elements, empty, null input") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e")),       // normal
      (2L, Seq("a", "b")),                       // shorter than n
      (3L, Seq("a", "b", "c")),                  // exactly n
      (4L, Seq[String]("a", null, "c", "d")),    // null element (concat_ws skips)
      (5L, Seq.empty[String]),                   // empty
      (6L, null.asInstanceOf[Seq[String]]),      // null input -> empty array
      (7L, Seq("é 你", "😀", "", "x"))           // unicode + empty token
    ).toDF("id", "toks")
    val fused = df.select($"id", TextOps.wordShingles($"toks", 3).as("g"))
    val hof = df.select($"id", WordShinglesFSpec.wordShinglesHof($"toks", 3).as("g"))
    val j = fused.as("f").join(hof.as("h"), Seq("id"))
      .select($"id", $"f.g".as("fg"), $"h.g".as("hg"))
    assert(j.filter(!($"fg" <=> $"hg")).isEmpty,
      j.collect().mkString("\n"))
    // null input really is the EMPTY array, not null (the old when-chain)
    val nullRow = fused.filter($"id" === 6L).head
    assert(!nullRow.isNullAt(1) && nullRow.getSeq[String](1).isEmpty)
  }

  test("the kernel stays inside whole-stage codegen") {
    val df = spark.range(8).select(
      split(concat($"id".cast("string"), lit(" a b c d")), " ").as("toks"))
    val plan = df.select(TextOps.wordShingles($"toks", 3).as("g"))
      .queryExecution.executedPlan.toString
    val kernelLine = plan.linesIterator
      .find(_.contains("graft_word_shingles")).getOrElse("")
    assert(kernelLine.trim.startsWith("*("),
      s"expected the kernel's Project inside whole-stage codegen, got:\n$plan")
  }
}

object WordShinglesFSpec {

  /** The pre-round-16 HOF form of TextOps.wordShingles — the reference
    * the kernel must reproduce, and the readable statement of its
    * semantics. */
  def wordShinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))
}
