package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

class PiiSpec extends SparkSpecBase {
  import spark.implicits._

  private def one(text: String) = {
    val df = Seq((1L, text)).toDF("id", "t")
    df.select(Pii.counts($"t") :+ Pii.redact($"t").as("red") :+
      PiiSpec.containsPii($"t").as("has"): _*).head()
  }

  test("detects and redacts each PII kind") {
    val r = one("mail bob.smith+x@corp.example.co, ssn 123-45-6789, " +
      "call 555-123-4567 or 555.987.6543, host 192.168.0.1 end")
    assert(r.getInt(0) == 1, "email")
    assert(r.getInt(1) == 1, "ssn")
    assert(r.getInt(2) == 2, "phone (dash + dot forms)")
    assert(r.getInt(3) == 1, "ip")
    val red = r.getString(4)
    assert(!red.contains("@") && !red.contains("6789") && !red.contains("192.168"),
      s"unredacted PII remains: $red")
    assert(red.contains("mail [PII], ssn [PII], call [PII] or [PII], host [PII] end"))
    assert(r.getBoolean(5))
  }

  test("pattern boundaries: numeric-TLD hosts are IPs, not emails") {
    // root@10.1.2.3 — the email pattern requires an alphabetic TLD, so only
    // the IP matches; redaction leaves the local part (same answer in RE2)
    val r = one("root@10.1.2.3 done")
    assert(r.getInt(0) == 0 && r.getInt(3) == 1)
    assert(r.getString(4) == "root@[PII] done", r.getString(4))
    // a real email redacts whole, exactly once
    val e = one("write bob.smith@mail.example.com now")
    assert(e.getInt(0) == 1 && e.getString(4) == "write [PII] now")
  }

  test("clean text passes through untouched") {
    val r = one("nothing sensitive here, just 12 words and v1.2 versions")
    assert((0 to 3).forall(r.getInt(_) == 0))
    assert(r.getString(4) == "nothing sensitive here, just 12 words and v1.2 versions")
    assert(!r.getBoolean(5))
  }

  test("redaction is whole-stage codegen (no UDF breaks the pipeline)") {
    val plan = tbl("documents")
      .select(Pii.redact(col("text")).as("r"))
      .queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Project ..." in the executed plan
    assert(plan.contains("*(1) Project"), s"redact fell out of codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("Exchange"))
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object PiiSpec {

  /** True iff the text contains any PII — the quarantine predicate form
    * (composes with Quality.quarantine-style gates). */
  def containsPii(text: Column): Column =
    Pii.Patterns.map { case (_, re) => regexp_count(text, lit(re)) > 0 }
      .reduce(_ || _)
}
