package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction (the CCNet/Dolma-style scrub stage that runs
  * between quality filtering and shard packing in a pre-training pipeline).
  * Extension scope — no reference counterpart.
  *
  * Pure codegen Columns: counting is `regexp_count`, redaction is a chain
  * of `regexp_replace` — no UDF, fully whole-stage-codegen'd, linear in
  * corpus bytes, zero shuffles. The patterns deliberately stay inside the
  * backtracking-free regular subset (no lookaround, no backreferences) so
  * they mean the same thing to Java regex and RE2 — which is what lets the
  * q92 oracle hash-compare redacted text against DuckDB byte for byte.
  *
  * Redaction order matters where patterns can nest (an IPv4 inside an
  * email's domain): emails go first, then SSNs before the dotted/dashed
  * phone form, then IPs over whatever survives.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Ordered (kind, pattern) pairs — the single source of truth for both
    * [[counts]] and [[redact]], so they can't disagree on coverage. */
  val Patterns: Seq[(String, String)] = Seq(
    "email" -> EmailRe, "ssn" -> SsnRe, "phone" -> PhoneRe, "ip" -> Ipv4Re)

  /** Per-kind match count columns (`n_email`, `n_ssn`, `n_phone`, `n_ip`)
    * over the RAW text — counts are independent per pattern, so nested
    * matches (an IP inside an email) count under both kinds. */
  def counts(text: Column): Seq[Column] =
    Patterns.map { case (kind, re) =>
      regexp_count(text, lit(re)).as(s"n_$kind")
    }

  /** Redact every match of every pattern, in [[Patterns]] order. */
  def redact(text: Column, replacement: String = "[PII]"): Column =
    Patterns.foldLeft(text) { case (t, (_, re)) =>
      regexp_replace(t, re, replacement)
    }
}
