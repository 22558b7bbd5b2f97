package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline scrubbing operators beyond the reference's surface: PII
  * redaction of the kind a training-data pipeline runs ahead of tokenization
  * (emails, IPv4s, phone-shaped and long-digit ID tokens -> typed
  * placeholders). Pure column expressions — codegen'd, no UDFs — and every
  * pattern is RE2-compatible so the DuckDB oracle applies the identical
  * regexes.
  *
  * Scale: a projection; no shuffle, no state. Chain order matters (emails
  * before long-digit IDs would otherwise leave `user123456789` halves), so
  * [[redact]] applies the patterns in declaration order.
  */
object TextPipeline {

  /** (pattern, replacement), applied in order. RE2-safe: no backrefs, no
    * lookaround.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b", "<PHONE>"),
    ("\\b\\d{9,}\\b", "<ID>"))

  /** The redacted form of a text column. */
  def redact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** 1 if the column matches the i-th PII pattern (pre-redaction hit flag). */
  def hit(text: Column, i: Int): Column =
    when(text.rlike(piiPatterns(i)._1), 1).otherwise(0)
}
