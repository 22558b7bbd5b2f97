package graft

import org.apache.spark.sql.functions._

import graft.ext.TextPipeline

/** PII redaction semantics on planted PII (the registry query t9 pins the
  * cross-engine regex dialect; the corpus itself is PII-free word soup, so
  * the actual redaction behavior is pinned here).
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def redactOne(s: String): String =
    Seq(s).toDF("text").select(TextPipeline.redact(col("text"))).collect()(0).getString(0)

  test("emails, IPv4s, phones and long digit IDs redact to typed placeholders") {
    assert(redactOne("mail bob.smith+x@ex-ample.org now") == "mail <EMAIL> now")
    assert(redactOne("from 192.168.001.12 port") == "from <IP> port")
    assert(redactOne("call 312-555-1234 or 312.555.1234") == "call <PHONE> or <PHONE>")
    assert(redactOne("ssn-ish 123456789 and card 4111111111111111") ==
      "ssn-ish <ID> and card <ID>")
  }

  test("pattern order: an email's digits never leak as a partial ID hit") {
    assert(redactOne("reach a123456789@host.com today") == "reach <EMAIL> today")
  }

  test("short digit runs and plain text pass through untouched") {
    val clean = "meet at 5 on floor 12 room 304"
    assert(redactOne(clean) == clean)
  }

  test("hit flags align with what redact rewrites") {
    val df = Seq(
      ("a@b.co plus 10.0.0.1", 1, 1, 0, 0),
      ("only text here", 0, 0, 0, 0),
      ("555-555-5555 and 987654321", 0, 0, 1, 1))
      .toDF("text", "e", "i", "p", "d")
    val got = df.select(
      TextPipeline.hit(col("text"), 0).as("e2"),
      TextPipeline.hit(col("text"), 1).as("i2"),
      TextPipeline.hit(col("text"), 2).as("p2"),
      TextPipeline.hit(col("text"), 3).as("d2"),
      col("e"), col("i"), col("p"), col("d")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(4) && r.getInt(1) == r.getInt(5) &&
        r.getInt(2) == r.getInt(6) && r.getInt(3) == r.getInt(7), r.toString)
    }
  }
}
