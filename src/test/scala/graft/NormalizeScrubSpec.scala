package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextQueries

/** t32 unicode normalization scrub: NFC composition (kernel + column),
  * control stripping with the \n\t exceptions, NBSP conversion, space
  * collapse, trim, fixed pipeline order, idempotence, and the ASCII
  * fast path returning the input untouched.
  */
class NormalizeScrubSpec extends AnyFunSuite with SparkTestSession {

  private def cleanedOf(texts: String*): Seq[String] = {
    import spark.implicits._
    TextQueries.normalizeScrub(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .orderBy("doc_id").select("cleaned").collect().map(_.getString(0)).toSeq
  }

  test("NFC kernel composes combining marks; ASCII is returned as-is") {
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.functions.NfcKernel.nfc(ascii) eq ascii, "fast path must not allocate")
    val composed = graft.functions.NfcKernel.nfc(
      UTF8String.fromString("cafe\u0301")).toString
    assert(composed == "caf\u00e9")
    assert(composed.length == 4)
  }

  test("pipeline: NFC, control strip (keep \\n and \\t), NBSP, collapse, trim") {
    val out = cleanedOf(
      "cafe\u0301 menu",               // composes to caf<e-acute> (one codepoint fewer)
      "a\u0001b\u0007c",               // controls stripped, letters join
      "line1\r\nline2\tx",             // \r stripped, \n and \t kept
      "a\u00a0\u00a0b",                // NBSPs -> spaces -> collapsed
      "  padded   words  ")            // collapse + trim
    assert(out(0) == "caf\u00e9 menu")
    assert(out(1) == "abc")
    assert(out(2) == "line1\nline2\tx")
    assert(out(3) == "a b")
    assert(out(4) == "padded words")
  }

  test("idempotent: scrubbing a scrubbed text changes nothing") {
    val once = cleanedOf("cafe\u0301 x\u00a0 y  z ")
    val twice = cleanedOf(once: _*)
    assert(once == twice)
  }

  test("clean single-spaced ASCII passes through byte-identical") {
    val t = "the quick brown fox"
    assert(cleanedOf(t) == Seq(t))
  }
}
