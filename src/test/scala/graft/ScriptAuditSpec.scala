package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextQueries

/** t33 language-script consistency audit: exact per-script codepoint
  * counts on hand-built docs, dominance with the fixed tie precedence,
  * the natural zh-over-ASCII mismatch, the mojibake (Cyrillic-dominant
  * Latin-tag) mismatch, and clean consistent rows.
  */
class ScriptAuditSpec extends AnyFunSuite with SparkTestSession {

  private def audit(rows: (Long, String, String)*) = {
    import spark.implicits._
    TextQueries.scriptAuditOf(rows.toSeq.toDF("doc_id", "lang", "text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
  }

  test("natural mismatch: a zh tag over ASCII text is latin-dominant and flagged") {
    val out = audit((1L, "zh", "plain ascii body"))
    val ((n, latin, cyr, greek, han)) = out(("zh", "latin", "script_mismatch"))
    assert(n == 1L && latin == 14L && cyr == 0L && greek == 0L && han == 0L)
  }

  test("consistent rows: zh over Han-dominant text, en over Latin text") {
    val han = "\u6C49\u5B57" * 10 // 20 Han codepoints
    val out = audit(
      (1L, "zh", "ab " + han),
      (2L, "en", "hello world"))
    assert(out(("zh", "han", "ok"))._1 == 1L)
    assert(out(("zh", "han", "ok"))._5 == 20L)
    assert(out(("en", "latin", "ok"))._1 == 1L)
  }

  test("mojibake: Cyrillic-dominant text under a latin tag is flagged") {
    val cyr = "\u0442\u0435\u043A\u0441\u0442" * 5 // 25 Cyrillic codepoints
    val out = audit((3L, "en", "ok " + cyr))
    val row = out(("en", "cyrillic", "script_mismatch"))
    assert(row._1 == 1L && row._3 == 25L && row._2 == 2L)
  }

  test("tie precedence: equal counts resolve latin > cyrillic > greek > han") {
    val out = audit(
      (1L, "en", "ab\u0442\u0435"),           // 2 latin vs 2 cyrillic -> latin
      (2L, "en", "\u0442\u0435\u03B1\u03B2"), // 2 cyr vs 2 greek -> cyrillic
      (3L, "en", "\u03B1\u03B2\u6C49\u5B57")) // 2 greek vs 2 han -> greek
    assert(out.contains(("en", "latin", "ok")))
    assert(out.contains(("en", "cyrillic", "script_mismatch")))
    assert(out.contains(("en", "greek", "script_mismatch")))
  }

  test("greek counts move the columns without flipping dominance") {
    val out = audit((11L, "fr", "bonjour tout le monde \u03B1\u03B2\u03B3"))
    val row = out(("fr", "latin", "ok"))
    assert(row._4 == 3L, "greek tail counted")
  }
}
