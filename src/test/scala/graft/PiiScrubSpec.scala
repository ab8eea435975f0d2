package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PiiQueries

/** t18 semantics on constructed corpora the synthetic tables cannot
  * contain: exact counts and redacted strings for known entities, the
  * progressive-redaction overlap contract (a dotted quad inside an
  * email domain is ONE email), idempotence, and clean passthrough.
  */
class PiiScrubSpec extends AnyFunSuite with SparkTestSession {

  private def scrub(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    PiiQueries.piiScrub(rows.toDF("doc_id", "text"))
      .select("doc_id", "n_emails", "n_phones", "n_ipv4", "redacted")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("known entities: exact counts and redacted text") {
    val out = scrub(Seq(
      1L -> "mail a.b-c+tag@sub.domain.co today",
      2L -> "dial 415-555-0199 or 800-555-0100",
      3L -> "peer 10.0.0.1 gateway 192.168.255.254",
      4L -> "mixed bob@x.io then 212-555-0188 then 8.8.8.8"))
    assert(out(1L) == ((1L, 0L, 0L, "mail [EMAIL] today")))
    assert(out(2L) == ((0L, 2L, 0L, "dial [PHONE] or [PHONE]")))
    assert(out(3L) == ((0L, 0L, 2L, "peer [IP] gateway [IP]")))
    assert(out(4L) == ((1L, 1L, 1L, "mixed [EMAIL] then [PHONE] then [IP]")))
  }

  test("overlap contract: dotted quad inside an email domain counts once, as email") {
    val out = scrub(Seq(5L -> "odd user@10.0.0.1x.com here"))
    // the domain [A-Za-z0-9.-]+[.][A-Za-z]{2,} consumes 10.0.0.1x.com
    val (e, p, ip, red) = out(5L)
    assert(e == 1L && p == 0L && ip == 0L)
    assert(red == "odd [EMAIL] here")
  }

  test("phone digits never re-match as IP after phone redaction") {
    // without the fixed order, 415.555.0123 style artifacts could arise;
    // dashes keep classes disjoint but the contract is still pinned
    val out = scrub(Seq(6L -> "n 123-456-7890 ip 1.2.3.4"))
    assert(out(6L) == ((0L, 1L, 1L, "n [PHONE] ip [IP]")))
  }

  test("idempotent: scrubbing a scrubbed corpus is the identity") {
    import spark.implicits._
    val once = PiiQueries.piiScrub(Seq(
      (7L, "a bob@x.io b 1.2.3.4 c 415-555-0100"))
      .toDF("doc_id", "text"))
      .select(col("doc_id"), col("redacted").as("text"))
    val twice = PiiQueries.piiScrub(once).collect().head
    assert(twice.getAs[Long]("n_emails") == 0L)
    assert(twice.getAs[Long]("n_phones") == 0L)
    assert(twice.getAs[Long]("n_ipv4") == 0L)
    assert(twice.getAs[String]("redacted") == "a [EMAIL] b [IP] c [PHONE]")
  }

  test("clean corpus passes through untouched") {
    val out = scrub(Seq(8L -> "plain words only no entities at all"))
    assert(out(8L) == ((0L, 0L, 0L, "plain words only no entities at all")))
  }

  // ---- t31 (v2 classes) ----------------------------------------------

  private def scrubV2(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    PiiQueries.piiScrubV2(rows.toDF("doc_id", "text"))
      .select("doc_id", "n_emails", "n_phones", "n_ssn", "n_cards",
        "n_ipv6", "n_ipv4", "redacted")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))))
      .toMap
  }

  test("v2 known entities: ssn, Luhn-valid cards in all three shapes, ipv6") {
    val out = scrubV2(Seq(
      1L -> "id 078-05-1120 ok",
      2L -> "pay 4111-1111-1111-1111 or 4012 8888 8888 1881 or 5500005555555559",
      3L -> "node fe80:1:ab:0:4:ffff:12:beef up"))
    assert(out(1L) == ((0L, 0L, 1L, 0L, 0L, 0L, "id [SSN] ok")))
    assert(out(2L) == ((0L, 0L, 0L, 3L, 0L, 0L, "pay [CARD] or [CARD] or [CARD]")))
    assert(out(3L) == ((0L, 0L, 0L, 0L, 1L, 0L, "node [IPV6] up")))
  }

  test("Luhn gate: card-shaped but invalid digit runs pass through unredacted") {
    val out = scrubV2(Seq(
      4L -> "ref 4111-1111-1111-1112 and 1234567812345678 end",
      5L -> "dup 4111-1111-1111-1111 twice 4111-1111-1111-1111"))
    assert(out(4L) == ((0L, 0L, 0L, 0L, 0L, 0L,
      "ref 4111-1111-1111-1112 and 1234567812345678 end")),
      "an invalid checksum is not PII — it must not redact")
    // a repeated valid card counts per occurrence and redacts every one
    assert(out(5L) == ((0L, 0L, 0L, 2L, 0L, 0L, "dup [CARD] twice [CARD]")))
  }

  test("digit-embedded card windows are extracted and Luhn-gated (r19 contract)") {
    // r19 (the r18 advice's under-redaction finding): an absorbing
    // candidate no longer ships an embedded Luhn-valid card in
    // cleartext — the 16-digit window is extracted, Luhn-gated and
    // redacted IN PLACE, with the absorbed non-card digits surviving.
    val out = scrubV2(Seq(
      6L -> "order 41111111111111119999 end",
      // BOTH offset-0 ('9999411111111111') and offset-4 windows are
      // Luhn-valid here: the LEFTMOST valid window wins (deterministic
      // scrubber convention; recall over alignment precision)
      7L -> "tail 99994111111111111111 end",
      8L -> "clean 4111111111111111 end",
      // no 16-digit window of this run passes Luhn → untouched
      9L -> "run 12345678901234567890123 end",
      // separator form with digit-flanked ends: the ONE possible card
      // alignment (last-4 of head, middles, first-4 of tail) is valid
      10L -> "conf 994111-1111-1111-11117 end",
      // same shape, but the aligned window fails Luhn → untouched
      11L -> "conf 994111-1111-1111-11127 end",
      // r19 self-review: a card BARE-embedded in the HEAD run of a
      // separator-form candidate (the aligned window fails Luhn here)
      12L -> "conf 4111111111111111999-1234-5678-9012 end",
      // ... and in the TAIL run
      13L -> "x 9912-1234-5678-4111111111111111999 end"))
    assert(out(6L) == ((0L, 0L, 0L, 1L, 0L, 0L, "order [CARD]9999 end")),
      "an embedded valid card must be redacted out of the run")
    assert(out(7L) == ((0L, 0L, 0L, 1L, 0L, 0L, "tail [CARD]1111 end")))
    assert(out(8L) == ((0L, 0L, 0L, 1L, 0L, 0L, "clean [CARD] end")),
      "an exact bounded valid card still redacts")
    assert(out(9L) == ((0L, 0L, 0L, 0L, 0L, 0L,
      "run 12345678901234567890123 end")),
      "a run with no valid window must never be corrupted")
    assert(out(10L) == ((0L, 0L, 0L, 1L, 0L, 0L, "conf 99[CARD]7 end")))
    assert(out(11L) == ((0L, 0L, 0L, 0L, 0L, 0L,
      "conf 994111-1111-1111-11127 end")))
    assert(out(12L) == ((0L, 0L, 0L, 1L, 0L, 0L,
      "conf [CARD]999-1234-5678-9012 end")),
      "a card bare-embedded in a separator form's head run must redact")
    assert(out(13L) == ((0L, 0L, 0L, 1L, 0L, 0L,
      "x 9912-1234-5678-[CARD]999 end")),
      "a card bare-embedded in a separator form's tail run must redact")
  }

  test("known residual: two concatenated valid cards redact leftmost-only; iterating converges (r20 pin)") {
    // the r19 advice finding, retained as a documented convention (see
    // the cardWindows scaladoc): ONE window per bare run means the
    // second of two concatenated valid cards ships in cleartext on a
    // single pass — and a second pass catches it (fixed-point
    // convergence is the deployment remedy for adversarial runs).
    val twoCards = "pay 41111111111111115500005555555559 end"
    val once = scrubV2(Seq(14L -> twoCards))
    assert(once(14L) == ((0L, 0L, 0L, 1L, 0L, 0L,
      "pay [CARD]5500005555555559 end")),
      "single pass redacts the LEFTMOST valid window only — the documented residual")
    val twice = scrubV2(Seq(14L -> once(14L)._7))
    assert(twice(14L)._7 == "pay [CARD][CARD] end",
      "a second pass must redact the surviving card (fixed-point remedy)")
  }

  test("v2 overlap contract: ssn counts after phones, phone shapes never re-match as ssn/card") {
    val out = scrubV2(Seq(
      6L -> "call 415-555-0123 ssn 123-45-6789",
      // a dotted quad inside an email domain is still ONE email
      7L -> "odd user@10.0.0.1x.com here"))
    assert(out(6L) == ((0L, 1L, 1L, 0L, 0L, 0L, "call [PHONE] ssn [SSN]")))
    assert(out(7L) == ((1L, 0L, 0L, 0L, 0L, 0L, "odd [EMAIL] here")))
  }

  test("v2 idempotent: scrubbing a scrubbed corpus is the identity") {
    import spark.implicits._
    val once = PiiQueries.piiScrubV2(Seq(
      (8L, "a bob@x.io s 078-05-1120 c 4111-1111-1111-1111 n fe80:1:ab:0:4:ffff:12:beef"))
      .toDF("doc_id", "text"))
      .select(col("doc_id"), col("redacted").as("text"))
    val twice = PiiQueries.piiScrubV2(once).collect().head
    Seq("n_emails", "n_phones", "n_ssn", "n_cards", "n_ipv6", "n_ipv4")
      .foreach(c => assert(twice.getAs[Long](c) == 0L, c))
    assert(twice.getAs[String]("redacted") ==
      "a [EMAIL] s [SSN] c [CARD] n [IPV6]")
  }

  test("v2 injection branches fire for negative doc_ids too") {
    import spark.implicits._
    val docs = (-16L to -1L).map(i => (i, "base text")).toDF("doc_id", "text")
    val out = PiiQueries.piiScrubV2(
        docs.withColumn("text", graft.operators.Scaffold.injectedTextV2))
      .agg(sum("n_emails"), sum("n_phones"), sum("n_ssn"), sum("n_cards"),
        sum("n_ipv6"), sum("n_ipv4"))
      .collect().head
    (0 to 5).foreach(i => assert(out.getLong(i) > 0L, s"class $i empty for negative ids"))
  }

  test("injection branches fire for negative doc_ids too (review finding)") {
    import spark.implicits._
    // residues use the portable ((x % k) + k) % k form — a bare
    // sign-preserving % would leave the phone/IPv4/email+phone
    // branches unreachable for negative ids, silently emptying the
    // oracle's regex-parity coverage on such a corpus
    val docs = (-8L to -1L).map(i => (i, "base text")).toDF("doc_id", "text")
    val out = PiiQueries.piiScrub(
        docs.withColumn("text", graft.operators.Scaffold.injectedText))
      .agg(sum("n_emails"), sum("n_phones"), sum("n_ipv4"))
      .collect().head
    assert(out.getLong(0) > 0L, "no emails injected for negative ids")
    assert(out.getLong(1) > 0L, "no phones injected for negative ids")
    assert(out.getLong(2) > 0L, "no dotted quads injected for negative ids")
  }
}
