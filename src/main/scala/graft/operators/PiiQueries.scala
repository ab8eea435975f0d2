package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** PII detection + redaction (t18) — the privacy-scrub stage every
  * public training-data release runs before shipping (emails, phone
  * numbers, IPv4 addresses → typed placeholder tokens), plus the
  * per-source audit a release publishes alongside the scrub.
  *
  * Semantics contract (cross-engine well-defined): entity classes are
  * detected and redacted IN A FIXED ORDER — email, then phone, then
  * IPv4 — and each class is COUNTED ON THE TEXT ALREADY REDACTED BY
  * THE EARLIER CLASSES. A dotted quad inside an email's domain is
  * therefore one email, not an email plus an IP; counts and redaction
  * always agree (`n_x` = number of `[X]` tokens inserted). The regexes
  * use only character classes and counted/greedy quantifiers, which
  * match identically under java.util.regex (Spark) and RE2 (DuckDB).
  *
  * Scale shape: detection and redaction are pure per-row codegen'd
  * regexp expressions (literal patterns, so the compiled Pattern is
  * cached per task) — a linear map-side scan at any corpus size; the
  * audit is ONE source-keyed aggregate with map-side partials whose
  * output is |sources| rows. The corpus is never shuffled. Per-row
  * redaction correctness is inside the oracle hash via the
  * order-invariant 40-bit md5-prefix digest of every redacted text
  * (the p4 digest discipline): an aggregate-cancelling wrong redaction
  * still moves the digest sum.
  *
  * The driver's synthetic corpus contains no PII (letters-only word
  * soup), which would make the oracle vacuous — so the QueryDef
  * deterministically APPENDS entities derived from `doc_id` (the same
  * closed-form expression stated in both engines) before scrubbing:
  * ~3/4 of docs get an email / phone / dotted quad by `doc_id` residue,
  * one residue class gets two entities, one stays clean. The injection
  * is test scaffolding for cross-engine regex parity; the operator
  * itself (`piiScrub`) takes any frame — PiiScrubSpec drives it over
  * constructed corpora (overlaps, idempotence, clean passthrough).
  */
object PiiQueries {

  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private[graft] val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[graft] val ipv4Re  = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

  /** Adds `n_emails`, `n_phones`, `n_ipv4` (long) and `redacted`
    * (string) to `df`. Counting follows the progressive-redaction
    * contract documented above. */
  private[graft] def piiScrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "[EMAIL]")
    val t2 = regexp_replace(t1, phoneRe, "[PHONE]")
    val t3 = regexp_replace(t2, ipv4Re, "[IP]")
    df.withColumn("n_emails", regexp_count(t0, lit(emailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(t1, lit(phoneRe)).cast("long"))
      .withColumn("n_ipv4", regexp_count(t2, lit(ipv4Re)).cast("long"))
      .withColumn("redacted", t3)
  }

  val tPiiScrub = QueryDef(
    "t18_pii_scrub",
    (s, dir) => {
      // entity injection is QueryDef-only scaffolding — Scaffold.injectedText
      val scrubbed = piiScrub(
        Tables.documents(s, dir).withColumn("text", Scaffold.injectedText))
      scrubbed.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum((col("n_emails") + col("n_phones") + col("n_ipv4") > 0)
            .cast("long")).as("docs_with_pii"),
          sum(col("n_emails")).as("n_emails"),
          sum(col("n_phones")).as("n_phones"),
          sum(col("n_ipv4")).as("n_ipv4"),
          sum(length(col("redacted")).cast("long")).as("redacted_chars"),
          sum(conv(substring(md5(col("redacted")), 1, 10), 16, 10)
            .cast("long")).as("redacted_digest"))
        .orderBy("source")
    },
    Some("""
      WITH inj AS (
        SELECT source,
               CASE WHEN ((doc_id % 4) + 4) % 4 = 0 THEN
                      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                      '@mail-' || CAST(((doc_id % 7) + 7) % 7 AS VARCHAR) || '.example.com'
                    WHEN ((doc_id % 4) + 4) % 4 = 1 THEN
                      text || ' call 415-' ||
                      lpad(CAST(((((doc_id % 1000) + 1000) % 1000) * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
                      lpad(CAST(((((doc_id % 10000) + 10000) % 10000) * 13) % 10000 AS VARCHAR), 4, '0')
                    WHEN ((doc_id % 4) + 4) % 4 = 2 THEN
                      text || ' from host ' || CAST(((doc_id % 256) + 256) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 3) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 5) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 7) % 256 AS VARCHAR)
                    WHEN ((doc_id % 8) + 8) % 8 = 3 THEN
                      text || ' reach admin' || CAST(doc_id AS VARCHAR) ||
                      '@ops.example.org or 800-555-' ||
                      lpad(CAST(((doc_id % 10000) + 10000) % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents),
      sc AS (
        SELECT source,
               len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
               len(regexp_extract_all(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                 '([0-9]{1,3}[.]){3}[0-9]{1,3}')) AS n_ipv4,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                 '([0-9]{1,3}[.]){3}[0-9]{1,3}', '[IP]', 'g') AS redacted
        FROM inj)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n_emails + n_phones + n_ipv4 > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_with_pii,
             CAST(SUM(n_emails) AS BIGINT) AS n_emails,
             CAST(SUM(n_phones) AS BIGINT) AS n_phones,
             CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
             CAST(SUM(len(redacted)) AS BIGINT) AS redacted_chars,
             CAST(SUM(CAST(('0x' || substring(md5(redacted), 1, 10)) AS BIGINT))
               AS BIGINT) AS redacted_digest
      FROM sc GROUP BY source ORDER BY source"""))

  // ---- t31: expanded entity classes (r18) ----------------------------
  // The production hygiene pass (CCNet/Dolma-style) also takes
  // SSN-shaped ids, credit cards and IPv6. Same progressive-redaction
  // contract, fixed order: email → phone → SSN → card → IPv6 → IPv4 —
  // each class counted on the text already redacted by earlier classes,
  // so overlaps stay well-defined cross-engine. Cards are gated by the
  // LUHN CHECK (integer-exact, oracle-friendly): a card-shaped but
  // Luhn-invalid digit run is NOT PII and passes through — the
  // distinguisher production scrubbers use to avoid redacting random
  // 16-digit numbers. IPv6 is the full 8-group form (the compressed
  // `::` form is ambiguous inside prose and left to a tokenizing
  // scrubber). Luhn runs per CANDIDATE (a rare regexp match), not per
  // token, so the HOF lambda's interpreted evaluation (the r17 d12
  // lesson) is bounded by the entity count, not the corpus.

  private[graft] val ssnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  /** ABSORPTIVE card matching (the r18 review's digit-boundary
    * finding, solved without lookarounds — RE2 has none, so the oracle
    * could not restate them): the leading/trailing runs are `{4,}` and
    * the bare run `{16,}`, so a card-shaped window EMBEDDED in a longer
    * digit run absorbs the surrounding digits into one long candidate.
    * An exact-16 candidate can only match where it is NOT digit-
    * embedded, which is exactly the boundary semantics lookarounds
    * would give; [[cardWindows]] then decides whether an ABSORBING
    * candidate actually contains a card (the r19 window extraction). */
  private[graft] val cardRe = graft.functions.CardLuhnWindows.CardReString
  private[graft] val ipv6Re = "([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}"

  /** The Luhn-gated redaction literal(s) of ONE card-shaped candidate
    * (r19, closing the r18 advice's under-redaction regression: an
    * absorbing candidate shipped an EMBEDDED Luhn-valid card in
    * cleartext because the exact-16 gate rejected the whole run).
    * Three shapes, each yielding a small literal array:
    *  - exactly 16 digits → the candidate itself, Luhn-gated (the r18
    *    semantics, unchanged);
    *  - an absorbing SEPARATOR form → the ONE separator-crossing
    *    window a true card can align to — last 4 digits of the head
    *    run, the two fixed 4-digit middle groups, first 4 of the tail
    *    run (the middle groups are fixed-width, so no other
    *    separator-crossing alignment exists) — PLUS the leftmost
    *    Luhn-valid bare window of the head run and of the tail run
    *    (r19 self-review: a card bare-embedded in a long head/tail
    *    run of a separator-form candidate is still a card; windows
    *    crossing a separator at any other alignment cannot be a
    *    single card's surface form and stay out of scope);
    *  - an absorbing BARE run → the LEFTMOST Luhn-valid 16-digit
    *    window (ONE redaction per run — the deterministic convention;
    *    a run carrying two concatenated valid cards redacts the
    *    leftmost).
    *
    * KNOWN RESIDUAL (r19 advice, deliberately retained): the
    * one-window-per-run convention means a bare run holding TWO
    * concatenated Luhn-valid cards ships the second in cleartext, and
    * `n_cards` counts per-candidate window occurrences, so the same
    * card literal surfacing in two candidates counts twice. Both are
    * oracle-matched conventions (the DuckDB restatement shares them
    * verbatim) and pinned in PiiScrubSpec; closing them would need a
    * bounded leftmost-greedy repeat loop restated in both engines,
    * which buys recall only for adversarial digit runs no real corpus
    * injection produces. A production deployment scrubbing hostile
    * text should iterate the scrub to a fixed point instead (the
    * scrub is idempotent — also pinned in PiiScrubSpec).
    * The replace fold then redacts the WINDOW literal in place, so the
    * absorbed non-card digits survive: '4111111111111111999' becomes
    * '[CARD]999', while a 20-digit order id with no valid window still
    * passes through untouched. Luhn runs per candidate window (a rare
    * regexp match), so the interpreted HOF cost stays bounded by the
    * entity count, not the corpus (the r17 d12 lesson). */
  /** Extraction + window derivation run as ONE native kernel pass
    * ([[graft.functions.CardLuhnWindows]], r20): the r19 Column form —
    * `flatten(transform(regexp_extract_all(t, cardRe), cardWindows))`
    * with interpreted HOF lambdas — re-evaluated a regex per group
    * reference and a 16-step `aggregate` Luhn per window;
    * a per-pass profile put ~0.3 s of t31's wall in that machinery. Same
    * regex engine (java.util.regex), same candidate pattern, same
    * window semantics; PiiScrubSpec and the t31 oracle hash pin the
    * parity. */
  private def validCardWindows(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.CardLuhnWindows.cardLuhnWindows(t)

  /** Adds per-class counts and `redacted` under the v2 class set.
    * Valid-card redaction folds the DISTINCT valid window literals
    * over the text in SORTED order (r19 self-review: windows from
    * different candidates can overlap in the text — one candidate's
    * window occurring inside another candidate's span — so the fold
    * order is observable there, and array_distinct/list_distinct make
    * no cross-engine order promise; sorting pins one deterministic
    * result in both engines). */
  private[graft] def piiScrubV2(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "[EMAIL]")
    val t2 = regexp_replace(t1, phoneRe, "[PHONE]")
    val t3 = regexp_replace(t2, ssnRe, "[SSN]")
    val valid = validCardWindows(t3)
    val t4 = aggregate(array_sort(array_distinct(valid)), t3,
      (acc, c) => replace(acc, c, lit("[CARD]")))
    val t5 = regexp_replace(t4, ipv6Re, "[IPV6]")
    val t6 = regexp_replace(t5, ipv4Re, "[IP]")
    df.withColumn("n_emails", regexp_count(t0, lit(emailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(t1, lit(phoneRe)).cast("long"))
      .withColumn("n_ssn", regexp_count(t2, lit(ssnRe)).cast("long"))
      .withColumn("n_cards", size(valid).cast("long"))
      .withColumn("n_ipv6", regexp_count(t4, lit(ipv6Re)).cast("long"))
      .withColumn("n_ipv4", regexp_count(t5, lit(ipv4Re)).cast("long"))
      .withColumn("redacted", t6)
  }

  // SQL restatement of [[cardWindows]] — the per-candidate window
  // derivation, shared shapes stated once and interpolated into s4.
  private val sqlCardSepRe =
    "'^([0-9]+)([ -])([0-9]{4})[ -]([0-9]{4})[ -]([0-9]+)$'"
  private def sqlSepWin: String =
    s"substring(regexp_extract(cd, $sqlCardSepRe, 1), " +
      s"len(regexp_extract(cd, $sqlCardSepRe, 1)) - 3, 4)" +
      s" || regexp_extract(cd, $sqlCardSepRe, 2) || regexp_extract(cd, $sqlCardSepRe, 3)" +
      s" || regexp_extract(cd, $sqlCardSepRe, 2) || regexp_extract(cd, $sqlCardSepRe, 4)" +
      s" || regexp_extract(cd, $sqlCardSepRe, 2) || substring(regexp_extract(cd, $sqlCardSepRe, 5), 1, 4)"
  private def sqlWins(run: String): String =
    s"list_filter(list_transform(range(1, len($run) - 14), " +
      s"i -> substring($run, CAST(i AS INT), 16)), " + sqlLuhn + ")"
  private def sqlLeftWin(run: String): String =
    s"(CASE WHEN len($run) >= 16 AND len(${sqlWins(run)}) > 0 " +
      s"THEN [(${sqlWins(run)})[1]] ELSE CAST([] AS VARCHAR[]) END)"

  private val sqlLuhn =
    """c -> len(regexp_replace(c, '[ -]', '', 'g')) = 16 AND
      |  (list_sum(list_transform(range(1, 17), i ->
      |    CASE WHEN i % 2 = 1 THEN
      |      CASE WHEN 2*CAST(substring(regexp_replace(c, '[ -]', '', 'g'), i, 1) AS INT) > 9
      |           THEN 2*CAST(substring(regexp_replace(c, '[ -]', '', 'g'), i, 1) AS INT) - 9
      |           ELSE 2*CAST(substring(regexp_replace(c, '[ -]', '', 'g'), i, 1) AS INT) END
      |    ELSE CAST(substring(regexp_replace(c, '[ -]', '', 'g'), i, 1) AS INT) END)) % 10) = 0""".stripMargin

  val tPiiScrubV2 = QueryDef(
    "t31_pii_scrub_v2",
    (s, dir) => {
      val scrubbed = piiScrubV2(
        Tables.documents(s, dir).withColumn("text", Scaffold.injectedTextV2))
      scrubbed.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum((col("n_emails") + col("n_phones") + col("n_ssn") +
            col("n_cards") + col("n_ipv6") + col("n_ipv4") > 0)
            .cast("long")).as("docs_with_pii"),
          sum(col("n_emails")).as("n_emails"),
          sum(col("n_phones")).as("n_phones"),
          sum(col("n_ssn")).as("n_ssn"),
          sum(col("n_cards")).as("n_cards"),
          sum(col("n_ipv6")).as("n_ipv6"),
          sum(col("n_ipv4")).as("n_ipv4"),
          sum(length(col("redacted")).cast("long")).as("redacted_chars"),
          sum(conv(substring(md5(col("redacted")), 1, 10), 16, 10)
            .cast("long")).as("redacted_digest"))
        .orderBy("source")
    },
    Some(s"""
      WITH inj AS (
        SELECT source,
               CASE WHEN ((doc_id % 8) + 8) % 8 = 0 THEN
                      text || ' pay card ' ||
                      (['4111-1111-1111-1111', '5500-0055-5555-5559',
                        '4012-8888-8888-1881', '6011-0009-9013-9424'])[CAST(((doc_id % 4) + 4) % 4 AS INT) + 1] ||
                      ' taxid 078-05-1120'
                    WHEN ((doc_id % 8) + 8) % 8 = 1 THEN
                      text || ' ref code ' ||
                      (['4111-1111-1111-1112', '1234-5678-1234-5678',
                        '5500-0055-5555-5551', '6011-0009-9013-9421'])[CAST(((doc_id % 4) + 4) % 4 AS INT) + 1] ||
                      ' order 4111111111111111999 conf 994111-1111-1111-11117 id 4111111111111111999-1234-5678-9012'
                    WHEN ((doc_id % 8) + 8) % 8 = 2 THEN
                      text || ' ssn ' ||
                      lpad(CAST(((((doc_id % 1000) + 1000) % 1000) * 37) % 1000 AS VARCHAR), 3, '0') || '-' ||
                      lpad(CAST(((((doc_id % 100) + 100) % 100) * 11) % 100 AS VARCHAR), 2, '0') || '-' ||
                      lpad(CAST(((((doc_id % 10000) + 10000) % 10000) * 13) % 10000 AS VARCHAR), 4, '0')
                    WHEN ((doc_id % 8) + 8) % 8 = 3 THEN
                      text || ' node ' ||
                      lower(to_hex(((doc_id % 65536) + 65536) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 3) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 5) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 7) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 11) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 13) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 17) % 65536)) || ':' ||
                      lower(to_hex(((((doc_id % 65536) + 65536) % 65536) * 19) % 65536))
                    WHEN ((doc_id % 8) + 8) % 8 = 4 THEN
                      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                      '@mail-' || CAST(((doc_id % 7) + 7) % 7 AS VARCHAR) || '.example.com'
                    WHEN ((doc_id % 8) + 8) % 8 = 5 THEN
                      text || ' call 415-' ||
                      lpad(CAST(((((doc_id % 1000) + 1000) % 1000) * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
                      lpad(CAST(((((doc_id % 10000) + 10000) % 10000) * 13) % 10000 AS VARCHAR), 4, '0')
                    WHEN ((doc_id % 8) + 8) % 8 = 6 THEN
                      text || ' from host ' || CAST(((doc_id % 256) + 256) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 3) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 5) % 256 AS VARCHAR) ||
                      '.' || CAST(((((doc_id % 256) + 256) % 256) * 7) % 256 AS VARCHAR)
                    ELSE text END AS t0
        FROM documents),
      s1 AS (SELECT source, t0, regexp_replace(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
             FROM inj),
      s2 AS (SELECT *, regexp_replace(t1,
               '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS t2 FROM s1),
      s3 AS (SELECT *, regexp_replace(t2,
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g') AS t3 FROM s2),
      s4 AS (SELECT *, flatten(list_transform(regexp_extract_all(t3,
               '[0-9]{4,}-[0-9]{4}-[0-9]{4}-[0-9]{4,}|[0-9]{4,} [0-9]{4} [0-9]{4} [0-9]{4,}|[0-9]{16,}'),
               cd -> CASE
                 WHEN len(regexp_replace(cd, '[ -]', '', 'g')) = 16
                   THEN list_filter([cd], $sqlLuhn)
                 WHEN regexp_matches(cd, '[ -]')
                   THEN list_concat(list_concat(
                          ${sqlLeftWin(s"regexp_extract(cd, $sqlCardSepRe, 1)")},
                          list_filter([$sqlSepWin], $sqlLuhn)),
                          ${sqlLeftWin(s"regexp_extract(cd, $sqlCardSepRe, 5)")})
                 ELSE ${sqlLeftWin("regexp_replace(cd, '[ -]', '', 'g')")}
               END)) AS valid FROM s3),
      s5 AS (SELECT *, list_reduce(list_prepend(t3, list_sort(list_distinct(valid))),
               (acc, c) -> replace(acc, c, '[CARD]')) AS t4 FROM s4),
      s6 AS (SELECT *, regexp_replace(t4,
               '([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}', '[IPV6]', 'g') AS t5 FROM s5),
      s7 AS (SELECT *, regexp_replace(t5,
               '([0-9]{1,3}[.]){3}[0-9]{1,3}', '[IP]', 'g') AS red FROM s6),
      m AS (
        SELECT source,
               len(regexp_extract_all(t0,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
               len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
               len(valid) AS n_cards,
               len(regexp_extract_all(t4,
                 '([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}')) AS n_ipv6,
               len(regexp_extract_all(t5, '([0-9]{1,3}[.]){3}[0-9]{1,3}')) AS n_ipv4,
               red
        FROM s7)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n_emails + n_phones + n_ssn + n_cards + n_ipv6 + n_ipv4 > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
             CAST(SUM(n_emails) AS BIGINT) AS n_emails,
             CAST(SUM(n_phones) AS BIGINT) AS n_phones,
             CAST(SUM(n_ssn) AS BIGINT) AS n_ssn,
             CAST(SUM(n_cards) AS BIGINT) AS n_cards,
             CAST(SUM(n_ipv6) AS BIGINT) AS n_ipv6,
             CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
             CAST(SUM(len(red)) AS BIGINT) AS redacted_chars,
             CAST(SUM(CAST(('0x' || substring(md5(red), 1, 10)) AS BIGINT))
               AS BIGINT) AS redacted_digest
      FROM m GROUP BY source ORDER BY source"""))

  val all: Seq[QueryDef] = Seq(tPiiScrub, tPiiScrubV2)
}
