package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** t31's card-candidate extraction + Luhn window derivation in ONE
  * native pass — the per-candidate kernel of the v2 PII scrub.
  *
  * Replaces `flatten(transform(regexp_extract_all(text, cardRe),
  * cardWindows))`: the window derivation ran as interpreted
  * higher-order lambdas whose per-candidate tree re-evaluated a
  * regex split per group reference and a 16-iteration `aggregate`
  * Luhn per window (a per-pass profile put ~0.3 s of t31's 0.4 s wall in
  * exactly this machinery — the r19 verdict's t31 watch item). The
  * kernel runs the SAME java.util.regex candidate pattern Spark's
  * `regexp_extract_all` uses (engine-identical matches), then derives
  * each candidate's redaction window literals imperatively.
  *
  * Window semantics — byte-for-byte the piiScrubV2 contract, pinned by
  * PiiScrubSpec and the t31 DuckDB oracle:
  *  - exactly 16 digits after separator removal → the candidate
  *    itself, Luhn-gated;
  *  - an absorbing SEPARATOR form → the one separator-crossing window
  *    a true card can align to (last 4 of head, fixed middles, first 4
  *    of tail), plus the leftmost Luhn-valid bare window of the head
  *    run and of the tail run;
  *  - an absorbing BARE run → the leftmost Luhn-valid 16-digit window
  *    (one redaction per run — see the cardWindows residual note in
  *    PiiQueries).
  */
case class CardLuhnWindows(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"card_luhn_windows expects string, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def withNewChildInternal(c: Expression): CardLuhnWindows =
    copy(child = c)

  override def nullSafeEval(t: Any): Any =
    CardLuhnWindows.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      x => s"graft.functions.CardLuhnWindows.compute($x)")
}

object CardLuhnWindows {

  /** Column wrapper (the MinHashK/SpanWindowHashes convention). */
  def cardLuhnWindows(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Bridge.toColumn(
      CardLuhnWindows(org.apache.spark.sql.graft.Bridge.toExpression(text)))

  /** The candidate shapes — MUST stay equal to PiiQueries.cardRe (the
    * oracle restates it; PiiScrubSpec + the t31 hash pin the parity). */
  private[graft] val CardReString =
    "[0-9]{4,}-[0-9]{4}-[0-9]{4}-[0-9]{4,}|[0-9]{4,} [0-9]{4} [0-9]{4} [0-9]{4,}|[0-9]{16,}"
  private val CardPattern = java.util.regex.Pattern.compile(CardReString)

  /** Luhn over a bare digit window `d(from..from+15)` (1-based odd
    * positions doubled — stated identically in the oracle SQL). */
  private def luhn16(d: String, from: Int): Boolean = {
    var tot = 0
    var i = 0
    while (i < 16) {
      val dig = d.charAt(from + i) - '0'
      tot += (if ((i & 1) == 0) { val x = dig * 2; if (x > 9) x - 9 else x }
              else dig)
      i += 1
    }
    tot % 10 == 0
  }

  /** Leftmost Luhn-valid 16-digit window of a bare run, or null. */
  private def leftmost(r: String): String = {
    var i = 0
    while (i + 16 <= r.length) {
      if (luhn16(r, i)) return r.substring(i, i + 16)
      i += 1
    }
    null
  }

  private def stripSeps(c: String): String = {
    val sb = new java.lang.StringBuilder(c.length)
    var i = 0
    while (i < c.length) {
      val ch = c.charAt(i)
      if (ch != ' ' && ch != '-') sb.append(ch)
      i += 1
    }
    sb.toString
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(t: UTF8String): ArrayData = {
    val s = t.toString
    val m = CardPattern.matcher(s)
    var out: scala.collection.mutable.ArrayBuffer[Any] = null
    def add(w: String): Unit = {
      if (out == null) out = new scala.collection.mutable.ArrayBuffer[Any](4)
      out += UTF8String.fromString(w)
    }
    while (m.find()) {
      val c = s.substring(m.start, m.end)
      val d = stripSeps(c)
      if (d.length == 16) {
        if (luhn16(d, 0)) add(c)
      } else if (d.length != c.length) {
        // separator form: cardRe guarantees exactly [head, 4, 4, tail]
        val sepIdx = {
          var i = 0
          while (c.charAt(i) != ' ' && c.charAt(i) != '-') i += 1
          i
        }
        val sep = c.charAt(sepIdx)
        val g1 = c.substring(0, sepIdx)
        val g3 = c.substring(sepIdx + 1, sepIdx + 5)
        val g4 = c.substring(sepIdx + 6, sepIdx + 10)
        val g5 = c.substring(sepIdx + 11)
        val lmHead = leftmost(g1)
        if (lmHead != null) add(lmHead)
        val head4 = g1.substring(g1.length - 4)
        val tail4 = g5.substring(0, 4)
        val bare = head4 + g3 + g4 + tail4
        if (bare.length == 16 && luhn16(bare, 0))
          add(s"$head4$sep$g3$sep$g4$sep$tail4")
        val lmTail = leftmost(g5)
        if (lmTail != null) add(lmTail)
      } else {
        val lm = leftmost(d)
        if (lm != null) add(lm)
      }
    }
    if (out == null) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(out.toArray)
  }
}
