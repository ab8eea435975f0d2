package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DedupQueries

/** d9_span_scrub semantics beyond the oracle: removal must agree with
  * d7's detection (same window rule), only ever delete tokens, and
  * preserve order (the cleaned text is a subsequence of the original).
  */
class SpanScrubSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("removal agrees with d7 detection: untouched iff no duplicated span") {
    val scrub = DedupQueries.dSpanScrub.fn(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"))
    val detect = DedupQueries.dDupSpans.fn(spark, dir)
      .select(col("doc_id"), col("n_dup_spans"))
    // docs under the 8-token floor have no d7 row and must be untouched
    val joined = scrub.join(detect, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        coalesce(col("n_dup_spans"), lit(0L)).as("nd"))
      .collect()
    joined.foreach { r =>
      val (nt, nk, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      if (nd == 0L) assert(nk == nt, s"doc ${r.getLong(0)}: untouched doc lost tokens")
      else assert(nk < nt, s"doc ${r.getLong(0)}: doc with dup spans kept everything")
    }
    assert(joined.exists(_.getLong(3) > 0L), "no duplicated spans at sf0.001 — vacuous")
  }

  test("cleaned text is an order-preserving subsequence of the original") {
    val rows = DedupQueries.dSpanScrub.fn(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
      .select("text", "clean_text").collect()
    rows.foreach { r =>
      val orig = r.getString(0).split(" ", -1)
      val clean = r.getString(1)
      if (clean.nonEmpty) {
        val kept = clean.split(" ", -1)
        // greedy subsequence check
        var i = 0
        kept.foreach { t =>
          while (i < orig.length && orig(i) != t) i += 1
          assert(i < orig.length, s"token '$t' not found in order")
          i += 1
        }
      }
    }
  }
}
