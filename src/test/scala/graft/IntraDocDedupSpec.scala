package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LineDedupQueries

/** d13 intra-document repeated-line removal: first-occurrence-order
  * contract on hand-built documents (pair repeats, adjacent runs,
  * interleaved repeats), repeat-free passthrough, idempotence, and the
  * accounting identities the d13 audit aggregates.
  */
class IntraDocDedupSpec extends AnyFunSuite with SparkTestSession {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, t) => (id, "s", t) }.toDF("doc_id", "source", "text")
  }

  private def cleanedOf(rows: (Long, String)*): Map[Long, (Long, Long, String)] =
    LineDedupQueries.intraDocCleaned(docsOf(rows: _*))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap

  test("keeps the FIRST occurrence of each line, order preserved") {
    val out = cleanedOf(
      1L -> "nav\nbody one\nbody two\nnav",          // top/bottom pair
      2L -> "a\nb\na\nc\nb\na",                      // interleaved repeats
      3L -> "x\nx\nx")                               // adjacent run
    assert(out(1L) == ((4L, 3L, "nav\nbody one\nbody two")))
    assert(out(2L) == ((6L, 3L, "a\nb\nc")))
    assert(out(3L) == ((3L, 1L, "x")))
  }

  test("repeat-free documents pass through byte-identical") {
    val out = cleanedOf(7L -> "alpha\nbeta\ngamma")
    assert(out(7L) == ((3L, 3L, "alpha\nbeta\ngamma")))
  }

  test("idempotent: cleaning a cleaned document changes nothing") {
    val once = cleanedOf(9L -> "n\na\nn\nb\nn")(9L)._3
    val twice = cleanedOf(9L -> once)(9L)
    assert(twice == ((3L, 3L, once)))
  }

  test("near-miss lines are NOT collapsed (exact-line atom)") {
    val out = cleanedOf(4L -> "Nav menu\nnav menu\nNav  menu")
    assert(out(4L)._2 == 3L, "case/whitespace variants are distinct lines")
  }

  test("audit identities: lines_dropped = lines_total - kept; changed iff dropped") {
    val df = LineDedupQueries.intraDocCleaned(docsOf(
      1L -> "p\nq\np", 2L -> "u\nv"))
    val rows = df.collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(rows.forall { case (total, kept) => total >= kept })
    val changed = rows.count { case (total, kept) => total > kept }
    assert(changed == 1)
  }
}
