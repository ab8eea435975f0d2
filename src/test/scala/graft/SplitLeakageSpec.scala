package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PipelineQueries

/** p6 semantics on constructed corpora: a known near-dup straddling a
  * split boundary is detected with its exact shared-gram count, the df
  * cap suppresses boilerplate grams, same-split duplicates are out of
  * scope, and a clean release yields the empty audit (the
  * clean-release certificate).
  */
class SplitLeakageSpec extends AnyFunSuite with SparkTestSession {

  private def audit(rows: Seq[(Long, String, String)], dfCap: Long = 32) = {
    import spark.implicits._
    PipelineQueries.splitLeakage(
      rows.toDF("doc_id", "split", "text"), dfCap = dfCap)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }

  // 10 tokens → 6 distinct 5-grams
  private val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("a cross-split near-dup pair is detected with its exact shared-gram count") {
    val out = audit(Seq(
      (1L, "train", dup),
      (2L, "test", dup + " extra tail words here"),
      (3L, "train", "completely different words with no overlap at all whatsoever")))
    // docs 1 and 2 share exactly the 6 grams of `dup`
    assert(out == Map(("test", "train") -> ((1L, 6L, 6L))))
  }

  test("same-split duplicates are out of scope (dedup's job, not the audit's)") {
    val out = audit(Seq((1L, "train", dup), (2L, "train", dup)))
    assert(out.isEmpty)
  }

  test("df-capped: a boilerplate gram shared by > cap docs creates no pairs") {
    // 5 docs all sharing one gram; cap 3 drops it entirely
    val rows = (1L to 5L).map(i =>
      (i, if (i % 2 == 0) "test" else "train", dup))
    assert(audit(rows, dfCap = 3).isEmpty)
    // with the cap above df the pairs appear (6 cross pairs share 6 grams each)
    val loose = audit(rows, dfCap = 32)
    assert(loose(("test", "train")) == ((6L, 6L, 36L)))
  }

  test("a clean release yields the empty audit") {
    val out = audit(Seq(
      (1L, "train", "one two three four five six seven"),
      (2L, "val", "eight nine ten eleven twelve thirteen fourteen"),
      (3L, "test", "fifteen sixteen seventeen eighteen nineteen twenty done")))
    assert(out.isEmpty)
  }

  test("short documents (< 5 tokens) never produce grams or pairs") {
    val out = audit(Seq((1L, "train", "too short"), (2L, "test", "too short")))
    assert(out.isEmpty)
  }
}
