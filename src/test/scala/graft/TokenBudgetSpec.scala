package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SampleQueries

/** c5_token_budget semantics: the bin-threshold plan must equal the
  * naive global-window formulation row for row, respect the budget,
  * and be maximal (the next-best excluded doc would overflow it).
  */
class TokenBudgetSpec extends AnyFunSuite with SparkTestSession {

  // 15k tokens ≈ half the sf0.01 corpus — selection is non-trivial
  private val dir = "/root/testdata/sf0.01"
  private val budget = 15000L

  private def run() = SampleQueries.cTokenBudget.fn(spark, dir)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("equals the naive global-window cumsum selection") {
    val out = run()
    val stopArr = array(Seq("the", "a", "and", "of", "to", "in").map(lit): _*)
    val q = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        round(
          when(col("n_chars") >= 100 && col("n_chars") <= 5000, 0.5).otherwise(0.0)
            + size(filter(col("tk"), t => array_contains(stopArr, t))).cast("double")
              / size(col("tk")) * 0.25
            + size(array_distinct(col("tk"))).cast("double") / size(col("tk")) * 0.25,
          6).as("quality"))
    val w = Window.orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = q.withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .orderBy(col("quality").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == naive.toSeq)
    assert(out.nonEmpty && out.length < q.count(), "selection is vacuous")
  }

  test("a corpus-sized crossing bin (all-identical quality) stays exact") {
    // the review scenario: template-heavy corpora put most docs on ONE
    // rounded quality value, so the crossing bin is corpus-sized and
    // the sub-bin refinement must carry the exactness
    import spark.implicits._
    // doc_ids deliberately span SEVERAL 4096-wide sub-bin ranges so the
    // fullSub (whole sub-bins kept below the crossing sub-bin) path is
    // actually exercised, not just the single-sub-bin degenerate
    val rows = (1L to 500L).map(i => (i * 37, 5L + (i % 7), 0.5)) ++
      (501L to 520L).map(i => (i * 37, 10L, 0.75)) // a small better bin first
    val base = rows.toDF("doc_id", "n_tokens", "quality")
    (Seq(0L, 150L, 487L, 2000L, 3750L, 100000L)).foreach { b =>
      val got = SampleQueries.tokenBudgetSelect(base, b)
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      val w = Window.orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = base.withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") <= b).orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want, s"budget=$b")
    }
  }

  test("a huge-id-range one-quality corpus recurses multiple levels and stays exact") {
    // VERDICT r12 #2: driver state must be O(levels · 4096), not
    // O(id-range / 4096). Sparse ids over a ~10¹² range force ≥ 3
    // refinement levels (4096² ≈ 1.7e7 < 1e12) while the corpus itself
    // is tiny — the old single-level sub-bin fold would have collected
    // ~2.4e8 (sub-bin, total) tuples on the driver for this input.
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i * 500000007L, 3L + (i % 5), 0.5))
    val base = rows.toDF("doc_id", "n_tokens", "quality")
    Seq(0L, 97L, 2500L, 4999L, 1000000L).foreach { b =>
      val got = SampleQueries.tokenBudgetSelect(base, b)
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      val w = Window.orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = base.withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") <= b).orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want, s"budget=$b")
    }
  }

  test("budget respected and selection is maximal") {
    val out = run()
    val total = out.map(_._2).sum
    assert(total <= budget)
    // the best excluded doc (first in ranking not selected) must overflow
    val selectedIds = out.map(_._1).toSet
    val stopArr = array(Seq("the", "a", "and", "of", "to", "in").map(lit): _*)
    val next = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        round(
          when(col("n_chars") >= 100 && col("n_chars") <= 5000, 0.5).otherwise(0.0)
            + size(filter(col("tk"), t => array_contains(stopArr, t))).cast("double")
              / size(col("tk")) * 0.25
            + size(array_distinct(col("tk"))).cast("double") / size(col("tk")) * 0.25,
          6).as("quality"))
      .orderBy(col("quality").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .find(r => !selectedIds.contains(r._1))
    next.foreach { case (_, ntok) => assert(total + ntok > budget) }
  }
}
