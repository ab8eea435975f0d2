package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineQueries

/** Audit-from-published-release mode (r17): each fromRelease governance
  * query must equal its in-plan twin exactly — same rows, same values —
  * because both are definitions of the SAME audit over the same
  * release, one computed from the logical plan and one from the
  * published artifact. Pinned at sf0.01 (the driver's correctness sf);
  * the sf0.1 leg of the adjudication rides the full-catalog oracle
  * sweep (both modes share one DuckDB oracle, so oracle-green at sf0.1
  * IS equality at sf0.1 — see SCALE.md "Audit-from-published-release").
  *
  * PlanAuditSpec holds the other half of the contract: the fromRelease
  * plans scan ONLY the release directory (plus stored indexes), never
  * the raw documents table.
  */
class FromReleaseSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().toSeq.map(_.toString).sorted

  test("p5f card from the published release equals the in-plan p5 card") {
    assert(rows("p5f_report_from_release") == rows("p5_release_report"))
  }

  test("p5bf token-exact card equals the in-plan p5b card") {
    assert(rows("p5bf_report_bpe_from_release") == rows("p5b_release_report_bpe"))
  }

  test("p5cf domain mix equals the in-plan p5c mix") {
    assert(rows("p5cf_domain_mix_from_release") == rows("p5c_domain_mix"))
  }

  test("p6f split-leakage audit equals the in-plan p6 audit") {
    assert(rows("p6f_split_leakage_from_release") == rows("p6_split_leakage"))
  }

  test("x4f clearance equals the in-plan x4 certificate columns") {
    // x4f drops the candidate-side audit trail (pipeline state, not
    // part of the published artifact); the certificate columns must
    // match the in-plan clearance exactly
    val twin = SparkEntry.queries("x4_benchmark_clearance")(spark, dir)
      .select("benchmark", "split", "n_bench_grams", "n_residual_grams", "clean")
      .collect().toSeq.map(_.toString).sorted
    assert(rows("x4f_clearance_from_release") == twin)
  }

  test("the published release carries the governance metadata columns") {
    // the card queries group by source/lang, so the artifact must ship
    // them (ReleaseWriter.MetaCols) — and with the RELEASED values, not
    // nulls
    val rel = graft.sources.ReleaseWriter.readRelease(
      spark, PipelineQueries.publishedReleaseDir(spark, dir))
    assert(rel.columns.toSeq ==
      Seq("doc_id", "text", "n_chars", "source", "lang", "split"))
    assert(rel.filter(rel("source").isNull || rel("lang").isNull).count() == 0L,
      "published metadata must be populated, not schema-evolved nulls")
  }
}
