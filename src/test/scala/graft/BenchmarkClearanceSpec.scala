package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ContaminationQueries

/** x4_benchmark_clearance — per-benchmark decontamination reporting over
  * a SEEDED multi-benchmark fixture: two benchmarks, three candidate
  * docs (one leaking into benchmark A, one into BOTH, one clean), exact
  * expected table including the zero cells, per-benchmark double
  * counting of a cross-benchmark leak, and the clean-release invariant
  * (residual 0 everywhere because the release stack drops every hit
  * doc). Cross-engine agreement on real data is the oracle row's job.
  */
class BenchmarkClearanceSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  /** The release's deterministic split rule (SampleQueries.splitCol),
    * recomputed independently so expectations don't read the code
    * under test: md5 hex chars 3-4 (1-based) vs 'cc' / 'e6'. */
  private def expectedSplit(docId: Long): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val b = hex.substring(2, 4)
    if (b < "cc") "train" else if (b < "e6") "val" else "test"
  }

  // 9-token runs → each contributes 5 distinct 5-grams when copied whole
  private val runA = (1 to 9).map(i => s"aleak$i")
  private val runB = (1 to 9).map(i => s"bleak$i")

  /** A candidate text that passes the release quality gate: 60 distinct
    * 5-char-ish tokens, two stopwords, no repeated bigrams. */
  private def passing(tag: String, leak: Seq[String]*): String = {
    val filler = (1 to (58 - leak.map(_.size).sum)).map(i => f"$tag$i%03d")
    (Seq("the") ++ leak.flatten ++ filler ++ Seq("a")).mkString(" ")
  }

  private def fixture: DataFrame = {
    // eval/benchmark docs: multiples of 37; doc_id % 3 keys the benchmark
    val bench = Seq(
      (111L, (Seq("bench", "zero", "holds") ++ runA).mkString(" ")), // bench_0
      (37L, (Seq("bench", "one", "holds") ++ runB).mkString(" ")))   // bench_1
    // candidates (non-multiples of 37): c1 leaks runA, c2 leaks BOTH,
    // c3 is clean
    val cand = Seq(
      (101L, passing("ca", runA)),
      (202L, passing("cb", runA, runB)),
      (303L, passing("cc")))
    (bench ++ cand).map { case (id, text) =>
      (id, text, "s0", "en", text.length)
    }.toDF("doc_id", "text", "source", "lang", "n_chars")
  }

  private def table(df: DataFrame): Map[(String, String), (Long, Long, Long, Long, Boolean)] =
    ContaminationQueries.benchmarkClearanceOf(df)
      .as[(String, String, Long, Long, Long, Long, Boolean)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap

  test("seeded two-benchmark fixture: exact clearance table, zeros included") {
    val got = table(fixture)
    // full grid: 2 benchmarks × 3 splits, present even when all-zero
    assert(got.keySet == (for {
      b <- Set("bench_0", "bench_1"); s <- Set("train", "val", "test")
    } yield (b, s)))
    val (sA, sB) = (expectedSplit(101L), expectedSplit(202L))
    // benchmark gram totals: distinct 5-grams of each bench doc
    // ("bench zero holds" + 9 leak tokens = 12 tokens → 8 grams)
    assert(got(("bench_0", sA))._1 == 8L)
    // bench_0 caught: runA yields 5 shared grams from c1 (and 5 from c2
    // if c2 lands in the same split)
    val expectedA: Map[String, (Long, Long)] =
      if (sA == sB) Map(sA -> ((5L, 2L)))
      else Map(sA -> ((5L, 1L)), sB -> ((5L, 1L)))
    for (s <- Seq("train", "val", "test")) {
      val (caught, hit) = expectedA.getOrElse(s, (0L, 0L))
      assert(got(("bench_0", s))._2 == caught, s"bench_0/$s caught")
      assert(got(("bench_0", s))._3 == hit, s"bench_0/$s docs hit")
      // bench_1 is leaked only by c2 — the cross-benchmark doc must be
      // counted in BOTH benchmarks' rows (per-benchmark audit trails)
      assert(got(("bench_1", s))._2 == (if (s == sB) 5L else 0L))
      assert(got(("bench_1", s))._3 == (if (s == sB) 1L else 0L))
    }
    // clean-release invariant: the stack dropped every hit doc
    got.values.foreach { case (_, _, _, residual, clean) =>
      assert(residual == 0L && clean)
    }
  }

  test("the release itself excludes exactly the hit docs") {
    val rel = graft.operators.PipelineQueries.releasedDocsOf(fixture)
      .select("doc_id").as[Long].collect().toSet
    assert(rel == Set(303L),
      s"release must keep only the clean candidate, got $rel")
  }

  test("split attribution follows the release's own split rule") {
    val got = table(fixture)
    val sA = expectedSplit(101L)
    // the leak is attributed to the split the candidate WOULD land in
    assert(got(("bench_0", sA))._2 >= 5L)
  }
}
