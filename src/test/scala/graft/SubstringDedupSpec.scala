package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** d12_dup_substrings — variable-length exact-substring dedup (Lee et
  * al. 2021's ≥50-token pass) via duplicated k-windows + gaps-and-
  * islands coalescing into maximal duplicated-COVERAGE intervals (the
  * removal unit; see the operator scaladoc for why rows are intervals,
  * not per-partner substrings). The load-bearing claim is the coverage
  * theorem (union of duplicated k-window extents == union of
  * duplicated ≥k substrings), so the spec executes it: span-derived
  * coverage must equal the window-scrub's removal set, on a
  * constructed corpus AND on the real sf0.01 table. Duplication is
  * any-position (intra-doc repeats count — ExactSubstr semantics).
  * Cross-engine agreement of the intervals is the oracle row's job.
  */
class SubstringDedupSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val k = 50

  private def doc(parts: Seq[String]*): String = parts.flatten.mkString(" ")
  private def uniq(tag: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$tag$i")
  private val shared = (1 to 60).map(i => s"s$i")   // one 60-token run
  private val shared2 = (1 to 55).map(i => s"z$i")  // a second, separated
  private val short = (1 to 30).map(i => s"k$i")    // below the k=50 bar
  private val selfRun = (1 to 55).map(i => s"r$i")  // repeated INSIDE one doc

  private def corpus: DataFrame = Seq(
    (1L, doc(uniq("a", 10), shared, uniq("b", 10))),
    (2L, doc(uniq("c", 5), shared, uniq("d", 3))),
    (3L, doc(uniq("e", 10), shared, uniq("f", 40), shared2, uniq("g", 5))),
    (4L, doc(uniq("h", 7), shared2, uniq("i", 4))),
    (5L, doc(uniq("j", 20), short, uniq("l", 20))),
    (6L, doc(uniq("m", 25), short, uniq("n", 25))),
    // intra-doc repeat: no OTHER doc shares r1..r55, but the run occurs
    // twice within doc 7 — ExactSubstr semantics flag both occurrences
    (7L, doc(uniq("o", 5), selfRun, uniq("q", 60), selfRun, uniq("u", 5)))
  ).toDF("doc_id", "text")

  private def spans(df: DataFrame) =
    DedupQueries.dupSubstringsOf(df, k)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq

  test("maximal spans: exact extents, multiple runs, sub-k runs ignored") {
    val got = spans(corpus)
    // doc 1: shared occupies 11..70 → starts 11..21 coalesce to [11,70]
    assert(got.filter(_._1 == 1L) == Seq((1L, 11L, 70L, 60L, 11L)))
    // doc 2: shared at 6..65
    assert(got.filter(_._1 == 2L) == Seq((2L, 6L, 65L, 60L, 11L)))
    // doc 3: two separated maximal spans — shared at 11..70, shared2 at
    // 111..165 (the 40-token unique gap must NOT be bridged)
    assert(got.filter(_._1 == 3L) ==
      Seq((3L, 11L, 70L, 60L, 11L), (3L, 111L, 165L, 55L, 6L)))
    // doc 4: shared2 at 8..62
    assert(got.filter(_._1 == 4L) == Seq((4L, 8L, 62L, 55L, 6L)))
    // docs 5/6 share only a 30-token run — below k, no span may appear
    assert(!got.exists(r => r._1 == 5L || r._1 == 6L))
    // doc 7: the 55-token run repeats WITHIN the doc (occurrences at
    // 6..60 and 121..175, separated by > k) — both flagged even though
    // no other document shares it (any-position occurrence rule)
    assert(got.filter(_._1 == 7L) ==
      Seq((7L, 6L, 60L, 55L, 6L), (7L, 121L, 175L, 55L, 6L)))
  }

  test("spans are maximal: disjoint with at least one uncovered token between") {
    spans(corpus).groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, s0, e0, len, nw) =>
        assert(len == e0 - s0 + 1, s"doc $id: len mismatch")
        assert(len >= k && nw >= 1 && nw <= len - k + 1)
      }
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._2 > a._3 + 1,
            s"doc $id: spans [${a._2},${a._3}] and [${b._2},${b._3}] " +
              "touch or overlap — not maximal")
        case _ => ()
      }
    }
  }

  test("coverage theorem, executable: span coverage == window-scrub removal") {
    def parity(docs: DataFrame): Unit = {
      val covered = DedupQueries.dupSubstringsOf(docs, k)
        .groupBy("doc_id").agg(sum("len_tokens").as("n_covered"))
      val scrub = DedupQueries.substrScrubFrame(docs, k)
      val bad = scrub.join(covered, Seq("doc_id"), "left")
        .filter(col("n_tokens") - col("n_kept") =!=
          coalesce(col("n_covered"), lit(0L)))
        .count()
      assert(bad == 0L,
        "some doc's maximal-span coverage differs from its k-window scrub")
    }
    parity(corpus)
    parity(graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"))
  }

  test("scrub removes exactly the spans: rebuilt text spot check") {
    val scrub = DedupQueries.substrScrubFrame(corpus, k)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1: tokens 11..70 excised → prefix a1..a10 + suffix b1..b10
    assert(scrub(1L)._4 == (uniq("a", 10) ++ uniq("b", 10)).mkString(" "))
    assert(scrub(1L)._3 == 20L)
    // docs 5/6: nothing ≥ k duplicated → untouched
    assert(scrub(5L)._3 == scrub(5L)._2)
  }

  test("layout invariance and determinism") {
    val a = spans(corpus)
    val b = spans(corpus.repartition(7))
    assert(a.sortBy(r => (r._1, r._2)) == b.sortBy(r => (r._1, r._2)))
  }

  test("real data: sf0.01 has ≥50-token duplicated substrings and they are well-formed") {
    val got = spans(graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"))
    assert(got.nonEmpty, "expected duplicated ≥50-token substrings at sf0.01")
    assert(got.forall(r => r._4 >= k && r._3 == r._2 + r._4 - 1))
  }
}
