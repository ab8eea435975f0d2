package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ContaminationQueries

/** x5_decontamination_profile — the gram-size sensitivity study.
  * Seeded fixture: a train doc sharing an 8-token run with the eval
  * set is caught at n ∈ {5, 8} and invisible at n = 13; a verbatim
  * 13-token leak is caught at every n. Pins the monotonicity law
  * (shared grams and docs hit are non-increasing in n) on the fixture
  * and on real data. Cross-engine agreement is the oracle row's job.
  */
class DecontaminationProfileSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
  private val run8 = (1 to 8).map(i => s"e$i")    // 8-token eval passage
  private val run13 = (1 to 13).map(i => s"v$i")  // 13-token eval passage

  private def fixture: DataFrame = Seq(
    // eval doc (multiple of 37) holds both passages
    (37L, (run8 ++ uniq("pad", 4) ++ run13).mkString(" ")),
    // train doc 1 leaks ONLY the 8-token passage
    (1L, (uniq("a", 6) ++ run8 ++ uniq("b", 6)).mkString(" ")),
    // train doc 2 leaks the full 13-token passage
    (2L, (uniq("c", 4) ++ run13 ++ uniq("d", 4)).mkString(" ")),
    // train doc 3 is clean
    (3L, uniq("f", 20).mkString(" "))
  ).toDF("doc_id", "text")

  private def profile(df: DataFrame) =
    ContaminationQueries.decontaminationProfileOf(df)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap

  test("seeded fixture: 8-token leak visible at n=5,8; only the 13-token leak at n=13") {
    val got = profile(fixture)
    assert(got.keySet == Set(5L, 8L, 13L))
    // n=5: both leaking docs hit (run8 carries 4 five-grams, run13 nine)
    assert(got(5L)._4 == 2L, "n=5 docs hit")
    // n=8: run8 is exactly one 8-gram; run13 carries six → both docs hit
    assert(got(8L)._4 == 2L, "n=8 docs hit")
    assert(got(8L)._3 >= 2L, "n=8 shared grams: run8's 1 + run13's 6")
    // n=13: only the verbatim 13-token passage survives — doc 1 invisible
    assert(got(13L)._4 == 1L, "n=13 docs hit")
    assert(got(13L)._3 == 1L, "n=13 shared grams")
    // drop rate over the TOTAL train population — the constant
    // denominator (3 train docs; one hit at n=13)
    assert(got(13L)._5 == BigDecimal(1.0 / 3.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // rates share a base, so across-n comparison is meaningful:
    // 2/3 at n=5 and n=8, 1/3 at n=13
    assert(got(5L)._5 == got(8L)._5 && got(5L)._5 > got(13L)._5)
  }

  test("monotonicity: docs hit never grow with n") {
    // docs-hit is the provable law (an n-gram shared ⇒ its sub-grams
    // shared ⇒ hit at every smaller n). Shared-GRAM counts are NOT
    // asserted: distinct-subword counts of repetitive text can grow
    // with n ("a a a a a a a b a…" has more distinct 8-grams than
    // 5-grams), so no law exists for them.
    def mono(df: DataFrame): Unit = {
      val p = profile(df)
      val ns = p.keys.toSeq.sorted
      ns.sliding(2).foreach {
        case Seq(a, b) =>
          assert(p(b)._4 <= p(a)._4, s"docs hit grew from n=$a to n=$b")
        case _ => ()
      }
    }
    mono(fixture)
    mono(graft.sources.Tables.documents(spark, "/root/testdata/sf0.01"))
  }

  test("degenerate population: every n row is still emitted with zeros") {
    // only 10-token docs — below every profile n; all three rows must
    // appear (the oracle drives from the n grid for the same reason).
    // The train doc is too short for any gram, but it IS a train doc:
    // the constant denominator makes the rate 0/1 = 0.0, never NULL
    val tiny = Seq(
      (37L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 10).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val got = ContaminationQueries.decontaminationProfileOf(tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(got.map(_._1).toSet == Set(5L, 8L, 13L))
    got.foreach { case (n, eg, sh, hit, rate) =>
      if (n == 13L) assert(eg == 0L, s"n=13 must see zero eval grams")
      assert(sh == 0L && hit == 0L && rate.contains(0.0))
    }
  }

  test("empty train split: rate is NULL (0/0 undefined), not NaN") {
    val evalOnly = Seq(
      (37L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    ContaminationQueries.decontaminationProfileOf(evalOnly)
      .collect().foreach(r => assert(r.isNullAt(4), s"n=${r.getLong(0)}"))
  }

  test("clean corpus: zero shared grams at every n, drop rate 0") {
    val clean = Seq(
      (37L, uniq("x", 20).mkString(" ")),
      (1L, uniq("y", 20).mkString(" "))).toDF("doc_id", "text")
    profile(clean).values.foreach { case (_, _, shared, hit, rate) =>
      assert(shared == 0L && hit == 0L && rate == 0.0)
    }
  }
}
