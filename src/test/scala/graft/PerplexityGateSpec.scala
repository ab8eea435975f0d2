package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** The reference-LM perplexity gate (t24): hand-computed backoff
  * branches, value-cutoff bucket assignment incl. the all-ties
  * degenerate case, reference-slice isolation, and layout invariance.
  * Cross-engine agreement of the full pipeline is the oracle row's
  * job; this spec pins the semantics the oracle can't isolate (which
  * backoff branch scored a bigram, how ties at a cutoff land, that
  * non-reference docs never perturb the model).
  */
class PerplexityGateSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def gate(rows: Seq[(Long, String, String)]) =
    TextQueries.perplexityGateOf(rows.toDF("doc_id", "lang", "text"))
      .as[(Long, Long, Double, String)].collect().toSeq.sortBy(_._1)

  // Reference corpus (en): "a b a c" + "a b" → uni a:3 b:2 c:1 (V=3),
  // bigrams (a,b):2 (b,a):1 (a,c):1; α=0.5, αV=1.5.
  private val ref = Seq(
    (1L, "en", "a b a c"),
    (2L, "en", "a b"))

  test("backoff branches: modeled pair, unseen pair, OOV head — hand values") {
    // doc 3 (zh) "a b z c": (a,b) modeled ln(2.5/4.5); (b,z) unseen pair
    // ln(0.5/3.5); (z,c) OOV head ln(1/3). Per-bigram round 6, mean round 4.
    val out = gate(ref :+ (3L, "zh", "a b z c"))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == -0.8446) // (ln(2.5/4.5)+ln(1.5/3.5)+ln(1.5/4.5))/3
    assert(byId(2L)._3 == -0.5878) // single modeled bigram ln(2.5/4.5)
    assert(byId(3L)._3 == -1.2108) // all three backoff branches averaged
    assert(byId(3L)._2 == 3L)      // n_bigrams
  }

  test("tercile cutoffs: distinct scores split head/middle/tail at ranks ⌈n/3⌉, ⌈2n/3⌉") {
    val out = gate(ref :+ (3L, "zh", "a b z c"))
    assert(out.map(r => r._1 -> r._4).toMap ==
      Map(1L -> "middle", 2L -> "head", 3L -> "tail"))
  }

  test("ties at a cutoff land in the better bucket (all-identical corpus → all head)") {
    val out = gate(Seq(
      (1L, "en", "a b a b"), (2L, "en", "a b a b"),
      (3L, "en", "a b a b"), (4L, "en", "a b a b")))
    assert(out.map(_._4).toSet == Set("head"))
  }

  test("reference isolation: a non-en doc never changes the model or en scores") {
    val base = gate(ref :+ (3L, "zh", "a b z c"))
    val more = gate(ref ++ Seq((3L, "zh", "a b z c"), (4L, "fr", "q r s t u v")))
    val baseScores = base.map(r => r._1 -> r._3).toMap
    val moreScores = more.map(r => r._1 -> r._3).toMap
    assert(Seq(1L, 2L, 3L).forall(id => baseScores(id) == moreScores(id)))
  }

  test("docs with fewer than 2 tokens drop out (no bigrams)") {
    val out = gate(ref :+ (3L, "en", "solo"))
    assert(out.map(_._1) == Seq(1L, 2L))
  }

  test("empty reference slice aborts loudly instead of scoring on ln(1/0)") {
    val e = intercept[IllegalArgumentException] {
      gate(Seq((1L, "zh", "a b c")))
    }
    assert(e.getMessage.contains("reference slice"))
  }

  test("layout invariance: partitioning never changes scores or buckets") {
    val df = (ref ++ Seq((3L, "zh", "a b z c"), (4L, "de", "a c a c a c")))
      .toDF("doc_id", "lang", "text")
    val a = TextQueries.perplexityGateOf(df)
      .as[(Long, Long, Double, String)].collect().toSeq.sortBy(_._1)
    val b = TextQueries.perplexityGateOf(df.repartition(7))
      .as[(Long, Long, Double, String)].collect().toSeq.sortBy(_._1)
    assert(a == b)
  }
}
