package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** Per-source KL drift (t27): independent closed-form recompute,
  * drift semantics (matching mix ≈ 0, skewed mix high, KL ≥ 0),
  * smoothing keeps missing tokens finite, layout invariance.
  */
class KlDriftSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  private def run(rows: Seq[(Long, String, String)]) =
    TextQueries.klDriftOf(docsOf(rows))
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)

  private def expected(rows: Seq[(Long, String, String)])
      : Map[String, (Long, Double)] = {
    val alpha = 0.5
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    val sw = rows.flatMap(r => toks(r._2).map(w => (r._3, w)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = sw.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val totals = sw.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n = vocab.values.sum.toDouble
    val v = vocab.size.toDouble
    def round(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    totals.map { case (src, ns) =>
      val terms = vocab.map { case (w, cw) =>
        val ps = (sw.getOrElse((src, w), 0L) + alpha) / (ns + alpha * v)
        val pc = (cw + alpha) / (n + alpha * v)
        BigDecimal(round(ps * math.log(ps / pc), 8))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }
      src -> ((ns, round(terms.sum.toDouble, 4)))
    }.toMap
  }

  private val corpus = Seq(
    (1L, "a b c a b", "s0"), (2L, "a b c c", "s0"),
    (3L, "a b c a", "s1"), (4L, "b c a b", "s1"),
    (5L, "z z z z z z", "s2"))

  test("matches an independent closed-form recompute") {
    val got = run(corpus)
    val want = expected(corpus)
    got.foreach { case (src, n, kl) =>
      assert(n == want(src)._1, s"$src tokens")
      assert(math.abs(kl - want(src)._2) < 1e-9, s"$src kl: $kl vs ${want(src)._2}")
    }
  }

  test("a source matching the corpus mix drifts less than a disjoint one") {
    val got = run(corpus).map(r => r._1 -> r._3).toMap
    // s0/s1 share the {a,b,c} mix; s2 is all-z — maximal drift
    assert(got("s2") > got("s0") && got("s2") > got("s1"))
  }

  test("KL is non-negative and near zero for an exactly-shared mix") {
    val rows = Seq((1L, "a b", "s0"), (2L, "a b", "s1"))
    val got = run(rows)
    got.foreach { case (_, _, kl) => assert(kl >= 0.0 && kl < 0.01) }
  }

  test("smoothing keeps sources missing vocabulary tokens finite") {
    val got = run(corpus)
    assert(got.forall(r => !r._3.isNaN && !r._3.isInfinite))
  }

  test("an all-whitespace corpus aborts loudly instead of NPEing") {
    val e = intercept[IllegalArgumentException] {
      run(Seq((1L, " ", "s0"), (2L, "  ", "s1")))
    }
    assert(e.getMessage.contains("no tokens"))
  }

  test("layout invariance") {
    val df = docsOf(corpus)
    def go(d: DataFrame) = TextQueries.klDriftOf(d)
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(go(df) == go(df.repartition(6)))
  }
}
