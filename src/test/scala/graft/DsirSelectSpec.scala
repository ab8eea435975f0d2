package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** DSIR importance-scored selection (c14): closed-form score recompute
  * on a small corpus, target-vs-raw separation, target isolation,
  * published keep-rule semantics (monotone in score, never hard-zero),
  * empty-target abort, layout invariance. Cross-engine agreement of the
  * full pipeline is the oracle row's job.
  */
class DsirSelectSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source")

  private def run(rows: Seq[(Long, String, String, String)]) =
    SampleQueries.dsirSelectOf(docsOf(rows))
      .as[(Long, String, String, Long, Double, Double, Boolean)]
      .collect().toSeq.sortBy(_._1)

  // independent closed-form recompute of the per-doc score (plain Scala
  // maps, no Spark) following the operator's published formula
  private def expectedScores(rows: Seq[(Long, String, String, String)])
      : Map[Long, (Long, Double, Double)] = {
    val alpha = 0.5
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    val rawCnt = rows.flatMap(r => toks(r._2)).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val refCnt = rows.filter(_._3 == "en").flatMap(r => toks(r._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nr = rawCnt.values.sum.toDouble
    val nt = refCnt.values.sum.toDouble
    val v = rawCnt.size.toDouble
    def round(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lr = rawCnt.map { case (w, cr) =>
      w -> round(
        math.log((refCnt.getOrElse(w, 0L) + alpha) / (nt + alpha * v)) -
          math.log((cr + alpha) / (nr + alpha * v)), 6)
    }
    rows.map { r =>
      val ts = toks(r._2)
      // mirror the engine exactly: decimal-cast lr*cnt per DISTINCT token
      val sumLr = ts.groupBy(identity).map { case (w, occ) =>
        BigDecimal(lr(w) * occ.size).setScale(6,
          BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val avg = round(sumLr / ts.size, 4)
      val score = round(1.0 / (1.0 + math.exp(-avg)), 6)
      r._1 -> ((ts.size.toLong, avg, score))
    }.toMap
  }

  private val corpus = Seq(
    (1L, "alpha beta alpha gamma", "en", "s0"),
    (2L, "alpha beta beta", "en", "s0"),
    (3L, "delta epsilon delta zeta", "fr", "s1"),
    (4L, "alpha beta gamma beta", "fr", "s1"),
    (5L, "zeta zeta epsilon", "de", "s1"))

  test("scores match an independent closed-form recompute") {
    val got = run(corpus)
    val want = expectedScores(corpus)
    got.foreach { case (id, _, _, n, lrv, sc, _) =>
      val (en, elr, esc) = want(id)
      assert(n == en, s"doc $id n_tokens")
      assert(math.abs(lrv - elr) < 1e-9, s"doc $id logratio: $lrv vs $elr")
      assert(math.abs(sc - esc) < 1e-9, s"doc $id score: $sc vs $esc")
    }
  }

  test("target-like docs outscore target-disjoint docs") {
    val got = run(corpus).map(r => r._1 -> r._5).toMap
    // doc 4 shares every token with the en slice; doc 3/5 share none
    assert(got(4L) > got(3L) && got(4L) > got(5L))
  }

  test("target isolation: non-target text changes raw LM but not the ref fit") {
    // swapping doc 5's text (non-en) must not change which tokens the
    // TARGET model knows — doc 3's score moves only via the raw LM
    val a = run(corpus).map(r => r._1 -> r._5).toMap
    val b = run(corpus.updated(4, (5L, "eta theta eta", "de", "s1")))
      .map(r => r._1 -> r._5).toMap
    // doc 4 (all-target tokens) keeps its ORDERING above doc 3
    assert(b(4L) > b(3L))
    // and the en-fit floor still separates: scores differ from run a
    // only through raw-count shifts, not a refit
    assert(math.abs(a(1L) - b(1L)) < 0.2)
  }

  test("keep rule is monotone in score for a fixed doc_id (fixed noise)") {
    // same doc_id, two corpora that give it a low vs high score: if the
    // low-score run kept it, the high-score run must too (the Pareto
    // draw depends only on doc_id)
    val low = Seq((7L, "qqq rrr sss", "fr", "s0"),
      (8L, "alpha beta", "en", "s0"), (9L, "alpha beta gamma", "en", "s0"))
    val high = Seq((7L, "alpha beta alpha", "fr", "s0"),
      (8L, "alpha beta", "en", "s0"), (9L, "alpha beta gamma", "en", "s0"))
    val kLow = run(low).find(_._1 == 7L).get
    val kHigh = run(high).find(_._1 == 7L).get
    assert(kHigh._5 >= kLow._5) // score really is higher
    if (kLow._7) assert(kHigh._7)
  }

  test("an all-whitespace corpus aborts loudly instead of NPEing") {
    val e = intercept[IllegalArgumentException] {
      run(Seq((1L, " ", "en", "s0"), (2L, "  ", "fr", "s1")))
    }
    assert(e.getMessage.contains("no tokens"))
  }

  test("empty target slice aborts loudly") {
    val e = intercept[IllegalArgumentException] {
      run(corpus.map { case (id, t, _, s) => (id, t, "fr", s) })
    }
    assert(e.getMessage.contains("target slice"))
  }

  test("empty-token docs drop out; n_tokens counts occurrences") {
    val got = run(corpus :+ (6L, " ", "en", "s0"))
    assert(!got.exists(_._1 == 6L))
    assert(got.find(_._1 == 1L).get._4 == 4L)
  }

  test("zero logratios carry a POSITIVE sign bit (driver hash parity)") {
    // r15's one correctness failure: DuckDB's ROUND keeps -0.0 on a
    // tiny-negative mean while Spark's does not, and the driver hash
    // stringifies the sign ("-0.000000" != "0.000000"). Both engines
    // now normalize with + 0.0; pin the Spark half: an all-target
    // corpus makes every logratio EXACTLY zero (target LM == raw LM),
    // and each such zero must be +0.0 bit-for-bit.
    val allEn = corpus.map { case (id, t, _, s) => (id, t, "en", s) }
    val got = run(allEn)
    got.foreach { case (id, _, _, _, lrv, sc, _) =>
      assert(lrv == 0.0, s"doc $id: all-target corpus must zero the logratio")
      assert(java.lang.Double.doubleToRawLongBits(lrv) == 0L,
        s"doc $id: dsir_logratio is -0.0 (sign bit set)")
      assert(sc == 0.5, s"doc $id: sigmoid(0) must be exactly 0.5")
    }
  }

  test("layout invariance: partitioning never changes scores or keeps") {
    val df = docsOf(corpus)
    def go(d: DataFrame) = SampleQueries.dsirSelectOf(d)
      .as[(Long, String, String, Long, Double, Double, Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(go(df) == go(df.repartition(7)))
  }
}
