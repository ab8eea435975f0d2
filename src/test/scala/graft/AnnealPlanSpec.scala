package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** Two-phase anneal schedule (c15): exact-set agreement with a naive
  * full-sort recompute on both phases, phase disjointness, budget
  * compliance, whole-corpus-fits edge, layout invariance. The c5
  * machinery's own exactness proofs live in TokenBudgetSpec; this spec
  * checks the two-phase composition semantics.
  */
class AnnealPlanSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // text sized to make quality and n_tokens vary; ids deliberately
  // non-contiguous to exercise the doc_id-range refinement
  private def corpus(n: Int): Seq[(Long, String)] =
    (0 until n).map { i =>
      val id = i.toLong * 7 + 3
      val words = (0 until 20 + (i * 13) % 60)
        .map(j => if ((i + j) % 3 == 0) "the" else s"w${(i * 31 + j) % 97}")
      (id, words.mkString(" "))
    }

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))

  private def run(rows: Seq[(Long, String)], b2: Long, b1: Long) =
    SampleQueries.annealPlanOf(docsOf(rows), b2, b1)
      .as[(String, Long, Long, Double)].collect().toSeq

  /** naive recompute: full sorts on the driver */
  private def expected(rows: Seq[(Long, String)], b2: Long, b1: Long) = {
    val feats = docsOf(rows)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"),
        graft.operators.TextQueries.qualityExpr(
          split(col("text"), " "), col("n_chars")))
      .as[(Long, Long, Double)].collect().toSeq
    def prefix(xs: Seq[(Long, Long, Double)], budget: Long) = {
      var acc = 0L
      xs.takeWhile { case (_, n, _) => { acc += n; acc <= budget } }
    }
    val anneal = prefix(feats.sortBy { case (id, _, q) => (-q, id) }, b2)
    val annealIds = anneal.map(_._1).toSet
    val remainder = feats.filterNot(r => annealIds(r._1))
    val withU = remainder.map { r =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${r._1}:c15".getBytes("UTF-8"))
      val hex = h.take(4).map(b => f"${b & 0xff}%02x").mkString
      val u = BigDecimal(java.lang.Long.parseLong(hex, 16) / 4294967296.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r, u)
    }
    val main = prefix(
      withU.sortBy { case ((id, _, _), u) => (-u, id) }.map(_._1), b1)
    (anneal.map(r => ("anneal", r._1, r._2, r._3)) ++
      main.map(r => ("main", r._1, r._2, r._3))).sortBy(r => (r._1, r._2))
  }

  test("both phases match the naive full-sort recompute exactly") {
    val rows = corpus(120)
    assert(run(rows, 1200L, 2000L) == expected(rows, 1200L, 2000L))
  }

  test("phases are disjoint and budgets are respected") {
    val rows = corpus(120)
    val out = run(rows, 1000L, 1500L)
    val (ann, mn) = out.partition(_._1 == "anneal")
    assert(ann.map(_._2).toSet.intersect(mn.map(_._2).toSet).isEmpty)
    assert(ann.map(_._3).sum <= 1000L)
    assert(mn.map(_._3).sum <= 1500L)
  }

  test("anneal really is the quality prefix: no excluded doc outranks an anneal doc") {
    val rows = corpus(120)
    val out = run(rows, 1000L, 1500L)
    val annIds = out.filter(_._1 == "anneal").map(_._2).toSet
    val all = expected(rows, Long.MaxValue, 0L).filter(_._1 == "anneal")
    val rankAll = all.sortBy(r => (-r._4, r._2)).map(_._2)
    // the anneal set is a prefix of the global quality ranking
    assert(rankAll.takeWhile(annIds).toSet == annIds)
  }

  test("whole corpus fits: everything lands in anneal, main is empty") {
    val rows = corpus(10)
    val out = run(rows, 1000000L, 1000L)
    assert(out.count(_._1 == "anneal") == 10)
    assert(!out.exists(_._1 == "main"))
  }

  test("layout invariance") {
    val rows = corpus(90)
    def go(d: DataFrame) = SampleQueries.annealPlanOf(d, 900L, 1400L)
      .as[(String, Long, Long, Double)].collect().toSeq
    val df = docsOf(rows)
    assert(go(df) == go(df.repartition(7)))
  }
}
