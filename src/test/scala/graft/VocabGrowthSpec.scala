package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** Vocabulary-growth audit (t28): exact agreement with a naive
  * per-prefix count(distinct) recompute, prefix nesting (monotone
  * counts, full prefix = whole corpus), content-keyed membership
  * (increment-stable), layout invariance.
  */
class VocabGrowthSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))

  private def run(rows: Seq[(Long, String)]) =
    TextQueries.vocabGrowthOf(docsOf(rows))
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)

  private def bucket(id: Long): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:t28".getBytes("UTF-8"))
    f"${h(0) & 0xff}%02x"
  }

  /** naive recompute: filter docs per threshold, count directly */
  private def expected(rows: Seq[(Long, String)]) = {
    val cuts = Seq(("p125", "20"), ("p250", "40"), ("p500", "80"), ("p1000", "zz"))
    cuts.map { case (lab, thr) =>
      val in = rows.filter(r => bucket(r._1) < thr)
      val toks = in.flatMap(_._2.split(" ").filter(_.nonEmpty))
      (lab, in.size.toLong,
        in.map(_._2.split(" ", -1).length.toLong).sum,
        toks.distinct.size.toLong)
    }.sortBy(_._1)
  }

  private val corpus = (0 until 200).map { i =>
    (i.toLong, (0 until 10 + i % 7).map(j => s"w${(i * j) % 151}").mkString(" "))
  }

  test("matches the naive per-prefix count(distinct) recompute") {
    assert(run(corpus) == expected(corpus))
  }

  test("prefixes nest: counts are monotone and p1000 covers the corpus") {
    val out = run(corpus)
    val byLab = out.map(r => r._1 -> r).toMap
    val order = Seq("p125", "p250", "p500", "p1000").map(byLab)
    assert(order.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 })
    assert(byLab("p1000")._2 == 200L)
    val allDistinct = corpus.flatMap(_._2.split(" ")).distinct.size.toLong
    assert(byLab("p1000")._4 == allDistinct)
  }

  test("membership is content-keyed: an appended doc never evicts a prefix member") {
    val before = run(corpus).map(r => r._1 -> r._2).toMap
    val after = run(corpus :+ (9999L, "brandnew tokens here")).map(r => r._1 -> r._2).toMap
    Seq("p125", "p250", "p500", "p1000").foreach { lab =>
      assert(after(lab) >= before(lab))
    }
  }

  test("layout invariance") {
    val df = docsOf(corpus)
    def go(d: DataFrame) = TextQueries.vocabGrowthOf(d)
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(go(df) == go(df.repartition(7)))
  }
}
