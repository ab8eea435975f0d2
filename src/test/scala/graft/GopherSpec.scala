package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RepetitionExpressions.repetitionStats
import graft.operators.GopherQueries

/** The Gopher rule battery (t23) and its RepetitionStats kernel:
  * hand-computed kernel statistics, per-rule firing on documents built
  * to fail exactly one rule, and layout invariance of the map-side
  * pass. The cross-engine agreement of the full battery is the oracle
  * row's job; this spec pins the semantics the oracle can't isolate
  * (which rule fired, kernel edge cases).
  */
class GopherSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def kernel(tokens: Seq[String], n: Int): (Long, Long, Long, Long, Long) = {
    val row = Seq(Tuple1(tokens)).toDF("tk")
      .select(repetitionStats(col("tk"), n).as("r"))
      .select("r.n_total", "r.n_distinct", "r.top_chars", "r.dup_chars", "r.total_chars")
      .as[(Long, Long, Long, Long, Long)].head()
    row
  }

  test("kernel: hand-computed bigram stats incl. joined-space char lengths") {
    // tokens a b a b c → bigrams "a b"(2), "b a"(1), "b c"(1); each 3 chars
    val (nt, nd, top, dup, tot) = kernel(Seq("a", "b", "a", "b", "c"), 2)
    assert((nt, nd) == ((4L, 3L)))
    assert(top == 2L * 3L)       // "a b" twice, 3 chars each
    assert(dup == 2L * 3L)       // only "a b" is duplicated
    assert(tot == 4L * 3L)
  }

  test("kernel: top is the max of count*chars products, not max count") {
    // "long long" once (9 chars) vs "a b" twice (6 chars): product wins
    val (_, _, top, _, _) = kernel(Seq("long", "long", "x", "a", "b", "a", "b"), 2)
    // bigrams: "long long"(1,9), "long x"(1,6), "x a"(1,3), "a b"(2,3), "b a"(1,3)
    assert(top == 9L)
  }

  test("kernel: n greater than token count yields all-zero stats") {
    assert(kernel(Seq("a", "b"), 5) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("kernel: n=1 over lines gives duplicate-line statistics") {
    val (nt, nd, _, dup, tot) = kernel(Seq("dup line", "unique", "dup line"), 1)
    assert((nt, nd) == ((3L, 2L)))
    assert(dup == 2L * 8L)       // both occurrences of "dup line"
    assert(tot == 8L + 6L + 8L)
  }

  private def battery(rows: (Long, String, String)*) =
    GopherQueries.gopherBattery(
        rows.toSeq.toDF("doc_id", "text", "__rawlines")
          .select(col("doc_id"), col("text"), split(col("__rawlines"), "\n").as("__lines")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  // a healthy base document: 60 distinct-ish words, stopwords present
  private val healthy: String =
    (1 to 60).map(i => if (i % 10 == 0) "the" else if (i % 7 == 0) "of" else s"word$i")
      .mkString(" ")

  test("healthy document passes; each rule fires alone") {
    val shortDoc = "the of tiny doc"                         // word count < 50
    val bullets = (1 to 5).map(i => s"- item $i").mkString("\n")
    val ellipsis = (1 to 5).map(i => s"line $i goes on...").mkString("\n")
    val symbols = healthy + " " + (1 to 30).map(_ => "###").mkString(" ")
    val repeated2 = (healthy + " " + (1 to 40).map(_ => "spam ham").mkString(" "))
    val dupLines = Seq("dup line body", "dup line body", "dup line body",
      "one more").mkString("\n")
    val out = battery(
      (1L, healthy, healthy),
      (2L, shortDoc, shortDoc),
      (3L, healthy, bullets),
      (4L, healthy, ellipsis),
      (5L, symbols, symbols),
      (6L, repeated2, repeated2),
      (7L, healthy, dupLines))
    assert(out(1L).getAs[Boolean]("passes_gopher"))
    assert(!out(2L).getAs[Boolean]("passes_gopher"))
    assert(out(2L).getAs[Long]("n_words") < 50L)
    assert(!out(3L).getAs[Boolean]("passes_gopher"))
    assert(out(3L).getAs[Double]("bullet_line_frac") == 1.0)
    assert(!out(4L).getAs[Boolean]("passes_gopher"))
    assert(out(4L).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(!out(5L).getAs[Boolean]("passes_gopher"))
    assert(out(5L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!out(6L).getAs[Boolean]("passes_gopher"))
    assert(out(6L).getAs[Double]("top2_char_frac") > 0.20)
    assert(!out(7L).getAs[Boolean]("passes_gopher"))
    assert(out(7L).getAs[Double]("dup_line_frac") == 0.5)
    assert(out(7L).getAs[Double]("dup_line_char_frac") > 0.20)
  }

  test("alpha-word and stop-word rules fire") {
    val numeric = (1 to 60).map(i => s"$i").mkString(" ")    // no alpha, no stops
    val out = battery((1L, numeric, numeric))
    assert(out(1L).getAs[Double]("alpha_word_frac") == 0.0)
    assert(out(1L).getAs[Long]("stop_hits") == 0L)
    assert(!out(1L).getAs[Boolean]("passes_gopher"))
  }

  test("layout invariance: repartitioned corpus yields identical rows") {
    val dir = "/root/testdata/sf0.001"
    val base = SparkEntry.queries("t23_gopher_gate")(spark, dir).collect()
    val docs = graft.sources.Tables.documents(spark, dir).repartition(7)
    val re = GopherQueries.gopherBattery(
        docs.select(col("doc_id"), col("text"),
          split(graft.operators.Scaffold.linifiedText, "\n").as("__lines")))
      .collect()
    assert(base.sameElements(re))
  }
}
