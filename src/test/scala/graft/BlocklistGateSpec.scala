package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SampleQueries

/** Blocklist domain gate (c16): membership semantics, no row
  * duplication under duplicate blocklist entries, empty-list
  * passthrough, one-row-per-doc contract, layout invariance. Domain
  * extraction itself is the RegisteredDomain kernel's job (DomainSpec /
  * oracle c13); here domains are given columns.
  */
class BlocklistGateSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "domain")

  private def blOf(ds: Seq[String]): DataFrame = ds.toDF("domain")

  private def run(docs: Seq[(Long, String)], bl: Seq[String]) =
    SampleQueries.blocklistGateOf(docsOf(docs), blOf(bl))
      .as[(Long, String, Boolean)].collect().toSeq.sortBy(_._1)

  private val docs = Seq(
    (1L, "good.com"), (2L, "spam.net"), (3L, "good.com"),
    (4L, "casino.io"), (5L, "news.co.uk"))

  test("blocked iff the registered domain is listed") {
    val out = run(docs, Seq("spam.net", "casino.io"))
    assert(out == Seq(
      (1L, "good.com", false), (2L, "spam.net", true),
      (3L, "good.com", false), (4L, "casino.io", true),
      (5L, "news.co.uk", false)))
  }

  test("duplicate blocklist entries never duplicate doc rows") {
    val out = run(docs, Seq("spam.net", "spam.net", "spam.net"))
    assert(out.size == docs.size)
    assert(out.count(_._3) == 1)
  }

  test("empty blocklist passes everything") {
    val out = run(docs, Nil)
    assert(out.size == docs.size && out.forall(!_._3))
  }

  test("every doc appears exactly once with a verdict") {
    val out = run(docs, Seq("good.com"))
    assert(out.map(_._1) == docs.map(_._1).sorted)
    assert(out.count(_._3) == 2) // both good.com docs
  }

  test("layout invariance") {
    def go(d: DataFrame) =
      SampleQueries.blocklistGateOf(d, blOf(Seq("spam.net")))
        .as[(Long, String, Boolean)].collect().toSeq.sortBy(_._1)
    val df = docsOf(docs)
    assert(go(df) == go(df.repartition(5)))
  }
}
