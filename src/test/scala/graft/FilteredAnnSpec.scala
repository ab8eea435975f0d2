package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorQueries
import graft.sources.Tables

/** Metadata-filtered ANN (v9): the selective route's exactness is the
  * oracle row's job; this spec forces the BROAD (over-fetch) route and
  * gates it — predicate compliance on every result, per-probe result
  * shape, recall against filtered brute-force ground truth, and the
  * routing boundary itself.
  */
class FilteredAnnSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  private lazy val emb = Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding"), col("label"))
  private lazy val probes = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("q"), col("embedding").as("qe"))
  private lazy val idx = VectorQueries.storedPqIndex(spark, dir)

  private val pred = col("label") < 8 // broad: ~80% of the corpus

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select("q", "nb", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private lazy val broad = collect(VectorQueries.filteredAnn(
    spark, idx, emb, probes, pred, k = 3, bruteCap = 0L)) // force ADC route
  private lazy val exact = collect(VectorQueries.filteredAnn(
    spark, idx, emb, probes, pred, k = 3, bruteCap = Long.MaxValue)) // brute

  test("every broad-route result satisfies the predicate") {
    val ok = emb.filter(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(broad.nonEmpty)
    assert(broad.forall(r => ok(r._2)))
  }

  test("per-probe shape: at most k results, contiguous ranks from 1") {
    broad.groupBy(_._1).foreach { case (_, rs) =>
      val ranks = rs.map(_._3).sorted
      assert(ranks.size <= 3)
      assert(ranks == (1L to ranks.size).toSeq)
    }
  }

  test("broad-route recall >= 0.95 against filtered brute-force ground truth") {
    val truth = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = broad.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = truth.toSeq.map { case (q, t) =>
      (got.getOrElse(q, Set.empty) intersect t).size.toDouble / t.size
    }
    val recall = hits.sum / hits.size
    assert(recall >= 0.95, s"filtered recall $recall")
  }

  test("the routing boundary: both routes produce the same shape for a selective filter") {
    val sel = col("label") === 3
    val brute = collect(VectorQueries.filteredAnn(
      spark, idx, emb, probes, sel, k = 3, bruteCap = Long.MaxValue))
    val routed = collect(VectorQueries.filteredAnn(
      spark, idx, emb, probes, sel, k = 3, bruteCap = 50000L))
    // with the default cap this predicate routes brute — identical output
    assert(routed == brute)
  }
}
