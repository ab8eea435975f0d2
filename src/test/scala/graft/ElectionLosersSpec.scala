package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupClusters, DedupQueries}
import graft.sources.Tables

/** r22: `electionLosers` must be EXACTLY keepBest's drop side —
  * `keepBest(docs, clusters).filter(!keep).select(doc_id)` — while
  * never projecting quality over unclustered docs. Pinned on the
  * hand-built election fixtures (quality argmax, exact-tie min-id
  * break, singleton coverage) and on the real d6 chain, across both
  * the broadcast and the measured-guard labeling routes.
  */
class ElectionLosersSpec extends AnyFunSuite with SparkTestSession {

  private def docsOf(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "n_chars")
  }

  private def clustersOf(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "cluster_id")
  }

  private def losersVia(docs: org.apache.spark.sql.DataFrame,
                        cl: org.apache.spark.sql.DataFrame,
                        broadcastRows: Long = 1000000L): Set[Long] =
    DedupClusters.electionLosers(docs, cl, broadcastRows)
      .collect().map(_.getLong(0)).toSet

  private def losersRef(docs: org.apache.spark.sql.DataFrame,
                        cl: org.apache.spark.sql.DataFrame): Set[Long] =
    DedupClusters.keepBest(docs, cl)
      .filter(!col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("hand-built election: losers = keepBest's drop side (argmax + tie)") {
    val docs = docsOf(
      (1L, "a b c", 10L),   // length_ok false -> lower quality
      (2L, "a b c", 200L),  // length_ok true  -> highest in cluster 1
      (3L, "a b c", 10L),
      (5L, "x y", 300L),    // cluster 5: 5 and 6 tie exactly -> min id keeps
      (6L, "x y", 300L),
      (9L, "solo", 100L))   // unclustered: never a loser, never projected
    val cl = clustersOf(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val got = losersVia(docs, cl)
    assert(got == Set(1L, 3L, 6L))
    assert(got == losersRef(docs, cl))
  }

  test("real d6 chain: equality with keepBest's drop side, both routes") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val cc = DedupClusters.connectedComponents(
      DedupQueries.corpusNgramPairs(spark, dir, threshold = 0.4, corpusBound = 500L))
    val ref = losersRef(docs, cc)
    assert(ref.nonEmpty, "fixture must exercise a non-trivial election")
    assert(losersVia(docs, cc) == ref, "broadcast-labeling route")
    // broadcastRows = 0 forces the measured-guard (shuffle-join) route
    assert(losersVia(docs, cc, broadcastRows = 0L) == ref,
      "measured-guard route must agree")
  }
}
